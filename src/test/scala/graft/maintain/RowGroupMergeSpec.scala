package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.{RowGroupCopy, TokenTable}
import org.apache.spark.sql.functions._

/** MERGE's row-group-level cold copy (VERDICT r3 task 2): for a
  * range-local update over multi-row-group files, only the row groups
  * intersecting hot segments are decoded; the rest carry over as a
  * bytewise column-chunk copy — and the table stays byte-exact.
  */
class RowGroupMergeSpec extends SparkSpec {
  import spark.implicits._

  private def withTinyRowGroups[A](f: => A): A = {
    spark.conf.set("graft.write.rowGroupBytes", (32 * 1024).toString)
    try f finally spark.conf.unset("graft.write.rowGroupBytes")
  }

  test("narrow merge decodes only hot row groups; cold groups byte-copy; results exact") {
    withTinyRowGroups {
      val dir = tmpDir("rg_merge")
      val t = TokenTable.create(spark, dir)
      // One doc_id-sorted partition -> one file with MANY row groups,
      // each a tight disjoint doc_id range.
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 6000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      val file = t.filesLocal(t.current)
      assert(file.size == 1)
      val conf = spark.sessionState.newHadoopConf()
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/${file.head.path}"), conf))
      val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
      assert(nGroups >= 4, s"need multi-group file to exercise cold copy, got $nGroups")

      val before = checksum(t.scan())
      val outside = checksum(t.scan()
        .filter($"doc_id" < f"doc_${3000}%012d" || $"doc_id" > f"doc_${3049}%012d"))

      // 50 consecutive keys in the middle: hot span is a tiny slice of
      // the file, so most row groups are provably cold.
      val src = t.scan()
        .filter($"doc_id" >= f"doc_${3000}%012d" && $"doc_id" <= f"doc_${3049}%012d")
        .select($"doc_id", array_repeat(lit(9), 4).as("tokens"),
          lit(4).as("n_tok"), $"source")
        .withColumn("__p", monotonically_increasing_id())
      val r = Merge.mergeInto(t, src, "__p", "rg-m1")

      assert(r.touchedFiles == 1 && r.sourceRows == 50)
      assert(r.coldCopiedBytes > 0, "cold row groups must byte-copy")
      assert(r.decodedBytes < r.touchedBytes / 2,
        s"rewrite must decode only hot groups: decoded ${r.decodedBytes} of ${r.touchedBytes}")

      // Byte-exactness: rows outside the range identical, inside updated.
      assert(checksum(t.scan()
        .filter($"doc_id" < f"doc_${3000}%012d" || $"doc_id" > f"doc_${3049}%012d")) == outside)
      val in = t.scan()
        .filter($"doc_id" >= f"doc_${3000}%012d" && $"doc_id" <= f"doc_${3049}%012d")
      assert(in.count() == 50 && in.filter($"n_tok" === 4).count() == 50)
      assert(checksum(t.scan()) != before, "update must be visible")

      // Hot extracts are temporaries: gone after the merge commit.
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/data/rg-m1-v${r.snapshot.parentVersion}-hotx")))

      // GC: cold copies are reachable survivors; only superseded bytes go.
      val live = checksum(t.scan())
      val gc = Expire.run(t, retainLast = 1, graceMs = 0)
      assert(gc.deletedFiles > 0)
      assert(checksum(t.scan()) == live, "GC must not touch cold-copied survivors")
    }
  }

  test("two disjoint narrow ranges: both update, cold gaps stay prunable, decoded stays tight") {
    withTinyRowGroups {
      val dir = tmpDir("rg_two")
      val t = TokenTable.create(spark, dir)
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 6000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      def range(a: Int, b: Int) =
        $"doc_id" >= f"doc_$a%012d" && $"doc_id" <= f"doc_$b%012d"
      val outside = checksum(t.scan().filter(!range(1000, 1049) && !range(5000, 5049)))
      val src = t.scan().filter(range(1000, 1049) || range(5000, 5049))
        .select($"doc_id", array_repeat(lit(7), 3).as("tokens"),
          lit(3).as("n_tok"), $"source")
        .withColumn("__p", monotonically_increasing_id())
      val r1 = Merge.mergeInto(t, src, "__p", "rg2-m1")
      assert(r1.sourceRows == 100)
      assert(r1.decodedBytes < r1.touchedBytes / 4,
        s"two narrow extents must decode a small slice: ${r1.decodedBytes} of ${r1.touchedBytes}")
      assert(checksum(t.scan().filter(!range(1000, 1049) && !range(5000, 5049))) == outside)
      assert(t.scan().filter($"n_tok" === 3).count() == 100)
      // Repeat merge over the SAME two ranges: gap-partitioned cold
      // outputs must prune, so round 2 touches far fewer bytes.
      val src2 = t.scan().filter(range(1000, 1049) || range(5000, 5049))
        .select($"doc_id", array_repeat(lit(8), 3).as("tokens"),
          lit(3).as("n_tok"), $"source")
        .withColumn("__p", monotonically_increasing_id())
      val r2 = Merge.mergeInto(t, src2, "__p", "rg2-m2")
      assert(r2.touchedBytes < r1.touchedBytes / 2,
        s"repeat merge must touch fewer bytes: ${r2.touchedBytes} vs ${r1.touchedBytes}")
      assert(t.scan().count() == 6000)
    }
  }

  test("merge under coarsened endpoints (tiny boundsCap) stays byte-exact") {
    // Force the distributed every-k-th endpoint coarsening on a real
    // merge: with 16 files (32 endpoints) and a cap of 4, the segment
    // index is built from a strict subset of endpoints — pruning
    // over-approximates but the rewrite must produce the identical
    // post-merge state.
    val dir = tmpDir("coarse_merge")
    val t = TokenTable.create(spark, dir)
    (0 until 4).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2000, idOffset = i * 2000L, minLen = 16, maxLen = 32,
        numPartitions = 4)))
    }
    Cluster.run(t, Cluster.ByDocId, "cm-cluster", targetBytes = 128L * 1024)
    def updates = t.scan()
      .filter($"doc_id" >= f"doc_${4000}%012d" && $"doc_id" <= f"doc_${4099}%012d")
      .select($"doc_id", array_repeat(lit(5), 2).as("tokens"),
        lit(2).as("n_tok"), $"source")
      .withColumn("__p", monotonically_increasing_id())
    val r = Merge.mergeInto(t, updates, "__p", "cm-m1", boundsCap = 4,
      broadcastKeyRows = Merge.DefaultBroadcastKeyRows)
    assert(r.sourceRows == 100)
    assert(t.scan().count() == 8000)
    val in = t.scan()
      .filter($"doc_id" >= f"doc_${4000}%012d" && $"doc_id" <= f"doc_${4099}%012d")
    assert(in.count() == 100 && in.filter($"n_tok" === 2).count() == 100,
      "every updated row must carry the merge's tokens under coarse pruning")
    assert(t.scan().filter($"n_tok" === 2).count() == 100,
      "no row outside the update range may be replaced")
  }

  test("splitFile: fully-cold file is kept verbatim; fully-hot file skips the copy") {
    withTinyRowGroups {
      val dir = tmpDir("rg_split")
      val t = TokenTable.create(spark, dir)
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2000, minLen = 32, maxLen = 64, numPartitions = 1)
        .repartition(1).sortWithinPartitions("doc_id")))
      val f = t.filesLocal(t.current).head
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath

      // Source-key extent far above every doc_id in the file: all cold.
      val coldSplit = RowGroupCopy.splitFile(f.path, dir, root,
        "data/c", "data/h", extLo = Array("zzz_0"), extHi = Array("zzz_9"), conf = conf)
      assert(coldSplit.allCold && coldSplit.coldFiles.isEmpty && coldSplit.decodeRel.isEmpty)

      // Extent spanning the whole keyspace: all groups hot, decode
      // the ORIGINAL file, no copy written.
      val hotSplit = RowGroupCopy.splitFile(f.path, dir, root,
        "data/c", "data/h", extLo = Array(f.minDocId), extHi = Array(f.maxDocId),
        conf = conf)
      assert(!hotSplit.allCold && hotSplit.decodeRel.contains(f.path))
      assert(hotSplit.coldFiles.isEmpty && hotSplit.decodeBytes == f.bytes)

      // Mid-range extent: mixed — cold copy + hot extract, and the
      // two partitions' rows reassemble EXACTLY the original file.
      val lo = f"doc_${800}%012d"; val hi = f"doc_${820}%012d"
      val mixed = RowGroupCopy.splitFile(f.path, dir, root,
        "data/c", "data/h", extLo = Array(lo), extHi = Array(hi), conf = conf)
      assert(!mixed.allCold && mixed.coldFiles.nonEmpty && mixed.decodeRel.nonEmpty)
      // One cold file per contiguous cold run: a mid-range extent leaves
      // a below-run and an above-run, neither straddling the hot range.
      assert(mixed.coldFiles.size == 2, s"expected 2 cold runs, got ${mixed.coldFiles.size}")
      assert(mixed.coldFiles.forall(cf => cf.maxDocId < lo || cf.minDocId > hi),
        "no cold file may straddle the hot range")
      val reunion = spark.read.schema(t.schema)
        .parquet(mixed.coldFiles.map(cf => s"$dir/${cf.path}") :+
          s"$dir/${mixed.decodeRel.get}": _*)
      assert(checksum(reunion) == checksum(t.scan()),
        "cold copies + hot extract must reassemble the original rows exactly")
      // Each cold copy's manifest stats must be true bounds of its rows.
      mixed.coldFiles.foreach { cf =>
        val coldRows = spark.read.schema(t.schema).parquet(s"$dir/${cf.path}")
        val mm = coldRows.agg(min($"doc_id"), max($"doc_id"), count(lit(1)),
          sum($"n_tok".cast("long"))).head()
        assert(mm.getString(0) == cf.minDocId && mm.getString(1) == cf.maxDocId)
        assert(mm.getLong(2) == cf.rows && mm.getLong(3) == cf.sumNtok)
      }
    }
  }
}
