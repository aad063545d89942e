package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

/** The point of clustering: after Z-order, stats-based pruning skips
  * files for source / n_tok predicates that pre-clustering layouts
  * cannot skip — and pruned results equal unpruned results exactly.
  */
class PruningSpec extends SparkSpec {

  /** `t.scan().filter(cond)`, the number of files its scan read (the
    * index's pruned count, the scan's `numFiles` metric) and the
    * snapshot's file total.
    */
  private def scanWhere(t: TokenTable, cond: Column): (DataFrame, Long, Int) = {
    val df = t.scan().filter(cond)
    // collect() runs THIS Dataset's plan, which fills its metrics.
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }.get
    (df, scan.metrics("numFiles").value, t.filesLocal(t.current).size)
  }

  test("zorder makes source and n_tok scans prune files; results stay exact") {
    val dir = tmpDir("prune")
    val t = TokenTable.create(spark, dir)
    (0 until 8).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 400, idOffset = i * 400L, numPartitions = 2)))
    }
    // Pre-clustering: every file spans all sources -> no pruning possible.
    val (_, preRead, preTotal) = scanWhere(t, col("source") === "forums")
    assert(preRead == preTotal, "random layout should not prune (sanity)")
    val expectSrc = checksum(t.scan().filter(col("source") === "forums"))
    val expectLen = checksum(t.scan().filter(col("n_tok") <= 32))

    Cluster.run(t, Cluster.ZOrder, "job-prune", targetBytes = 48L * 1024)

    val (srcDf, srcRead, srcTotal) = scanWhere(t, col("source") === "forums")
    assert(srcRead < srcTotal,
      s"source scan must prune after zorder: read $srcRead of $srcTotal")
    assert(checksum(srcDf) == expectSrc, "pruning must not change results")

    val (lenDf, lenRead, lenTotal) =
      scanWhere(t, col("n_tok") >= 16 && col("n_tok") <= 32)
    assert(lenRead < lenTotal,
      s"n_tok scan must prune after zorder: read $lenRead of $lenTotal")
    assert(checksum(lenDf) == expectLen)
  }

  test("merge pruning: segment index over a 10^4-file manifest, no join") {
    import graft.table.DataFile
    import spark.implicits._
    // Disjoint doc_id ranges: file i holds doc_<i>0 .. doc_<i>9.
    val files = (0 until 10000).map { i =>
      DataFile(path = s"f$i", bytes = 1L, rows = 10L,
        minDocId = f"doc_$i%05d0", maxDocId = f"doc_$i%05d9",
        minNtok = 1, maxNtok = 9, sumNtok = 10L,
        minSource = "a", maxSource = "z")
    }
    val keys = Seq("doc_000072", "doc_004253", "doc_099991").toDF("doc_id")
    assert(Merge.pruneTouched(files, keys) == Set("f7", "f425", "f9999"))
    // Keys below / above every range touch nothing.
    assert(Merge.pruneTouched(files, Seq("doc_0000").toDF("doc_id")).isEmpty)
    // A key in a gap may only false-positive, never miss: with disjoint
    // adjacent ranges there is no gap, so an exact boundary hit works.
    assert(Merge.pruneTouched(files, Seq("doc_000080").toDF("doc_id")) == Set("f8"))
    // Overlapping files: every file whose range covers the key is touched.
    val overlapping = Seq(
      DataFile("g0", 1L, 10L, "doc_a", "doc_m", 1, 9, 10L, "a", "z"),
      DataFile("g1", 1L, 10L, "doc_f", "doc_z", 1, 9, 10L, "a", "z"),
      DataFile("g2", 1L, 10L, "doc_t", "doc_z", 1, 9, 10L, "a", "z"))
    assert(Merge.pruneTouched(overlapping, Seq("doc_g").toDF("doc_id")) ==
      Set("g0", "g1"))
  }

  test("merge rewrite bytes track hit ranges: repeat merge touches far fewer bytes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("merge_bytes")
    val t = TokenTable.create(spark, dir)
    (0 until 4).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2500, idOffset = i * 2500L, minLen = 32, maxLen = 64,
        numPartitions = 2)))
    }
    // Cluster by doc_id so file stats are tight ranges.
    Cluster.run(t, Cluster.ByDocId, "mb-cluster", targetBytes = 256L * 1024)
    val stateBefore = checksum(
      t.scan().filter(!$"doc_id".startsWith("doc_000000000"))) // outside update range

    // A NARROW update range: 50 consecutive keys.
    def updates(tokens: Int) = t.scan()
      .filter($"doc_id" >= f"doc_${100}%012d" && $"doc_id" <= f"doc_${149}%012d")
      .select($"doc_id", array_repeat(lit(tokens), 3).as("tokens"),
        lit(3).as("n_tok"), $"source")
      .withColumn("__p", monotonically_increasing_id())

    val r1 = Merge.mergeInto(t, updates(5), "__p", "mb-m1")
    assert(r1.touchedFiles >= 1)
    assert(graft.lineage.Lineage.taskRecords(t, "mb-m1").map(_.durationMs) match {
      case Seq(ms) => ms > 0
      case _ => false
    }, "the merge's lineage task records its real write time")
    // After the hot/cold split, the cold carry-over files have tight
    // stats; merging the SAME range again must touch only the small hot
    // files.
    val r2 = Merge.mergeInto(t, updates(6), "__p", "mb-m2")
    assert(r2.touchedBytes < r1.touchedBytes / 2,
      s"second merge should rewrite far fewer bytes: ${r2.touchedBytes} vs ${r1.touchedBytes}")
    // Exactness: rows outside the range are untouched; rows inside have
    // the second merge's tokens.
    assert(checksum(t.scan().filter(!$"doc_id".startsWith("doc_000000000"))) ==
      stateBefore)
    val inRange = t.scan()
      .filter($"doc_id" >= f"doc_${100}%012d" && $"doc_id" <= f"doc_${149}%012d")
    assert(inRange.count() == 50)
    assert(inRange.filter($"n_tok" === 3).count() == 50)
    assert(inRange.select(explode($"tokens")).distinct().as[Int].collect().toSet == Set(6))
    // GC after split-file merges: the __hot=... subdirectory files must
    // be visible to the recursive listing AND reachable via their
    // manifest paths — expiry deletes only the superseded originals.
    val live = checksum(t.scan())
    val gc = Expire.run(t, retainLast = 1, graceMs = 0)
    assert(gc.deletedFiles > 0, "old merge inputs should be collected")
    assert(checksum(t.scan()) == live, "GC must not touch reachable split files")
  }
}
