package graft.table

import graft.SparkSpec
import graft.ingest.TokenGen

/** Table-format unit tests (SURVEY.md §5.2 item 2): snapshot serde,
  * append/scan round-trip with stats, CAS commit-conflict, append
  * rebase.
  */
class TableSpec extends SparkSpec {

  test("snapshot JSON round-trips") {
    val s = Snapshot(3, 2, TokenTable.tokenSchema.json, "compact",
      Seq("metadata/manifest-a"), Map("k" -> "v"), 123456789L)
    assert(Format.fromJson(Format.toJson(s)) == s)
  }

  test("driver-side manifest writer round-trips through Spark, incl. empty and null-stat rows") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("manifests")
    // Null string stats (a file without doc_id/source stats) and a
    // normal row must both survive the parquet round trip unchanged.
    val rows = Seq(
      DataFile("data/a.parquet", 10L, 2L, "doc_a", "doc_z", 1, 9, 11L, "books", "web"),
      DataFile("data/b.parquet", 20L, 3L, null, null, 0, 0, 0L, null, null))
    Manifests.writeLocal(s"$dir/m1", rows)
    val back = spark.read.parquet(s"$dir/m1")
      .as[DataFile](org.apache.spark.sql.Encoders.product[DataFile])
      .collect().sortBy(_.path)
    assert(back.toSeq == rows)
    // Empty manifest: schema-complete file, zero rows.
    Manifests.writeLocal(s"$dir/m2", Nil)
    val empty = spark.read.parquet(s"$dir/m2")
    assert(empty.count() == 0 && empty.columns.contains("sumNtok"))
    // Spark-written and driver-written manifests must be co-readable
    // (one snapshot can reference both kinds).
    import spark.implicits._
    Seq(rows.head).toDS().write.parquet(s"$dir/m3")
    val union = spark.read.parquet(s"$dir/m1", s"$dir/m3")
    assert(union.count() == 3 && union.filter(col("minDocId").isNull).count() == 1)
  }

  test("create + append + scan round-trip with per-file min/max stats") {
    val dir = tmpDir("tbl")
    val t = TokenTable.create(spark, dir)
    val df = TokenGen.asTokenRows(TokenGen.generate(spark, 1000, numPartitions = 4))
    val before = checksum(df)
    t.append(df)
    assert(checksum(t.scan()) == before)

    val files = t.filesLocal(t.current)
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(f.rows > 0 && f.bytes > 0)
      assert(f.minDocId <= f.maxDocId)
      assert(f.minNtok <= f.maxNtok)
      assert(f.sumNtok >= f.rows * f.minNtok)
    }
    assert(files.map(_.rows).sum == 1000L)
  }

  test("filesLocal reads the inventory on the driver: zero Spark jobs") {
    val t = TokenTable.create(spark, tmpDir("tbl"))
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 300, numPartitions = 3)))
    val sc = spark.sparkContext
    val group = s"files-local-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "filesLocal")
    val files =
      try t.filesLocal(t.current)
      finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
    assert(files.map(_.rows).sum == 300L)
  }

  test("manifest stats enable doc_id pruning") {
    val dir = tmpDir("tbl")
    val t = TokenTable.create(spark, dir)
    // Two disjoint id ranges in separate commits -> separate files.
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 200, numPartitions = 1)))
    t.append(TokenGen.asTokenRows(
      TokenGen.generate(spark, 200, idOffset = 1000000, numPartitions = 1)))
    import org.apache.spark.sql.functions.col
    val pruned = t.scan()
      .filter(col("doc_id") >= "doc_000001000000" && col("doc_id") <= "doc_000001000199")
    // collect() runs THIS Dataset's plan, which fills the scan's metrics.
    assert(pruned.collect().length == 200)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
    assert(scan.metrics("numFiles").value < t.filesLocal(t.current).size,
      "the first append's files hold no id in range and must be pruned")
    assert(pruned.filter(col("doc_id") < "doc_000001000000").count() == 0)
  }

  test("CAS commit: two racing writers -> exactly one wins at each version") {
    val dir = tmpDir("tbl")
    TokenTable.create(spark, dir)
    val parent = Format.readSnapshot(dir, 0)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val results = Await.result(Future.sequence((1 to 8).map { i =>
      Future {
        barrier.await()
        Format.tryPublish(dir, parent.copy(version = 1, operation = s"racer-$i"))
      }
    }), Duration.Inf)
    pool.shutdown()
    assert(results.count(identity) == 1, "exactly one racer must win the CAS")
  }

  test("concurrent appends auto-rebase: both land, no rows lost") {
    val dir = tmpDir("tbl")
    val t = TokenTable.create(spark, dir)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fs = Seq(0L, 500000L).map { off =>
      Future {
        val t2 = TokenTable.open(spark, dir)
        t2.append(TokenGen.asTokenRows(
          TokenGen.generate(spark, 300, idOffset = off, numPartitions = 2)))
      }
    }
    Await.result(Future.sequence(fs), Duration.Inf)
    pool.shutdown()
    assert(t.scan().count() == 600)
    assert(t.currentVersion == 2)
  }

  test("rewrite commits abort on conflict (serializable isolation)") {
    val dir = tmpDir("tbl")
    val t = TokenTable.create(spark, dir)
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 100, numPartitions = 1)))
    val parent = t.current
    val paths = t.filesLocal(parent).map(_.path).toSet
    // A concurrent append lands first.
    t.append(TokenGen.asTokenRows(
      TokenGen.generate(spark, 100, idOffset = 900000, numPartitions = 1)))
    // Now a stale rewrite (simulating compaction planned against `parent`)
    // must abort, not clobber the append.
    intercept[CommitConflictException] {
      t.commit(Some(parent), "compact", addManifests = Nil,
        keepManifests = Nil, removedPaths = paths)
    }
  }

  test("statsFor: distributed path (many files) agrees with the pooled path") {
    import org.apache.spark.sql.functions._
    val loc = tmpDir("stats_dist")
    val t = TokenTable.create(spark, loc)
    // One commit with more output files than StatsDistributeThreshold so
    // statsFor runs as a mapPartitions Spark job over the path list.
    val nParts = TokenTable.StatsDistributeThreshold + 16
    val rows = TokenGen.asTokenRows(TokenGen.generate(
      spark, 2000, idOffset = 0, minLen = 16, maxLen = 32, numPartitions = 4))
      .repartition(nParts)
    val snap = t.append(rows)
    val files = t.filesLocal(snap)
    // Some partitions may be empty (2000 rows over 272 partitions are
    // hash-spread, so near-all get rows); every non-empty one must be
    // statted, and totals must match the data exactly.
    assert(files.size > TokenTable.StatsDistributeThreshold / 2)
    val expect = rows.agg(
      count(lit(1)), sum(col("n_tok").cast("long")),
      min(col("doc_id")), max(col("doc_id"))).head()
    assert(files.map(_.rows).sum == expect.getLong(0))
    assert(files.map(_.sumNtok).sum == expect.getLong(1))
    assert(files.map(_.minDocId).min == expect.getString(2))
    assert(files.map(_.maxDocId).max == expect.getString(3))
    assert(files.forall(f => f.bytes > 0 && f.minNtok >= 16 && f.maxNtok <= 32))
    // Scan-back equality: the manifest the distributed path built drives
    // a correct scan.
    assert(checksum(t.scan()) == checksum(rows.select("doc_id", "tokens", "n_tok", "source")))
  }
}
