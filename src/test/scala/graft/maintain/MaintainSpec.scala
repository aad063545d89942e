package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.lineage.Lineage
import graft.table.TokenTable
import org.apache.spark.sql.functions._

/** Integration tests the reference left as TODOs
  * (`/root/reference/src/tests/integration.rs:1`), realized: every
  * maintenance op preserves the byte-equal token-array invariant; crash
  * -> resume; merge upsert; expiry GC.
  */
class MaintainSpec extends SparkSpec {

  private def smallFileTable(commits: Int = 12, rowsPerCommit: Int = 250): TokenTable = {
    val dir = tmpDir("tbl")
    val t = TokenTable.create(spark, dir)
    (0 until commits).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, rowsPerCommit, idOffset = i.toLong * rowsPerCommit, numPartitions = 2)))
    }
    t
  }

  test("compaction: fewer files, identical table state (invariant)") {
    val t = smallFileTable()
    val before = checksum(t.scan())
    val filesBefore = t.filesLocal(t.current).size
    val res = Compact.run(t, targetBytes = 4L * 1024 * 1024, jobId = "job-compact-1")
    assert(res.binsRewritten > 0)
    val filesAfter = t.filesLocal(t.current).size
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(checksum(t.scan()) == before, "compaction must not change table state")
    assert(t.current.operation == "compact")
  }

  test("compaction concat path: bytewise bins, additive stats, identical state") {
    // Spec-scale files are KBs (below the 1MB re-encode threshold), so
    // force the concat path and verify it end-to-end: byte-identical
    // rows, fewer files, and output manifest stats (computed ADDITIVELY
    // from input manifest rows) that exactly match a from-scratch
    // statsFor pass over the written bytes.
    val t = smallFileTable()
    spark.conf.set("graft.compact.reencodeBelowBytes", "0")
    try {
      val before = checksum(t.scan())
      val filesBefore = t.filesLocal(t.current).size
      val res = Compact.run(t, targetBytes = 4L * 1024 * 1024,
        jobId = "job-compact-cc")
      assert(res.binsRewritten > 0)
      assert(t.filesLocal(t.current).size < filesBefore)
      assert(checksum(t.scan()) == before,
        "concat compaction must not change table state")
      // Every concat output's additive stats must equal re-derived stats.
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(t.location).toUri.getPath
      val outs = t.filesLocal(t.current)
        .filter(_.path.contains("job-compact-cc"))
      assert(outs.nonEmpty, "concat outputs must be in the manifest")
      assert(outs.forall(_.path.endsWith("concat.parquet")),
        "forced-concat bins must all take the bytewise path")
      outs.foreach { f =>
        val re = graft.table.FileStats.statsForFile(
          s"$root/${f.path}", root, conf).get
        assert(re.copy(path = f.path) == f,
          s"additive stats must match re-derived stats for ${f.path}:\n  $f\n  $re")
      }
    } finally spark.conf.unset("graft.compact.reencodeBelowBytes")
  }

  test("compaction plan: bins respect capacity and cover candidates exactly once") {
    val t = smallFileTable()
    val files = t.filesLocal(t.current)
    val target = 4L * 1024 * 1024
    val bins = Compact.planBinsStreaming(files.iterator, target)._1
    bins.foreach { b =>
      assert(b.map(_.bytes).sum <= target)
      assert(b.size >= 2)
    }
    val planned = bins.flatten.map(_.path)
    assert(planned.distinct.size == planned.size, "a file must appear in at most one bin")
  }

  test("compaction bins are key-adjacent on a clustered layout; stranded files FFD-pack") {
    import graft.table.DataFile
    def f(p: String, min: String, max: String, bytes: Long) =
      DataFile(p, bytes, 10, min, max, 0, 9, 100, "s", "s")
    // Six range-adjacent 30KB fragments, 64KB target: bins must pair
    // NEIGHBOURS (tight output ranges), never key-distant fragments.
    val frags = (0 until 6).map(i => f(s"f$i", f"d${i}%02d0", f"d${i}%02d9", 30000L))
    val bins = Compact.planBinsStreaming(frags.iterator, 64000L)._1
    assert(bins.nonEmpty && bins.forall(_.size == 2))
    bins.foreach { b =>
      val idx = b.map(frags.indexOf).sorted
      assert(idx(1) - idx(0) == 1, s"bin not key-adjacent: $idx")
    }
    // Alternating sizes where no adjacent pair fits: the FFD fallback
    // still packs the two smalls instead of dropping all work.
    val alt = Seq(f("a", "d00", "d09", 45000L), f("b", "d10", "d19", 30000L),
      f("c", "d20", "d29", 45000L), f("d", "d30", "d39", 30000L))
    val bins2 = Compact.planBinsStreaming(alt.iterator, 64000L)._1
    assert(bins2.flatten.map(_.path).toSet == Set("b", "d"))
  }

  test("compaction resumes from lineage: completed bins are not re-run") {
    val t = smallFileTable()
    val before = checksum(t.scan())
    val jobId = "job-compact-resume"
    // Simulate a crash: run the planning + exactly one task by hand,
    // under the same version-scoped execution id Compact.run derives.
    val parent = t.current
    val execId = s"$jobId-v${parent.version}"
    val binBytes = 128L * 1024
    val bins = Compact.planBinsStreaming(t.filesStream(parent), binBytes)._1
    assert(bins.size >= 2, "need >=2 bins for a meaningful resume test")
    val plan = Lineage.planOrResume(t, Lineage.JobPlan(execId, "compact",
      parent.version, bins.zipWithIndex.map { case (b, i) => i.toString -> b.map(_.path) }.toMap))
    val firstTask = plan.tasks.keys.min
    val in = plan.tasks(firstTask).map(p => s"${t.location}/$p")
    val out = t.writeDataFilesTo(spark.read.schema(t.schema).parquet(in: _*).coalesce(1),
      s"data/$execId/bin-$firstTask", overwrite = true, sortBy = Some("doc_id"))
    Lineage.completeTask(t, Lineage.TaskRecord(execId, firstTask, plan.tasks(firstTask),
      out, out.map(_.rows).sum, out.map(_.sumNtok).sum, "done", 1L))
    // "Restart": the job re-runs; the completed task must be reused.
    val res = Compact.run(t, binBytes, jobId)
    assert(res.resumedTasks == 1, s"expected 1 resumed task, got ${res.resumedTasks}")
    assert(checksum(t.scan()) == before)
    // Metrics surface per-task lineage.
    val m = Lineage.metrics(spark, t, execId)
    assert(m.count() == bins.size.toLong)

    // Post-commit re-run with the SAME jobId: the stale plan must NOT be
    // reused (it would double-count its own outputs); the new execution
    // sees the compacted table and is a no-op.
    val rerun = Compact.run(t, binBytes, jobId)
    assert(rerun.resumedTasks == 0, "stale plan must not resume after commit")
    assert(checksum(t.scan()) == before, "post-commit re-run must not duplicate rows")
  }

  test("zorder clustering preserves state and tightens source locality") {
    val t = smallFileTable()
    val before = checksum(t.scan())
    val res = Cluster.run(t, Cluster.ZOrder, "job-z1", targetBytes = 96L * 1024)
    assert(checksum(t.scan()) == before, "clustering must not change table state")
    assert(t.current.operation == "zorder")
    // Locality: Z-order gives each dim ~1 bit per log2(#files)/#dims, so
    // with O(10) files expect ~2-source ranges, not single-source files.
    // Assert the *average source-range width* (in dict codes) shrinks vs
    // the pre-clustering state where every file spans all 5 sources.
    val dict = graft.ingest.TokenGen.Sources.sorted.zipWithIndex.toMap
    val files = t.filesLocal(t.current)
    val widths = files.map(f => dict(f.maxSource) - dict(f.minSource) + 1)
    val avgWidth = widths.sum.toDouble / widths.size
    assert(avgWidth < 4.0,
      s"expected avg source-range width < 4 (pre-cluster = 5), got $avgWidth: " +
        files.map(f => s"[${f.minSource},${f.maxSource}]").mkString(", "))
    // Pruning a filter on one source must now skip some files.
    val web = files.count(f => f.minSource <= "web" && f.maxSource >= "web")
    assert(web < files.size, "a source='web' scan should prune at least one file")
  }

  test("exchangeByPid places every row in exactly the partition its pid names") {
    import spark.implicits._
    for (n <- Seq(1, 7, 64)) {
      val df = spark.range(0, 2000, 2).toDF("id")
        .withColumn("pid", pmod(xxhash64($"id"), lit(n)).cast("int"))
      val placed = Cluster.exchangeByPid(df, $"pid", n)
        .withColumn("actual", spark_partition_id())
      assert(placed.count() == 1000, s"n=$n: placement check must see real rows")
      assert(placed.filter($"actual" =!= $"pid").count() == 0, s"n=$n misplacement")
      assert(placed.rdd.getNumPartitions == n)
    }
    // The plan must be a single hash exchange — no RangePartitioning
    // (whose boundary sampling re-executes the child plan end-to-end).
    val df = spark.range(100).toDF("id").withColumn("pid", lit(0))
    val p = Cluster.exchangeByPid(df, col("pid"), 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning") && !p.contains("rangepartitioning"), p)
  }

  test("hash preimages come from the driver: no job, and Spark's hash agrees") {
    import spark.implicits._
    val widths = Seq(2, 3, 67, 200, 977)
    val sc = spark.sparkContext
    val group = s"preimages-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "hash preimages")
    val pre = try widths.map(n => n -> Cluster.hashPreimages(n)).toMap
      finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "preimages must be found without a Spark job")
    for (n <- Seq(2, 3, 67, 200)) {
      val x = pre(n)
      assert(x.length == n)
      val wrong = x.toSeq.zipWithIndex.toDF("x", "p")
        .filter(pmod(hash($"x"), lit(n)) =!= $"p").count()
      assert(wrong == 0, s"n=$n: $wrong preimages hash to another partition")
    }
  }

  test("hilbert clustering preserves state") {
    val t = smallFileTable(commits = 6)
    val before = checksum(t.scan())
    Cluster.run(t, Cluster.Hilbert, "job-h1", targetBytes = 2L * 1024 * 1024)
    assert(checksum(t.scan()) == before)
    assert(t.current.operation == "hilbert")
  }

  test("merge: upsert on doc_id — matched rows replaced, new rows inserted, untouched files carried") {
    val t = smallFileTable(commits = 4, rowsPerCommit = 250)
    import spark.implicits._
    // Source: updates for 50 existing ids (new tokens) + 100 brand-new ids.
    val updates = TokenGen.generate(spark, 50, idOffset = 0, minLen = 8, maxLen = 8, numPartitions = 1)
      .withColumn("tokens", array(lit(1), lit(2), lit(3)))
      .withColumn("n_tok", lit(3))
    val inserts = TokenGen.generate(spark, 100, idOffset = 5000000L, numPartitions = 1)
    val source = updates.unionByName(inserts)
    val res = Merge.mergeInto(t, source, "offset", "job-m1")
    assert(res.sourceRows == 150)
    assert(res.untouchedFiles > 0, "files outside the source key range must carry over")
    val scan = t.scan()
    assert(scan.count() == 1000 + 100)
    val updated = scan.filter($"doc_id" === "doc_000000000007").head()
    assert(updated.getAs[Int]("n_tok") == 3)
    assert(updated.getAs[scala.collection.Seq[Int]]("tokens") == Seq(1, 2, 3))
  }

  test("merge: source batch first-wins dedup on doc_id (reference D1)") {
    import spark.implicits._
    val src = Seq(
      ("doc_a", Seq(1), 1, "web", 10L),
      ("doc_a", Seq(2, 2), 2, "web", 20L), // later arrival: dropped
      ("doc_b", Seq(3), 1, "web", 30L)
    ).toDF("doc_id", "tokens", "n_tok", "source", "offset")
    val out = Merge.dedupFirstWins(src, "offset")
      .select("doc_id", "n_tok").as[(String, Int)].collect().toMap
    assert(out == Map("doc_a" -> 1, "doc_b" -> 1))
  }

  test("compaction abort-and-replan is exercised deterministically (beforeCommit seam)") {
    val dir = tmpDir("det-conflict")
    val t = TokenTable.create(spark, dir)
    (0 until 3).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 200, idOffset = i * 200L, numPartitions = 2)))
    }
    // First attempt: an append lands between bin writes and the commit
    // -> the rewrite MUST abort (its survivor list is stale). Retry
    // re-plans against the new snapshot and succeeds.
    var injected = false
    def inject(): Unit = if (!injected) {
      injected = true
      TokenTable.open(spark, dir).append(TokenGen.asTokenRows(
        TokenGen.generate(spark, 150, idOffset = 9000L, numPartitions = 1)))
    }
    intercept[graft.table.CommitConflictException] {
      Compact.run(t, targetBytes = 64L * 1024 * 1024, jobId = "det-c",
        beforeCommit = () => inject())
    }
    val res = Compact.run(t, targetBytes = 64L * 1024 * 1024, jobId = "det-c",
      beforeCommit = () => inject())
    assert(res.binsRewritten > 0)
    val ids = t.scan().select(org.apache.spark.sql.functions.col("doc_id"))
    assert(ids.count() == 750 && ids.distinct().count() == 750,
      "abort-and-replan must neither lose nor duplicate the injected append")
  }

  test("compaction races a live appender: rewrite aborts + re-plans, no rows lost or duplicated") {
    val dir = tmpDir("race-compact")
    val t = TokenTable.create(spark, dir)
    (0 until 4).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 300, idOffset = i * 300L, numPartitions = 2)))
    }
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val appender = Future {
      val t2 = TokenTable.open(spark, dir)
      (0 until 3).foreach { i =>
        t2.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 200, idOffset = 10000L + i * 200L, numPartitions = 2)))
      }
    }
    val compactor = Future {
      val t3 = TokenTable.open(spark, dir)
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        try {
          // Version-scoped execId -> every retry re-plans against the
          // snapshot that beat it (fresh plan, fresh output dirs).
          Compact.run(t3, targetBytes = 64L * 1024 * 1024, jobId = "race-c")
          done = true
        } catch {
          case _: graft.table.CommitConflictException if attempts < 10 => ()
        }
      }
      attempts
    }
    Await.result(appender, Duration.Inf)
    val attempts = Await.result(compactor, Duration.Inf)
    pool.shutdown()
    // Every ingested row exactly once, whatever the interleaving.
    val ids = t.scan().select(org.apache.spark.sql.functions.col("doc_id"))
    assert(ids.count() == 1800, s"rows lost/duplicated (compact attempts=$attempts)")
    assert(ids.distinct().count() == 1800)
  }

  test("expiry + orphan GC: old snapshots and unreachable files deleted, state intact") {
    val t = smallFileTable(commits = 5, rowsPerCommit = 100)
    Compact.run(t, 4L * 1024 * 1024, "job-c-exp") // makes originals unreachable
    val before = checksum(t.scan())
    val dataDir = java.nio.file.Paths.get(t.location, "data")
    def parquetCount = {
      val st = java.nio.file.Files.walk(dataDir)
      try st.filter(p => p.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    val filesOnDiskBefore = parquetCount
    val res = Expire.run(t, retainLast = 1, graceMs = 0)
    assert(res.expiredSnapshots.nonEmpty)
    assert(res.deletedFiles > 0)
    assert(parquetCount < filesOnDiskBefore)
    assert(checksum(t.scan()) == before, "GC must never touch reachable files")
    // Expired snapshot JSONs are gone.
    res.expiredSnapshots.foreach { v =>
      assert(!java.nio.file.Files.exists(graft.table.Format.versionFile(t.location, v)))
    }
  }
}
