package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job-count regression for MERGE planning, in the style of
  * `IngestJobsSpec`: a batch within [[Merge.KeySampleCap]] is planned by
  * one source fold (no count, no distinct, no extent aggregation), and
  * the failure path releases the merge's cache.
  */
class MergeJobsSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Long) = f"doc_$i%012d"

  /** 8,000 rows, doc_id-clustered into many small files. */
  private lazy val table: TokenTable = {
    val t = TokenTable.create(spark, tmpDir("merge-jobs"))
    (0 until 4).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2000, idOffset = i * 2000L, minLen = 32, maxLen = 64,
        numPartitions = 2)))
    }
    Cluster.run(t, Cluster.ByDocId, "mj-cluster", targetBytes = 128L * 1024)
    t
  }

  /** 130 updates (ids 1000..1129) and 50 inserts past the table's end
    * (ids 9000..9049), staged as parquet like a landed batch.
    */
  private lazy val batchDir: String = {
    val dir = tmpDir("merge-jobs-src")
    val upd = table.scan()
      .filter($"doc_id" >= doc(1000) && $"doc_id" <= doc(1129))
      .select($"doc_id", array_repeat(lit(7), 3).as("tokens"), lit(3).as("n_tok"),
        $"source")
    val ins = TokenGen.generate(spark, 50, idOffset = 9000L, numPartitions = 1)
      .select($"doc_id", $"tokens", $"n_tok", $"source")
    upd.unionByName(ins).withColumn("__p", monotonically_increasing_id())
      .write.parquet(dir)
    dir
  }
  private def batch: DataFrame = spark.read.parquet(batchDir)

  test("a batch within the key cap merges in at most 7 jobs") {
    val t = table
    val src = batch
    val before = t.scan().count()
    val sc = spark.sparkContext
    val group = s"merge-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "merge of a small batch")
    val res = try Merge.mergeInto(t, src, "__p", "mj-m")
      finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(res.sourceRows == 180L)
    assert(t.scan().count() == before + 50)
    assert(t.scan().filter($"doc_id" >= doc(1000) && $"doc_id" <= doc(1129))
      .filter($"n_tok" === 3).count() == 130)
    // Dedup shuffle, source cache, key fold, target sample, key
    // broadcast, placement exchange, write.
    assert(jobs.length <= 7, s"${jobs.length} jobs for one small merge")
  }

  test("folded and aggregated extents agree") {
    val t = table
    val keys = batch.select($"doc_id").cache()
    val sc = spark.sparkContext
    def jobsOf[A](body: => A): (A, Int) = {
      val group = s"merge-plan-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, "merge planning")
      val out = try body finally sc.clearJobGroup()
      (out, sc.statusTracker.getJobIdsForGroup(group).length)
    }
    try {
      keys.count()
      val (folded, foldJobs) = jobsOf(Merge.planPrune(
        () => t.filesStream(t.current), keys, () => t.files(t.current)))
      // keyCap 0 forces the extent aggregation over the same sample.
      val (aggregated, aggJobs) = jobsOf(Merge.planPrune(
        () => t.filesStream(t.current), keys, () => t.files(t.current), keyCap = 0))
      assert(foldJobs == 1 && aggJobs > foldJobs, s"$foldJobs vs $aggJobs jobs")
      assert(folded.srcRows == 180L && aggregated.srcRows == 180L)
      assert(folded.touched.map(_.path) == aggregated.touched.map(_.path))
      assert(folded.prune.extLo.toSeq == aggregated.prune.extLo.toSeq)
      assert(folded.prune.extHi.toSeq == aggregated.prune.extHi.toSeq)
      assert(folded.touched.nonEmpty && folded.prune.extLo.length == 180)
    } finally keys.unpersist()
  }

  test("a failing merge leaves no cache behind") {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val poisoned = batch.withColumn("tokens",
      when($"doc_id" === doc(1064), raise_error(lit("poisoned row")))
        .otherwise($"tokens"))
    val head = table.currentVersion
    intercept[Exception](Merge.mergeInto(table, poisoned, "__p", "mj-fail"))
    assert(table.currentVersion == head, "a failed merge must not commit")
    assert(cm.isEmpty,
      "the merge's source caches must be released on failure")
  }
}
