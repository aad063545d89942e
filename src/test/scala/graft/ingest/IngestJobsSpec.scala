package graft.ingest

import graft.SparkSpec
import graft.table.TokenTable
import org.apache.spark.TestBus
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Job-count regression for the ingest hot path: a steady-state batch
  * parses each message once into one cached, classified frame, takes
  * every count from one aggregate over it, and writes off the same
  * cache. A change that re-parses the batch or adds a count pass fails
  * here before it shows up as benchmark time.
  */
class IngestJobsSpec extends SparkSpec {
  import spark.implicits._

  private val good =
    """{"doc_id":"%s","tokens":[1,2,3],"n_tok":3,"source":"web"}"""

  private def batch(offsets: Range): org.apache.spark.sql.Dataset[RawMessage] =
    offsets.map { i =>
      val v = if (i % 37 == 0) "not json" else good.format(s"doc_$i")
      RawMessage("t", i % 2, i.toLong, Some(s"k$i"), v)
    }.toDS()

  /** Every physical node an executed query ran, through adaptive
    * wrappers and query stages; a cache scan is a leaf, so the cached
    * plan under it is not included.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("a steady-state batch runs at most 6 jobs off one classified cache") {
    val t = TokenTable.create(spark, tmpDir("ingest-jobs"))
    Ingest.ingestBatch(t, batch(0 until 200))

    val sc = spark.sparkContext
    val group = s"ingest-jobs-${java.util.UUID.randomUUID()}"
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestBus.drain(sc)
    spark.listenerManager.register(qel)
    // Offsets 190..389: ten replayed messages, so the watermark join runs.
    val res =
      try {
        sc.setJobGroup(group, "second ingest batch")
        try Ingest.ingestBatch(t, batch(190 until 390))
        finally sc.clearJobGroup()
      } finally {
        TestBus.drain(sc)
        spark.listenerManager.unregister(qel)
      }
    // Offsets 222, 259, 296, 333 and 370 are malformed.
    assert((res.appended, res.deduped, res.deadLettered, res.replayFiltered) ==
      ((185L, 0L, 5L, 10L)))
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length <= 6, s"${jobs.length} jobs for one steady-state batch")

    val ran = queries.toArray(Array.empty[QueryExecution]).toSeq
      .map(qe => nodes(qe.executedPlan))
    // Every scan of one cached frame shares that frame's cached plan.
    def cacheScans(ns: Seq[SparkPlan]): Seq[SparkPlan] = ns.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }
    val aggregate = ran.filterNot(_.exists(_.isInstanceOf[DataWritingCommandExec]))
    val write = ran.filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(aggregate.size == 1 && write.size == 1,
      s"${aggregate.size} aggregate and ${write.size} write queries")
    val caches = (aggregate ++ write).map(cacheScans)
    assert(caches.forall(_.nonEmpty), "the aggregate and the write must read the cache")
    val cachedPlan = caches.head.head
    assert(caches.flatten.forall(_ eq cachedPlan), "one cached frame per batch")
    def parses(p: SparkPlan) = p.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))
    assert(nodes(cachedPlan).exists(parses), "the cache holds the parsed batch")
    assert(!ran.flatten.exists(parses), "no query may re-parse the batch outside the cache")
  }
}
