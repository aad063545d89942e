package graft.ingest

import graft.{PlanAudit, SparkSpec}
import graft.table.TokenTable
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
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

  /** Runs `body` and returns the physical plan nodes of every query it
    * executed, in order.
    */
  private def plansOf[A](body: => A): (A, Seq[Seq[SparkPlan]]) = {
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.listenerManager.register(qel)
    val out =
      try body
      finally {
        GraftSqlBridge.drainListenerBus(spark)
        spark.listenerManager.unregister(qel)
      }
    (out, queries.toArray(Array.empty[QueryExecution]).toSeq
      .map(qe => PlanAudit.planNodes(qe.executedPlan)))
  }

  // Every scan of one cached frame shares that frame's cached plan.
  private def cacheScans(ns: Seq[SparkPlan]): Seq[SparkPlan] = ns.collect {
    case s: InMemoryTableScanExec => s.relation.cachedPlan
  }

  test("a steady-state batch runs at most 6 jobs off one classified cache") {
    val t = TokenTable.create(spark, tmpDir("ingest-jobs"))
    Ingest.ingestBatch(t, batch(0 until 200))

    val sc = spark.sparkContext
    val group = s"ingest-jobs-${java.util.UUID.randomUUID()}"
    // Offsets 190..389: ten replayed messages, so the watermark join runs.
    val (res, ran) = plansOf {
      sc.setJobGroup(group, "second ingest batch")
      try Ingest.ingestBatch(t, batch(190 until 390))
      finally sc.clearJobGroup()
    }
    // Offsets 222, 259, 296, 333 and 370 are malformed.
    assert((res.appended, res.deduped, res.deadLettered, res.replayFiltered) ==
      ((185L, 0L, 5L, 10L)))
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length <= 6, s"${jobs.length} jobs for one steady-state batch")

    val aggregate = ran.filterNot(_.exists(_.isInstanceOf[DataWritingCommandExec]))
    val write = ran.filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(aggregate.size == 1 && write.size == 1,
      s"${aggregate.size} aggregate and ${write.size} write queries")
    val caches = (aggregate ++ write).map(cacheScans)
    assert(caches.forall(_.nonEmpty), "the aggregate and the write must read the cache")
    val cachedPlan = caches.head.head
    assert(caches.flatten.forall(_ eq cachedPlan), "one cached frame per batch")
    def parses(p: SparkPlan) = p.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))
    assert(PlanAudit.planNodes(cachedPlan).exists(parses), "the cache holds the parsed batch")
    assert(!ran.flatten.exists(parses), "no query may re-parse the batch outside the cache")
  }

  test("a table's first batch runs the replay join every later batch runs") {
    val t = TokenTable.create(spark, tmpDir("ingest-first"))
    val (res, ran) = plansOf(Ingest.ingestBatch(t, batch(0 until 50)))
    assert(res.replayFiltered == 0L && res.appended == 48L)
    val cached = ran.flatMap(cacheScans).distinct
    assert(cached.size == 1, s"${cached.size} cached frames")
    assert(PlanAudit.planNodes(cached.head).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftOuter
      case _ => false
    }, "the first batch must flag replays through the broadcast join")
  }
}
