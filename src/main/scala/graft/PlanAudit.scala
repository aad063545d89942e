package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspection from outside the engine: specs assert on the plans
  * the ops actually run ([[capturedWrites]], [[planNodes]]), and
  * [[PlanDumpListener]] writes them to disk for offline diffing. The
  * ops themselves carry no plan-capture code. Findings are recorded in
  * PLANS.md.
  */
object PlanAudit {

  /** Every node of an executed plan, through adaptive wrappers and
    * query stages (a cached relation's inner plan is not part of the
    * query that reads it).
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case _ => p +: p.children.flatMap(planNodes)
  }

  /** The parquet write into a table's `data/` dir that `qe` ran, if
    * any, i.e. a plan `TokenTable.writeDataFilesTo` issued.
    */
  def dataFileWrite(qe: QueryExecution): Option[InsertIntoHadoopFsRelationCommand] =
    planNodes(qe.executedPlan).collectFirst {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
          if c.outputPath.toString.contains("/data/") => c
    }

  /** The query executions of every data-file write `body` issues, in
    * order.
    */
  def capturedWrites(spark: SparkSession)(body: => Any): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (dataFileWrite(qe).isDefined) seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; GraftSqlBridge.drainListenerBus(spark) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
}

/** Writes the formatted executed plan (the adaptive final plan) of every
  * data-file write to `spark.graft.planDumpDir`, one file per write,
  * named after the write's `data/<dir>`: `<dir>.txt` (`/` inside the dir
  * becomes `_`). Does nothing when the dir is unset. Attach it without
  * touching the engine, e.g.
  * {{{
  * JAVA_TOOL_OPTIONS="-Dspark.sql.queryExecutionListeners=graft.PlanDumpListener \
  *   -Dspark.graft.planDumpDir=/tmp/plans" python3 perfbench/run.py ...
  * }}}
  */
class PlanDumpListener(conf: SparkConf) extends QueryExecutionListener {
  private val dir = conf.getOption("spark.graft.planDumpDir")

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    for (d <- dir; w <- PlanAudit.dataFileWrite(qe)) {
      val out = w.outputPath.toString
      val name = out.substring(out.lastIndexOf("/data/") + "/data/".length).replace('/', '_')
      val p = java.nio.file.Paths.get(d, name + ".txt")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, qe.explainString(FormattedMode))
    }

  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
