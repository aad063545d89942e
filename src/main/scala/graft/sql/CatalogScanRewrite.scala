package graft.sql

import graft.table.TokenTable
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Optimizer rule: a catalog-resolved read of a graft table — a
  * `DataSourceV2Relation` over [[GraftTable]], `VERSION AS OF`
  * included — becomes the engine's own relation,
  * [[TokenTable.scanLogical]] of the pinned snapshot: the
  * [[graft.table.ManifestFileIndex]] `HadoopFsRelation` that
  * `graft.`/path`` names already resolve to
  * ([[graft.plans.TokenTableResolution]]). Catalyst then plans the query
  * once and `FileSourceScanExec` reads `InternalRow`s, instead of the
  * DSv2 V1 fallback planning a second query inside
  * [[GraftScanBuilder]]'s `buildScan`.
  *
  * The replacement keeps the relation's output attributes (exprIds)
  * and maps them to the scan's columns by name. A relation stays in
  * place under an ungrouped aggregate that manifest stats answer
  * ([[GraftScanBuilder.statsAnswerable]]): [[GraftScanBuilder]] turns
  * those into a one-row, zero-data-IO scan.
  *
  * Injected via [[graft.GraftExtensions]] (`injectOptimizerRule`): it
  * runs with the operator optimizations, before the scan push-down
  * batch (`V2ScanRelationPushDown`) that builds the DSv2 scan.
  */
case class CatalogScanRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case a: Aggregate if statsAnswered(a) => a
    case r @ DataSourceV2Relation(t: GraftTable, _, _, _, _, _) => engineScan(r, t)
    case other => other.mapChildren(apply)
  }

  private def engineScan(r: DataSourceV2Relation, t: GraftTable): LogicalPlan = {
    val scan = new TokenTable(t.location, spark).scanLogical(t.pinnedSnapshot)
      .queryExecution.analyzed
    val byName = scan.output.map(a => a.name -> a).toMap
    Project(r.output.map(a =>
      Alias(byName(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier)), scan)
  }

  private def statsAnswered(a: Aggregate): Boolean = {
    def relation(p: LogicalPlan): Option[GraftTable] = p match {
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => relation(child)
      case DataSourceV2Relation(t: GraftTable, _, _, _, _, _) => Some(t)
      case _ => None
    }
    lazy val aggs = a.aggregateExpressions.flatMap(_.collect {
      case e: AggregateExpression => e
    }).distinct
    a.groupingExpressions.isEmpty && relation(a.child).exists(t =>
      aggs.nonEmpty && GraftSqlBridge.translateAggregation(aggs, Nil)
        .exists(GraftScanBuilder.statsAnswerable(_, t.logicalToPhysical)))
  }
}
