package graft.maintain

import graft.{PlanAudit, PlanDumpListener, SparkSpec}
import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.SparkConf
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Plan-shape guards for the merge rewrite, read off the executed plan
  * of the write `mergeInto` actually runs: ONE scan of touched data, a
  * broadcast anti join, and one Exchange (the range placement).
  */
class MergePlanSpec extends SparkSpec {
  import spark.implicits._

  test("merge rewrite plan: single touched-file scan feeds the anti join") {
    val dir = tmpDir("mplan")
    val t = TokenTable.create(spark, dir)
    (0 until 3).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 2000, idOffset = i * 2000L, numPartitions = 2)))
    }
    val src = t.scan().filter(pmod(xxhash64($"doc_id"), lit(10)) === 0)
      .select($"doc_id", $"tokens", $"n_tok", $"source")
      .withColumn("__p", lit(0L))
    val before = t.scan().count()
    var res: Merge.Result = null
    // The outside-in plan dump, registered on this session for the merge.
    val dumpDir = java.nio.file.Files.createTempDirectory("mplan_dump")
    val dump = new PlanDumpListener(
      new SparkConf(false).set("spark.graft.planDumpDir", dumpDir.toString))
    spark.listenerManager.register(dump)
    val writes =
      try PlanAudit.capturedWrites(spark) {
        res = Merge.mergeInto(t, src, "__p", "mp-m")
      } finally spark.listenerManager.unregister(dump)
    assert(writes.size == 1, s"one data-file write expected, got ${writes.size}")
    val plan = writes.head.executedPlan
    val all = PlanAudit.planNodes(plan)
    val scans = all.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"exactly one parquet scan (the touched files):\n$plan")
    assert(scans.head.relation.location.rootPaths.forall(_.toString.contains(dir)),
      s"the scan must read this table's files:\n$plan")
    assert(all.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, s"anti join must broadcast the source keys:\n$plan")
    assert(!all.exists(_.nodeName.contains("NestedLoop")), plan.toString)
    assert(all.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      s"exactly one Exchange (the range placement):\n$plan")
    val dumped = dumpDir.toFile.listFiles().toSeq
    assert(dumped.size == 1, s"one plan file per data-file write: $dumped")
    val text = java.nio.file.Files.readString(dumped.head.toPath)
    assert(text.contains("BroadcastHashJoin") && text.contains("LeftAnti"), text)
    assert(t.scan().count() == before) // pure updates: row count unchanged
    assert(res.touchedFiles > 0)
  }
}
