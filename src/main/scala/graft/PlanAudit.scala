package graft

import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints `explain("formatted")` for the engine's hot paths so plan
  * regressions (lost pushdown, lost column pruning, broken codegen,
  * surprise shuffles) are visible. Run: `sbt "runMain graft.PlanAudit"`.
  * Findings are recorded in PLANS.md.
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

  /** The query executions of every data-file write `body` issues, in
    * order: parquet writes into a table's `data/` dir, i.e. the plans
    * `TokenTable.writeDataFilesTo` actually ran.
    */
  def capturedWrites(spark: SparkSession)(body: => Any): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (planNodes(qe.executedPlan).exists {
          case w: DataWritingCommandExec => w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString.contains("/data/")
            case _ => false
          }
          case _ => false
        }) seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; GraftSqlBridge.drainListenerBus(spark) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val loc = s"${System.getProperty("java.io.tmpdir")}/graft_planaudit"
    Bench.wipeDir(loc)
    val t = TokenTable.create(spark, loc)
    t.append(TokenGen.asTokenRows(TokenGen.generate(spark, 10000, numPartitions = 4)))

    def section(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      df.explain("formatted")
    }

    section("scan + filter pushdown (source filter must reach PushedFilters)") {
      t.scan().filter($"source" === "web" && $"n_tok" > 100).select($"doc_id", $"n_tok")
    }

    section("stats sum scan (must read ONLY n_tok in ReadSchema)") {
      t.scan().agg(sum($"n_tok"))
    }

    section("curve-key projection (must be one WholeStageCodegen span)") {
      t.scan().select(graft.functions.CurveKeys.zkey(20,
        xxhash64($"doc_id").bitwiseAND(lit((1L << 20) - 1)),
        lit(3L), least($"n_tok".cast("long"), lit(1048575L))).as("z"))
    }

    section("dedup window (single shuffle on doc_id)") {
      graft.maintain.Merge.dedupFirstWins(
        TokenGen.generate(spark, 1000, numPartitions = 2), "offset")
    }

    section("bucket assignment (binary search must stay in the codegen span)") {
      t.scan().select(graft.functions.SearchOps.bucketOfStr(
        $"doc_id", Array("doc_000002000", "doc_000004000", "doc_000006000")).as("b"))
    }

    section("merge pruning (distinct segment agg — must contain NO join of any kind)") {
      val bounds = t.filesLocal(t.current)
        .flatMap(f => Seq(f.minDocId, f.maxDocId)).distinct
        .sorted(graft.functions.Search.utf8Ordering).toArray
      t.scan().select(graft.functions.SearchOps.bucketOfStr($"doc_id", bounds).as("seg"))
        .distinct()
    }

    section("sequence packing (ONE full-data Exchange on pid + broadcast offset join; " +
        "scan must read only doc_id, text)") {
      ops.Corpus.packSequences(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    }

    section("quality filter (pure scan-stage projection — no Exchange anywhere)") {
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", ops.Corpus.qualityVerdict($"text").as("verdict"))
    }

    // Manifest-index file pruning: run (not just explain) a point scan
    // and report how many files the FileSourceScanExec actually read —
    // the planner-integrated prune the ManifestFileIndex exists for.
    {
      println(s"\n========== manifest-index file pruning (numFiles must shrink) ==========")
      val all = t.filesLocal(t.current).size
      val q = t.scan().filter($"doc_id" === "doc_000000000042")
      // collect() executes THIS plan (count() would run a different one,
      // leaving the metric at a vacuous 0).
      val n = q.collect().length
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
      println(s"location=${scan.relation.location.getClass.getSimpleName} " +
        s"rows=$n numFiles=${scan.metrics("numFiles").value} of $all")
    }

    // Row-group cold copy: run a NARROW merge over a multi-group file
    // and report decoded vs cold-copied bytes — the merge-cost-tracks-
    // update-footprint property (VERDICT r3 task 2).
    {
      println(s"\n========== merge row-group cold copy (decoded << touched) ==========")
      val loc2 = s"${System.getProperty("java.io.tmpdir")}/graft_planaudit_rg"
      Bench.wipeDir(loc2)
      spark.conf.set("graft.write.rowGroupBytes", (64 * 1024).toString)
      try {
        val t2 = TokenTable.create(spark, loc2)
        t2.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 20000, minLen = 32, maxLen = 64, numPartitions = 1))
          .repartition(1).sortWithinPartitions("doc_id"))
        val src = t2.scan()
          .filter($"doc_id" >= f"doc_${10000}%012d" && $"doc_id" <= f"doc_${10049}%012d")
          .select($"doc_id", array(lit(1), lit(2)).as("tokens"),
            lit(2).as("n_tok"), $"source")
          .withColumn("__p", monotonically_increasing_id())
        val r = graft.maintain.Merge.mergeInto(t2, src, "__p", "pa-rg")
        println(s"touchedBytes=${r.touchedBytes} decodedBytes=${r.decodedBytes} " +
          s"coldCopiedBytes=${r.coldCopiedBytes} fullyColdFiles=${r.fullyColdFiles}")
      } finally spark.conf.unset("graft.write.rowGroupBytes")
    }

    // Catalog read path: a DSv2 catalog SELECT with a point filter must
    // return pruned results identical to the API scan (the V1 fallback
    // replays pushdown onto the manifest-pruned inner plan).
    {
      println(s"\n========== DSv2 catalog read (pushdown replay) ==========")
      spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      val one = spark.sql(
        s"SELECT n_tok FROM graft.`$loc` WHERE doc_id = 'doc_000000000042'")
      one.explain("formatted")
      println(s"rows=${one.count()} (must be 1)")
    }

    // The merge rewrite as Merge.mergeInto actually runs it: the
    // executed plan of its data-file write, captured by a listener.
    {
      println(s"\n========== merge rewrite (ONE touched scan; broadcast LeftAnti; " +
        "ONE Exchange = the range placement) ==========")
      val loc1 = s"${System.getProperty("java.io.tmpdir")}/graft_planaudit_merge"
      Bench.wipeDir(loc1)
      val t1 = TokenTable.create(spark, loc1)
      t1.append(TokenGen.asTokenRows(TokenGen.generate(spark, 10000, numPartitions = 4)))
      val src = TokenGen.asTokenRows(TokenGen.generate(spark, 100, numPartitions = 1))
        .withColumn("__p", lit(0L))
      capturedWrites(spark) {
        graft.maintain.Merge.mergeInto(t1, src, "__p", "pa-merge")
      }.foreach(qe => println(qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    }

    // Row-level DML (M9): a doc_id-range DELETE on a ByDocId-clustered
    // table must report all three file classes (planning is pure
    // metadata — no join, no shuffle), and the UPDATE rewrite must be a
    // scan-stage projection over the touched files only.
    {
      println(s"\n========== row-level DML (3-way classification + scan-stage rewrite) ==========")
      val loc3 = s"${System.getProperty("java.io.tmpdir")}/graft_planaudit_dml"
      Bench.wipeDir(loc3)
      val t3 = TokenTable.create(spark, loc3)
      (0 until 8).foreach { i =>
        t3.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 300, idOffset = i * 300L, numPartitions = 2)))
      }
      graft.maintain.Cluster.run(t3, graft.maintain.Cluster.ByDocId,
        "pa-dml-cluster", targetBytes = 64L * 1024)
      val files = t3.filesLocal(t3.current).sortBy(_.minDocId)
      val cut = files(1).maxDocId
      val del = graft.maintain.Delete.deleteWhere(
        t3, $"doc_id" <= cut, "pa-dml-del")
      println(s"DELETE doc_id <= $cut over ${files.size} files: " +
        s"dropped=${del.droppedFiles} rewritten=${del.rewrittenFiles} " +
        s"untouched=${del.untouchedFiles} rows=${del.deletedRows} " +
        s"rewrittenBytes=${del.rewrittenBytes} of ${files.map(_.bytes).sum}")
      val upd = graft.maintain.Update.updateWhere(
        t3, Seq("source" -> lit("patched")), $"n_tok" > 100, "pa-dml-upd")
      println(s"UPDATE n_tok>100: rewritten=${upd.rewrittenFiles} " +
        s"untouched=${upd.untouchedFiles} rows=${upd.updatedRows}")
      // The rewrite plan itself: read touched files -> simultaneous
      // projection -> write; shown via the equivalent projection.
      section("update rewrite projection (single codegen span, no Exchange)") {
        t3.scan().select($"doc_id",
          when($"n_tok" > 100, lit("patched")).otherwise($"source").as("source"),
          $"tokens", $"n_tok")
      }
    }

    // DML row-group cold copy: a narrow mid-range DELETE over a
    // multi-group file must decode only the hot slice (predicate
    // doc_id cover -> appendRowGroups cold copy), and compaction must
    // take the bytewise concat path with additive stats.
    {
      println(s"\n========== DML cold copy + concat compaction ==========")
      val loc4 = s"${System.getProperty("java.io.tmpdir")}/graft_planaudit_cc"
      Bench.wipeDir(loc4)
      spark.conf.set("graft.write.rowGroupBytes", (64 * 1024).toString)
      try {
        val t4 = TokenTable.create(spark, loc4)
        t4.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 20000, minLen = 32, maxLen = 64, numPartitions = 1)
          .repartition(1).sortWithinPartitions("doc_id")))
        val del = graft.maintain.Delete.deleteWhere(t4,
          $"doc_id" >= f"doc_${10000}%012d" && $"doc_id" <= f"doc_${10099}%012d",
          "pa-cc-del")
        println(s"narrow DELETE: decodedBytes=${del.decodedBytes} " +
          s"coldCopiedBytes=${del.coldCopiedBytes} of grazed ${del.rewrittenBytes} " +
          s"(decode share ${100 * del.decodedBytes / math.max(1, del.rewrittenBytes)}%)")
      } finally spark.conf.unset("graft.write.rowGroupBytes")
      // Concat compaction over the small leftover files (avg above the
      // re-encode threshold is forced via conf=0 at this toy scale).
      spark.conf.set("graft.compact.reencodeBelowBytes", "0")
      try {
        val t4 = TokenTable.open(spark, loc4)
        val before = t4.filesLocal(t4.current).size
        val r = graft.maintain.Compact.run(t4, targetBytes = 8L * 1024 * 1024,
          jobId = "pa-cc-compact")
        val outs = t4.filesLocal(t4.current).filter(_.path.contains("pa-cc-compact"))
        println(s"concat compaction: $before -> ${t4.filesLocal(t4.current).size} files, " +
          s"bins=${r.binsRewritten}, all-bytewise=${outs.forall(_.path.endsWith("concat.parquet"))}")
        outs.foreach(f => println(s"  out: ${f.path} (${f.bytes} B)"))
      } finally spark.conf.unset("graft.compact.reencodeBelowBytes")
    }

    {
      println(s"\n========== incremental recluster (carry >> rewrite) ==========")
      val loc5 = s"${System.getProperty("java.io.tmpdir")}/graft_planaudit_inc"
      Bench.wipeDir(loc5)
      val t5 = TokenTable.create(spark, loc5)
      (0 until 6).foreach { i =>
        t5.append(TokenGen.asTokenRows(TokenGen.generate(
          spark, 5000, idOffset = i * 5000L, numPartitions = 4)))
      }
      // A forced MAJOR pass (the generator's appends are already
      // range-partitioned, so the carry set would otherwise cover them).
      val full = graft.maintain.Cluster.run(t5, graft.maintain.Cluster.ByDocId,
        "pa-inc-full", targetBytes = 256L * 1024, incremental = false)
      val tableBytes = t5.filesLocal(t5.current).map(_.bytes).sum
      // 5% new data interleaving the key range, then an incremental pass.
      t5.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 1500, idOffset = 7000, numPartitions = 2)))
      val inc = graft.maintain.Cluster.run(t5, graft.maintain.Cluster.ByDocId,
        "pa-inc-minor", targetBytes = 256L * 1024)
      println(s"major pass: carried=${full.carriedFiles}, " +
        s"rewrote=${full.rewrittenBytes} B; " +
        s"incremental pass: carried=${inc.carriedFiles} files, " +
        s"rewrote=${inc.rewrittenBytes} B " +
        s"(${100 * inc.rewrittenBytes / math.max(1, tableBytes)}% of table)")
    }

    spark.stop()
  }
}
