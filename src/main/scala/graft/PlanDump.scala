package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Writes `.explain("formatted")` evidence for the round-6 optimization
  * report (plans/r06/): for each touched declared query, a `_before`
  * plan (the round-5 shape, reconstructed via the A/B confs that
  * preserve it) and an `_after` plan (current defaults). Maintenance
  * rewrites (merge/zorder/delete) dump through the GRAFT_PLAN_DUMP
  * hooks in Merge/Cluster/Delete instead — run BenchExtra with that
  * env var set.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("GRAFT_PLAN_DIR", "plans/r06")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def dump(name: String, df: DataFrame): Unit = {
      val p = java.nio.file.Paths.get(outDir, s"$name.txt")
      java.nio.file.Files.writeString(p, df.queryExecution.explainString(FormattedMode))
      println(s"[plandump] wrote $p")
    }
    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

    // BEFORE shapes: materialize=off re-creates the round-5 recompute-
    // per-branch plans for the dedup family.
    spark.conf.set("graft.ops.materialize", "off")
    for (n <- Seq("dedup_minhash_lsh", "dedup_simhash_hamming",
      "dedup_ngram_jaccard", "dedup_lines"))
      dump(s"${n}_before", q(n))
    // substring BEFORE: round-5 keyed the aggregate/join on the raw
    // window string (no xxhash64 projection) — reconstructed inline.
    locally {
      val docs = ops.Dedup.augmented(spark, sfDir)
      val dg = docs
        .select(col("doc_id"), ops.TextOps.words(col("text")).as("ws"))
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.TextGrams.sliding(col("ws"), ops.Dedup.SubstringWindow))).as("g"))
      val dfreq = dg.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
      dump("dedup_substring_before", dg.join(dfreq, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("df").isNotNull, 1L).otherwise(0L)).as("shared_windows"))
        .select(col("doc_id"), col("n_windows"), col("shared_windows"),
          expr("shared_windows * 1000L div n_windows").as("shared_pm")))
    }
    // lm BEFORE approximation note: the vocab materialization is not
    // conf-gated; the before-plan differs only in the three vocab
    // subtrees being full corpus aggregates instead of checkpoint scans.
    dump("text_lm_perplexity_before", q("text_lm_perplexity"))

    // AFTER shapes: current defaults.
    spark.conf.set("graft.ops.materialize", "on")
    for (n <- Seq("dedup_minhash_lsh", "dedup_simhash_hamming",
      "dedup_ngram_jaccard", "dedup_lines", "dedup_substring",
      "text_lm_perplexity"))
      dump(s"${n}_after", q(n))
    spark.stop()
  }
}
