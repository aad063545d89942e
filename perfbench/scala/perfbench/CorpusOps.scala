package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import scala.collection.mutable

/** Representative queries from the 24 `graft.Bench` lists, run through
  * `SparkEntry.queries` on the fixed testdata in a closed loop. It is the
  * only workload that exercises the `ops` operators (and the `functions`
  * kernels under them) and no table layer. The seed is recorded but the
  * input is fixed. The unit operation is one query, built and collected.
  * A pass takes longer than the window, so the warm-up is not a whole pass
  * but one run of five cheap queries that load and compile the shared
  * read, aggregate and codegen paths. The first timed pass's rows go to
  * DuckDB for the oracle check; every later pass must return the same rows.
  */
final class CorpusOps extends Workload {
  /** Query -> the ops module family that implements it: 10 of the 24
    * queries `graft.Bench` lists, at least one per module, sized so a pass
    * fits the run (the full 24 take ~40 s cold at 4 cores).
    */
  val Family: Seq[(String, String)] = Seq(
    "d1_dedup_firstwins" -> "other", "text_analyze" -> "text",
    "dedup_minhash_lsh" -> "dedup",
    "sim_bruteforce_topk" -> "similarity", "multimodal_features" -> "other",
    "corpus_pack" -> "corpus",
    "corpus_vocab" -> "text",
    "text_scrub" -> "text", "text_lm_perplexity" -> "lm",
    "corpus_domain_mix" -> "corpus")
  override def setupReps: Int = 5

  /** Untimed warm-up: the cheapest query of five families. */
  private val Warmup = Seq("text_scrub", "multimodal_features", "corpus_domain_mix",
    "sim_bruteforce_topk", "corpus_vocab")
  private val Families = Seq("dedup", "similarity", "corpus", "text", "lm", "other")
  private var inputRows = Map.empty[String, Long]

  /** Reads every input table's parquet footer: row counts, OS cache. */
  def setup(ctx: Ctx, dir: Path): Unit = {
    val data = java.nio.file.Paths.get(ctx.args.data)
    val st = Files.list(data)
    val tables = try st.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet"))
    finally st.close()
    require(tables.nonEmpty, s"no testdata under ${ctx.args.data}")
    val conf = ctx.spark.sessionState.newHadoopConf()
    inputRows = tables.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), conf))
      try p.getFileName.toString -> r.getRecordCount finally r.close()
    }.toMap
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val out = ctx.args.work.resolve("corpus")
    Main.wipe(out)
    Files.createDirectories(out)
    val firstDigest = mutable.Map.empty[String, String]
    val lat = mutable.ArrayBuffer.empty[Double]
    val firstPass = mutable.LinkedHashMap.empty[String, Double]
    val names = Family.map(_._1)
    val (windowS, n) = ctx.window(warmup = 1) { i =>
      if (i < 0) Warmup.foreach { q =>
        ctx.attempt(s"warm-up $q")(SparkEntry.queries(q)(spark, ctx.args.data).collect())
      }
      else names.foreach { q =>
        ctx.attempt(s"pass $i $q") {
          val t0 = tr.nowMs
          val rows = tr.span(s"ops.$q") {
            val df = SparkEntry.queries(q)(spark, ctx.args.data)
            (df.collect(), df.schema)
          }
          lat += (tr.nowMs - t0) / 1e3
          if (i == 0) firstPass(q) = lat.last
          val d = digest(rows._1)
          if (i == 0) {
            firstDigest(q) = d
            // The oracle compares these rows; a corrupted run adds one.
            val kept = if (ctx.args.corrupt && rows._1.nonEmpty) rows._1 :+ rows._1.head else rows._1
            tr.span("check.write")(spark.createDataFrame(
              java.util.Arrays.asList(kept: _*), rows._2).coalesce(1)
              .write.mode("overwrite").parquet(out.resolve(q).toString))
          } else ctx.check(firstDigest.get(q).contains(d), s"pass $i $q returned other rows")
        }
      }
    }
    graft.ops.Corpus.releasePackCache()
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.value(names.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    val passes = tr.tracedIters
    def byFamily(f: TracedSpan => Double): Map[String, Double] =
      Family.groupBy(_._2).map { case (fam, qs) =>
        fam -> qs.map(q => tr.tracedOp(s"ops.${q._1}").map(f).sum).sum / math.max(1, passes)
      }
    val wall = byFamily(_.span.wallS)
    val shuffle = byFamily(_.total.shuffleBytes.toDouble)
    val layer = Families.map(f => s"ops.${f}_s" -> wall.getOrElse(f, 0.0)).toMap ++
      Families.filter(_ != "other").map(f => s"ops.$f.shuffle_bytes" -> shuffle.getOrElse(f, 0.0))
    Outcome(lat.toSeq, lat.size.toLong, windowS, layer,
      Map("passes" -> n, "queries_per_pass" -> names.size, "input_rows" -> inputRows,
        "first_pass_s" -> firstPass))
  }
}
