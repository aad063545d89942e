package perfbench

import graft.ingest.TokenGen
import graft.maintain.Cluster
import graft.table.TokenTable
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One query of the serving mix with the answer derived from the generator:
  * (rows, sum of n_tok, sum of pmod(xxhash64(doc_id, tokens), P)).
  */
final case class Query(kind: String, sql: String, expected: (Long, Long, Long))

/** One SQL client against `graft.`<path>``: a table built from many
  * interleaved appends, then clustered by doc_id, with the unclustered
  * version kept for `VERSION AS OF`. The mix is narrow doc_id-range lookups,
  * source and n_tok filtered aggregates, time-travel lookups on the old
  * version and full-decode checksum scans, in blocks of ten. The table fits in memory and no
  * query writes: this is the read side of the table layer (pruning,
  * planning, decode). The unit operation is one query, planned and run.
  */
final class ScanServe extends Workload {
  private val P = 1000000007L
  private var table: TokenTable = _
  private var oldVersion = 0L
  private var queries: IndexedSeq[Query] = IndexedSeq.empty
  private var rows = 0L

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.args.seed * 15485863L + 5)
    val n = if (ctx.args.tiny) 16000 else 60000
    rows = n
    val appends = 3
    val off = (math.abs(ctx.args.seed) % 997L) * 10000000L
    val gen = TokenGen.generate(spark, n, idOffset = off, minLen = 32, maxLen = 160,
      numPartitions = 4)
    table = TokenTable.create(spark, dir.resolve("table").toString)
    (0 until appends).foreach { c =>
      table.append(TokenGen.asTokenRows(gen.where(pmod(col("offset"), lit(appends.toLong)) === c)))
    }
    oldVersion = table.currentVersion
    Cluster.runByDocId(table, "serve-cluster", targetBytes = 2L << 20)

    // Per-row facts from the generator, in doc_id order (ids are fixed width).
    val facts = gen.select(col("offset") - off, col("n_tok"), col("source"),
      pmod(xxhash64(col("doc_id"), col("tokens")), lit(P))).collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    val tokPre = facts.scanLeft(0L)(_ + _._2)
    val hPre = facts.scanLeft(0L)(_ + _._4)
    def range(a: Int, b: Int) = ((b - a).toLong, tokPre(b) - tokPre(a), hPre(b) - hPre(a))
    val bySource = facts.groupBy(_._3).map { case (s, fs) =>
      s -> (fs.length.toLong, fs.map(_._2.toLong).sum) }
    val perNtok = facts.groupBy(_._2).map { case (k, fs) =>
      k -> (fs.length.toLong, fs.map(_._2.toLong).sum) }
    def ntokBand(a: Int) = (a until a + 4).flatMap(perNtok.get)
      .foldLeft((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    val loc = table.location
    val agg = "count(*), sum(n_tok), sum(pmod(xxhash64(doc_id, tokens), 1000000007))"
    def doc(i: Int) = f"doc_${off + i}%012d"
    val width = 64
    // Blocks of ten with a fixed mix in seeded order: seven lookups, one
    // time-travel lookup, one filtered aggregate, one full-decode scan. The
    // mix and the 64-id lookup width are placeholders: no serving traffic
    // data exists for them.
    val block = Seq.fill(7)("lookup") ++ Seq("timetravel", "filter", "scan")
    queries = (0 until (if (ctx.args.tiny) 20 else 300)).flatMap(_ => rng.shuffle(block)).map { k =>
      val a = rng.nextInt(n - width)
      val lookup = s"WHERE doc_id >= '${doc(a)}' AND doc_id < '${doc(a + width)}'"
      k match {
        case "lookup" => Query(k, s"SELECT $agg FROM graft.`$loc` $lookup", range(a, a + width))
        case "timetravel" => Query(k,
          s"SELECT $agg FROM graft.`$loc` VERSION AS OF $oldVersion $lookup", range(a, a + width))
        case "filter" if rng.nextBoolean() =>
          val s = TokenGen.Sources(rng.nextInt(TokenGen.Sources.size))
          Query("source", s"SELECT count(*), sum(n_tok), 0L FROM graft.`$loc` WHERE source = '$s'",
            (bySource(s)._1, bySource(s)._2, 0L))
        case "filter" =>
          val lo = 32 + rng.nextInt(129)
          Query("ntok", s"SELECT count(*), sum(n_tok), 0L FROM graft.`$loc` " +
            s"WHERE n_tok >= $lo AND n_tok < ${lo + 4}", (ntokBand(lo)._1, ntokBand(lo)._2, 0L))
        case _ => Query(k, s"SELECT $agg FROM graft.`$loc`", range(0, n))
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val scanTps = mutable.ArrayBuffer.empty[Double]
    val files = Inventory.read(table).files

    val warm = 10
    val (windowS, n) = ctx.window(warmup = warm, maxIters = queries.size - warm, unit = 10) { i =>
      val q = queries(if (i < 0) -1 - i else i + warm)
      ctx.attempt(s"query $i (${q.kind})") {
        val t0 = tr.nowMs
        val df = tr.span("sql.plan") {
          val d = spark.sql(q.sql); d.queryExecution.executedPlan; d
        }
        val row = tr.span("sql.exec")(df.collect().head)
        val wall = (tr.nowMs - t0) / 1e3
        if (i >= 0) lat += q.kind -> wall
        if (q.kind == "scan") scanTps += q.expected._2 / wall
        val got = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1),
          if (row.isNullAt(2)) 0L else row.getLong(2))
        val seen = if (ctx.args.corrupt && i == 0) got.copy(_1 = got._1 + 1) else got
        ctx.check(seen == q.expected, s"query $i ${q.kind}: $seen, expected ${q.expected}")
        if (tr.on) Inventory.probe(ctx, table)
      }
    }
    // Pair each traced query's plan and exec spans with its kind.
    val kinds = queries.drop(warm).map(_.kind)
    val execs = tr.tracedOp("sql.exec").filter(_.span.iter >= 0)
    val lookups = execs.filter(e => kinds(e.span.iter) == "lookup")
    val inv = Inventory.read(table)
    val tt = lat.collect { case ("timetravel", s) => s }
    val lk = lat.collect { case ("lookup", s) => s }
    val layer = Map[String, Double](
      "sql.plan_s" -> Main.mean(tr.tracedOp("sql.plan").map(_.span.wallS)),
      "sql.exec_s" -> Main.mean(execs.map(_.span.wallS)),
      "sql.timetravel_lookup_s" -> Main.mean(tt),
      "sql.rows_read_per_lookup" -> Main.mean(lookups.map(_.total.recordsRead.toDouble)),
      "sql.lookup_p50_s" -> Main.median(lk),
      "sql.lookup_p90_s" -> Main.percentile(lk, 0.9),
      "table.input_bytes" -> Main.mean(lookups.map(_.total.inputBytes.toDouble)),
      "table.rows_pruned_share" ->
        (1.0 - Main.mean(lookups.map(_.total.recordsRead.toDouble)) / rows),
      "table.files_live" -> inv.files.toDouble,
      "table.row_groups_per_file" -> inv.rowGroupsPerFile,
      "table.bytes_live" -> inv.bytes.toDouble,
      "table.bytes_on_disk" -> Main.duBytes(Paths.get(table.location)).toDouble,
      "table.manifests_live" -> inv.manifests.toDouble,
      "table.manifest_read_s" -> Main.mean(tr.tracedOp("table.manifest_read").map(_.span.wallS)),
      "table.scan_tokens_per_s" -> Main.median(scanTps))
    Outcome(lat.map(_._2).toSeq, n.toLong, windowS, layer,
      Map("queries" -> n, "files" -> files, "old_version" -> oldVersion,
        "table_bytes" -> inv.bytes,
        "mix" -> lat.groupBy(_._1).map { case (k, v) => k -> v.size }))
  }
}
