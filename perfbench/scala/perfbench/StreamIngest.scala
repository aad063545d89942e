package perfbench

import graft.ingest.{Ingest, RawMessage}
import graft.maintain.Compact
import graft.streaming.{MaintenancePolicy, StreamingIngest}
import graft.table.{Format, TokenTable}
import org.apache.spark.sql.Encoders
import java.nio.file.Path
import scala.collection.mutable

/** One staged micro-batch and the counts the engine must report for it. */
final case class Batch(msgs: Seq[RawMessage], size: Int, appended: Long,
    deduped: Long, dead: Long, replayed: Long, maxOffsets: Map[String, Long])

/** The paper's consumer loop: one consumer ingests seeded JSON micro-batches
  * (with redelivered offsets, duplicate keys and malformed payloads) through
  * `Ingest.ingestBatch`, each followed by the inline maintenance calls of
  * `StreamingIngest.start` (recluster, compact, expire). One writer keeps
  * batch composition and maintenance firings deterministic, so a GC grace of
  * 0 is safe. The unit operation is one `ingestBatch` call: its wall time is
  * the commit (visibility) latency.
  *
  * A batch holds 10,000 fresh messages, the reference consumer's default
  * flush size (`pipeline.max_buffer_size`). The malformed (4%) and
  * duplicate-key (6%) shares and the redelivered tail (the last 1% of the
  * previous batch, as after a restart from the last committed offset) are
  * placeholders: no traffic data for them exists.
  */
final class StreamIngest extends Workload {
  private val Partitions = 4
  private val Topic = "events"
  private var table: TokenTable = _
  private var batches: IndexedSeq[Batch] = IndexedSeq.empty

  override def setupReps: Int = 5

  // Thresholds scaled to the ~450 KB file a batch writes, so compaction,
  // reclustering and expiry each fire within a run's few batches.
  private val policy = MaintenancePolicy(
    smallFileBytes = 1L << 20, maxSmallFiles = 2, targetBytes = 4L << 20,
    maxLiveVersions = 4, retainVersions = 2, gcGraceMs = 0L,
    reclusterBytes = Some(1L << 20))

  def setup(ctx: Ctx, dir: Path): Unit = {
    batches = IndexedSeq.empty
    val rng = new scala.util.Random(ctx.args.seed * 7919L + 1)
    val fresh = if (ctx.args.tiny) 500 else 10000
    val count = if (ctx.args.tiny) 12 else 20
    val next = Array.fill(Partitions)(0L)
    var docSeq = 0L
    var prev = IndexedSeq.empty[RawMessage]
    batches = (0 until count).map { _ =>
      val msgs = mutable.ArrayBuffer.empty[RawMessage]
      val originals = mutable.ArrayBuffer.empty[RawMessage]
      var appended, deduped, dead = 0L
      def nextMsg(key: Option[String], value: String): RawMessage = {
        val p = rng.nextInt(Partitions)
        val m = RawMessage(Topic, p, next(p), key, value)
        next(p) += 1
        m
      }
      (0 until fresh).foreach { _ =>
        val r = rng.nextDouble()
        if (r < 0.04) {
          dead += 1
          val bad = rng.nextInt(3) match {
            case 0 => """{"doc_id": "doc_x", "tokens": [1, 2"""
            case 1 => """{"doc_id":"doc_x","n_tok":1,"source":"web"}"""
            case _ => """{"doc_id":"doc_x","tokens":"oops","n_tok":1,"source":"web"}"""
          }
          msgs += nextMsg(None, bad)
        } else if (r < 0.10 && originals.nonEmpty) {
          deduped += 1
          val o = originals(rng.nextInt(originals.size))
          msgs += nextMsg(o.key, o.value)
        } else {
          appended += 1
          // Odd multiplier mod 2^40 is a bijection: distinct ids, spread keys.
          val id = f"doc_${(docSeq * 0x9E3779B97L) & ((1L << 40) - 1)}%013d"
          docSeq += 1
          val n = 4 + rng.nextInt(21)
          val toks = Seq.fill(n)(rng.nextInt(graft.ingest.TokenGen.Vocab)).mkString(",")
          val src = graft.ingest.TokenGen.Sources(rng.nextInt(5))
          val m = nextMsg(Some(id),
            s"""{"doc_id":"$id","tokens":[$toks],"n_tok":$n,"source":"$src"}""")
          originals += m
          msgs += m
        }
      }
      val maxOffsets = msgs.groupBy(m => s"${m.topic}/${m.partition}")
        .map { case (k, ms) => k -> ms.map(_.offset).max }
      val replays = prev.takeRight(prev.size / 100)
      prev = msgs.toIndexedSeq
      val all = rng.shuffle(msgs.toSeq ++ replays)
      Batch(all, all.size, appended, deduped, dead,
        replays.size.toLong, maxOffsets)
    }
    table = TokenTable.create(ctx.spark, dir.resolve("table").toString)
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.trace
    val results = mutable.ArrayBuffer.empty[Ingest.IngestResult]
    val compactions = mutable.ArrayBuffer.empty[Compact.Result]
    var reclusters, expiries, casLost = 0L
    val commitS = mutable.ArrayBuffer.empty[Double]
    val writeBytes = mutable.Map.empty[Int, Long]
    var used = 0
    def probe(): Option[Inventory] =
      if (tr.on) Some(Inventory.probe(ctx, table, policy.smallFileBytes)) else None

    val warm = 1
    // Whole pairs of batches, so each window spans one period of the
    // compaction firings.
    val (windowS, n) = ctx.window(warm, maxIters = batches.size - warm, unit = 2) { i =>
      val k = used; used += 1
      val b = batches(k)
      ctx.attempt(s"batch $k") {
        val msgs = ctx.spark.createDataset(b.msgs)(Encoders.product[RawMessage])
        val before = probe()
        val t0 = tr.nowMs
        val r = tr.span("ingest.batch")(Ingest.ingestBatch(table, msgs))
        if (i >= 0) commitS += (tr.nowMs - t0) / 1e3
        results += r
        ctx.check(r.appended == b.appended && r.deduped == b.deduped &&
          r.deadLettered == b.dead && r.replayFiltered == b.replayed,
          s"batch $k counts (appended, deduped, dead, replayed) = " +
            s"${(r.appended, r.deduped, r.deadLettered, r.replayFiltered)}, expected " +
            s"${(b.appended, b.deduped, b.dead, b.replayed)}")
        val afterIngest = probe()
        for (a <- before; c <- afterIngest)
          writeBytes(i) = c.sizes.collect { case (p, s) if !a.sizes.contains(p) => s }.sum
        if (tr.span("streaming.recluster")(
          StreamingIngest.maybeRecluster(table, policy, s"auto-cluster-$k")).isDefined)
          reclusters += 1
        val gate = probe()
        val cp = tr.span("streaming.compact")(
          StreamingIngest.maybeCompact(table, policy, s"auto-compact-$k"))
        cp.foreach(compactions += _)
        if (cp.isEmpty && gate.exists(_.small >= policy.maxSmallFiles)) casLost += 1
        probe()
        if (tr.span("streaming.expire")(StreamingIngest.maybeExpire(table, policy)).isDefined)
          expiries += 1
        probe()
      }
    }

    // Exactly-once: every fresh valid message exactly once, watermarks at
    // the highest offset delivered per partition.
    val done = batches.take(used)
    val expected = done.map(_.appended).sum
    val (rows, distinct) = tr.span("check.scan") {
      val r = table.scan().selectExpr("count(*)", "count(DISTINCT doc_id)").head()
      (r.getLong(0), r.getLong(1))
    }
    val observed = if (ctx.args.corrupt) rows + 1 else rows
    ctx.check(observed == expected && distinct == expected,
      s"table rows $observed (distinct $distinct), expected $expected exactly once")
    val wantWm = done.flatMap(_.maxOffsets).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
    val wm = Ingest.watermarks(table.current)
    ctx.check(wm == wantWm, s"watermarks $wm, expected $wantWm")

    val inv = Inventory.read(table)
    val traced = tr.tracedOp("ingest.batch")
    val maint = tr.traced.filter(_.span.op.startsWith("streaming."))
      .groupBy(_.span.iter).values.map(_.map(_.span.wallS).sum).toSeq
    val tasks = compactions.flatMap(c =>
      graft.lineage.Lineage.taskRecords(table, c.execId).map(_.durationMs.toDouble))
    val freshMsgs = results.map(r => r.appended + r.deduped + r.deadLettered).sum
    val layer = Map[String, Double](
      "ingest.batch_p50_s" -> Main.median(traced.map(_.span.wallS)),
      "ingest.batch_p90_s" -> Main.percentile(traced.map(_.span.wallS), 0.9),
      "ingest.exec_s" -> Main.mean(traced.map(_.total.execMs / 1e3)),
      "ingest.driver_s" -> Main.mean(traced.map(_.driverS)),
      "ingest.jobs_per_batch" -> Main.mean(traced.map(_.jobs.size.toDouble)),
      "ingest.appended_share" -> results.map(_.appended).sum.toDouble / math.max(1L, freshMsgs),
      "ingest.deduped" -> results.map(_.deduped).sum.toDouble,
      "ingest.dead_lettered" -> results.map(_.deadLettered).sum.toDouble,
      "ingest.replay_filtered" -> results.map(_.replayFiltered).sum.toDouble,
      "streaming.maintenance_s" -> Main.mean(maint),
      "streaming.compactions" -> compactions.size.toDouble,
      "streaming.reclusters" -> reclusters.toDouble,
      "streaming.expiries" -> expiries.toDouble,
      "streaming.cas_lost" -> casLost.toDouble,
      "table.manifests_live" -> inv.manifests.toDouble,
      "table.versions_live" -> Format.liveVersionCount(table.location).toDouble,
      "table.manifest_read_s" -> Main.mean(tr.tracedOp("table.manifest_read").map(_.span.wallS)),
      "table.encode_exec_s" -> tr.perIter(_.total.encodeExecMs / 1e3),
      "table.output_bytes" -> tr.perIter(_.total.outputBytes.toDouble),
      "table.write_bytes" -> Main.mean(writeBytes.values.map(_.toDouble).toSeq),
      "table.files_live" -> inv.files.toDouble,
      "table.row_groups_per_file" -> inv.rowGroupsPerFile,
      "table.bytes_live" -> inv.bytes.toDouble,
      "table.bytes_on_disk" -> Main.duBytes(java.nio.file.Paths.get(table.location)).toDouble,
      "maintain.compact.bins" -> Main.mean(compactions.map(_.binsRewritten.toDouble)),
      "maintain.compact.files_in" -> Main.mean(compactions.map(_.filesIn.toDouble)),
      "maintain.compact.files_out" -> Main.mean(compactions.map(_.filesOut.toDouble)),
      "lineage.task_ms_p50" -> Main.median(tasks),
      "lineage.task_ms_max" -> (if (tasks.isEmpty) 0.0 else tasks.max),
      "lineage.resumed_tasks" -> compactions.map(_.resumedTasks).sum.toDouble)
    Outcome(commitS.toSeq, n.toLong, windowS, layer,
      Map("batches" -> used, "messages" -> done.map(_.size).sum, "rows" -> rows,
        "table_bytes" -> inv.bytes, "files" -> inv.files))
  }
}
