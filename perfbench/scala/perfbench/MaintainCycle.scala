package perfbench

import graft.ingest.TokenGen
import graft.maintain.{Cluster, Compact, Delete, Expire, Merge}
import graft.table.TokenTable
import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One cycle's staged inputs and the answers derived from them alone. */
final case class CycleInput(dir: Path, rows: Long, lo: String, hi: String,
    baseTok: Long, baseSum: Long, mergedTok: Long, mergedSum: Long, decodedBytes: Long)

/** `graft.Bench`'s maintenance cycle on staged TokenGen inputs: concurrent
  * bulk append (2 writers), compact, Z-order, MERGE of 5% updates and 2%
  * inserts, expire, a full-decode scan, then a 2% doc_id-range DELETE.
  * Decode, exchange, parquet encode and row-group copy dominate while
  * metadata is a handful of commits. The table fits in memory. The unit
  * operation is one whole cycle on a fresh table. As in `graft.Bench`, an
  * eighth-size cycle (one appended chunk, no checks) runs first, untimed,
  * so the timed cycles do not pay for compiling the write, stats and
  * codegen paths.
  */
final class MaintainCycle extends Workload {
  private val P = 1000000007L
  private val Chunks = 8
  private var main: CycleInput = _

  private def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("n_tok").cast("long")),
      sum(pmod(xxhash64(col("doc_id"), col("tokens")), lit(P)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
  private def doc(i: Long) = f"doc_$i%012d"

  def setup(ctx: Ctx, dir: Path): Unit = {
    val rng = new scala.util.Random(ctx.args.seed * 104729L + 3)
    val rows = if (ctx.args.tiny) 16000L else 32000L
    val off = (math.abs(ctx.args.seed) % 997L) * 10000000L
    val staged = dir.resolve("staged")
    val spark = ctx.spark
    val per = rows / Chunks
    TokenGen.generate(spark, rows, idOffset = off, minLen = 32, maxLen = 160,
        numPartitions = Chunks)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        ((col("offset") - off) / per).cast("int").as("chunk"))
      .write.partitionBy("chunk").parquet(staged.resolve("base").toString)
    // Updates re-tokenize a seed-chosen 5% id range at other lengths; the
    // inserts are new ids past the base range.
    val nUpd = rows / 20
    val u0 = off + (rng.nextDouble() * (rows - nUpd)).toLong
    val upd = TokenGen.generate(spark, nUpd, idOffset = u0, minLen = 16, maxLen = 96,
      numPartitions = 2)
    val ins = TokenGen.generate(spark, rows / 50, idOffset = off + rows * 10,
      numPartitions = 2, minLen = 32, maxLen = 160)
    upd.unionByName(ins).write.parquet(staged.resolve("merge").toString)
    val d0 = off + (rng.nextDouble() * (rows - rows / 50)).toLong

    // Expected answers, from the staged inputs alone.
    val h = pmod(xxhash64(col("doc_id"), col("tokens")), lit(P))
    val replaced = col("doc_id") >= doc(u0) && col("doc_id") < doc(u0 + nUpd)
    val b = spark.read.parquet(staged.resolve("base").toString).agg(
      sum(col("n_tok").cast("long")), sum(h), sum(when(replaced, col("n_tok").cast("long"))),
      sum(when(replaced, h)), sum(length(col("doc_id")) + length(col("source")) +
        col("n_tok") * 4 + 4)).head()
    val m = spark.read.parquet(staged.resolve("merge").toString)
      .agg(sum(col("n_tok").cast("long")), sum(h)).head()
    main = CycleInput(staged, rows, doc(d0), doc(d0 + rows / 50),
      baseTok = b.getLong(0), baseSum = b.getLong(1),
      mergedTok = b.getLong(0) - b.getLong(2) + m.getLong(0),
      mergedSum = b.getLong(1) - b.getLong(3) + m.getLong(1), decodedBytes = b.getLong(4))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val cycleS = mutable.ArrayBuffer.empty[Double]
    val scanTps = mutable.ArrayBuffer.empty[Double]
    val compacts = mutable.ArrayBuffer.empty[(Compact.Result, Seq[Double])]
    val clusters = mutable.ArrayBuffer.empty[Cluster.Result]
    val merges = mutable.ArrayBuffer.empty[Merge.Result]
    val deletes = mutable.ArrayBuffer.empty[Delete.Result]
    val expires = mutable.ArrayBuffer.empty[Expire.Result]
    val writeAmp, spaceAmp, writeBytes = mutable.ArrayBuffer.empty[Double]
    var last: Option[(Inventory, Long)] = None
    var appendedBytes = 0L
    val tables = ctx.args.work.resolve("tables")

    def cycle(i: Int): Unit = {
      val in = main
      import in.{rows, lo, hi, baseTok, baseSum, mergedTok, mergedSum}
      def check(ok: Boolean, what: => String): Unit = if (i >= 0) ctx.check(ok, what)
      val loc = tables.resolve(s"cycle$i")
      Main.wipe(loc)
      val t = TokenTable.create(spark, loc.toString)
      var written = 0L
      var prev = Map.empty[String, Long]
      // Data bytes each op added, from the head inventory (traced only).
      def track(): Unit = if (tr.on) {
        val inv = Inventory.probe(ctx, t)
        written += inv.sizes.collect { case (p, s) if !prev.contains(p) => s }.sum
        prev = inv.sizes
      }
      val opsS = mutable.ArrayBuffer.empty[Double]
      def op[A](name: String)(f: => A): A = {
        val s = tr.nowMs
        val r = tr.span(name)(f)
        opsS += (tr.nowMs - s) / 1e3
        r
      }
      ctx.attempt(s"cycle $i") {
        op("table.append") {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          val fs = (0 until (if (i < 0) 1 else Chunks)).map { c =>
            scala.concurrent.Future(t.append(
              spark.read.parquet(in.dir.resolve(s"base/chunk=$c").toString)))
          }
          try scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
            scala.concurrent.duration.Duration.Inf)
          finally pool.shutdown()
        }
        track()
        val appended = Inventory.read(t).bytes
        // Work-unit size follows the data, as in graft.Bench, but in three
        // units: the eight appended files must pack into bins of two.
        val target = math.max(256L << 10, appended / 3)
        spark.conf.set("spark.sql.files.maxPartitionBytes", target.toString)
        val cr = op("maintain.compact")(Compact.run(t, target, s"bench-compact-$i",
          parallelism = ctx.cpus))
        track()
        val afterCompact = tr.span("check.compact")(checksum(t.scan()))
        check(afterCompact == (rows, baseTok, baseSum),
          s"cycle $i compact changed the (doc_id, tokens) checksum: $afterCompact vs " +
            s"${(rows, baseTok, baseSum)}")
        val cl = op("maintain.cluster")(Cluster.run(t, Cluster.ZOrder, s"bench-zorder-$i",
          targetBytes = target))
        track()
        val afterCluster = tr.span("check.cluster")(checksum(t.scan()))
        check(afterCluster == afterCompact,
          s"cycle $i Z-order changed the checksum: $afterCluster vs $afterCompact")
        val mr = op("maintain.merge")(Merge.mergeInto(t,
          spark.read.parquet(in.dir.resolve("merge").toString), "offset", s"bench-merge-$i"))
        track()
        val er = op("maintain.expire")(Expire.run(t, retainLast = 1, graceMs = 0))
        if (tr.on) {
          val inv = Inventory.probe(ctx, t)
          spaceAmp += Main.duBytes(loc).toDouble / math.max(1L, inv.bytes)
        }
        val s0 = tr.nowMs
        val scanned = op("table.scan")(checksum(t.scan()))
        val scanS = (tr.nowMs - s0) / 1e3
        val merged = if (ctx.args.corrupt) scanned.copy(_3 = scanned._3 + 1) else scanned
        check(merged == (rows + rows / 50, mergedTok, mergedSum),
          s"cycle $i post-merge (rows, tokens, checksum) $merged, expected " +
            s"${(rows + rows / 50, mergedTok, mergedSum)}")
        val dr = op("maintain.delete")(Delete.deleteWhere(t,
          col("doc_id") >= lo && col("doc_id") < hi, s"bench-delete-$i"))
        track()
        val left = tr.span("check.delete")(t.scan().count())
        check(dr.deletedRows == rows / 50 && left == rows,
          s"cycle $i delete removed ${dr.deletedRows} rows leaving $left, expected " +
            s"${rows / 50} and $rows")
        if (tr.on) {
          writeAmp += written.toDouble / math.max(1L, appended)
          writeBytes += written.toDouble
          last = Some(Inventory.read(t) -> Main.duBytes(loc))
        }
        if (i >= 0) {
          appendedBytes = appended
          compacts += cr -> graft.lineage.Lineage.taskRecords(t, cr.execId)
            .map(_.durationMs.toDouble)
          clusters += cl; merges += mr; expires += er; deletes += dr
          scanTps += scanned._2 / scanS
          cycleS += opsS.sum
        }
      }
      Main.wipe(loc)
    }

    val (windowS, n) = ctx.window(warmup = 1)(cycle)
    val inv = last.map(_._1)
    val tasks = compacts.flatMap(_._2)
    val layer = Map[String, Double](
      "table.encode_exec_s" -> tr.perIter(_.total.encodeExecMs / 1e3),
      "table.output_bytes" -> tr.perIter(_.total.outputBytes.toDouble),
      "table.write_bytes" -> Main.mean(writeBytes),
      "table.write_amp" -> Main.mean(writeAmp),
      "table.space_amp" -> Main.mean(spaceAmp),
      "table.files_live" -> inv.map(_.files.toDouble).getOrElse(0.0),
      "table.row_groups_per_file" -> inv.map(_.rowGroupsPerFile).getOrElse(0.0),
      "table.bytes_live" -> inv.map(_.bytes.toDouble).getOrElse(0.0),
      "table.bytes_on_disk" -> last.map(_._2.toDouble).getOrElse(0.0),
      "table.scan_tokens_per_s" -> Main.median(scanTps),
      "table.manifest_read_s" -> Main.mean(tr.tracedOp("table.manifest_read").map(_.span.wallS)),
      "maintain.compact.bins" -> Main.mean(compacts.map(_._1.binsRewritten.toDouble)),
      "maintain.compact.files_in" -> Main.mean(compacts.map(_._1.filesIn.toDouble)),
      "maintain.compact.files_out" -> Main.mean(compacts.map(_._1.filesOut.toDouble)),
      "lineage.task_ms_p50" -> Main.median(tasks),
      "lineage.task_ms_max" -> (if (tasks.isEmpty) 0.0 else tasks.max),
      "lineage.resumed_tasks" -> compacts.map(_._1.resumedTasks).sum.toDouble,
      "maintain.cluster.buckets" -> Main.mean(clusters.map(_.buckets.toDouble)),
      "maintain.cluster.salted_buckets" -> Main.mean(clusters.map(_.saltedBuckets.toDouble)),
      "maintain.merge.touched_files" -> Main.mean(merges.map(_.touchedFiles.toDouble)),
      "maintain.merge.decoded_bytes" -> Main.mean(merges.map(_.decodedBytes.toDouble)),
      "maintain.merge.cold_copied_bytes" -> Main.mean(merges.map(_.coldCopiedBytes.toDouble)),
      "maintain.delete.rewritten_files" -> Main.mean(deletes.map(_.rewrittenFiles.toDouble)),
      "maintain.delete.decoded_bytes" -> Main.mean(deletes.map(_.decodedBytes.toDouble)),
      "maintain.delete.cold_copied_bytes" -> Main.mean(deletes.map(_.coldCopiedBytes.toDouble)),
      "maintain.delete.files_pruned_share" -> Main.mean(deletes.map(d =>
        d.untouchedFiles.toDouble / math.max(1L, d.untouchedFiles + d.rewrittenFiles + d.droppedFiles))),
      "maintain.expire.deleted_files" -> Main.mean(expires.map(_.deletedFiles.toDouble))) ++
      tr.opLayer("table.append") ++
      Seq("compact", "cluster", "merge", "delete", "expire")
        .flatMap(o => tr.opLayer(s"maintain.$o"))
    Main.wipe(tables)
    Outcome(cycleS.toSeq, n.toLong, windowS, layer,
      Map("rows" -> main.rows, "cycles" -> n, "decoded_table_bytes" -> main.decodedBytes,
        "appended_bytes" -> appendedBytes, "delete_range" -> Seq(main.lo, main.hi)))
  }
}
