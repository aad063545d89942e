package graft.maintain

import graft.lineage.Lineage
import graft.table.{DataFile, Snapshot, TokenTable}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Size-tiered bin-packing compaction (north-star M1).
  *
  * Plan: greedy first-fit-decreasing over the manifest file list —
  * driver-side, pure, deterministic. Execute: per bin, a bytewise
  * row-group CONCATENATION ([[graft.table.RowGroupCopy.concatFiles]] —
  * zero decode, zero re-encode, additive manifest stats, no Spark job)
  * when the bin's files are reasonably sized, falling back to a
  * decode → `coalesce(1)` re-encode job for fragmented bins (tiny row
  * groups worth consolidating) or foreign schemas. Bins run
  * concurrently; this is embarrassingly parallel across bins and is the
  * N->4N scaling-efficiency workhorse — and on the concat path it runs
  * at storage bandwidth, not parquet-assembly speed. Commit: exactly
  * one snapshot (reference invariant S3/X1 — one atomic commit per
  * flush, `/root/reference/src/delta/mod.rs:35-63`).
  */
object Compact {

  case class Result(snapshot: Snapshot, binsRewritten: Int, filesIn: Int,
      filesOut: Int, bytesIn: Long, resumedTasks: Int, execId: String = "")

  /** Average input row-group size below which a bin re-encodes instead
    * of concatenating: groups that small are worth consolidating.
    */
  val ReencodeBelowBytes: Long = 1L * 1024 * 1024

  /** The bin planner: key-local packing ([[keyLocalPack]]) with an FFD
    * fallback. Only files smaller than `smallFileFactor * targetBytes`
    * are candidates; bins hold at most `targetBytes` and only bins with
    * >= 2 files are worth rewriting.
    *
    * STREAMING: one bounded-memory pass over the manifest-row
    * iterator. Driver memory is O(maxCandidates), never O(#files): a
    * bounded heap keeps the SMALLEST `maxCandidates` small-file
    * candidates (smallest first is the right compaction priority — they
    * cost the most per byte to scan), so a 10^7-file snapshot plans in
    * one pass holding ~10^5 rows. Size-tiered compaction is incremental
    * by nature; files dropped by the cap are simply next run's work.
    * Returns (bins, total file count seen).
    */
  def planBinsStreaming(files: Iterator[DataFile], targetBytes: Long,
      smallFileFactor: Double = 0.75,
      maxCandidates: Int = 1 << 17): (Seq[Seq[DataFile]], Long) = {
    val threshold = (targetBytes * smallFileFactor).toLong
    // Max-heap by (bytes, path): the largest kept candidate evicts first.
    val heap = scala.collection.mutable.PriorityQueue.empty[DataFile](
      Ordering.by((f: DataFile) => (f.bytes, f.path)))
    var total = 0L
    files.foreach { f =>
      total += 1
      if (f.bytes < threshold) {
        heap += f
        if (heap.size > maxCandidates) heap.dequeue()
      }
    }
    (keyLocalPack(heap.dequeueAll.toSeq, targetBytes), total)
  }

  /** RECHUNK planning (VERDICT r4 task 4): besides the ordinary small
    * files, candidates include any file whose average parquet row group
    * is below `fragGroupBytes` regardless of file size — the
    * "permanently small groups" state a compact-only table settles into
    * (concat preserves ingest-sized groups; PLANS.md documents ~2x scan
    * cost). Fragmented files stranded without a packing partner become
    * SINGLETON bins: a lone 64MB file of 1MB groups is worth a
    * re-encode on its own. Bounded memory exactly as
    * [[planBinsStreaming]] (same capped heap).
    */
  def planRechunkStreaming(files: Iterator[DataFile], targetBytes: Long,
      smallFileFactor: Double = 0.75,
      maxCandidates: Int = 1 << 17,
      fragGroupBytes: Long = graft.table.TokenTable.RowGroupBytes / 2)
      : (Seq[Seq[DataFile]], Long) = {
    val threshold = (targetBytes * smallFileFactor).toLong
    def fragmented(f: DataFile): Boolean =
      f.groups > 1 && f.avgGroupBytes < fragGroupBytes
    // Rechunk's cap retention priority is EXCESS GROUPS (how many row
    // groups a re-encode would eliminate), not smallest-bytes: under cap
    // pressure the small-file priority would evict exactly the large
    // fragmented files this mode exists for. Small files score ~0 excess
    // and drop first — they are the DEFAULT mode's work on the next run.
    def excessGroups(f: DataFile): Long =
      math.max(1, f.groups).toLong -
        (f.bytes + graft.table.TokenTable.RowGroupBytes - 1) /
          graft.table.TokenTable.RowGroupBytes
    val heap = scala.collection.mutable.PriorityQueue.empty[DataFile](
      Ordering.by((f: DataFile) => (-excessGroups(f), f.path)))
    var total = 0L
    files.foreach { f =>
      total += 1
      if (f.bytes < threshold || fragmented(f)) {
        heap += f
        if (heap.size > maxCandidates) heap.dequeue()
      }
    }
    val cands = heap.dequeueAll.toSeq
    val bins = keyLocalPack(cands, targetBytes)
    val packed = bins.flatten.map(_.path).toSet
    val singles = cands
      .filter(f => !packed.contains(f.path) && fragmented(f))
      .sortBy(_.path).map(Seq(_))
    (bins ++ singles, total)
  }

  /** Pack candidates into KEY-ADJACENT bins: sorted by (minDocId UTF-8,
    * path), consecutive files pack next-fit up to `targetBytes`, so a
    * compacted output's doc_id range is the union of NEIGHBOURING
    * ranges — on a clustered table, pruning survives compaction and the
    * outputs stay tight enough for incremental reclustering to carry.
    * (FFD by size would pack key-distant fragments into one file whose
    * [min,max] spans the table — a pruning-dead file.) Next-fit can
    * strand singletons (adjacent files that don't fit together); those
    * fall back to classic FFD so no easy win is dropped — on unsorted
    * ingest output the two plans pack the same work. Files without
    * doc_id stats sort last and pack among themselves.
    */
  private def keyLocalPack(candidates: Seq[DataFile], targetBytes: Long)
      : Seq[Seq[DataFile]] = {
    val ord = graft.functions.Search.utf8Ordering
    val sorted = candidates.sortWith { (a, b) =>
      (a.minDocId, b.minDocId) match {
        case (null, null) => a.path < b.path
        case (null, _) => false
        case (_, null) => true
        case (x, y) =>
          val c = ord.compare(x, y)
          if (c != 0) c < 0 else a.path < b.path
      }
    }
    val bins = scala.collection.mutable.ArrayBuffer.empty[Seq[DataFile]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    var used = 0L
    val stranded = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    def close(): Unit = {
      if (cur.size >= 2) bins += cur.toSeq else stranded ++= cur
      cur.clear(); used = 0L
    }
    sorted.foreach { f =>
      if (used + f.bytes > targetBytes) close()
      cur += f; used += f.bytes
    }
    close()
    bins.toSeq ++ ffd(stranded.toSeq, targetBytes)
  }

  private def ffd(candidates: Seq[DataFile], targetBytes: Long): Seq[Seq[DataFile]] = {
    val sorted = candidates.sortBy(f => (-f.bytes, f.path))
    val bins = scala.collection.mutable.ArrayBuffer.empty[
      (scala.collection.mutable.ArrayBuffer[DataFile], Long)]
    sorted.foreach { f =>
      bins.indexWhere { case (_, used) => used + f.bytes <= targetBytes } match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(f), f.bytes))
        case i  => val (b, used) = bins(i); b += f; bins(i) = (b, used + f.bytes)
      }
    }
    bins.map(_._1.toSeq).filter(_.size >= 2).toSeq
  }

  /** Run compaction as a resumable lineage-checkpointed job. Re-running
    * with the same `jobId` after a crash skips completed bins (their
    * outputs are reused from the lineage markers) and still produces a
    * single snapshot.
    *
    * @param beforeCommit test seam invoked after all bins are written,
    *        immediately before the snapshot commit — lets specs inject a
    *        concurrent commit DETERMINISTICALLY to exercise the
    *        conflict-abort-replan path (a purely racy test can pass
    *        without ever hitting it). No-op in production.
    */
  /** @param rechunk re-encode mode: candidates additionally include
    *        large-but-fragmented files (small average row groups), all
    *        bins re-encode (consolidating groups up to the writer's
    *        RowGroupBytes), singleton fragmented bins allowed. The
    *        explicit convergence path for a table maintained by concat
    *        compaction alone — `CALL graft.system.compact(...,
    *        rechunk => true)`.
    */
  def run(table: TokenTable, targetBytes: Long, jobId: String,
      parallelism: Int = 8, beforeCommit: () => Unit = () => (),
      rechunk: Boolean = false): Result =
    run(table, targetBytes, jobId, parallelism, beforeCommit, rechunk,
      ReencodeBelowBytes)

  /** [[run]] with the concat/re-encode threshold as a parameter (tests
    * force the concat path on KB-sized files with 0).
    */
  private[graft] def run(table: TokenTable, targetBytes: Long, jobId: String,
      parallelism: Int, beforeCommit: () => Unit, rechunk: Boolean,
      reencodeBelowBytes: Long): Result = {
    val spark = table.spark
    val parent = table.current
    // Scope the execution to the snapshot it plans against: a re-run
    // AFTER this job committed sees a new version -> fresh plan + fresh
    // output dirs (reusing the stale plan would re-list its outputs as
    // both survivors and new files = duplicated rows; reusing its output
    // dir would overwrite files the current snapshot references). A
    // crash BEFORE the commit re-runs at the same version and resumes.
    // Mode-scoped execution id: resume must never hand a rechunk
    // invocation a crashed DEFAULT run's persisted plan (planOrResume
    // keys on execId alone) — the rechunk candidate set would be
    // silently discarded and the procedure would "succeed" having
    // planned nothing it was invoked for. Same jobId+version+mode still
    // resumes normally.
    val execId = s"$jobId-v${parent.version}" + (if (rechunk) "-rechunk" else "")
    // Streamed, bounded-memory planning: the driver never materializes
    // the full inventory (VERDICT r3 task 4) — only the capped candidate
    // set survives the pass.
    val (planned, totalFiles) =
      if (rechunk) planRechunkStreaming(table.filesStream(parent), targetBytes)
      else planBinsStreaming(table.filesStream(parent), targetBytes)
    val plan = Lineage.planOrResume(table, Lineage.JobPlan(
      execId, "compact", parent.version,
      planned.zipWithIndex.map { case (b, i) => i.toString -> b.map(_.path) }.toMap))
    // Resume against the *persisted* plan (stable task identity); the
    // deterministic stream re-yields the same candidates at a version.
    // A plan persisted under another target size names parent files
    // outside this pass's candidates: their rows come from the parent.
    val planPaths = plan.tasks.values.flatten.toSet
    val byPath = {
      val candidates = planned.flatten.map(f => f.path -> f).toMap
      if (planPaths.subsetOf(candidates.keySet)) candidates
      else table.filesStream(parent).filter(f => planPaths.contains(f.path))
        .map(f => f.path -> f).toMap
    }
    val tasks = plan.tasks.toSeq.sortBy(_._1.toInt)

    if (tasks.isEmpty)
      return Result(parent, 0, totalFiles.toInt, totalFiles.toInt, 0L, 0, execId)

    var resumed = 0
    val hconf = spark.sessionState.newHadoopConf()
    // Bins whose files are reasonably sized CONCATENATE bytewise
    // (RowGroupCopy.concatFiles): each input file's row groups become
    // row groups of one output, copied chunk-verbatim at IO speed —
    // parquet record re-assembly (~25 MB/s/thread on token arrays,
    // codec-independent) is compaction's real cost and is skipped
    // entirely. Pathologically fragmented bins (avg input below this
    // threshold — their row groups are at most that small) re-encode
    // through the decode path to consolidate groups; so does any bin
    // with a foreign schema.
    // Memory-aware concurrency clamp: one bin task transiently holds the
    // decompressed bin plus parquet writer buffers (~3x the compressed
    // bin). Aggregate that across concurrent bins and a fixed-size heap
    // OOMs once targetBytes grows with the table (observed: 32 x 190MB
    // bins on an 8g heap). Cap concurrency so in-flight bin memory fits
    // in half the heap; the remaining bins queue — throughput degrades
    // gracefully instead of failing.
    val perTaskBytes = 3L * math.max(1L, targetBytes)
    val memCap = (Runtime.getRuntime.maxMemory() / 2 / perTaskBytes).toInt
    val effParallelism = math.max(1, math.min(parallelism, memCap))
    val pool = Executors.newFixedThreadPool(effParallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = tasks.map { case (taskId, inputPaths) =>
      Future {
        Lineage.loadTask(table, execId, taskId) match {
          case Some(done) =>
            synchronized { resumed += 1 }
            done.outputFiles
          case None =>
            val t0 = System.nanoTime()
            val binFiles = inputPaths.map(byPath)
            // Decode → single-file re-encode: the fallback. Keeps rows
            // clustered by doc_id within the file so min/max doc_id
            // stats stay selective after consolidation.
            def reencode(): Seq[DataFile] = {
              // Parent-pinned schema: a mid-job ALTER never changes what
              // this bin re-encodes (the commit CAS aborts it anyway).
              val df = table.read(parent, binFiles)
              // A bin fits targetBytes by construction: single output
              // file, zero shuffle.
              table.writeDataFilesTo(
                df.coalesce(1), s"data/$execId/bin-$taskId",
                overwrite = true, sortBy = Some("doc_id"))
            }
            // Concat-vs-re-encode is ROW-GROUP-size aware (VERDICT r4
            // task 4): concat preserves input groups verbatim, so the
            // fragmentation measure is the bin's average GROUP size,
            // not file size — a 64MB survivor of repeated concats can
            // hold 1MB groups and must eventually consolidate. Unknown
            // group counts (pre-field manifests) assume one group per
            // file, which reduces to the old file-size heuristic.
            // Rechunk mode re-encodes unconditionally.
            val avgGroupBytes = binFiles.map(_.bytes).sum /
              math.max(1L, binFiles.map(f => math.max(1, f.groups).toLong).sum)
            val out: Seq[DataFile] =
              if (!rechunk && avgGroupBytes >= reencodeBelowBytes) {
                // Clear any partial decode output from a crashed attempt
                // under a different threshold, then pure-IO concat
                // (no Spark job at all — the task is one streamed copy).
                val dir = new org.apache.hadoop.fs.Path(
                  s"${table.location}/data/$execId/bin-$taskId")
                dir.getFileSystem(hconf).delete(dir, true)
                try Seq(graft.table.RowGroupCopy.concatFiles(binFiles,
                  table.location, s"data/$execId/bin-$taskId/concat.parquet",
                  hconf))
                catch {
                  case _: graft.table.RowGroupCopy.SchemaMismatch => reencode()
                }
              } else reencode()
            Lineage.completeTask(table, Lineage.TaskRecord(
              execId, taskId, inputPaths, out,
              rows = out.map(_.rows).sum, tokenCount = out.map(_.sumNtok).sum,
              status = "done",
              durationMs = (System.nanoTime() - t0) / 1000000))
            out
        }
      }
    }
    val outputs =
      try Await.result(Future.sequence(futures), Duration.Inf)
      finally pool.shutdown()

    val rewrittenPaths = tasks.flatMap(_._2).toSet
    val newFiles = outputs.flatten
    beforeCommit()
    // Survivor manifest without materializing survivors on the driver:
    // streams below the threshold, distributed anti-join above it.
    val manifest = table.writeSurvivorManifest(parent, rewrittenPaths, newFiles)
    val snap = table.commit(
      Some(parent), "compact",
      addManifests = Seq(manifest), keepManifests = Nil,
      removedPaths = rewrittenPaths,
      summary = Map(
        "bins" -> tasks.size.toString,
        "files-in" -> rewrittenPaths.size.toString,
        "files-out" -> newFiles.size.toString,
        "resumed-tasks" -> resumed.toString,
        "bytes-in" -> rewrittenPaths.iterator.map(byPath(_).bytes).sum.toString))
    Result(snap, tasks.size, totalFiles.toInt,
      (totalFiles - rewrittenPaths.size + newFiles.size).toInt,
      rewrittenPaths.iterator.map(byPath(_).bytes).sum,
      resumed, execId)
  }
}
