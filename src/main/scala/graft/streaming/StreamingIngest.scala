package graft.streaming

import graft.ingest.{Ingest, RawMessage}
import graft.table.TokenTable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** A detected discontinuity in a partition's offset sequence. */
case class OffsetGap(topic: String, partition: Int,
    expectedFrom: Long, got: Long, missing: Long)

/** Per-(topic,partition) stream-monitor state: highest offset seen. */
case class PartitionCursor(lastOffset: Long)

/** Structured-Streaming ingest — the reference's continuous consumer
  * loop (`/root/reference/src/kafka/mod.rs:159-241`) re-expressed:
  * each micro-batch runs the full parse -> quarantine -> dedup -> append
  * pipeline and commits exactly one snapshot (X1), and the per-partition
  * offset watermarks inside the snapshot make redelivered batches
  * no-ops, so `foreachBatch`'s at-least-once delivery becomes an
  * exactly-once table effect — precisely the reference's guarantee.
  *
  * The reference's size/time batch trigger (T1,
  * `src/kafka/mod.rs:182-187`: flush at max_buffer_size rows OR
  * max_wait_secs elapsed) maps onto Structured Streaming natively:
  * `Trigger.ProcessingTime` bounds the wait, source admission options
  * (`maxOffsetsPerTrigger` / `maxFilesPerTrigger`) bound the size.
  */
/** Inline-maintenance policy for continuous ingest: after each
  * micro-batch commit, compact when the live snapshot holds at least
  * `maxSmallFiles` files under `smallFileBytes`, and expire old
  * snapshots when the live version count reaches `maxLiveVersions`.
  * Streaming ingest is exactly the workload that grows a small-file
  * swamp AND a snapshot swamp (one version per micro-batch, plus the
  * orphaned pre-compaction files each auto-compaction supersedes) — a
  * table that is continuously written must also be continuously
  * maintained, or scans degrade linearly in commit count and storage
  * grows without bound.
  *
  * `gcGraceMs` mirrors [[graft.maintain.Expire.run]]'s grace window:
  * unreachable files younger than it are kept — they may belong to a
  * concurrent not-yet-committed external writer.
  */
case class MaintenancePolicy(
    smallFileBytes: Long = 16L * 1024 * 1024,
    maxSmallFiles: Int = 16,
    targetBytes: Long = 128L * 1024 * 1024,
    maxLiveVersions: Int = 64,
    retainVersions: Int = 2,
    gcGraceMs: Long = 3600L * 1000,
    /** When set, recluster ByDocId (incrementally — prior outputs carry
      * with zero IO) once the bytes NOT in layout position reach this
      * threshold: continuous ingest then keeps the table permanently
      * merge-prunable, at O(new data) cost per pass.
      */
    reclusterBytes: Option[Long] = None)

object StreamingIngest {

  /** Start continuous ingest from any RawMessage stream (with a real
    * Kafka jar this would be `spark.readStream.format("kafka")` mapped
    * to RawMessage; the semantics downstream are source-independent).
    *
    * With a [[MaintenancePolicy]], each micro-batch is followed by a
    * threshold-gated compaction — serialized with ingest inside
    * foreachBatch, so the rewrite can only lose a CAS race to an
    * EXTERNAL writer, in which case it backs off and the next batch
    * re-evaluates (maintenance is always re-planable; ingest never
    * waits on it erroring out).
    */
  def start(table: TokenTable, stream: Dataset[RawMessage],
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      deadLetterDir: Option[String] = None,
      maintenance: Option[MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[RawMessage], batchId: Long) =>
        Ingest.ingestBatch(table, batch, deadLetterDir)
        maintenance.foreach { p =>
          maybeRecluster(table, p, s"auto-cluster-$batchId")
          maybeCompact(table, p, s"auto-compact-$batchId")
          maybeExpire(table, p)
        }
        ()
      }
      .start()

  /** Threshold check + compaction for [[start]]'s inline maintenance.
    * The check is a manifest read (O(#files) planning metadata, no data
    * IO); the jobId is batch-derived, so a replayed micro-batch resumes
    * the same lineage instead of duplicating work. Returns None when
    * below threshold or when the rewrite lost a CAS race to a
    * concurrent external writer.
    */
  def maybeCompact(table: TokenTable, policy: MaintenancePolicy,
      jobId: String): Option[graft.maintain.Compact.Result] = {
    // Streamed count — O(1) driver memory per batch even on a huge table.
    val small = table.filesStream(table.current)
      .count(_.bytes < policy.smallFileBytes)
    if (small < policy.maxSmallFiles) None
    else
      try Some(graft.maintain.Compact.run(table, policy.targetBytes, jobId))
      catch {
        case _: graft.table.CommitConflictException => None // re-plan next batch
      }
  }

  /** Threshold-gated INCREMENTAL recluster for [[start]]'s inline
    * maintenance (off unless the policy sets `reclusterBytes`). The
    * gate counts bytes of files that MUTUALLY OVERLAP WITHIN the
    * rewrite set (everything outside the carry set), plus any
    * stats-less file: that is exactly the data a pass sorts apart, so
    * the trigger fires only when a pass changes the layout — and the
    * pass's own output (one internally-disjoint run) zeroes the count,
    * so the gate CONVERGES. Two naive gates both loop forever:
    * counting all non-carriable bytes re-fires on a table whose single
    * run sits below the carry floor (disjoint files a pass cannot
    * improve — size-packing them is [[maybeCompact]]'s job, which runs
    * next), and counting overlap against CARRIED files re-fires on the
    * steady multi-run state (a minor run legitimately interleaves the
    * base run; only a consolidating pass that rewrites both would
    * remove that, which is `incremental = false`'s job). Planning is
    * O(#files) driver metadata per batch — the same inventory walk the
    * clustering job itself needs ([[graft.maintain.Cluster.carrySet]]'s
    * accepted Iceberg-class floor); [[maybeCompact]]'s O(1) streamed
    * gate has no analog here because overlap is a GLOBAL property of
    * the sorted interval set. Runs BEFORE maybeCompact: a fired
    * recluster also packs the overlapping smalls, and compact's gate
    * then handles only what clustering left disjoint.
    */
  def maybeRecluster(table: TokenTable, policy: MaintenancePolicy,
      jobId: String): Option[graft.maintain.Cluster.Result] =
    policy.reclusterBytes.flatMap { threshold =>
      val all = table.filesLocal(table.current)
      val ord = graft.functions.Search.utf8Ordering
      val carried = graft.maintain.Cluster
        .carrySet(all, policy.targetBytes / 2).map(_.path).toSet
      val rewrite = all.filterNot(f => carried.contains(f.path))
      val noStats = rewrite.filter(f => f.minDocId == null || f.maxDocId == null)
      val sorted = rewrite.filterNot(f => f.minDocId == null || f.maxDocId == null)
        .sortBy(f => (f.minDocId, f.path))(Ordering.Tuple2(ord, Ordering.String))
      val overlapping = sorted.indices.filter { i =>
        (i > 0 && ord.compare(sorted(i - 1).maxDocId, sorted(i).minDocId) >= 0) ||
          (i < sorted.length - 1 &&
            ord.compare(sorted(i).maxDocId, sorted(i + 1).minDocId) >= 0)
      }.map(sorted)
      val pending = (noStats ++ overlapping).map(_.bytes).sum
      if (pending < threshold) None
      else
        try Some(graft.maintain.Cluster.runByDocId(table, jobId, policy.targetBytes))
        catch {
          case _: graft.table.CommitConflictException => None // re-plan next batch
        }
    }

  /** Threshold-gated snapshot expiry + orphan GC for [[start]]'s inline
    * maintenance. The gate is ONE metadata-dir listing (O(#versions)
    * names, no data IO); when the live version count reaches the policy
    * ceiling, all but `retainVersions` snapshots expire and unreachable
    * files older than the grace window are collected — so a stream that
    * runs for months keeps bounded metadata and storage, not one
    * snapshot per micro-batch forever. A streaming table's inventory
    * stays small after compaction, so the pass runs on the driver with
    * no Spark job (Expire's driver branch: the retained manifests are
    * streamed and the table dir is listed); only a table past
    * `ManifestDistributeThreshold` paths pays the distributed walk.
    * Serialized with ingest inside foreachBatch; a CAS race is
    * impossible here (expiry commits no snapshot), and reachability
    * math protects any retained reader.
    */
  def maybeExpire(table: TokenTable, policy: MaintenancePolicy)
      : Option[graft.maintain.Expire.Result] = {
    if (graft.table.Format.liveVersionCount(table.location) < policy.maxLiveVersions)
      None
    else Some(graft.maintain.Expire.run(table, policy.retainVersions, policy.gcGraceMs))
  }

  /** Event-time streaming dedup (the watermark-bounded analog of D1 for
    * sources with an event-time column): keeps the first occurrence per
    * key among rows whose event time is within the watermark.
    */
  def dedupWithinWatermark(msgs: DataFrame, eventTimeCol: String,
      keyCol: String, delay: String): DataFrame =
    msgs.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Continuous offset-gap detection via `flatMapGroupsWithState` —
    * custom keyed state the built-in operators cannot express (the
    * expected-next-offset cursor must SURVIVE across micro-batches).
    * The reference only gauges offset lag after each commit
    * (`/root/reference/src/kafka/mod.rs:197-209`); this also catches
    * holes: for each (topic, partition) group the state holds the
    * highest offset seen, and any batch whose offsets jump past
    * `last+1` emits an [[OffsetGap]] row (lost messages / compacted
    * ranges). Replayed offsets (<= last) emit nothing — redelivery is
    * normal at-least-once behavior, not a gap.
    *
    * Scale path: state is one long per topic-partition (thousands of
    * entries, trivially in the state store); the shuffle key is the
    * partition id, so the monitor adds exactly one keyed exchange.
    */
  def offsetGapMonitor(msgs: Dataset[RawMessage]): Dataset[OffsetGap] = {
    import msgs.sparkSession.implicits._
    msgs.groupByKey(m => (m.topic, m.partition))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Int), it: Iterator[RawMessage],
         state: GroupState[PartitionCursor]) =>
          val sorted = it.map(_.offset).toArray.sorted
          // First sighting of a partition seeds the cursor at its first
          // observed offset WITHOUT flagging: a consumer legitimately
          // attaches mid-stream (retention deleted the head, or it
          // starts from a committed offset) — that is not data loss.
          var last = state.getOption.map(_.lastOffset)
            .getOrElse(if (sorted.nonEmpty) sorted.head else -1L)
          val gaps = Seq.newBuilder[OffsetGap]
          sorted.foreach { o =>
            if (o > last + 1)
              gaps += OffsetGap(key._1, key._2, last + 1, o, o - last - 1)
            if (o > last) last = o
          }
          state.update(PartitionCursor(last))
          gaps.result().iterator
      }
  }

  /** Windowed event-time aggregation over a message stream: rows per
    * key per tumbling window — the streaming metrics analog of the
    * reference's counters (M1-M7).
    */
  def windowedCounts(msgs: DataFrame, eventTimeCol: String,
      keyCol: String, windowLen: String, delay: String): DataFrame =
    msgs.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(s"window.start").as("window_start"), col(keyCol), col("n"))
}
