package graft.maintain

import graft.table.{DataFile, ManifestFileIndex, Snapshot, TokenTable}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Filter

/** Predicate DELETE (M9) — row-level delete as copy-on-write, the
  * lakehouse operation a training-data table needs for contamination /
  * PII / takedown removal (drop every sequence of a poisoned source,
  * delete a list of flagged doc_ids) that the reference's append-only
  * ingest loop has no answer to (kafka-delta-rs never mutates committed
  * data; `src/pipeline/mod.rs` only appends).
  *
  * Three-way file classification from manifest stats — ONE streamed
  * metadata pass, zero data IO for two of the three classes:
  *
  *   - `!mightMatch(pred, f)`  → UNTOUCHED: no row can match; the file
  *     survives verbatim (not even opened).
  *   - `mustMatchAll(pred, f)` → DROPPED: every row provably matches;
  *     the file leaves the snapshot METADATA-ONLY (a whole-partition
  *     delete — e.g. `source = 'bad-crawl'` on ByDocId/Z-order-clustered
  *     data — touches no bytes at all).
  *   - otherwise               → REWRITTEN: scan only these files, keep
  *     `NOT pred` rows, write survivors as fresh tightly-statted files.
  *
  * Both decision procedures are the SAME implementation the scan path
  * prunes with ([[ManifestFileIndex.mightMatch]] /
  * [[ManifestFileIndex.mustMatchAll]]), so delete planning inherits the
  * scan's UTF8-binary string ordering and its no-stats sentinel
  * handling, and clustering (M2) makes deletes cheap for exactly the
  * same reason it makes scans cheap: tight [min,max] per file.
  *
  * At 10^12-sequence scale: classification streams manifest rows (driver
  * holds only the touched subset, as Merge does), the rewrite reads only
  * partially-matching files, and the commit is one atomic CAS snapshot
  * (concurrent appends rebase; conflicting rewrites abort loudly).
  * The deleted-row count falls out of the stats delta (dropped rows +
  * rewritten-input rows - rewritten-output rows) — no counting query.
  */
object Delete {

  case class Result(snapshot: Snapshot, droppedFiles: Int, rewrittenFiles: Int,
      untouchedFiles: Long, deletedRows: Long, rewrittenBytes: Long,
      decodedBytes: Long = 0L, coldCopiedBytes: Long = 0L)

  /** Resolve + normalize a DML predicate against the table schema once,
    * on a scan plan, so classification sees bound AttributeReferences
    * (names + types checked here — an unknown column fails loudly now,
    * not mid-rewrite). ConstantFolding + NullPropagation +
    * LikeSimplification normalize the shapes the classifier recognizes
    * (LIKE 'p%' → StartsWith, literal arithmetic folded, null-literal
    * comparisons → Literal(null) so `n_tok = CAST(NULL AS INT)` and
    * `WHERE 1=0` short-circuit to the untouched class) without running
    * the full optimizer, whose other rules could dissolve the Filter
    * node itself. Shared by DELETE and UPDATE.
    */
  private[maintain] def resolveCondition(table: TokenTable,
      parent: Snapshot, predicate: Column): Expression = {
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, LikeSimplification, NullPropagation}
    val analyzed = table.scan(parent).filter(predicate).queryExecution.analyzed
    val simplified =
      LikeSimplification(ConstantFolding(NullPropagation(ConstantFolding(analyzed))))
    simplified.collectFirst { case f: Filter => f.condition }
      .getOrElse(sys.error(s"unexpected analyzed DML plan: $simplified"))
  }

  /** Delete every row satisfying `predicate` (over doc_id / tokens /
    * n_tok / source) from the table's current snapshot. Returns the
    * parent snapshot unchanged when nothing can match (a no-op delete
    * commits nothing, like Iceberg).
    *
    * NULL predicate semantics are SQL three-valued: a row is deleted
    * only when the predicate is TRUE; rows where it evaluates to NULL
    * are KEPT (survivors filter on `NOT coalesce(pred, false)` — plain
    * `NOT pred` is itself NULL for those rows and would silently drop
    * them, ADVICE r4).
    */
  def deleteWhere(table: TokenTable, predicate: Column, jobId: String): Result = {
    val spark = table.spark
    val parent = table.current
    val cond: Expression = resolveCondition(table, parent, predicate)

    // One streamed classification pass; the driver retains only the
    // dropped + rewritten file lists (the predicate's touch set).
    var untouched = 0L
    val dropped = Seq.newBuilder[DataFile]
    val rewrite = Seq.newBuilder[DataFile]
    table.filesStream(parent).foreach { f =>
      if (!ManifestFileIndex.mightMatch(cond, f)) untouched += 1
      else if (ManifestFileIndex.mustMatchAll(cond, f)) dropped += f
      else rewrite += f
    }
    val drop = dropped.result()
    val rw = rewrite.result()

    if (drop.isEmpty && rw.isEmpty)
      return Result(parent, 0, 0, untouched, 0L, 0L)

    // Row-group-level cold copy (same machinery as MERGE): decode only
    // the groups the predicate's doc_id cover can touch.
    val plan = Rewrite.byPredicate(table, jobId, parent, cond, rw)

    // Every grazed file fully cold and nothing drops: provably nothing
    // to delete — commit nothing (same contract as the no-op predicate).
    if (drop.isEmpty && plan.decodeRels.isEmpty)
      return Result(parent, 0, 0, untouched + rw.size, 0L, 0L)

    // Copy-on-write rewrite of the decode set only: keep survivors,
    // preserve doc_id order within files.
    val survivors =
      if (plan.decodeRels.isEmpty) None
      else {
        val paths = plan.decodeRels.map(p => s"${table.location}/$p")
        import org.apache.spark.sql.functions.{coalesce, lit}
        Some(spark.read.schema(graft.table.Format.schemaOf(parent))
          .parquet(paths: _*)
          .filter(!coalesce(predicate, lit(false))))
      }
    commitDelete(table, parent, jobId, drop, rw, untouched, plan, survivors)
  }

  /** The shared DELETE commit: the rewrite tail plus the deleted-row
    * count, which falls out of the stats delta.
    */
  private def commitDelete(table: TokenTable, parent: Snapshot, jobId: String,
      drop: Seq[DataFile], rw: Seq[DataFile], untouched: Long,
      plan: Rewrite.ColdPlan, survivors: Option[DataFrame]): Result = {
    def deletedRows(out: Seq[DataFile]): Long = drop.map(_.rows).sum +
      (rw.map(_.rows).sum - plan.fullyCold.map(_.rows).sum) -
      plan.coldFiles.map(_.rows).sum - out.map(_.rows).sum
    val (snap, out) = Rewrite.commit(table, parent, jobId, "delete",
        drop ++ rw, plan, survivors) { out =>
      Map(
        "deleted-rows" -> deletedRows(out).toString,
        "dropped-files" -> drop.size.toString,
        "rewritten-files" -> rw.size.toString,
        "untouched-files" -> untouched.toString,
        "rewritten-bytes" -> rw.map(_.bytes).sum.toString)
    }
    Result(snap, drop.size, rw.size, untouched, deletedRows(out),
      rewrittenBytes = rw.map(_.bytes).sum,
      decodedBytes = plan.decodedBytes,
      coldCopiedBytes = plan.coldCopiedBytes)
  }

  /** [[deleteWhere]] on a DataFrame of doc_ids (the contamination /
    * takedown list shape). Small lists inline into an IN predicate —
    * prunable per-value against file stats; large lists rewrite with an
    * anti join over the files MERGE's sampled-key segment index marks
    * as touched, with row groups outside every id extent byte-copied
    * cold (never decoded).
    */
  def deleteByDocIds(table: TokenTable, docIds: DataFrame, jobId: String,
      inlineLimit: Int = 10000): Result = {
    import org.apache.spark.sql.functions._
    val spark = table.spark
    val distinctIds = docIds.select(col("doc_id")).distinct()
    // limit+1 caps the driver materialization at the inline threshold.
    val sample = distinctIds.limit(inlineLimit + 1).collect().map(_.getString(0))
    if (sample.length <= inlineLimit) {
      if (sample.isEmpty)
        return Result(table.current, 0, 0,
          table.filesStream(table.current).size, 0L, 0L)
      deleteWhere(table, col("doc_id").isin(sample.toIndexedSeq: _*), jobId)
    } else {
      // Too many keys to inline: plan with MERGE's sampled-key segment
      // index (Merge.planPrune — the same bounded-memory machinery the
      // upsert path uses). The per-segment id extents are tighter than
      // one global [min,max]: disjoint id clusters prune every file in
      // the dead range between them, and within grazed files, row
      // groups intersecting no extent provably hold no listed id and
      // carry over as bytewise cold copies — big-list delete cost then
      // tracks the ids' ranges, not the grazed files' size.
      val parent = table.current
      val prunePlan = Merge.planPrune(() => table.filesStream(parent),
        distinctIds.select(col("doc_id")), () => table.files(parent))
      val rw = prunePlan.touched
      val untouched = prunePlan.totalFiles - rw.size
      if (rw.isEmpty) return Result(parent, 0, 0, untouched, 0L, 0L)
      val plan = Rewrite.byExtents(table, jobId, parent,
        prunePlan.prune.extLo, prunePlan.prune.extHi, rw)
      if (plan.decodeRels.isEmpty)
        return Result(parent, 0, 0, untouched + rw.size, 0L, 0L)
      val paths = plan.decodeRels.map(p => s"${table.location}/$p")
      // No broadcast hint: beyond the inline threshold the list's size
      // is unbounded, so AQE picks broadcast vs shuffled anti join from
      // the measured build side.
      val survivors = spark.read.schema(graft.table.Format.schemaOf(parent))
          .parquet(paths: _*)
        .join(distinctIds, Seq("doc_id"), "left_anti")
      commitDelete(table, parent, jobId, Nil, rw, untouched, plan, Some(survivors))
    }
  }
}
