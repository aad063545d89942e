package graft.maintain

import graft.table.{DataFile, ManifestFileIndex, Snapshot, TokenTable}
import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Predicate UPDATE (M9, with [[Delete]]) — in-place column rewrite as
  * copy-on-write, completing the row-level DML triad (MERGE upserts,
  * DELETE removes, UPDATE edits in place: re-tokenize a source's
  * sequences, patch a mislabeled `source` tag, zero out token spans).
  *
  * Same manifest-stats planning as DELETE, minus the metadata-only
  * class (an update always materializes new bytes): files the predicate
  * provably cannot touch ([[ManifestFileIndex.mightMatch]] = false)
  * survive verbatim; every other file rewrites with each assignment
  * applied under `CASE WHEN pred THEN new ELSE old END` — one read, one
  * write, no shuffle, no join. Clustering (M2) bounds the touch set for
  * doc_id/source/n_tok-ranged predicates exactly as it does for scans.
  *
  * `doc_id` itself is not assignable: it is the clustering / merge key,
  * and rewriting it inside files would silently break every [min,max]
  * pruning invariant the engine relies on — use DELETE + append (or
  * MERGE) for identity changes.
  */
object Update {

  case class Result(snapshot: Snapshot, rewrittenFiles: Int,
      untouchedFiles: Long, updatedRows: Long, rewrittenBytes: Long,
      decodedBytes: Long = 0L, coldCopiedBytes: Long = 0L)

  /** Apply `assignments` (column name -> new value expression) to every
    * row satisfying `predicate`. Returns the parent snapshot unchanged
    * when no file can hold a matching row.
    *
    * Two invariants are enforced here (not in the SQL layer, so the
    * programmatic API is equally safe):
    *
    *  - TYPE ALIGNMENT (ADVICE r4): each assignment value is cast to the
    *    target column's exact type — an uncast `SET n_tok = n_tok / 2`
    *    would coerce the CASE projection to DOUBLE and commit parquet
    *    files whose n_tok column no longer matches the table schema,
    *    breaking every later scan and every bytewise concat/cold-copy
    *    schema-equality check. Impossible casts (array→int) fail loudly
    *    at plan time; value-level failures (overflow, bad string) fail
    *    at execution under ANSI cast semantics.
    *  - `n_tok == size(tokens)` (VERDICT r4): n_tok is DERIVED state —
    *    every stats consumer (packing, domain mix, sumNtok bookkeeping)
    *    trusts it. Assigning `tokens` alone auto-derives n_tok from the
    *    new array; assigning `n_tok` alone is rejected (nothing to
    *    derive tokens from); assigning both is the explicit escape hatch
    *    for a caller writing a consistent pair in one statement.
    */
  def updateWhere(table: TokenTable, assignments: Seq[(String, Column)],
      predicate: Column, jobId: String): Result = {
    val parent = table.current
    // Schema pinned to the parent snapshot — one read; a concurrent
    // ALTER mid-job can never make planning, the rewrite projection and
    // the committed snapshot disagree (the CAS still aborts it).
    val physSchema = graft.table.Format.schemaOf(parent)
    val assignable = physSchema.fieldNames.toSet - "doc_id"
    assignments.foreach { case (name, _) =>
      require(assignable.contains(name),
        s"UPDATE cannot assign `$name` (doc_id is the clustering key; " +
          s"assignable columns: ${assignable.mkString(", ")})")
    }
    require(assignments.map(_._1).distinct.size == assignments.size,
      "duplicate assignment targets")
    val assignedNames = assignments.map(_._1).toSet
    require(!(assignedNames.contains("n_tok") && !assignedNames.contains("tokens")),
      "UPDATE cannot assign `n_tok` without `tokens`: n_tok is derived " +
        "(n_tok == size(tokens) is a table invariant every stats consumer " +
        "trusts) — assign tokens and n_tok is derived automatically, or " +
        "assign both explicitly as a consistent pair")

    // Resolve each assignment value's type once against the scan, then
    // cast to the target column type where they differ.
    val valueTypes = table.scan(parent)
      .select(assignments.map { case (n, v) => v.as(n) }.toIndexedSeq: _*)
      .schema.fields.map(_.dataType)
    val typed: Seq[(String, Column)] =
      assignments.zip(valueTypes).map { case ((name, v), src) =>
        val dst = physSchema(name).dataType
        if (src == dst) name -> v
        else {
          import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
          require(Cast.canAnsiCast(src, dst),
            s"UPDATE cannot assign ${src.simpleString} to `$name` " +
              s"(${dst.simpleString}): no ANSI cast exists")
          // Explicit ANSI eval mode, independent of the session's
          // spark.sql.ansi.enabled: a legacy-mode cast silently
          // wraps/nulls out-of-range values, which is exactly the
          // silent-corruption class this alignment exists to prevent.
          name -> org.apache.spark.sql.GraftSqlBridge.column(
            Cast(org.apache.spark.sql.GraftSqlBridge.expression(v),
              dst, None, EvalMode.ANSI))
        }
      }
    val effective: Seq[(String, Column)] =
      if (assignedNames.contains("tokens") && !assignedNames.contains("n_tok"))
        typed :+ ("n_tok" -> F.size(typed.find(_._1 == "tokens").get._2).cast("int"))
      else typed

    // Resolve + normalize the predicate exactly as Delete does, so the
    // planner sees the shapes the file classifier recognizes.
    val cond: Expression = Delete.resolveCondition(table, parent, predicate)

    var untouched = 0L
    val rewrite = Seq.newBuilder[DataFile]
    table.filesStream(parent).foreach { f =>
      if (ManifestFileIndex.mightMatch(cond, f)) rewrite += f else untouched += 1
    }
    val rw = rewrite.result()
    if (rw.isEmpty) return Result(parent, 0, untouched, 0L, 0L)

    // Row-group-level cold copy (same planner as DELETE): groups whose
    // footer stats rule the predicate out hold no matching row, so
    // their bytes carry over verbatim and only the hot slice decodes
    // through the CASE projection. Cost tracks the UPDATED FOOTPRINT,
    // not grazed files.
    val plan = Rewrite.byPredicate(table, jobId, parent, cond, rw)
    // Every grazed file fully cold: nothing can match — commit nothing.
    if (plan.decode.isEmpty)
      return Result(parent, 0, untouched + rw.size, 0L, 0L)

    val touched = table.read(parent, plan.decode)
    // Matched-row count over the touched files only (they are about to
    // be re-read for the rewrite; at most the touch set is scanned
    // twice, never the table).
    val updatedRows = touched.filter(predicate).count()
    // ONE simultaneous projection — SQL UPDATE semantics: every
    // assignment RHS and the predicate see the ORIGINAL row (a
    // sequential withColumn chain would let `SET source = 'x'` flip a
    // `WHERE source = 'y'` predicate to false before the next
    // assignment evaluates). The derived n_tok re-evaluates the tokens
    // RHS — also over the ORIGINAL row, so the pair stays consistent.
    val byName = effective.toMap
    val rewritten = touched.select(physSchema.fieldNames.toIndexedSeq.map { n =>
      byName.get(n) match {
        case Some(v) => F.when(predicate, v).otherwise(F.col(n)).as(n)
        case None => F.col(n)
      }
    }: _*)
    val (snap, _) = Rewrite.commit(table, parent, jobId, "update", rw, plan,
        Some(rewritten)) { _ =>
      Map(
        "updated-rows" -> updatedRows.toString,
        "rewritten-files" -> rw.size.toString,
        "untouched-files" -> untouched.toString,
        "rewritten-bytes" -> rw.map(_.bytes).sum.toString)
    }
    Result(snap, rw.size, untouched, updatedRows, rw.map(_.bytes).sum,
      decodedBytes = plan.decodedBytes,
      coldCopiedBytes = plan.coldCopiedBytes)
  }
}
