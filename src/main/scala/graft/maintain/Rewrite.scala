package graft.maintain

import graft.lineage.Lineage
import graft.table.{DataFile, ManifestFileIndex, RowGroupCopy, Snapshot, TokenTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.unsafe.types.UTF8String

/** The copy-on-write tail every row-level rewrite (MERGE, DELETE,
  * UPDATE) ends with: write the decoded slice, record lineage, write the
  * survivor manifest, commit one atomic snapshot, drop the temporaries.
  * Callers differ only in how they classify files and what rewrite frame
  * they build; the commit itself is this one path.
  */
object Rewrite {

  /** Row-group cold-copy plan over a rewrite's touched files.
    * `fullyCold` files stay in the snapshot verbatim (no row group can
    * hold a hit despite the file-level stats saying "maybe" — possible
    * when the file's [min,max] spans a gap between row groups);
    * `coldFiles` are the bytewise column-chunk copies of cold runs inside
    * mixed files; `decode` is what the rewrite must actually decode, read
    * through [[TokenTable.read]].
    */
  private[maintain] case class ColdPlan(
      splits: Seq[RowGroupCopy.Split],
      fullyCold: Seq[DataFile],
      coldFiles: Seq[DataFile],
      decode: Seq[DataFile]) {
    def decodedBytes: Long = decode.map(_.bytes).sum
    def coldCopiedBytes: Long = coldFiles.map(_.bytes).sum
  }

  /** Plan the cold copy by a DML predicate: row groups whose footer
    * stats PROVE the predicate cannot hold for any of their rows
    * ([[ManifestFileIndex.mightMatch]] applied per group — the SAME
    * decision procedure the file-level classification and the scan
    * planner use, over ALL stats columns: doc_id, source, n_tok) carry
    * over as bytewise column-chunk copies; only possibly-matching groups
    * decode. Cost then tracks the PREDICATE'S FOOTPRINT, not the grazed
    * files' full size. A predicate that can never prune a group
    * ([[ManifestFileIndex.canPrune]] false — no stats-column term, or
    * every OR arm not prunable) skips the footer reads and decodes
    * everything grazed (sound, never wrong).
    */
  private[maintain] def byPredicate(table: TokenTable, jobId: String,
      parent: Snapshot, cond: Expression, touched: Seq[DataFile]): ColdPlan =
    fromSplits(
      if (touched.nonEmpty && ManifestFileIndex.canPrune(cond))
        RowGroupCopy.planAll(table.spark, table.location, touched.map(_.path),
          coldDir(jobId, parent), hotxDir(jobId, parent))(ManifestFileIndex.mightMatch(cond, _))
      else Nil,
      touched)

  /** Plan the cold copy by source-key extents (sorted, disjoint, as
    * [[Merge.Prune]] holds them): row groups whose doc_id bounds
    * intersect no extent ([[Merge.intersectsExtents]]) hold no key.
    */
  private[maintain] def byExtents(table: TokenTable, jobId: String,
      parent: Snapshot, extLo: Array[String], extHi: Array[String],
      touched: Seq[DataFile]): ColdPlan =
    fromSplits(
      if (touched.nonEmpty && extLo.nonEmpty) {
        val lo = extLo.map(UTF8String.fromString)
        val hi = extHi.map(UTF8String.fromString)
        RowGroupCopy.planAll(table.spark, table.location, touched.map(_.path),
          coldDir(jobId, parent), hotxDir(jobId, parent))(g =>
          Merge.intersectsExtents(g.minDocId, g.maxDocId, lo, hi))
      } else Nil,
      touched)

  /** The degenerate plan: decode every touched file. */
  private[maintain] def decodeAll(touched: Seq[DataFile]): ColdPlan =
    fromSplits(Nil, touched)

  /** Assemble a [[ColdPlan]] from per-file splits; empty splits = decode
    * every touched file. A hot extract's decode row is its origin's row
    * with `path` and `bytes` (the extract's exact length) replaced: the
    * origin's [min,max] bounds are a superset of the extract's rows, so
    * the index's pruning stays sound, while `rows` and `groups` describe
    * the origin — only the index reads these rows, never a manifest.
    */
  private def fromSplits(splits: Seq[RowGroupCopy.Split],
      touched: Seq[DataFile]): ColdPlan = {
    val byPath = touched.map(f => f.path -> f).toMap
    if (splits.nonEmpty)
      ColdPlan(splits,
        fullyCold = splits.filter(_.allCold).map(s => byPath(s.origPath)),
        coldFiles = splits.flatMap(_.coldFiles),
        decode = splits.flatMap(s => s.decodeRel.map(rel =>
          byPath(s.origPath).copy(path = rel, bytes = s.decodeBytes))))
    else ColdPlan(Nil, Nil, Nil, touched)
  }

  /** Table-relative dirs for one job's bytewise cold copies and hot
    * extracts, version-scoped like every rewrite output.
    */
  private def coldDir(jobId: String, parent: Snapshot): String =
    s"data/$jobId-v${parent.version}-cold"
  private def hotxDir(jobId: String, parent: Snapshot): String =
    s"data/$jobId-v${parent.version}-hotx"

  /** Commit a copy-on-write rewrite of `inputs` against `parent`:
    *
    *  1. write `rewrite` (None when nothing decodes) doc_id-sorted into
    *     the version-scoped output dir — overwrite mode, so a re-run of
    *     the job replaces a crashed attempt's partial output;
    *  2. record the lineage task with the write's wall time;
    *  3. removed = inputs − fully-cold files (kept verbatim); the survivor
    *     manifest adds the bytewise cold copies and the rewrite output;
    *  4. one atomic CAS commit of `op` with `summary(out)` plus the
    *     decoded/cold-copied byte counts;
    *  5. drop the hot extracts, which served only the rewrite (orphan GC
    *     would collect them, but leaving temporaries to GC hides bugs).
    *
    * Returns the committed snapshot and the rewrite's output files.
    */
  private[maintain] def commit(table: TokenTable, parent: Snapshot,
      jobId: String, op: String, inputs: Seq[DataFile], plan: ColdPlan,
      rewrite: Option[DataFrame])(
      summary: Seq[DataFile] => Map[String, String]): (Snapshot, Seq[DataFile]) = {
    val t0 = System.nanoTime()
    val out = rewrite.fold(Seq.empty[DataFile])(df =>
      table.writeDataFilesTo(df, s"data/$jobId-v${parent.version}",
        overwrite = true, sortBy = Some("doc_id")))
    val written = plan.coldFiles ++ out
    Lineage.completeTask(table, Lineage.TaskRecord(
      jobId, op, inputs.map(_.path), written,
      rows = written.map(_.rows).sum, tokenCount = written.map(_.sumNtok).sum,
      status = "done", durationMs = (System.nanoTime() - t0) / 1000000))
    val removed = inputs.map(_.path).toSet -- plan.fullyCold.map(_.path)
    val manifest = table.writeSurvivorManifest(parent, removed, written)
    val snap = table.commit(Some(parent), op,
      addManifests = Seq(manifest), keepManifests = Nil,
      removedPaths = removed,
      summary = summary(out) ++ Map(
        "decoded-bytes" -> plan.decodedBytes.toString,
        "cold-copied-bytes" -> plan.coldCopiedBytes.toString))
    if (plan.splits.exists(s => !s.allCold && s.coldFiles.nonEmpty)) {
      val hx = new org.apache.hadoop.fs.Path(s"${table.location}/${hotxDir(jobId, parent)}")
      hx.getFileSystem(table.spark.sessionState.newHadoopConf()).delete(hx, true)
    }
    (snap, out)
  }
}
