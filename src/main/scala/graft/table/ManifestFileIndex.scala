package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst [[FileIndex]] over manifest rows — the ONE way the engine
  * opens table data files (no path-list parquet reads). The rows come
  * from a snapshot's manifests (`files` = None: every scan and time
  * travel, optionally minus `excludePaths`), or from a fixed list
  * (`files` = Some: a maintenance op's decode set, sample or bin, which
  * its planner already holds). Either way:
  *
  *  - ZERO filesystem listing: file paths AND sizes come from the rows
  *    (the commit already recorded them) — no `getFileStatus` per data
  *    file and no listing job; at 10^6 files that is the difference
  *    between a metadata read and 10^6 RPCs per action;
  *  - data-filter pruning inside the planner: `scan().filter($"doc_id"
  *    === x)` skips every file whose [min,max] excludes x BEFORE any
  *    split is planned — clustering (M2) exists precisely to make these
  *    prunes selective, and they fire for plain DataFrame/SQL filters;
  *  - streamed, filter-first materialization: manifest rows stream one
  *    at a time ([[Manifests.stream]]) with the translated predicate
  *    applied on the fly, so a selective scan materializes only the
  *    SURVIVING files' statuses on the driver. (An unfiltered scan still
  *    holds one compact status per file — Spark's scheduler needs the
  *    split list; that is the same O(#files) floor Iceberg's driver
  *    planning has.)
  *
  * Filter translation is CONSERVATIVE: supported shapes (comparisons,
  * equality, StartsWith, In, And/Or on doc_id / n_tok / source vs
  * literals) prune; anything else keeps the file. String order is
  * UTF8String binary order — Spark's comparison semantics — NOT Java
  * String order (they differ for supplementary characters).
  */
class ManifestFileIndex(
    spark: SparkSession,
    location: String,
    snapshot: Snapshot,
    excludePaths: Set[String] = Set.empty,
    files: Option[Seq[DataFile]] = None) extends FileIndex {

  private lazy val hadoopConf = spark.sessionState.newHadoopConf()

  override def rootPaths: Seq[Path] = Seq(new Path(location))

  override def partitionSchema: StructType = new StructType()

  override def refresh(): Unit = ()

  /** Every consumer drains inside try/finally: a predicate or status
    * constructor that throws mid-stream must not strand the manifest
    * reader's open handle.
    */
  private def withFiles[A](use: Iterator[DataFile] => A): A = files match {
    case Some(fs) => use(fs.iterator)
    case None =>
      val it = Manifests.stream(location, snapshot.manifests, hadoopConf)
      try use(
        if (excludePaths.isEmpty) it
        else it.filter(f => !excludePaths.contains(f.path)))
      finally it.close()
  }

  private def status(f: DataFile): FileStatusWithMetadata =
    FileStatusWithMetadata(new FileStatus(
      f.bytes, false, 1, f.bytes.max(1L), snapshot.timestampMs,
      new Path(s"$location/${f.path}")))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val preds = dataFilters // partitionFilters are empty: unpartitioned relation
    val kept = withFiles(_
      .filter(f => preds.forall(p => ManifestFileIndex.mightMatch(p, f)))
      .map(status)
      .toArray)
    Seq(PartitionDirectory(InternalRow.empty, kept.toSeq))
  }

  override def inputFiles: Array[String] =
    withFiles(_.map(f => s"$location/${f.path}").toArray)

  override lazy val sizeInBytes: Long = withFiles(_.map(_.bytes).sum)
}

/** The stats-vs-predicate decision procedures, shared by the scan path
  * ([[ManifestFileIndex.listFiles]]) and the maintenance planners
  * ([[graft.maintain.Delete]]) so there is exactly ONE implementation
  * of "can this file's [min,max] interact with this predicate".
  */
object ManifestFileIndex {

  /** Columns whose min/max the manifest (and every parquet row-group
    * footer) carries. */
  val StatsColumns: Set[String] = Set("doc_id", "source", "n_tok")

  private def statsAttr(e: Expression): Boolean = e match {
    case a: AttributeReference => StatsColumns.contains(a.name)
    case _ => false
  }

  /** Could [[mightMatch]] return false for ANY stats row — i.e. is the
    * predicate worth evaluating against min/max stats at all? Mirrors
    * mightMatch's case analysis: And prunes if EITHER side can; Or only
    * if BOTH can (mightMatch(Or) keeps the file unless both sides
    * prune, so `doc_id < x OR size(tokens) > 9` can never prune and the
    * footer reads are pure waste). Callers skip group-level
    * classification entirely when this is false. Optimistic on typed
    * edge shapes (costs at most a useless footer read — sound).
    */
  def canPrune(e: Expression): Boolean = e match {
    case Literal(b: Boolean, _) => !b // folded FALSE prunes everything
    case Literal(null, _) => true
    case And(l, r) => canPrune(l) || canPrune(r)
    case Or(l, r) => canPrune(l) && canPrune(r)
    case EqualTo(a, Literal(_, _)) => statsAttr(a)
    case EqualTo(Literal(_, _), a) => statsAttr(a)
    case GreaterThan(a, Literal(_, _)) => statsAttr(a)
    case GreaterThan(Literal(_, _), a) => statsAttr(a)
    case GreaterThanOrEqual(a, Literal(_, _)) => statsAttr(a)
    case GreaterThanOrEqual(Literal(_, _), a) => statsAttr(a)
    case LessThan(a, Literal(_, _)) => statsAttr(a)
    case LessThan(Literal(_, _), a) => statsAttr(a)
    case LessThanOrEqual(a, Literal(_, _)) => statsAttr(a)
    case LessThanOrEqual(Literal(_, _), a) => statsAttr(a)
    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) => statsAttr(a)
    case StartsWith(a, Literal(_, _)) => statsAttr(a)
    case _ => false
  }

  // ------------------------------------------------- predicate pruning

  /** True iff the file's [min,max] stats CANNOT rule out the predicate.
    * Must never return false for a file containing a matching row; may
    * return true for one that doesn't (a false positive reads an extra
    * file). Unknown predicate shapes — including Not, whose operand's
    * conservative answer cannot be negated — keep the file.
    */
  def mightMatch(e: Expression, f: DataFile): Boolean = e match {
    // Folded constants: a contradiction predicate (`WHERE 1=0` after
    // ConstantFolding) or a null-yielding one (`n_tok = CAST(NULL AS
    // INT)` after NullPropagation) is never TRUE for any row, so no
    // file can match — without these cases the catch-all would classify
    // every file as 'rewrite' and a provable no-op DELETE would decode
    // and rewrite the whole table (ADVICE r4).
    case Literal(b: Boolean, _) => b
    case Literal(null, _) => false
    case And(l, r) => mightMatch(l, f) && mightMatch(r, f)
    case Or(l, r) => mightMatch(l, f) || mightMatch(r, f)
    case EqualTo(a: AttributeReference, Literal(v, _)) => rangeContains(a.name, f, v, v)
    case EqualTo(Literal(v, _), a: AttributeReference) => rangeContains(a.name, f, v, v)
    case GreaterThan(a: AttributeReference, Literal(v, _)) => rangeAbove(a.name, f, v, strict = true)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => rangeAbove(a.name, f, v, strict = false)
    case LessThan(a: AttributeReference, Literal(v, _)) => rangeBelow(a.name, f, v, strict = true)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => rangeBelow(a.name, f, v, strict = false)
    case GreaterThan(Literal(v, _), a: AttributeReference) => rangeBelow(a.name, f, v, strict = true)
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => rangeBelow(a.name, f, v, strict = false)
    case LessThan(Literal(v, _), a: AttributeReference) => rangeAbove(a.name, f, v, strict = true)
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) => rangeAbove(a.name, f, v, strict = false)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) => rangeContains(a.name, f, v, v) }
    case StartsWith(a: AttributeReference, Literal(p: UTF8String, _)) =>
      // doc_id LIKE 'prefix%': overlaps iff max >= prefix and
      // min's first |prefix| bytes are <= prefix.
      stringRange(a.name, f) match {
        case Some((lo, hi)) =>
          hi.compareTo(p) >= 0 && truncate(lo, p.numBytes).compareTo(p) <= 0
        case None => true
      }
    case IsNotNull(_) => true // token schema is non-null throughout
    case _ => true
  }

  private def truncate(s: UTF8String, n: Int): UTF8String =
    if (s.numBytes <= n) s else UTF8String.fromBytes(s.getBytes.take(n))

  private def stringRange(col: String, f: DataFile): Option[(UTF8String, UTF8String)] = {
    val (lo, hi) = col match {
      case "doc_id" => (f.minDocId, f.maxDocId)
      case "source" => (f.minSource, f.maxSource)
      case _ => (null, null)
    }
    if (lo == null || hi == null) None
    else Some((UTF8String.fromString(lo), UTF8String.fromString(hi)))
  }

  private def rangeContains(col: String, f: DataFile, lo: Any, hi: Any): Boolean =
    rangeAbove(col, f, lo, strict = false) && rangeBelow(col, f, hi, strict = false)

  /** Might the file hold a value > v (strict) / >= v? */
  private def rangeAbove(col: String, f: DataFile, v: Any, strict: Boolean): Boolean =
    v match {
      case u: UTF8String => stringRange(col, f).forall { case (_, hi) =>
        if (strict) hi.compareTo(u) > 0 else hi.compareTo(u) >= 0
      }
      case n: Number if col == "n_tok" =>
        // minNtok > maxNtok is the "no stats" sentinel (a file written
        // without n_tok statistics persists Int.MaxValue/Int.MinValue);
        // absent stats must keep the file, never prune it.
        f.minNtok > f.maxNtok ||
          (if (strict) f.maxNtok > n.longValue else f.maxNtok >= n.longValue)
      case _ => true
    }

  /** Might the file hold a value < v (strict) / <= v? */
  private def rangeBelow(col: String, f: DataFile, v: Any, strict: Boolean): Boolean =
    v match {
      case u: UTF8String => stringRange(col, f).forall { case (lo, _) =>
        if (strict) lo.compareTo(u) < 0 else lo.compareTo(u) <= 0
      }
      case n: Number if col == "n_tok" =>
        f.minNtok > f.maxNtok ||
          (if (strict) f.minNtok < n.longValue else f.minNtok <= n.longValue)
      case _ => true
    }

  // --------------------------------------------- whole-file certainty

  /** True only if EVERY row in the file provably satisfies the
    * predicate — the dual of [[mightMatch]], used by DELETE to drop a
    * file metadata-only (no read, no rewrite). Conservative the other
    * way round: false negatives cost a rewrite of a file whose rows all
    * matched anyway; a false positive would delete surviving rows, so
    * unknown shapes return false. Token-schema columns are non-null, so
    * "every row satisfies col-vs-literal" reduces to the file's WHOLE
    * [min,max] range lying inside the predicate's accepting set.
    */
  def mustMatchAll(e: Expression, f: DataFile): Boolean = e match {
    case Literal(true, _) => true // unconditional DELETE: drop metadata-only
    case Literal(_, _) => false // false / null: no row satisfies it
    case And(l, r) => mustMatchAll(l, f) && mustMatchAll(r, f)
    case Or(l, r) => mustMatchAll(l, f) || mustMatchAll(r, f)
    case EqualTo(a: AttributeReference, Literal(v, _)) => wholeRangeIs(a.name, f, v)
    case EqualTo(Literal(v, _), a: AttributeReference) => wholeRangeIs(a.name, f, v)
    case GreaterThan(a: AttributeReference, Literal(v, _)) => wholeAbove(a.name, f, v, strict = true)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => wholeAbove(a.name, f, v, strict = false)
    case LessThan(a: AttributeReference, Literal(v, _)) => wholeBelow(a.name, f, v, strict = true)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => wholeBelow(a.name, f, v, strict = false)
    case GreaterThan(Literal(v, _), a: AttributeReference) => wholeBelow(a.name, f, v, strict = true)
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => wholeBelow(a.name, f, v, strict = false)
    case LessThan(Literal(v, _), a: AttributeReference) => wholeAbove(a.name, f, v, strict = true)
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) => wholeAbove(a.name, f, v, strict = false)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      // All rows in [min,max]; certain only when the range is a single
      // point equal to one of the literals.
      vs.exists { case Literal(v, _) => wholeRangeIs(a.name, f, v) }
    case StartsWith(a: AttributeReference, Literal(p: UTF8String, _)) =>
      // If min and max both carry the prefix, every value between them
      // does too (byte order pins the first |p| bytes).
      stringRange(a.name, f).exists { case (lo, hi) =>
        truncate(lo, p.numBytes).equals(p) && truncate(hi, p.numBytes).equals(p)
      }
    case IsNotNull(_) => true // token schema is non-null throughout
    case _ => false
  }

  private def wholeRangeIs(col: String, f: DataFile, v: Any): Boolean =
    wholeAbove(col, f, v, strict = false) && wholeBelow(col, f, v, strict = false)

  /** Is every value in the file > v (strict) / >= v — i.e. min above v? */
  private def wholeAbove(col: String, f: DataFile, v: Any, strict: Boolean): Boolean =
    v match {
      case u: UTF8String => stringRange(col, f).exists { case (lo, _) =>
        if (strict) lo.compareTo(u) > 0 else lo.compareTo(u) >= 0
      }
      case n: Number if col == "n_tok" =>
        // The no-stats sentinel (minNtok > maxNtok) means nothing is
        // provable about the file's values: never certain.
        f.minNtok <= f.maxNtok &&
          (if (strict) f.minNtok > n.longValue else f.minNtok >= n.longValue)
      case _ => false
    }

  /** Is every value in the file < v (strict) / <= v — i.e. max below v? */
  private def wholeBelow(col: String, f: DataFile, v: Any, strict: Boolean): Boolean =
    v match {
      case u: UTF8String => stringRange(col, f).exists { case (_, hi) =>
        if (strict) hi.compareTo(u) < 0 else hi.compareTo(u) <= 0
      }
      case n: Number if col == "n_tok" =>
        f.minNtok <= f.maxNtok &&
          (if (strict) f.maxNtok < n.longValue else f.maxNtok <= n.longValue)
      case _ => false
    }
}
