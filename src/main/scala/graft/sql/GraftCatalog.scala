package graft.sql

import graft.table.{Format, Snapshot, TokenTable}
import java.util
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column => SqlColumn, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` for TokenTables (VERDICT r3 task 5):
  * register once —
  * `spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")`
  * — and plain SQL works in ANY session, no manual rule application:
  *
  *   - `CREATE TABLE graft.`/path`` (token schema enforced)
  *   - `INSERT INTO graft.`/path` SELECT ...` (one atomic snapshot)
  *   - `SELECT ... FROM graft.`/path`` with filter/column pushdown
  *   - `SELECT ... FROM graft.`/path` VERSION AS OF n` (time travel)
  *   - `DROP TABLE graft.`/path``
  *   - `MERGE INTO graft.`/path`` via [[graft.plans.TokenTableResolution]]
  *     (the extensions rule recognizes the catalog-resolved relation too)
  *
  * The catalog is PATH-BASED (like `delta.`/path``): the identifier IS
  * the table location; there is no namespace metadata to list.
  *
  * Read path: with [[graft.GraftExtensions]], [[CatalogScanRewrite]]
  * replaces the catalog-resolved relation with the engine's own
  * [[TokenTable.scanLogical]] relation, planned once. A catalog-only
  * session gets a DSv2 scan that falls back to V1 ([[V1Scan]]) by
  * replaying pushed filters and column pruning onto that same scan as
  * an inner query. Either way catalog reads go through the SAME
  * [[graft.table.ManifestFileIndex]] file pruning and parquet pushdown
  * as API reads, rather than a parallel (and slower) DSv2 reader stack.
  * Write path: [[V1Write]] → [[InsertableRelation]] → `TokenTable.append`
  * (CAS snapshot commit; concurrent INSERTs auto-rebase).
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog {
  private var catalogName: String = "graft"

  // --- ProcedureCatalog: CALL graft.system.<proc>(...) — see
  // [[GraftProcedures]] for the procedure set.
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def path(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-based catalog: no enumerable namespace

  override def tableExists(ident: Identifier): Boolean =
    TokenTable.exists(path(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = path(ident)
    if (!TokenTable.exists(p)) throw new NoSuchTableException(ident)
    new GraftTable(p, None)
  }

  /** `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = path(ident)
    if (!TokenTable.exists(p)) throw new NoSuchTableException(ident)
    new GraftTable(p, Some(version.toLong))
  }

  /** `TIMESTAMP AS OF ts` (micros since epoch): latest snapshot at or
    * before the timestamp.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = path(ident)
    if (!TokenTable.exists(p)) throw new NoSuchTableException(ident)
    val tsMs = timestamp / 1000L
    val v = Format.liveVersions(p)
      .map(v => v -> Format.readSnapshot(p, v).timestampMs)
      .filter(_._2 <= tsMs)
      .lastOption
      .getOrElse(throw new NoSuchTableException(ident))._1
    new GraftTable(p, Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val p = path(ident)
    if (TokenTable.exists(p)) throw new TableAlreadyExistsException(ident)
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "graft tables cluster via maintenance (Z-order/ByDocId), not Hive partitioning")
    val expected = TokenTable.tokenSchema
    // Nullability flags vary by DDL spelling (NOT NULL, ARRAY element
    // nullability); the format enforces non-null at write — compare
    // names + base types only.
    val same = schema.fields.length == expected.fields.length &&
      schema.fields.zip(expected.fields).forall { case (a, b) =>
        a.name == b.name && a.dataType.simpleString == b.dataType.simpleString
      }
    if (!same)
      throw new IllegalArgumentException(
        s"graft tables have the fixed token schema ${expected.simpleString}; got ${schema.simpleString}")
    TokenTable.create(SparkSession.active, p)
    new GraftTable(p, None)
  }

  /** `ALTER TABLE graft.\`/path\` ADD/DROP/RENAME COLUMN` — a
    * metadata-only snapshot commit, zero data IO
    * ([[graft.table.SchemaEvolution]]).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = path(ident)
    if (!TokenTable.exists(p)) throw new NoSuchTableException(ident)
    TokenTable.open(SparkSession.active, p).alterSchema(changes)
    new GraftTable(p, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = path(ident)
    if (!TokenTable.exists(p)) return false
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
      .delete(hp, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME is unsupported for path-based tables; move the directory instead")
}

/** One TokenTable (optionally pinned to a snapshot version) as a DSv2
  * [[Table]].
  */
class GraftTable(val location: String, versionAsOf: Option[Long])
    extends Table with SupportsRead with SupportsWrite {

  /** Version pinned ONCE per table instance (Spark loads a fresh
    * GraftTable per analysis): schema(), the scan builder's rename map
    * and the executed scan all see the SAME snapshot — per-query
    * snapshot isolation, and no repeated metadata-dir listings from the
    * analyzer's many schema() calls.
    */
  private lazy val pinnedVersion: Long =
    versionAsOf.getOrElse(Format.currentVersion(location))

  private lazy val pinned: Snapshot = Format.readSnapshot(location, pinnedVersion)

  // Parsed ONCE per table instance: the analyzer calls schema() many
  // times per query, and a JSON parse per call would undo the pinning
  // win.
  private lazy val physSchema: StructType = Format.schemaOf(pinned)
  private lazy val logSchema: StructType =
    graft.table.SchemaEvolution.logicalSchema(physSchema)

  override def name(): String = s"graft.`$location`"

  /** The pinned snapshot's LOGICAL schema (post-evolution view). Read
    * straight from the snapshot JSON — no SparkSession needed.
    */
  override def schema(): StructType = logSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put(TableCatalog.PROP_LOCATION, location)
    versionAsOf.foreach(v => m.put("graft.version-as-of", v.toString))
    m
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (versionAsOf.nonEmpty)
      throw new UnsupportedOperationException("cannot write to a time-travel snapshot")
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              if (overwrite)
                throw new UnsupportedOperationException(
                  "INSERT OVERWRITE is unsupported; tables rewrite through MERGE/compaction")
              val t = TokenTable.open(data.sparkSession, location)
              // Spark aligned `data` to the table's LOGICAL schema
              // (order + names); re-label positionally to PHYSICAL
              // names — the only names data files ever carry.
              t.append(data.toDF(t.schema.fieldNames.toIndexedSeq: _*))
            }
          }
      }
    }
  }

  /** The engine's own scan (ManifestFileIndex-backed) for this table's
    * pinned snapshot.
    */
  private[sql] def innerScan(spark: SparkSession): DataFrame =
    new TokenTable(location, spark).scanLogical(pinned)

  /** The pinned snapshot (for metadata-only answers). */
  private[sql] def pinnedSnapshot: Snapshot = pinned

  /** Logical name (lowercased) → physical storage name. Aggregate
    * pushdown reasons about PHYSICAL columns (stats and non-null
    * guarantees attach to storage columns, and a user-added nullable
    * column can never shadow them — SchemaEvolution reserves the core
    * names).
    */
  private[sql] lazy val logicalToPhysical: Map[String, String] =
    graft.table.SchemaEvolution.logicalToPhysical(physSchema)
}

/** Scan builder: collects column pruning + pushable filters, then falls
  * back to V1 by replaying both onto the inner DataFrame — Catalyst then
  * pushes them through to the manifest prune and the parquet reader.
  *
  * AGGREGATE PUSHDOWN (metadata-only answers): an UNFILTERED, ungrouped
  * COUNT(star or col) / MIN / MAX (doc_id, source, n_tok) / SUM(n_tok)
  * is answered entirely from MANIFEST STATS — one streamed metadata
  * pass, ZERO data IO, exactly like Iceberg's metadata aggregates. At
  * 10^12 rows, "SELECT count(*), sum(n_tok)" becomes a
  * manifest read instead of a 100 TB scan. Sound because manifest
  * row/sum counts are exact and min/max bounds are tight values the
  * writer computed from the data (UTF8 order — Spark's comparison
  * order); files without usable stats make the affected aggregate
  * refuse pushdown (normal scan path, never a wrong answer). Any WHERE
  * clause or GROUP BY falls through to the ordinary scan (this builder
  * keeps every filter post-scan, so Spark never attempts aggregate
  * pushdown on filtered queries).
  */
class GraftScanBuilder(table: GraftTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val logicalSchema: StructType = table.schema()
  private val l2p = table.logicalToPhysical
  private def phys(logical: String): Option[String] = l2p.get(logical.toLowerCase)

  private var required: StructType = logicalSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, InternalRow)] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (aggResult.isEmpty) required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftScanBuilder.toColumn(f).isDefined)
    // Return everything as post-scan filters: Spark re-evaluates them
    // above the scan, so a translation subtlety can never change results
    // — the pushdown is purely an IO reduction.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  import org.apache.spark.sql.connector.expressions.aggregate._
  import GraftScanBuilder.colName

  /** Shape-only check (no IO): stats-answerable aggregates and no
    * pushed filters.
    */
  private def plannableAggs(agg: Aggregation): Boolean =
    pushed.isEmpty && GraftScanBuilder.statsAnswerable(agg, l2p)

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    plannableAggs(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!plannableAggs(agg)) return false
    val spark = SparkSession.active
    val t = TokenTable.open(spark, table.location)
    // ONE streamed manifest pass: totals + per-column bounds validity.
    val ord = graft.functions.Search.utf8Ordering
    var count = 0L; var sumN = 0L
    var minDoc: String = null; var maxDoc: String = null; var docOk = true
    var minSrc: String = null; var maxSrc: String = null; var srcOk = true
    var minN = Int.MaxValue; var maxN = Int.MinValue; var nOk = true
    t.filesStream(table.pinnedSnapshot).foreach { f =>
      count += f.rows; sumN += f.sumNtok
      if (f.minDocId == null || f.maxDocId == null) docOk = false
      else {
        if (minDoc == null || ord.lt(f.minDocId, minDoc)) minDoc = f.minDocId
        if (maxDoc == null || ord.gt(f.maxDocId, maxDoc)) maxDoc = f.maxDocId
      }
      if (f.minSource == null || f.maxSource == null) srcOk = false
      else {
        if (minSrc == null || ord.lt(f.minSource, minSrc)) minSrc = f.minSource
        if (maxSrc == null || ord.gt(f.maxSource, maxSrc)) maxSrc = f.maxSource
      }
      if (f.minNtok > f.maxNtok) nOk = false // no-stats sentinel
      else {
        if (f.minNtok < minN) minN = f.minNtok
        if (f.maxNtok > maxN) maxN = f.maxNtok
      }
    }
    val empty = count == 0L
    // SQL semantics over an empty table: COUNT = 0, everything else NULL.
    // Dispatch on the PHYSICAL column behind the (possibly renamed)
    // logical reference.
    def minOf(c: String): Option[Any] = phys(c) match {
      case Some("doc_id") if docOk => Some(if (empty) null else minDoc)
      case Some("source") if srcOk => Some(if (empty) null else minSrc)
      case Some("n_tok") if nOk => Some(if (empty) null else minN)
      case _ => None // stats hole: refuse pushdown, scan normally
    }
    def maxOf(c: String): Option[Any] = phys(c) match {
      case Some("doc_id") if docOk => Some(if (empty) null else maxDoc)
      case Some("source") if srcOk => Some(if (empty) null else maxSrc)
      case Some("n_tok") if nOk => Some(if (empty) null else maxN)
      case _ => None
    }
    def fieldType(c: String) = logicalSchema.fields
      .find(_.name.equalsIgnoreCase(c)).get.dataType
    val cols: Array[Option[(org.apache.spark.sql.types.DataType, Any)]] =
      agg.aggregateExpressions().map {
        case _: CountStar => Some(org.apache.spark.sql.types.LongType -> count)
        case _: Count => Some(org.apache.spark.sql.types.LongType -> count)
        case m: Min =>
          val c = colName(m.column()).get
          minOf(c).map(v => fieldType(c) -> v)
        case m: Max =>
          val c = colName(m.column()).get
          maxOf(c).map(v => fieldType(c) -> v)
        case _: Sum =>
          Some(org.apache.spark.sql.types.LongType ->
            (if (empty) null else sumN))
        case _ => None
      }
    if (cols.exists(_.isEmpty)) return false
    val schema = StructType(cols.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", c.get._1, nullable = true)
    })
    aggResult = Some((schema, InternalRow.fromSeq(cols.map(_.get._2).toIndexedSeq
      .map(CatalystTypeConverters.convertToCatalyst))))
    true
  }

  override def build(): Scan = new V1Scan {
    private val schema = aggResult.map(_._1).getOrElse(required)
    override def readSchema(): StructType = schema
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = aggResult match {
          case Some((s, _)) => s
          case None => if (required.isEmpty) new StructType() else required
        }
        // Rows leave as InternalRow: no decode to Row and back.
        override def needConversion: Boolean = false
        override def buildScan(): RDD[Row] = {
          val spark = context.sparkSession
          val rows: RDD[InternalRow] = aggResult match {
            case Some((_, row)) =>
              // Metadata-only answer: one row, zero data IO.
              spark.sparkContext.parallelize(Seq(row), 1)
            case None =>
              var df = table.innerScan(spark)
              pushed.flatMap(GraftScanBuilder.toColumn).foreach(c => df = df.filter(c))
              val out =
                if (required.isEmpty) df.select()
                else df.select(required.fieldNames.map(col).toIndexedSeq: _*)
              out.queryExecution.toRdd
          }
          rows.asInstanceOf[RDD[Row]]
        }
      }.asInstanceOf[T]
  }
}

object GraftScanBuilder {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  private[sql] def colName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }

  /** Can manifest stats alone answer `agg`: no grouping, and every
    * aggregate a stats-answerable function of a column, looked up
    * through `l2p` (logical name, lowercased, to physical name)? Shared
    * by [[GraftScanBuilder]]'s pushdown and [[CatalogScanRewrite]], which
    * leaves exactly these reads to it.
    */
  def statsAnswerable(agg: Aggregation, l2p: Map[String, String]): Boolean = {
    def phys(e: org.apache.spark.sql.connector.expressions.Expression) =
      colName(e).flatMap(c => l2p.get(c.toLowerCase))
    agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().forall {
        case _: CountStar => true
        // COUNT(col) == COUNT(*) only for the never-null CORE columns —
        // resolved through the rename map so a renamed core column still
        // pushes down and an ADDED (nullable) column never does.
        case c: Count => !c.isDistinct &&
          phys(c.column()).exists(graft.table.SchemaEvolution.CoreFields)
        case m: Min => phys(m.column()).exists(Set("doc_id", "source", "n_tok"))
        case m: Max => phys(m.column()).exists(Set("doc_id", "source", "n_tok"))
        case s: Sum => !s.isDistinct && phys(s.column()).contains("n_tok")
        case _ => false
      }
  }

  /** Conservative V1-filter → Column translation; None = not pushed
    * (Spark evaluates it above the scan; correctness unaffected).
    */
  def toColumn(f: Filter): Option[SqlColumn] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(inner) => toColumn(inner).map(!_)
    case _ => None
  }
}
