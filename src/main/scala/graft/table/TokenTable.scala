package graft.table

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** A TokenTable: Iceberg-style snapshot/manifest table of pre-tokenized
  * training sequences (BASELINE.json input_hint):
  * `(doc_id string, tokens array<int>, n_tok int, source string)`.
  *
  * All heavy operations are Dataset/Catalyst jobs; the driver only does
  * O(#files) planning and the O(1) atomic snapshot publish — the same
  * split the reference enforces between its buffer and its single
  * `flush_and_commit` (`/root/reference/src/pipeline/mod.rs:195-247`).
  */
class TokenTable(val location: String, val spark: SparkSession) {
  import spark.implicits._

  def currentVersion: Long = Format.currentVersion(location)
  def current: Snapshot = Format.readSnapshot(location, currentVersion)
  def snapshotAt(v: Long): Snapshot = Format.readSnapshot(location, v)

  def schema: StructType = Format.schemaOf(current)

  /** The user-visible schema: physical fields under their logical
    * (possibly renamed) names. Identical to [[schema]] until a RENAME
    * COLUMN is applied ([[SchemaEvolution]]).
    */
  def logicalSchema: StructType = SchemaEvolution.logicalSchema(schema)

  /** Manifest scan as a Dataset — at 10^12-sequence scale the manifest
    * is itself big data, so set operations on file inventories (GC,
    * pruning) stay distributed.
    */
  def files(s: Snapshot): Dataset[DataFile] =
    if (s.manifests.isEmpty) spark.emptyDataset[DataFile]
    else
      spark.read
        .schema(implicitly[org.apache.spark.sql.Encoder[DataFile]].schema)
        .parquet(s.manifests.map(m => s"$location/$m"): _*)
        .as[DataFile]

  /** Driver-side file list, read off [[filesStream]] with no Spark job.
    * Maintenance jobs should use [[filesStream]] / [[writeSurvivorManifest]]
    * instead — this materializes the full inventory.
    */
  def filesLocal(s: Snapshot): Seq[DataFile] = filesStream(s).toSeq

  /** STREAM the snapshot's manifest rows on the driver, one row at a
    * time ([[Manifests.stream]]) — memory bounded by the manifest cache
    * ([[TokenTable.ManifestCacheBytes]]), not by the file count. This
    * is how maintenance planning walks the inventory: a
    * 10^7-file snapshot streams through a bounded-memory pass instead of
    * materializing a 10^7-element Seq. Callers that DRAIN (or whose
    * read fails) need nothing more; a caller that abandons the stream
    * early (take/limit/find) must `close()` it or the open part-file
    * handle is stranded.
    */
  def filesStream(s: Snapshot): Manifests.CloseableIterator[DataFile] =
    Manifests.stream(location, s.manifests, spark.sessionState.newHadoopConf())

  /** Write the manifest for a rewrite commit: the parent's files minus
    * `removedPaths`, plus `extra`. Driver memory is bounded by
    * max(|removedPaths|, |extra|, threshold): small inventories stream
    * driver-side; above [[TokenTable.ManifestDistributeThreshold]] the survivor
    * filter runs as a distributed anti-join and the manifest is written
    * by executors — the driver never holds the survivor list.
    */
  def writeSurvivorManifest(parent: Snapshot, removedPaths: Set[String],
      extra: Seq[DataFile]): String = {
    // One streamed pass buffers survivors while the parent's row count
    // stays within the threshold; past it the stream is abandoned
    // (closed) for the distributed branch.
    var n = 0L
    val survivors = Seq.newBuilder[DataFile]
    val it = filesStream(parent)
    while (n <= TokenTable.ManifestDistributeThreshold && it.hasNext) {
      val f = it.next(); n += 1
      if (!removedPaths.contains(f.path)) survivors += f
    }
    if (n <= TokenTable.ManifestDistributeThreshold) writeManifest(survivors.result() ++ extra)
    else {
      it.close()
      import spark.implicits._
      val removedDS = spark.createDataset(removedPaths.toSeq).toDF("path")
      val survivors = files(parent)
        .join(removedDS, Seq("path"), "left_anti")
        .as[DataFile]
      writeManifestDS(survivors.unionByName(spark.createDataset(extra)))
    }
  }

  /** Full-table scan of the current snapshot (north-star M5 — the
    * headline tokens/sec metric reads this).
    */
  def scan(): DataFrame = scan(current)

  /** Manifest-streamed scan: a [[ManifestFileIndex]]-backed relation —
    * no filesystem listing, no driver path collect; file statuses come
    * from manifest rows and data filters prune files inside the planner
    * (see the index's scaladoc). This is the path every read-side query
    * takes, including time travel (any snapshot).
    */
  def scan(s: Snapshot): DataFrame = scanExcluding(s, Set.empty)

  /** [[scan]] re-labelled with LOGICAL column names — the SQL-surface
    * view after RENAME COLUMN. A zero-cost identity when nothing was
    * renamed; otherwise a pure Project of aliases, which Catalyst pushes
    * filters and pruning straight through.
    */
  def scanLogical(s: Snapshot): DataFrame =
    SchemaEvolution.aliasToLogical(scan(s), Format.schemaOf(s))

  def scanLogical(): DataFrame = scanLogical(current)

  /** [[scan]] minus the files named in `excluded` (table-relative
    * paths). This is how incremental clustering reads "everything but
    * the carried files" WITHOUT the driver ever materializing the
    * complement path list: the exclusion set is bounded (the carry set
    * is capped), the complement streams through the FileIndex.
    */
  def scanExcluding(s: Snapshot, excluded: Set[String]): DataFrame =
    relation(new ManifestFileIndex(spark, location, s, excluded), Format.schemaOf(s))

  /** Read exactly `files` — rows a maintenance planner already holds
    * (its decode set, a sample, a bin) — through the same
    * [[ManifestFileIndex]] as every scan: sizes from the rows, no
    * listing, `s`'s schema pinned. An empty list reads as an empty
    * frame. Columns read nullable, the layout every engine-written file
    * carries (see [[writeDataFilesTo]]), so a rewrite of these rows
    * needs no widening projection.
    */
  def read(s: Snapshot, files: Seq[DataFile]): DataFrame =
    relation(new ManifestFileIndex(spark, location, s, files = Some(files)),
      StructType(TokenTable.nullableFields(Format.schemaOf(s))))

  private def relation(index: ManifestFileIndex, dataSchema: StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classicSpark.baseRelationToDataFrame(HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(classicSpark))
  }

  /** INCREMENTAL (CDC-style) read: the rows ADDED in `(fromVersion,
    * toVersion]` — the consumer pattern "give me what's new since the
    * snapshot I last processed" that a training-data pipeline polls a
    * 100 TB table with (re-tokenize only new documents, ship only new
    * shards), without ever re-scanning the table.
    *
    * Sound only across APPEND-ONLY history: appends carry the parent's
    * manifest list forward and append new manifests, so `from.manifests`
    * must be a PREFIX of `to.manifests` and the delta IS the manifest
    * suffix — zero data IO to plan, and the result reads through the
    * same [[ManifestFileIndex]] as any scan (filter pushdown and
    * min/max pruning work on incremental reads too). A rewrite in the
    * range (compact/cluster/merge/delete/update — all replace the
    * manifest list with fresh UUIDs) re-homes EXISTING rows into new
    * files, so the file-level delta would misreport them as new data:
    * those ranges fail loudly and the consumer re-syncs from a full
    * scan — the same contract as Iceberg's incremental append scan.
    * (A rollback to a version inside the range keeps the prefix
    * property and correctly yields only the additions that SURVIVED the
    * rollback.)
    */
  def scanChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"scanChanges range is inverted: v$fromVersion > v$toVersion")
    val to = snapshotAt(toVersion)
    val from = snapshotAt(fromVersion)
    require(to.manifests.take(from.manifests.length) == from.manifests,
      s"scanChanges(v$fromVersion, v$toVersion): the range contains a " +
        "rewrite commit (compact/cluster/merge/delete/update), so the " +
        "file delta does not equal the row delta — re-sync from a full scan")
    scan(to.copy(manifests = to.manifests.drop(from.manifests.length)))
  }

  // ---------------------------------------------------------------- write

  /** Write `df` (token schema) as new immutable data files under
    * data/<uuid>/ and return their manifest rows with min/max stats.
    * Stats come from a column-pruned re-scan (doc_id, n_tok, source
    * only — tokens are never re-read).
    */
  def writeDataFiles(df: DataFrame, sortWithinFilesBy: Option[String] = None)
      : Seq[DataFile] =
    writeDataFilesTo(df, s"${Format.DataDir}/${java.util.UUID.randomUUID()}",
      overwrite = false, sortBy = sortWithinFilesBy)

  /** Write to an explicit table-relative dir. Overwrite mode makes
    * resumed lineage tasks idempotent (a partially-written task dir from
    * a crash is simply replaced on re-run). `sortBy` orders rows within
    * each output file (tight row-group doc_id bounds); file placement is
    * the caller's: one output file per partition of `df`.
    */
  def writeDataFilesTo(df: DataFrame, relDir: String, overwrite: Boolean,
      sortBy: Option[String]): Seq[DataFile] = {
    val abs = s"$location/$relDir"
    // ONE canonical parquet repetition layout for every engine write:
    // Spark derives parquet required/optional from column nullability,
    // file reads force nullable, so rewrite outputs were `optional`
    // while direct appends of non-null DataFrames wrote `required` —
    // two layouts in one table, which breaks the bytewise concat and
    // cold-copy paths' schema-equality check (chunk copies cannot mix
    // definition-level layouts). Canonical = fully nullable (the only
    // direction widening works without per-element asserts; null
    // SAFETY is unchanged — rewrites already wrote optional). Columns
    // already canonical pass through untouched.
    val dfCanon = {
      // Canonical layout covers the EVOLVED physical schema, not just
      // the core four: added columns are nullable by construction, so
      // widening any non-canonical input (e.g. an INSERT of literals
      // Spark typed non-null) keeps one parquet repetition layout per
      // column across all commits — the concat/cold-copy equality check
      // depends on it.
      val canonByName = TokenTable.nullableFields(schema)
        .map(f => f.name -> f).toMap
      var widenedAny = false
      val cols = df.schema.fields.map { f =>
        canonByName.get(f.name) match {
          case Some(canon) if f.nullable != canon.nullable ||
              f.dataType != canon.dataType =>
            widenedAny = true
            graft.functions.WidenNullable.widenCol(
              org.apache.spark.sql.functions.col(f.name)).as(f.name)
          case _ => org.apache.spark.sql.functions.col(f.name)
        }
      }
      if (widenedAny) df.select(cols.toIndexedSeq: _*) else df
    }
    val out = sortBy.fold(dfCanon)(c => dfCanon.sortWithinPartitions(c))
    out.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .option("compression", "zstd") // reference writes ZSTD parquet (src/pipeline/mod.rs:120-122)
      // Bounded row groups (vs parquet's 128MB default): with doc_id-
      // sorted files, each group carries tight doc_id footer bounds, the
      // granularity MERGE's row-group cold copy and the reader's group
      // skipping prune at — a 512MB file gets ~32 independently
      // prunable/copyable/splittable groups instead of 4. Session conf
      // graft.write.rowGroupBytes overrides (tests force tiny groups).
      .option("parquet.block.size",
        spark.conf.getOption("graft.write.rowGroupBytes")
          .getOrElse(TokenTable.RowGroupBytes.toString))
      .parquet(abs)
    statsFor(relDir)
  }

  /** Manifest rows (with stats) for every parquet file under a
    * table-relative data directory.
    *
    * Per file this is ONE open ([[FileStats.statsForFile]]): min/max/
    * rows straight from the footer (the writer already computed them —
    * re-scanning data for stats would read the table twice, which at
    * 100TB is the difference between a metadata operation and a second
    * full pass) plus sum(n_tok) drained off that column's pages through
    * the same stream. No Spark job is scheduled for ordinary commits —
    * the old per-commit sum(n_tok) aggregation job cost a fixed ~0.3 s
    * of scheduling, a serial floor that capped ingest's N->4N scaling —
    * while file sets above [[TokenTable.StatsDistributeThreshold]] run the same
    * per-file routine distributed via `mapPartitions` over the path
    * list.
    */
  def statsFor(relDir: String): Seq[DataFile] = {
    val abs = s"$location/$relDir"
    val conf = spark.sessionState.newHadoopConf()
    val paths = FileStats.listParquet(abs, conf)
    if (paths.isEmpty) return Nil
    val root = new org.apache.hadoop.fs.Path(location).toUri.getPath

    if (paths.size <= TokenTable.StatsDistributeThreshold) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, paths.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = paths.map { p =>
        scala.concurrent.Future(FileStats.statsForFile(p, root, conf))
      }
      try {
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf).flatten
      } finally pool.shutdown()
    } else {
      // Hadoop Configuration is not serializable; ship its entries and
      // rebuild once per partition.
      val confEntries: Seq[(String, String)] = {
        val b = Seq.newBuilder[(String, String)]
        conf.iterator().forEachRemaining(e => b += (e.getKey -> e.getValue))
        b.result()
      }
      val slices = math.min(paths.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.createDataset(paths)
        .repartition(slices)
        .mapPartitions { it =>
          val c = new org.apache.hadoop.conf.Configuration(false)
          confEntries.foreach { case (k, v) => c.set(k, v) }
          it.flatMap(p => FileStats.statsForFile(p, root, c))
        }
        .collect().toSeq
    }
  }

  /** Persist manifest rows as an immutable manifest parquet; returns its
    * table-relative path. Driver-side write ([[Manifests.writeLocal]]) —
    * a metadata op must not schedule a Spark job; the old `toDS().write`
    * form cost a fixed ~0.3 s of job scheduling per commit (pure serial
    * floor under 24-commit ingest).
    */
  def writeManifest(rows: Seq[DataFile]): String = {
    val rel = s"${Format.Metadata}/manifest-${java.util.UUID.randomUUID()}"
    Manifests.writeLocal(s"$location/$rel", rows,
      spark.sessionState.newHadoopConf())
    rel
  }

  /** Distributed variant for rewrite ops whose survivor set is itself
    * big (carries a whole manifest scan through a filter).
    */
  def writeManifestDS(rows: Dataset[DataFile]): String = {
    val rel = s"${Format.Metadata}/manifest-${java.util.UUID.randomUUID()}"
    rows.write.mode(SaveMode.ErrorIfExists).parquet(s"$location/$rel")
    rel
  }

  // --------------------------------------------------------------- commit

  /** Commit a new snapshot via CAS with append-rebase.
    *
    * - Pure appends (`removedPaths` empty, keeping the full parent
    *   manifest list) are auto-rebased onto any concurrent commit.
    * - Rewrites (compaction/clustering/merge) abort on conflict with a
    *   [[CommitConflictException]] so the caller re-plans — matching
    *   Iceberg's serializable snapshot isolation and the reference's
    *   exhausted-retry hard error (`src/kafka/mod.rs:224-228`).
    *
    * @param rebaseGuard invoked with the rebased-onto snapshot before an
    *        append auto-rebase; throw [[CommitConflictException]] to veto
    *        (e.g. ingest aborts when the concurrent commit already covers
    *        this batch's offsets — see Ingest.ingestBatch).
    */
  def commit(
      parent: Option[Snapshot],
      operation: String,
      addManifests: Seq[String],
      keepManifests: Seq[String],
      removedPaths: Set[String],
      summary: Map[String, String] = Map.empty,
      maxAttempts: Int = 5,
      rebaseGuard: Option[Snapshot => Unit] = None,
      schemaJsonOverride: Option[String] = None): Snapshot = {
    // A schema-changing commit must not auto-rebase (a stale override
    // would clobber a concurrent ALTER); callers retry the whole
    // read-evolve-commit loop instead.
    require(schemaJsonOverride.isEmpty || maxAttempts == 1,
      "schemaJsonOverride requires maxAttempts = 1")
    val v = parent.map(_.version + 1).getOrElse(0L)
    // Watermarks are table state, not commit metadata: every snapshot
    // inherits its parent's offset watermarks (max-merged with its own),
    // so maintenance commits and rebased appends never re-open the
    // replay window (X1 exactly-once).
    val parentSummary = parent.map(_.summary).getOrElse(Map.empty[String, String])
    val fullSummary =
      if (parentSummary.contains(Format.WatermarksKey) ||
          summary.contains(Format.WatermarksKey))
        summary + (Format.WatermarksKey ->
          Format.encodeWatermarks(Format.mergeWatermarks(parentSummary, summary)))
      else summary
    val snap = Snapshot(
      version = v,
      parentVersion = parent.map(_.version).getOrElse(-1L),
      schemaJson = schemaJsonOverride.getOrElse(
        parent.map(_.schemaJson).getOrElse(TokenTable.tokenSchema.json)),
      operation = operation,
      manifests = keepManifests ++ addManifests,
      summary = fullSummary,
      timestampMs = System.currentTimeMillis())
    if (Format.tryPublish(location, snap)) return snap
    // Lost the race: re-read and decide rebase vs abort.
    val latest = Format.readSnapshot(location, Format.currentVersion(location))
    val isPureAppend =
      removedPaths.isEmpty && parent.forall(_.manifests == keepManifests)
    if (!isPureAppend)
      throw new CommitConflictException(
        s"$operation@v$v lost CAS to v${latest.version} (${latest.operation}); " +
          "rewrite commits cannot auto-rebase — re-plan against the new snapshot")
    if (maxAttempts <= 1)
      throw new CommitConflictException(s"$operation: exhausted commit attempts")
    rebaseGuard.foreach(_(latest))
    // The recursive attempt re-merges watermarks against `latest` at
    // snapshot-construction time, so a rebased append keeps both sides'
    // offsets.
    commit(Some(latest), operation, addManifests, latest.manifests,
      removedPaths, summary, maxAttempts - 1, rebaseGuard)
  }

  /** Roll the table back to an ANCESTOR version — the operator's undo
    * after a bad DML (north-star M5's operational story): commits a NEW
    * snapshot whose file inventory is the target version's, without
    * rewriting history, so every intermediate version stays
    * time-travelable and expiry still governs retention. Offset
    * watermarks are NOT rolled back — commit() max-merges them from the
    * current head — so exactly-once ingest never re-ingests batches
    * committed after the target: rollback undoes table CONTENT, not
    * stream progress. Rolling back to the current version is a no-op
    * (nothing commits). A concurrent commit aborts the CAS (rewrite
    * semantics), since rolling back over an unseen change would
    * silently discard it.
    */
  def rollbackTo(version: Long): Snapshot = {
    val parent = current
    if (version == parent.version) return parent
    require(version >= 0 && version < parent.version,
      s"rollback target v$version is not an ancestor of v${parent.version}")
    val target = snapshotAt(version) // missing/expired target fails loudly
    // The target's SCHEMA restores along with its files: rolling back
    // over an ALTER must undo the ALTER too, or a rolled-back DROP
    // COLUMN would leave the restored bytes permanently invisible (and
    // a rolled-back ADD would leave a phantom column the target never
    // had). maxAttempts=1 is the schema-override contract; a lost CAS
    // already aborts here regardless (keepManifests=Nil = rewrite
    // shape), so retry semantics are unchanged.
    commit(Some(parent), "rollback",
      addManifests = target.manifests, keepManifests = Nil,
      removedPaths = Set.empty,
      summary = Map("rollback-to" -> version.toString),
      maxAttempts = 1,
      schemaJsonOverride = Some(target.schemaJson))
  }

  /** ALTER TABLE: apply ADD/DROP/RENAME COLUMN changes as one
    * metadata-only snapshot — zero data IO at any scale (see
    * [[SchemaEvolution]]). A lost CAS race re-reads the head and
    * re-applies the changes to the NEW schema (never rebases a stale
    * schema blob), so concurrent appends and concurrent ALTERs both
    * serialize correctly.
    */
  def alterSchema(
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange]): Snapshot = {
    var attempts = 5
    while (true) {
      val parent = current
      val phys = Format.schemaOf(parent)
      val evolved = SchemaEvolution.evolve(phys, changes)
      try {
        return commit(Some(parent), "alter-schema",
          addManifests = Nil, keepManifests = parent.manifests,
          removedPaths = Set.empty,
          summary = Map("changes" -> changes.length.toString),
          maxAttempts = 1, schemaJsonOverride = Some(evolved.json))
      } catch {
        case e: CommitConflictException =>
          attempts -= 1
          if (attempts <= 0) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Append rows as one atomic snapshot. Columns resolve by physical or
    * logical name; added (evolved) columns the producer doesn't carry
    * null-fill — so pre-evolution producers keep working unchanged.
    */
  def append(df: DataFrame, operation: String = "append"): Snapshot = {
    val added = writeDataFiles(SchemaEvolution.alignToPhysical(df, schema))
    val manifest = writeManifest(added)
    val parent = if (currentVersion >= 0) Some(current) else None
    commit(
      parent,
      operation,
      addManifests = Seq(manifest),
      keepManifests = parent.map(_.manifests).getOrElse(Nil),
      removedPaths = Set.empty,
      summary = Map(
        "added-files" -> added.size.toString,
        "added-rows" -> added.map(_.rows).sum.toString,
        "added-tokens" -> added.map(_.sumNtok).sum.toString),
      // Appends always rebase cleanly; allow deep retry chains so many
      // concurrent writers (real ingest) never abort on CAS races.
      maxAttempts = 64)
  }
}

object TokenTable {
  import org.apache.spark.sql.types._

  /** Target parquet row-group size (in-memory buffered bytes) for table
    * data writes. 32MB balances scan efficiency (16MB measurably cost
    * ~10% on write/scan phases at bench scale — more flushes and chunk
    * boundaries per file) against maintenance granularity: a 512MB file
    * still gets ~16 independently prunable/copyable/splittable groups
    * for merge cold copy and scheduler splits.
    */
  val RowGroupBytes: Long = 32L * 1024 * 1024

  /** Heap the JVM-wide decoded-manifest cache may hold
    * ([[Manifests]]): about 200k manifest rows, i.e. tables of that many
    * live files plan from memory. A single manifest above it is never
    * cached and streams off disk on every read.
    */
  val ManifestCacheBytes: Long = 64L * 1024 * 1024

  /** Row count above which survivor-manifest writes run distributed. */
  val ManifestDistributeThreshold: Long = 65536L

  /** Files-per-commit threshold above which stats collection runs as a
    * Spark job instead of the driver pool. Below it, job-scheduling
    * latency dominates the work; above it, driver-side IO becomes the
    * bottleneck (a 10^6-file commit must not funnel through 16 driver
    * threads).
    */
  val StatsDistributeThreshold = 256

  /** [[tokenSchema]] with every field (and array element) nullable —
    * the CANONICAL parquet repetition layout of engine-written files
    * (see writeDataFilesTo).
    */
  lazy val nullableTokenSchema: StructType = StructType(nullableFields(tokenSchema))

  /** Every field (and array element) nullable — the canonical layout. */
  def nullableFields(schema: StructType): Array[StructField] =
    schema.fields.map { f =>
      f.copy(nullable = true, dataType = f.dataType match {
        case ArrayType(et, _) => ArrayType(et, containsNull = true)
        case t => t
      })
    }

  /** The north-star schema (BASELINE.json input_hint). */
  val tokenSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Create an empty table (v0). The reference never creates its Delta
    * table (`src/pipeline/mod.rs:110-118` opens an existing one); we do,
    * because the engine owns its format end-to-end.
    */
  def create(spark: SparkSession, location: String): TokenTable = {
    val snap = Snapshot(
      version = 0L, parentVersion = -1L, schemaJson = tokenSchema.json,
      operation = "create", manifests = Nil, summary = Map.empty,
      timestampMs = System.currentTimeMillis())
    if (!Format.tryPublish(location, snap))
      throw new CommitConflictException(s"create: table already exists at $location")
    new TokenTable(location, spark)
  }

  def open(spark: SparkSession, location: String): TokenTable = {
    require(Format.currentVersion(location) >= 0, s"no table at $location")
    new TokenTable(location, spark)
  }

  def exists(location: String): Boolean = Format.currentVersion(location) >= 0
}
