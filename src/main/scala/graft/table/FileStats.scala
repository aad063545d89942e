package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The one decoder of parquet footer statistics, and the one per-file
  * fan-out every footer pass runs on.
  *
  * A row group's footer min/max become its manifest-row view
  * ([[groupStats]]); a file's manifest row ([[statsForFile]]) is the
  * UTF-8-order fold of its groups' views plus sum(n_tok), drained off
  * the n_tok column pages through the same open stream. Footers carry
  * min/max/rows but no sums, and sum(n_tok) is the token count every
  * snapshot summary and lineage record needs.
  *
  * A group that holds values but no min/max (parquet-hadoop leaves out
  * the statistics of a chunk whose min and max together exceed 4 KB)
  * makes the file's bound for that column unknown: null, or the
  * Int.MaxValue/Int.MinValue sentinel for n_tok, which every pruning
  * check reads as "might match". Folding only the groups that carry
  * stats would record a bound that excludes the long value, and a
  * lookup of it would prune the file away.
  *
  * Why not a Spark job per commit: a `groupBy(input_file_name())`
  * aggregation costs a fixed ~0.3 s of job scheduling per commit, a
  * serial floor under many-commit ingest. Reading the one required
  * int32 column through the page readers costs microseconds per
  * thousand rows on a plain thread pool ([[perFile]]).
  */
object FileStats {

  /** Stats for one parquet file; None for a zero-row file (empty
    * partitions produce empty files that must not enter the manifest).
    * `rootUriPath` is the table location's URI path — file paths are
    * stored table-relative.
    */
  def statsForFile(fileUriPath: String, rootUriPath: String,
      conf: Configuration): Option[DataFile] = {
    val p = new org.apache.hadoop.fs.Path(fileUriPath)
    val inputFile = HadoopInputFile.fromPath(p, conf)
    val reader = ParquetFileReader.open(inputFile)
    try {
      val footer = reader.getFooter
      val bounds = foldGroups(footer.getBlocks.asScala.toSeq)
      if (bounds.rows == 0L) return None

      // sum(n_tok) off the column pages: project the reader down to the
      // one required int32 column so readNextRowGroup materializes only
      // its chunks, then drain each row group's ColumnReader.
      val fileMeta = footer.getFileMetaData
      val fullSchema = fileMeta.getSchema
      var sumNtok = 0L
      if (fullSchema.containsField("n_tok")) {
        val proj = new MessageType(fullSchema.getName,
          fullSchema.getType(fullSchema.getFieldIndex("n_tok")))
        reader.setRequestedSchema(proj)
        val desc = proj.getColumnDescription(Array("n_tok"))
        val conv = new GroupRecordConverter(proj).getRootConverter
        // Token-schema writes produce a REQUIRED column, but a caller
        // could stat files written from a nullable upstream schema:
        // guard on the definition level — reading getInteger at a null
        // position is undefined, not an error.
        val maxDef = desc.getMaxDefinitionLevel
        var store = reader.readNextRowGroup()
        while (store != null) {
          val cr = new ColumnReadStoreImpl(store, conv, proj, fileMeta.getCreatedBy)
            .getColumnReader(desc)
          var i = 0L
          val n = cr.getTotalValueCount
          while (i < n) {
            if (cr.getCurrentDefinitionLevel == maxDef) sumNtok += cr.getInteger
            cr.consume(); i += 1
          }
          store = reader.readNextRowGroup()
        }
      }

      Some(bounds.copy(
        path = p.toUri.getPath.stripPrefix(rootUriPath).stripPrefix("/"),
        bytes = inputFile.getLength,
        sumNtok = sumNtok))
    } finally reader.close()
  }

  /** Manifest-row VIEW of one row group's footer stats (doc_id / source
    * min-max, n_tok min-max with the no-stats sentinel; `bytes` is the
    * group's compressed size, `sumNtok` 0). Row-group classification
    * runs the file-level decision procedures over it —
    * [[ManifestFileIndex.mightMatch]] for a full predicate,
    * [[graft.maintain.Merge.intersectsExtents]] for MERGE's key
    * extents — and missing stats degrade to "might match" exactly as at
    * file level.
    */
  private[table] def groupStats(b: BlockMetaData): DataFile = foldGroups(Seq(b))

  /** Fold row groups' footer bounds into one manifest row (no path, no
    * sum). Cross-group merges MUST use UTF8 binary order: every consumer
    * of these bounds (ManifestFileIndex, Merge's segment index) compares
    * in UTF8String byte order, which diverges from Java String (UTF-16
    * code-unit) order for supplementary-plane characters: U+FFFF sorts
    * above U+10000 in Java order but below it in byte order.
    */
  private def foldGroups(blocks: Seq[BlockMetaData]): DataFile = {
    def utf8(v: Any): String = v match {
      case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
      case x => String.valueOf(x)
    }
    val doc = fold(blocks, "doc_id", graft.functions.Search.utf8Ordering)(utf8)
    val src = fold(blocks, "source", graft.functions.Search.utf8Ordering)(utf8)
    val ntok = fold(blocks, "n_tok", Ordering.Int)(_.asInstanceOf[Number].intValue)
    DataFile(path = "", bytes = blocks.map(_.getCompressedSize).sum,
      rows = blocks.map(_.getRowCount).sum,
      minDocId = doc.map(_._1).orNull, maxDocId = doc.map(_._2).orNull,
      minNtok = ntok.fold(Int.MaxValue)(_._1), maxNtok = ntok.fold(Int.MinValue)(_._2),
      sumNtok = 0L,
      minSource = src.map(_._1).orNull, maxSource = src.map(_._2).orNull,
      groups = blocks.size)
  }

  /** [min,max] of column `name` over `blocks`, or None when no bound is
    * provable: some group lacks the column, or holds values without a
    * footer min/max. A group whose values are all null bounds nothing
    * and is skipped (None when every group is).
    */
  private def fold[T](blocks: Seq[BlockMetaData], name: String, ord: Ordering[T])(
      decode: Any => T): Option[(T, T)] = {
    var acc: Option[(T, T)] = None
    val it = blocks.iterator
    while (it.hasNext) {
      val b = it.next()
      val c = b.getColumns.asScala.find(_.getPath.toDotString == name).orNull
      val st = if (c == null) null else c.getStatistics
      if (st != null && st.hasNonNullValue) {
        val lo = decode(st.genericGetMin); val hi = decode(st.genericGetMax)
        acc = Some(acc.fold((lo, hi)) { case (l, h) =>
          (if (ord.lt(lo, l)) lo else l, if (ord.gt(hi, h)) hi else h) })
      } else if (st == null || !st.isNumNullsSet || st.getNumNulls < c.getValueCount)
        return None
    }
    acc
  }

  /** Run `f` once per path and collect its results: on a driver pool of
    * at most 16 threads up to [[TokenTable.StatsDistributeThreshold]]
    * paths (job-scheduling latency would dominate the work), as one
    * `mapPartitions` job over the path list above it (a 10^6-file commit
    * must not funnel through 16 driver threads). Hadoop `Configuration`
    * is not serializable: the job ships `conf`'s entries and rebuilds it
    * once per partition, so `f` must be serializable. The encoder is
    * by-name: only the job needs one, and deriving a case-class encoder
    * costs milliseconds of reflection per call.
    */
  private[table] def perFile[T](spark: SparkSession, conf: Configuration,
      paths: Seq[String])(f: (String, Configuration) => Option[T])(
      implicit enc: => Encoder[T]): Seq[T] = {
    if (paths.isEmpty) return Nil
    if (paths.size <= TokenTable.StatsDistributeThreshold) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, paths.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futures = paths.map(p => Future(f(p, conf)))
      try Await.result(Future.sequence(futures), Duration.Inf).flatten
      finally pool.shutdown()
    } else {
      val confEntries: Seq[(String, String)] = {
        val b = Seq.newBuilder[(String, String)]
        conf.iterator().forEachRemaining(e => b += (e.getKey -> e.getValue))
        b.result()
      }
      val slices = math.min(paths.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.createDataset(paths)(Encoders.STRING)
        .repartition(slices)
        .mapPartitions { it =>
          val c = new Configuration(false)
          confEntries.foreach { case (k, v) => c.set(k, v) }
          it.flatMap(p => f(p, c))
        }(enc)
        .collect().toSeq
    }
  }

  /** Recursive listing of the .parquet files under `absDir`, through
    * the Hadoop FileSystem of the directory's URI (works for any
    * configured filesystem, not just local disk). O(#files in ONE
    * commit's output dir) — bounded by the write's partition count, not
    * the table size.
    */
  def listParquet(absDir: String, conf: Configuration): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(absDir)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        out += st.getPath.toUri.getPath
    }
    out.result()
  }
}
