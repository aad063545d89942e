package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Row-group-level copies: the hot/cold split of a row-level rewrite
  * (MERGE, DELETE, UPDATE) and compaction's concatenation, both through
  * one bytewise row-group copier.
  *
  * A rewrite's file-level classification marks whole files as touched,
  * but a touched file's ROW GROUPS carry their own footer min/max —
  * usually much tighter than the file's. A row group the caller's test
  * proves cold (no row can match) carries into the new snapshot
  * VERBATIM (`ParquetFileWriter.appendRowGroups` — a positioned byte
  * copy of the column chunks, zero decode, zero re-encode). Only the hot
  * row groups go through the decode → filter → re-encode rewrite.
  *
  * At 100 TB this is the difference between a rewrite whose cost tracks
  * the predicate's footprint and one that re-encodes every file it
  * grazes: a 512 MB file with 32 row groups and one hit key range
  * copies ~31/32 of its bytes at IO speed and decodes ~1/32.
  *
  * Classification reads footers only (no data pages); the copy streams
  * column chunks. Both run per file on [[FileStats.perFile]]'s fan-out,
  * the same one manifest stats collection uses.
  */
object RowGroupCopy {

  /** One touched file's outcome.
    *
    * @param origPath   table-relative original path
    * @param allCold    no row group is hot — the original file survives
    *                   UNTOUCHED (file-level classification was
    *                   over-approximate; zero IO here)
    * @param decodeRel  what the rewrite must DECODE: the original path
    *                   when every group is hot (no copy made), else the
    *                   hot-extract file containing only hot groups
    * @param decodeBytes bytes the rewrite will decode for this file
    * @param coldFiles  manifest rows of the bytewise-copied cold groups —
    *                   one output file per contiguous cold RUN, so no
    *                   cold file's [min,max] straddles a hot range and a
    *                   repeat rewrite over the same keys prunes them all
    *                   at file level (one combined file would span the
    *                   hot holes and be re-touched forever)
    */
  case class Split(
      origPath: String,
      allCold: Boolean,
      decodeRel: Option[String],
      decodeBytes: Long,
      coldFiles: Seq[DataFile])

  /** Split every touched file by row group. `hot` sees each group's
    * manifest-row view ([[FileStats.groupStats]]) and must answer true
    * whenever a row of the group might be rewritten (a false "hot"
    * decodes extra bytes; a false "cold" would lose a change). Cold runs
    * copy into `coldDirRel`, hot groups into `hotxDirRel` (both
    * table-relative), under names derived from the original path:
    * OVERWRITE semantics keep a crash-rerun at the same version
    * idempotent. `hot` ships into the distributed branch's closure.
    */
  def planAll(spark: SparkSession, location: String, relPaths: Seq[String],
      coldDirRel: String, hotxDirRel: String)(hot: DataFile => Boolean): Seq[Split] = {
    import spark.implicits._
    val rootUriPath = new Path(location).toUri.getPath
    FileStats.perFile(spark, spark.sessionState.newHadoopConf(), relPaths) { (p, c) =>
      Some(split(p, location, rootUriPath, coldDirRel, hotxDirRel, c, hot))
    }
  }

  private def split(relPath: String, location: String,
      rootUriPath: String, coldDirRel: String, hotxDirRel: String,
      conf: Configuration, hot: DataFile => Boolean): Split = {
    val inputFile = HadoopInputFile.fromPath(new Path(s"$location/$relPath"), conf)
    val reader = ParquetFileReader.open(inputFile)
    val (schema, kv, blocks) =
      try {
        val md = reader.getFooter.getFileMetaData
        (md.getSchema, md.getKeyValueMetaData, reader.getFooter.getBlocks.asScala.toSeq)
      } finally reader.close()

    val flags: Seq[Boolean] = blocks.map(b => hot(FileStats.groupStats(b)))
    if (!flags.contains(true))
      return Split(relPath, allCold = true, None, 0L, Nil)
    if (!flags.contains(false))
      return Split(relPath, allCold = false, Some(relPath), inputFile.getLength, Nil)
    val hotGroups = blocks.zip(flags).collect { case (b, true) => b }
    // Contiguous cold runs, in file order.
    val coldRuns = scala.collection.mutable.ArrayBuffer.empty[Seq[BlockMetaData]]
    var run = scala.collection.mutable.ArrayBuffer.empty[BlockMetaData]
    blocks.zip(flags).foreach { case (b, isHot) =>
      if (isHot) { if (run.nonEmpty) { coldRuns += run.toSeq; run.clear() } }
      else run += b
    }
    if (run.nonEmpty) coldRuns += run.toSeq

    // Deterministic output names: <sha1(relPath)>.parquet under each dir.
    val stem = java.security.MessageDigest.getInstance("SHA-1")
      .digest(relPath.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(20)
    def copy(groups: Seq[BlockMetaData], outRel: String): Path = {
      val out = new Path(s"$location/$outRel")
      copyRowGroups(out, schema, kv, Seq(inputFile -> groups), conf)
      out
    }
    val hotxRel = s"$hotxDirRel/hotx-$stem.parquet"
    val hotxPath = copy(hotGroups, hotxRel)
    // Manifest stats for each cold survivor: footer min/max + n_tok page
    // drain, one open of each (just-written) cold file.
    val coldStats = coldRuns.zipWithIndex.flatMap { case (groups, k) =>
      val p = copy(groups, s"$coldDirRel/cold-$stem-r$k.parquet")
      FileStats.statsForFile(p.toUri.getPath, rootUriPath, conf)
    }.toSeq
    val hotxLen = hotxPath.getFileSystem(conf).getFileStatus(hotxPath).getLen
    Split(relPath, allCold = false, Some(hotxRel), hotxLen, coldStats)
  }

  /** Input schemas differ — the caller must fall back to a decode
    * rewrite (concat copies chunks verbatim; it cannot convert).
    */
  final class SchemaMismatch(msg: String) extends RuntimeException(msg)

  /** Bytewise bin-packing concatenation: every row group of every input
    * becomes a row group of ONE output file, copied chunk-verbatim —
    * zero decode, zero re-encode, IO-speed. This is what makes
    * compaction a METADATA operation at 100 TB: the expensive part of a
    * rewrite is parquet record re-assembly (~25 MB/s/thread for token
    * arrays — measured, and codec-independent: the cost is per-element
    * writer calls, not compression), while a positioned chunk copy runs
    * at storage bandwidth. Per-chunk codecs ride along (parquet stores
    * the codec per column chunk), so mixed-codec inputs are fine;
    * differing SCHEMAS are not — those throw [[SchemaMismatch]] and the
    * caller re-encodes.
    *
    * Manifest stats are ADDITIVE from the inputs' manifest rows (min/max
    * fold in UTF8 order, sums add) — no re-read; any input with missing
    * or sentinel stats degrades the output to one
    * [[FileStats.statsForFile]] pass over the just-written file.
    */
  def concatFiles(inputs: Seq[DataFile], location: String, outRel: String,
      conf: Configuration): DataFile = {
    require(inputs.nonEmpty, "empty concat bin")
    val outPath = new Path(s"$location/$outRel")
    val footers = inputs.map { f =>
      val in = HadoopInputFile.fromPath(new Path(s"$location/${f.path}"), conf)
      val r = ParquetFileReader.open(in)
      try (in, r.getFooter.getFileMetaData, r.getFooter.getBlocks.asScala.toSeq)
      finally r.close()
    }
    val schema = footers.head._2.getSchema
    footers.find(_._2.getSchema != schema).foreach { case (in, md, _) =>
      throw new SchemaMismatch(
        s"concat schema mismatch: ${in.getPath} has ${md.getSchema}, expected $schema")
    }
    copyRowGroups(outPath, schema, footers.head._2.getKeyValueMetaData,
      footers.map { case (in, _, blocks) => in -> blocks }, conf)
    val bytes = outPath.getFileSystem(conf).getFileStatus(outPath).getLen

    val ord = graft.functions.Search.utf8Ordering
    val statted = inputs.forall(f =>
      f.minDocId != null && f.maxDocId != null &&
        f.minSource != null && f.maxSource != null &&
        f.minNtok <= f.maxNtok)
    if (statted)
      DataFile(
        path = outRel,
        bytes = bytes,
        rows = inputs.map(_.rows).sum,
        minDocId = inputs.map(_.minDocId).min(ord),
        maxDocId = inputs.map(_.maxDocId).max(ord),
        minNtok = inputs.map(_.minNtok).min,
        maxNtok = inputs.map(_.maxNtok).max,
        sumNtok = inputs.map(_.sumNtok).sum,
        minSource = inputs.map(_.minSource).min(ord),
        maxSource = inputs.map(_.maxSource).max(ord),
        // Exact even when the inputs' manifest counts are unknown: the
        // concat read every footer anyway.
        groups = footers.map(_._3.size).sum)
    else {
      val root = new Path(location).toUri.getPath
      FileStats.statsForFile(outPath.toUri.getPath, root, conf)
        .getOrElse(sys.error(s"statsForFile found no file at $outPath"))
    }
  }

  /** The one row-group copier: write `out` (OVERWRITE) holding, in
    * order, the given row groups of each input file, each copied as a
    * positioned byte range of its column chunks.
    */
  private def copyRowGroups(out: Path, schema: MessageType,
      kv: java.util.Map[String, String],
      inputs: Seq[(HadoopInputFile, Seq[BlockMetaData])],
      conf: Configuration): Unit = {
    val w = new ParquetFileWriter(
      HadoopOutputFile.fromPath(out, conf), schema,
      ParquetFileWriter.Mode.OVERWRITE,
      128L * 1024 * 1024, /* maxPaddingSize = */ 0)
    w.start()
    inputs.foreach { case (in, groups) =>
      val s = in.newStream()
      try w.appendRowGroups(s, groups.asJava, false)
      finally s.close()
    }
    w.end(kv)
  }
}
