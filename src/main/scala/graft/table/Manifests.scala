package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Driver-side manifest parquet writer (Iceberg-style: metadata
  * operations must not schedule cluster jobs). The Spark-job form
  * (`Dataset.write.parquet`) costs a fixed ~0.3 s of job scheduling per
  * COMMIT — pure serial floor under the ingest path's 24 commits and
  * invisible to scaling (it amortizes with data size, but the bench's
  * small commits paid it 24x per cycle). Small, driver-held manifests
  * (every append / compaction / clustering commit) go through this
  * writer; genuinely big survivor sets still use
  * [[TokenTable.writeManifestDS]], which distributes.
  *
  * The file lands as `manifest-<uuid>/part-00000.parquet` — the same
  * directory shape the Spark writer produced, so the GC's
  * directory-granular reachability ([[graft.maintain.Expire]]) and
  * every `spark.read.parquet(manifestDir)` reader are unchanged.
  */
object Manifests {

  /** Parquet schema mirroring what `Seq[DataFile].toDS().write` wrote:
    * BINARY(STRING) optionals for strings, required INT32/INT64 for the
    * primitive fields — Spark reads it back into the identical
    * DataFrame schema, so `.as[DataFile]` round-trips.
    */
  private val Schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary path (STRING);
      |  required int64 bytes;
      |  required int64 rows;
      |  optional binary minDocId (STRING);
      |  optional binary maxDocId (STRING);
      |  required int32 minNtok;
      |  required int32 maxNtok;
      |  required int64 sumNtok;
      |  optional binary minSource (STRING);
      |  optional binary maxSource (STRING);
      |  optional int32 groups;
      |}""".stripMargin)

  /** Write `rows` as one parquet file under `absDir` (created).
    *
    * Paths resolve through Hadoop's `FileSystem` API obtained from the
    * directory URI (not `java.nio`), so a table whose location moves off
    * local disk (HDFS/object store on a real cluster) keeps working —
    * callers pass the session's Hadoop conf so configured filesystems
    * and credentials are honored.
    */
  def writeLocal(absDir: String, rows: Seq[DataFile],
      conf: Configuration = new Configuration()): Unit = {
    val dir = new org.apache.hadoop.fs.Path(absDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val file = new org.apache.hadoop.fs.Path(s"$absDir/part-00000.parquet")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(file, conf))
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .build()
    val gf = new SimpleGroupFactory(Schema)
    try rows.foreach { f =>
      val g = gf.newGroup()
      if (f.path != null) g.append("path", f.path)
      g.append("bytes", f.bytes)
      g.append("rows", f.rows)
      if (f.minDocId != null) g.append("minDocId", f.minDocId)
      if (f.maxDocId != null) g.append("maxDocId", f.maxDocId)
      g.append("minNtok", f.minNtok)
      g.append("maxNtok", f.maxNtok)
      g.append("sumNtok", f.sumNtok)
      if (f.minSource != null) g.append("minSource", f.minSource)
      if (f.maxSource != null) g.append("maxSource", f.maxSource)
      g.append("groups", f.groups)
      writer.write(g)
    } finally writer.close()
    // Write-through: the planner that runs right after this commit
    // reads the rows it just wrote without decoding them back.
    remember(key(absDir, conf), rows.toArray)
  }

  /** An Iterator that can be CLOSED before exhaustion. Every manifest
    * stream returns this shape: a caller that drains (or whose read
    * fails) needs nothing — the underlying reader closes itself — but a
    * caller that stops early (take/limit/find) MUST `close()` or the
    * current part file's handle is stranded (VERDICT r4 task 7).
    * Idempotent close; `hasNext` is false after close.
    */
  trait CloseableIterator[A] extends Iterator[A] with AutoCloseable

  /** STREAM manifest rows from a manifest directory (driver- or
    * Spark-written parts) without a Spark job and without materializing
    * the row set: one row at a time off the parquet pages, so a caller
    * applying a filter (the [[ManifestFileIndex]] prune) holds only the
    * survivors. Rows stream in deterministic part-file order; at most
    * ONE part reader is open at a time — it closes at part exhaustion,
    * on a mid-stream read failure (ADVICE r3), and on `close()` for
    * early-abandoning callers.
    */
  private def readLocal(absDir: String, conf: Configuration): CloseableIterator[DataFile] = {
    val dir = new org.apache.hadoop.fs.Path(absDir)
    val fs = dir.getFileSystem(conf)
    requireDir(fs, dir, absDir)
    decodes.incrementAndGet()
    val parts = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)

    new CloseableIterator[DataFile] {
      private val partIt = parts.iterator
      private var reader: ParquetReader[Group] = null
      private var nextGroup: Group = advance()

      private def advance(): Group = {
        while (true) {
          if (reader == null) {
            if (!partIt.hasNext) return null
            reader = ParquetReader
              .builder(new GroupReadSupport(), partIt.next().getPath)
              .withConf(conf).build()
          }
          val g =
            try reader.read()
            catch { case t: Throwable => close(); throw t }
          if (g != null) return g
          reader.close(); reader = null // part exhausted: next part
        }
        null // unreachable
      }

      override def hasNext: Boolean = nextGroup != null

      override def next(): DataFile = {
        val g = nextGroup
        if (g == null) throw new NoSuchElementException("manifest stream exhausted")
        nextGroup = advance()
        def optStr(f: String): String =
          if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
            g.getString(f, 0)
          else null
        DataFile(
          path = optStr("path"),
          bytes = g.getLong("bytes", 0),
          rows = g.getLong("rows", 0),
          minDocId = optStr("minDocId"), maxDocId = optStr("maxDocId"),
          minNtok = g.getInteger("minNtok", 0),
          maxNtok = g.getInteger("maxNtok", 0),
          sumNtok = g.getLong("sumNtok", 0),
          minSource = optStr("minSource"), maxSource = optStr("maxSource"),
          // Absent in pre-field manifests: 0 = unknown.
          groups =
            if (g.getType.containsField("groups") &&
                g.getFieldRepetitionCount("groups") > 0)
              g.getInteger("groups", 0)
            else 0)
      }

      override def close(): Unit = {
        if (reader != null) { reader.close(); reader = null }
        nextGroup = null
      }
    }
  }

  /** Stream a whole SNAPSHOT'S inventory: the concatenation of its
    * manifests' rows, one manifest at a time, closeable mid-stream, each
    * manifest served from the decoded-manifest cache when it is there.
    * Shared by [[TokenTable.filesStream]], [[ManifestFileIndex]] and
    * Expire's reachable set, so there is one implementation of the
    * cross-manifest handle handoff and one place that decodes manifests.
    */
  def stream(location: String, manifests: Seq[String],
      conf: Configuration): CloseableIterator[DataFile] =
    new CloseableIterator[DataFile] {
      private val mans = manifests.iterator
      private var cur: CloseableIterator[DataFile] = null
      private var closed = false

      override def hasNext: Boolean = {
        if (closed) return false
        while (cur == null || !cur.hasNext) {
          if (cur != null) { cur.close(); cur = null }
          if (!mans.hasNext) return false
          cur = open(s"$location/${mans.next()}", conf)
        }
        true
      }

      override def next(): DataFile = {
        if (!hasNext) throw new NoSuchElementException("inventory stream exhausted")
        cur.next()
      }

      override def close(): Unit = {
        closed = true
        if (cur != null) { cur.close(); cur = null }
      }
    }

  // ------------------------------------------------ decoded-manifest cache

  /** Decoded manifest rows by qualified manifest dir, JVM-wide. A
    * manifest dir (`manifest-<uuid>`) is written once and never
    * rewritten, so its rows never go stale; the only event that ends
    * an entry's truth is the dir's deletion, which Expire evicts and
    * every hit re-checks ([[requireDir]]). Least-recently-used entries
    * go first once the total passes [[TokenTable.ManifestCacheBytes]];
    * a manifest larger than that bound is never held and streams off
    * its parquet parts on every read.
    */
  private final class Entry(val rows: Array[DataFile], val bytes: Long)
  private val cache = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
  private var cachedBytes = 0L
  private val decodes = new java.util.concurrent.atomic.AtomicLong()

  /** Manifest dirs decoded from parquet (cache misses) since JVM start. */
  def decodeCount: Long = decodes.get()

  /** Whether `absDir`'s rows are held decoded. */
  def isCached(absDir: String, conf: Configuration): Boolean =
    cache.synchronized(cache.containsKey(key(absDir, conf)))

  /** Drop the entries of manifest dirs that were deleted. */
  def evict(absDirs: Iterable[String], conf: Configuration): Unit = {
    val keys = absDirs.map(key(_, conf))
    cache.synchronized(keys.foreach(forget))
  }

  /** A snapshot's manifests outlive the snapshot (GC only collects
    * manifests unreachable from every RETAINED version), so a missing
    * dir is corruption: fail loudly, on a cache hit as on a miss — a
    * silent empty iterator (or stale cached rows) would turn a damaged
    * table into a plausible-looking scan.
    */
  private def requireDir(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, absDir: String): Unit =
    if (!fs.exists(dir))
      throw new java.io.FileNotFoundException(
        s"manifest directory missing (table corruption?): $absDir")

  private def key(absDir: String, conf: Configuration): String = {
    val dir = new org.apache.hadoop.fs.Path(absDir)
    dir.getFileSystem(conf).makeQualified(dir).toString
  }

  /** Heap one decoded row holds: the object plus its strings. */
  private def heapBytes(f: DataFile): Long = {
    def str(s: String): Long = if (s == null) 0L else 40L + s.length
    80L + str(f.path) + str(f.minDocId) + str(f.maxDocId) +
      str(f.minSource) + str(f.maxSource)
  }

  private def forget(k: String): Unit = {
    val old = cache.remove(k)
    if (old != null) cachedBytes -= old.bytes
  }

  private def remember(k: String, rows: Array[DataFile]): Unit = {
    val bytes = rows.iterator.map(heapBytes).sum
    if (bytes <= TokenTable.ManifestCacheBytes) cache.synchronized {
      forget(k)
      val lru = cache.values().iterator()
      while (cachedBytes + bytes > TokenTable.ManifestCacheBytes && lru.hasNext) {
        cachedBytes -= lru.next().bytes
        lru.remove()
      }
      cache.put(k, new Entry(rows, bytes))
      cachedBytes += bytes
    }
  }

  /** One manifest's rows: from the cache after a stat of the dir, or
    * decoded off its parquet parts, kept once the stream is drained
    * within the byte bound (an abandoned stream keeps nothing).
    */
  private def open(absDir: String, conf: Configuration): CloseableIterator[DataFile] = {
    val dir = new org.apache.hadoop.fs.Path(absDir)
    val fs = dir.getFileSystem(conf)
    val k = fs.makeQualified(dir).toString
    val entry = cache.synchronized(cache.get(k))
    if (entry != null) {
      try requireDir(fs, dir, absDir)
      catch { case e: java.io.FileNotFoundException => cache.synchronized(forget(k)); throw e }
      new CloseableIterator[DataFile] {
        private var rows = entry.rows.iterator
        override def hasNext: Boolean = rows.hasNext
        override def next(): DataFile = rows.next()
        override def close(): Unit = rows = Iterator.empty
      }
    } else {
      val rows = readLocal(absDir, conf)
      new CloseableIterator[DataFile] {
        private var kept = Array.newBuilder[DataFile]
        private var bytes = 0L
        override def hasNext: Boolean = {
          val more = rows.hasNext
          if (!more && kept != null) { remember(k, kept.result()); kept = null }
          more
        }
        override def next(): DataFile = {
          val f =
            try rows.next()
            catch { case t: Throwable => kept = null; throw t }
          if (kept != null) {
            bytes += heapBytes(f)
            if (bytes <= TokenTable.ManifestCacheBytes) kept += f else kept = null
          }
          f
        }
        override def close(): Unit = { kept = null; rows.close() }
      }
    }
  }
}
