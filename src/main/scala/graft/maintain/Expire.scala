package graft.maintain

import graft.table.{DataFile, Format, Manifests, TokenTable}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Dataset
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Snapshot expiry + orphan-file GC (north-star M4).
  *
  * Expiry is committed first: the expired snapshot JSONs are deleted
  * before any file, so a crash mid-GC never leaves a live version whose
  * files are gone — the leftovers are plain orphans the next run's
  * listing collects. Then every data file and manifest dir on disk
  * that no retained snapshot reaches, and that is older than the grace
  * cutoff, is deleted; a concurrent reader of a retained snapshot
  * never loses a file. The deleted manifest dirs leave the
  * decoded-manifest cache ([[Manifests.evict]]).
  *
  * The orphan set is `onDisk − reachable`, computed one of two ways:
  *  - **on the driver, with no Spark job**, while both the streamed
  *    reachable manifest rows and the walked on-disk paths stay within
  *    [[TokenTable.ManifestDistributeThreshold]] — the same
  *    driver/distributed line `writeSurvivorManifest` draws. Each
  *    distinct retained manifest dir is streamed once
  *    ([[Manifests.stream]]) into a path set, the first-level units
  *    are walked in turn ([[walkUnit]]), and the difference is deleted
  *    ([[deleteIfStale]]);
  *  - **distributed** past that line, where both the listing and the
  *    manifests are big data: the distinct manifest dirs are read in
  *    one Parquet scan, the listing fans out one walk task per
  *    first-level unit (the driver only enumerates job dirs), the
  *    difference is a Dataset `except` (anti join) and deletes run
  *    inside `mapPartitions` — no driver-side per-file loop.
  */
object Expire {

  case class Result(expiredSnapshots: Seq[Long], deletedFiles: Long)

  /** Table-relative paths of every data file listed in `manifestDirs`,
    * plus the manifest dirs themselves, as a Dataset: one Parquet scan
    * over the distinct dirs. A data path listed by two manifests
    * repeats; the set difference in [[run]] does not care.
    */
  def reachable(table: TokenTable, manifestDirs: Seq[String]): Dataset[String] = {
    val spark = table.spark
    import spark.implicits._
    val dataPaths =
      if (manifestDirs.isEmpty) spark.emptyDataset[String]
      else spark.read
        .schema(implicitly[org.apache.spark.sql.Encoder[DataFile]].schema)
        .parquet(manifestDirs.map(m => s"${table.location}/$m"): _*)
        .select("path").as[String]
    // Manifest parquet dirs contain part files; mark the dir prefix.
    dataPaths.union(manifestDirs.toDS())
  }

  /** Walk one table-relative subtree: either the data files (regular
    * *.parquet) or the manifest dirs under it, at most `limit` paths.
    * Static so the task closure serializes cleanly.
    */
  def walkUnit(root: String, sub: String, dirsOnly: Boolean,
      limit: Int = Int.MaxValue): Seq[String] = {
    val rootP = Paths.get(root)
    val p = rootP.resolve(sub)
    if (!Files.isDirectory(p)) return Nil
    val st = Files.walk(p)
    try {
      st.iterator().asScala
        .filter(q =>
          if (dirsOnly) Files.isDirectory(q) && q.getFileName.toString.startsWith("manifest-")
          else Files.isRegularFile(q) && q.getFileName.toString.endsWith(".parquet"))
        .map(q => rootP.relativize(q).toString)
        .take(limit)
        .toSeq
    } finally st.close()
  }

  /** The first-level units of the table dir, as (unit, dirsOnly): the
    * job/commit dirs under `data/` list their parquet files; each
    * manifest dir is ITS OWN unit (walking the whole metadata tree as
    * one unit would serialize O(#snapshots x #manifest-files) paths
    * through a single straggler task). [[walkUnit]] on a manifest dir
    * emits the dir itself; version JSONs are not directories and emit
    * nothing. O(#jobs + #manifests) names, on the driver.
    */
  private def units(root: Path): Seq[(String, Boolean)] = {
    def firstLevel(sub: String): Seq[String] =
      if (!Files.isDirectory(root.resolve(sub))) Nil
      else {
        val st = Files.list(root.resolve(sub))
        try st.iterator().asScala.map(p => root.relativize(p).toString).toSeq
        finally st.close()
      }
    firstLevel(Format.DataDir).map(u => (u, false)) ++
      firstLevel(Format.Metadata).map(u => (u, true))
  }

  /** All table-relative candidate paths currently on disk (data files +
    * manifest dirs), as a Dataset: the driver enumerates only the
    * first-level units; executors walk them, so a 10^6-file listing is
    * a parallel scan, not a driver stall.
    */
  def listing(table: TokenTable): Dataset[String] = {
    val spark = table.spark
    import spark.implicits._
    val root = Paths.get(table.location).toAbsolutePath
    val us = units(root)
    val rootStr = root.toString
    val par = math.max(1, math.min(us.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(us)
      .repartition(par)
      .flatMap { case (sub, dirsOnly) => walkUnit(rootStr, sub, dirsOnly) }
  }

  /** Delete one orphan if it is older than the cutoff; directories
    * (manifest dirs) are removed recursively. Returns whether a delete
    * happened. Runs on the driver or inside an executor task.
    */
  def deleteIfStale(root: String, rel: String, cutoffMs: Long): Boolean = {
    val p = Paths.get(root).resolve(rel)
    val stale =
      try Files.getLastModifiedTime(p).toMillis <= cutoffMs
      catch { case _: java.io.IOException => false }
    if (!stale) return false
    if (Files.isDirectory(p)) {
      val st = Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try st.iterator().asScala.foreach(Files.deleteIfExists(_))
      finally st.close()
      true
    } else Files.deleteIfExists(p)
  }

  /** The orphan candidates `onDisk − reachable`, computed on the driver
    * with no Spark job; None once either side passes `limit` paths (an
    * open manifest stream is closed before returning).
    */
  private def driverOrphans(table: TokenTable, manifestDirs: Seq[String],
      limit: Long): Option[Seq[String]] = {
    val keep = mutable.HashSet.from(manifestDirs)
    var n = 0L
    val it = Manifests.stream(table.location, manifestDirs,
      table.spark.sessionState.newHadoopConf())
    while (n <= limit && it.hasNext) { keep += it.next().path; n += 1 }
    if (n > limit) { it.close(); return None }

    val root = Paths.get(table.location).toAbsolutePath
    val rootStr = root.toString
    val onDisk = Seq.newBuilder[String]
    n = 0L
    val us = units(root).iterator
    while (n <= limit && us.hasNext) {
      val (sub, dirsOnly) = us.next()
      val budget = math.min(limit - n + 1, Int.MaxValue).toInt
      val paths = walkUnit(rootStr, sub, dirsOnly, budget)
      onDisk ++= paths; n += paths.size
    }
    if (n > limit) None else Some(onDisk.result().filterNot(keep.contains))
  }

  /** Expire all but the last `retainLast` snapshots, then GC every file
    * unreachable from the retained set. Returns what was removed.
    *
    * @param graceMs files younger than this are never deleted even when
    *                unreachable — they may belong to a concurrent
    *                not-yet-committed writer (the format explicitly
    *                supports concurrent appends via CAS rebase).
    *                Production default 1h; tests pass 0.
    */
  def run(table: TokenTable, retainLast: Int,
      graceMs: Long = 3600L * 1000): Result =
    run(table, retainLast, graceMs, TokenTable.ManifestDistributeThreshold)

  /** [[run]] with the driver/distributed line as a parameter: past
    * `driverLimit` reachable rows or on-disk paths the orphan set is
    * computed distributed (0 forces that branch on any non-empty table).
    */
  private[maintain] def run(table: TokenTable, retainLast: Int, graceMs: Long,
      driverLimit: Long): Result = {
    val spark = table.spark
    import spark.implicits._
    val versions = Format.liveVersions(table.location)
    val retained = versions.takeRight(math.max(1, retainLast))
    val expired = versions.diff(retained)
    val manifestDirs = retained.flatMap(v => table.snapshotAt(v).manifests).distinct

    // Commit the expiry before collecting garbage: once the JSONs are
    // gone, whatever the GC below leaves behind is an ordinary orphan.
    expired.foreach(v => Files.deleteIfExists(Format.versionFile(table.location, v)))

    val cutoff = System.currentTimeMillis() - graceMs
    val rootStr = Paths.get(table.location).toAbsolutePath.toString
    val manifestPrefix = s"${Format.Metadata}/manifest-"
    val (deleted, deletedManifests) = driverOrphans(table, manifestDirs, driverLimit) match {
      case Some(orphans) =>
        val gone = orphans.filter(deleteIfStale(rootStr, _, cutoff))
        (gone.size.toLong, gone.filter(_.startsWith(manifestPrefix)))
      case None =>
        // A path is orphaned only if no retained manifest references it
        // and it is not a retained manifest dir. Each task reports its
        // delete count and the manifest dirs among its deletes.
        val perTask = listing(table).except(reachable(table, manifestDirs))
          .mapPartitions { it =>
            var n = 0L
            val manifests = Seq.newBuilder[String]
            it.foreach(rel => if (deleteIfStale(rootStr, rel, cutoff)) {
              n += 1
              if (rel.startsWith(manifestPrefix)) manifests += rel
            })
            Iterator.single((n, manifests.result()))
          }.collect()
        (perTask.map(_._1).sum, perTask.toSeq.flatMap(_._2))
    }
    Manifests.evict(deletedManifests.map(m => s"${table.location}/$m"),
      spark.sessionState.newHadoopConf())
    Result(expired, deleted)
  }
}
