package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.{Format, Manifests, TokenTable}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.GraftSqlBridge
import scala.jdk.CollectionConverters._

/** Expire's two branches and its crash order: below the inventory
  * threshold the orphan set is computed on the driver with no Spark
  * job; forcing the distributed branch deletes exactly the same paths;
  * and a crash after the expiry commit leaves only orphans the next run
  * collects.
  */
class ExpireSpec extends SparkSpec {

  private val hourMs = 3600L * 1000

  /** Four appends, a compaction (its inputs become unreachable once the
    * pre-compaction versions expire) and one more append, so the two
    * newest snapshots share the compaction's manifest.
    */
  private def compactedTable(prefix: String): TokenTable = {
    val t = TokenTable.create(spark, tmpDir(prefix))
    (0 until 4).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 200, idOffset = i * 200L, numPartitions = 2)))
    }
    Compact.run(t, targetBytes = 4L * 1024 * 1024, jobId = s"$prefix-c")
    t.append(TokenGen.asTokenRows(TokenGen.generate(
      spark, 200, idOffset = 800L, numPartitions = 2)))
    t
  }

  /** An aborted job's leftovers: a data dir no manifest references. */
  private def plantAbortedJob(t: TokenTable, name: String, files: Int): Unit = {
    val d = Paths.get(t.location, Format.DataDir, name)
    Files.createDirectories(d)
    (0 until files).foreach(i =>
      Files.write(d.resolve(f"part-$i%05d.parquet"), Array[Byte](1, 2, 3)))
  }

  private def walk(root: Path): List[Path] = {
    val st = Files.walk(root)
    try st.iterator().asScala.toList finally st.close()
  }

  /** Every file and dir under the table, table-relative. */
  private def onDisk(t: TokenTable): Set[String] = {
    val root = Paths.get(t.location)
    walk(root).map(p => root.relativize(p).toString).toSet
  }

  private def jobsIn[A](label: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"$label-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, label)
    val out = try body finally sc.clearJobGroup()
    GraftSqlBridge.drainListenerBus(spark)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Cache state of the manifest dirs among `paths` (table-relative). */
  private def cachedManifests(t: TokenTable, paths: Set[String]): Map[String, Boolean] =
    paths.filter(_.startsWith(s"${Format.Metadata}/manifest-")).map(m =>
      m -> Manifests.isCached(s"${t.location}/$m", spark.sessionState.newHadoopConf())).toMap

  test("below the inventory threshold Expire runs zero Spark jobs") {
    val t = compactedTable("expire-jobs")
    plantAbortedJob(t, "aborted-job", 3)
    val before = checksum(t.scan())
    val oldest = t.snapshotAt(1)
    assert(checksum(t.scan(oldest))._1 == 200) // its manifests are cached
    val onDiskBefore = onDisk(t)
    val (res, jobs) = jobsIn("expire")(Expire.run(t, retainLast = 1, graceMs = 0))
    assert(jobs == 0, s"$jobs Spark jobs for a driver-sized expiry")
    assert(res.expiredSnapshots.nonEmpty && res.deletedFiles > 3)
    assert(!Files.exists(Paths.get(t.location, "data/aborted-job/part-00000.parquet")))
    assert(checksum(t.scan()) == before)
    // The deleted manifest dirs left the cache, and the expired version
    // fails to read as it did before there was a cache.
    val evicted = cachedManifests(t, onDiskBefore -- onDisk(t))
    assert(oldest.manifests.forall(evicted.contains) && evicted.values.forall(!_), evicted)
    intercept[Exception](t.snapshotAt(1))
    intercept[java.io.FileNotFoundException](checksum(t.scan(oldest)))
  }

  test("driver and distributed branches delete the identical path set") {
    val a = compactedTable("expire-twin")
    plantAbortedJob(a, "aborted-job", 5)
    // Everything so far is older than the grace window...
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2 * hourMs)
    val root = Paths.get(a.location)
    walk(root).foreach(Files.setLastModifiedTime(_, old))
    // ...except one unreachable file a concurrent writer may still own.
    plantAbortedJob(a, "in-flight-job", 1)

    val twinRoot = Paths.get(tmpDir("expire-twin-b"))
    val copied = walk(root)
    copied.foreach { p =>
      val q = twinRoot.resolve(root.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
    // Creating children touched the copied dirs: restore their times.
    copied.filter(Files.isDirectory(_)).foreach(p =>
      Files.setLastModifiedTime(twinRoot.resolve(root.relativize(p).toString),
        Files.getLastModifiedTime(p)))
    val b = TokenTable.open(spark, twinRoot.toString)

    val scans = a.current.version - 1 to a.current.version
    val want = scans.map(v => checksum(a.scan(a.snapshotAt(v))))
    val (onDiskA, onDiskB) = (onDisk(a), onDisk(b))
    assert(onDiskA == onDiskB)

    // Every manifest of both twins is cached before the expiry.
    Seq(a, b).foreach(t => Format.liveVersions(t.location).foreach(v =>
      t.filesLocal(t.snapshotAt(v))))
    val (resA, jobsA) = jobsIn("expire-distributed")(
      Expire.run(a, retainLast = 2, graceMs = hourMs, driverLimit = 0))
    val (resB, jobsB) = jobsIn("expire-driver")(
      Expire.run(b, retainLast = 2, graceMs = hourMs))
    assert(jobsA > 0 && jobsB == 0, s"distributed ran $jobsA jobs, driver $jobsB")

    val deletedA = onDiskA -- onDisk(a)
    val deletedB = onDiskB -- onDisk(b)
    assert(deletedA == deletedB)
    // Both branches evict the manifest dirs they delete.
    assert(cachedManifests(a, deletedA).values.forall(!_))
    assert(cachedManifests(b, deletedB).values.forall(!_))
    assert(resA == resB)
    assert(resA.expiredSnapshots == (0L until a.current.version - 1))
    assert((0 until 5).forall(i => deletedA(f"data/aborted-job/part-$i%05d.parquet")))
    assert(deletedA.exists(_.startsWith(s"${Format.Metadata}/manifest-")))
    assert(deletedA.exists(p => p.startsWith(s"${Format.DataDir}/") &&
      !p.contains("aborted-job") && p.endsWith(".parquet")),
      "the compaction's superseded files must be collected")
    assert(Files.exists(root.resolve("data/in-flight-job/part-00000.parquet")),
      "a file inside the grace window must survive")
    assert(scans.map(v => checksum(a.scan(a.snapshotAt(v)))) == want)
    assert(scans.map(v => checksum(b.scan(b.snapshotAt(v)))) == want)
  }

  test("a crash after the expiry commit leaves orphans the next run collects") {
    val t = compactedTable("expire-crash")
    val live = t.current.version - 1 to t.current.version
    val gone = 0L until live.head
    def reach(vs: Seq[Long]): Set[String] = vs.flatMap { v =>
      val s = t.snapshotAt(v)
      s.manifests ++ t.filesLocal(s).map(_.path)
    }.toSet
    val orphans = reach(gone) -- reach(live)
    assert(orphans.exists(_.startsWith(s"${Format.DataDir}/")))
    val want = live.map(v => checksum(t.scan(t.snapshotAt(v))))

    // The state a crash leaves between the two halves of a run: the
    // expired JSONs are deleted, their unreachable files are not.
    gone.foreach(v => Files.delete(Format.versionFile(t.location, v)))
    assert(Format.liveVersions(t.location) == live)

    val res = Expire.run(t, retainLast = live.size, graceMs = 0)
    assert(res.expiredSnapshots.isEmpty)
    assert(res.deletedFiles == orphans.size)
    orphans.foreach(p => assert(!Files.exists(Paths.get(t.location, p)), s"$p survived"))
    assert(live.map(v => checksum(t.scan(t.snapshotAt(v)))) == want)
  }
}
