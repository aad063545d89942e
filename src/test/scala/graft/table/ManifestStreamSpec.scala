package graft.table

import graft.SparkSpec
import graft.ingest.TokenGen

/** Manifest streaming handle discipline (VERDICT r4 task 7): the
  * inventory iterators are closeable, and an early-abandoning caller
  * (take/limit/find) that closes them verifiably releases the open
  * part-file handle — checked against /proc/self/fd, not inferred.
  */
class ManifestStreamSpec extends SparkSpec {

  /** Open file descriptors of this JVM whose target path contains
    * `substr` (Linux: /proc/self/fd symlinks).
    */
  private def openFds(substr: String): Int = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/fd"))
    try st.iterator().asScala.count { p =>
      try java.nio.file.Files.readSymbolicLink(p).toString.contains(substr)
      catch { case _: Exception => false }
    } finally st.close()
  }

  /** The append cached its manifest as it wrote it; drop the entry so
    * the stream reads the parquet part (the handle under test).
    */
  private def uncache(t: TokenTable, manifestRel: String): Unit =
    Manifests.evict(Seq(s"${t.location}/$manifestRel"), spark.sessionState.newHadoopConf())

  test("filesStream: early abandon + close releases the manifest handle") {
    val dir = tmpDir("manleak")
    val t = TokenTable.create(spark, dir)
    // Two data files -> a 2-row manifest, so one next() leaves the
    // reader mid-part (prefetch holds row 2, handle open).
    t.append(TokenGen.asTokenRows(TokenGen.generate(
      spark, 200, idOffset = 0, numPartitions = 2)))
    val manifestRel = t.current.manifests.head
    uncache(t, manifestRel)
    assert(openFds(manifestRel) == 0, "no handle before the stream opens")

    val it = t.filesStream(t.current)
    assert(it.hasNext)
    it.next() // take(1)-style early abandon: stream NOT drained
    assert(openFds(manifestRel) >= 1,
      "mid-stream the reader must hold the manifest part open")
    it.close()
    assert(openFds(manifestRel) == 0, "close() must release the handle")
    assert(!it.hasNext, "a closed stream reports exhaustion")
    it.close() // idempotent
  }

  test("filesStream: draining closes the handle without an explicit close") {
    val dir = tmpDir("mandrain")
    val t = TokenTable.create(spark, dir)
    t.append(TokenGen.asTokenRows(TokenGen.generate(
      spark, 200, idOffset = 0, numPartitions = 2)))
    val manifestRel = t.current.manifests.head
    uncache(t, manifestRel)
    val it = t.filesStream(t.current)
    assert(it.size == 2) // drains
    assert(openFds(manifestRel) == 0, "exhaustion closes the last part")
  }

  test("filesStream: rows and order match the distributed manifest read") {
    val dir = tmpDir("manorder")
    val t = TokenTable.create(spark, dir)
    (0 until 3).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 100, idOffset = i * 100L, numPartitions = 2)))
    }
    val streamed = t.filesStream(t.current).toSeq
    val distributed = t.files(t.current).collect().toSeq
    assert(streamed.toSet == distributed.toSet)
    assert(streamed.size == 6)
  }
}
