package graft.maintain

import graft.SparkSpec
import graft.ingest.TokenGen
import graft.table.TokenTable
import java.nio.file.{Files, Paths}

/** Orphan GC at 10^4 orphans (M4): the inventory is still below
  * `ManifestDistributeThreshold`, so the sweep runs on Expire's driver
  * branch (no Spark job; `ExpireSpec` pins that branch's equivalence
  * with the distributed one) — with live data untouched and the grace
  * window respected.
  */
class GcSpec extends SparkSpec {

  test("GC deletes 10^4 orphans distributedly; live data and grace window respected") {
    val dir = tmpDir("gc")
    val t = TokenTable.create(spark, dir)
    (0 until 3).foreach { i =>
      t.append(TokenGen.asTokenRows(TokenGen.generate(
        spark, 200, idOffset = i * 200L, numPartitions = 2)))
    }
    val before = checksum(t.scan())

    // Plant 10^4 orphan files (an aborted job's leftovers).
    val orphanDir = Paths.get(dir, "data", "aborted-job")
    Files.createDirectories(orphanDir)
    (0 until 10000).foreach { i =>
      Files.write(orphanDir.resolve(f"part-$i%05d.parquet"), Array[Byte](1, 2, 3))
    }
    // Grace window: fresh files must survive (concurrent writer safety).
    val grace = Expire.run(t, retainLast = 1, graceMs = 24L * 3600 * 1000)
    assert(grace.deletedFiles == 0, "files inside the grace window must survive")

    val res = Expire.run(t, retainLast = 1, graceMs = 0)
    assert(res.deletedFiles >= 10000, s"only ${res.deletedFiles} deleted")
    assert(!Files.exists(orphanDir.resolve("part-00000.parquet")))
    assert(checksum(t.scan()) == before, "GC must never touch reachable data")
  }
}
