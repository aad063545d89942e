package perfbench

import graft.table.TokenTable

/** The head snapshot's file inventory, read by draining
  * `TokenTable.filesStream(current)` the way maintenance planning does.
  */
final case class Inventory(version: Long, manifests: Int, files: Long, bytes: Long,
    groups: Long, small: Long, sizes: Map[String, Long]) {
  def rowGroupsPerFile: Double = groups.toDouble / math.max(1L, files)
}

object Inventory {
  /** Drains the head's manifests; `small` counts files under `smallBytes`. */
  def read(t: TokenTable, smallBytes: Long = 0L): Inventory = {
    val snap = t.current
    val it = t.filesStream(snap)
    val sizes = Map.newBuilder[String, Long]
    var files, bytes, groups, small = 0L
    try it.foreach { f =>
      files += 1; bytes += f.bytes; groups += f.groups
      if (f.bytes < smallBytes) small += 1
      sizes += f.path -> f.bytes
    } finally it.close()
    Inventory(snap.version, snap.manifests.size, files, bytes, groups, small, sizes.result())
  }

  /** Timed read, recorded as a `table.manifest_read` span. */
  def probe(ctx: Ctx, t: TokenTable, smallBytes: Long = 0L): Inventory =
    ctx.trace.span("table.manifest_read")(read(t, smallBytes))
}
