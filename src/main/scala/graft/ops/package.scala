package graft

import org.apache.spark.sql.DataFrame

package object ops {

  /** The one lineage cut for the ops: materialize a subtree consumed by
    * more than one downstream branch, or an iteration's state (guide §5:
    * cache when reused AND recompute is expensive). With a reliable
    * checkpoint dir configured (`sc.setCheckpointDir`, cluster FS) this
    * is an eager `checkpoint`, so a lost executor replays from durable
    * storage; otherwise an eager `localCheckpoint` (MEMORY_AND_DISK
    * blocks, freed by the ContextCleaner once the result is dropped),
    * which is fast but fails the job if an executor holding it is lost.
    */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(true)
}
