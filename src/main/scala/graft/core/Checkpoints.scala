package graft.core

import org.apache.spark.sql.DataFrame

/**
 * Per-round eager materialization for iterative operators (BFS levels,
 * connected components, kNN ring expansion). Each round's small scalar state
 * must be cut from its lineage, or every action re-runs the whole round chain
 * (recompute amplification across rounds). kNN ring expansion uses it only in
 * its big-probe regime: a small probe side keeps its round state on the
 * driver, checkpoints nothing and never touches the checkpoint dir. Two modes:
 *
 *  - `None` (default): `localCheckpoint(eager = true)` — blocks live in
 *    executor block managers. Fastest, and exactly right in local mode; but
 *    on a real cluster a lost executor drops its blocks and the iteration
 *    aborts mid-job (local checkpoints are not fault tolerant by contract).
 *  - `Some(dir)`: reliable `checkpoint(eager = true)` into `dir` (HDFS/S3/
 *    NFS-backed). One extra write+read of each round's state per round buys
 *    executor-loss survival — the form a 1000-executor cluster runs.
 *
 * Reliable-mode operational notes:
 *  - checkpoint files are retained until the context stops unless
 *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set (then
 *    they are GC'd once the checkpointed frames are unreachable) — budget
 *    O(rounds × state size) in `dir`, or enable the cleaner;
 *  - SparkContext has ONE global checkpoint dir. `strategy` repoints it at
 *    operator entry — safe for the normal sequential case, but CONCURRENT
 *    iterative operators passing different dirs race (last setter wins for
 *    both jobs' files): run concurrent operators with the same dir.
 */
object Checkpoints {

  /** Returns the per-round materialization function for this job. */
  def strategy(anchor: DataFrame, checkpointDir: Option[String]): DataFrame => DataFrame =
    checkpointDir match {
      case Some(dir) =>
        // SparkContext has ONE global checkpoint dir; repointing is fine for
        // the normal sequential case (each operator sets it at entry, before
        // any of its rounds checkpoint), but two CONCURRENT operators passing
        // different dirs would race — last setter wins for both jobs' files.
        // Run concurrent iterative operators with the same dir.
        anchor.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint(eager = true)
      case None =>
        df => df.localCheckpoint(eager = true)
    }
}
