package graft

import org.apache.spark.sql.DataFrame

/** Shared materialization boundary for every graded operator: a
  * driver-loop or shared-subtree cut at lineage depth 1. perfbench's
  * `operators.ckpt_jobs` counts checkpoint jobs by THIS call site, so
  * operators checkpoint through here. The decimal→double twin needs
  * nothing here: the checkpoint job is planned by the session
  * optimizer, which carries DuckCast's rule.
  */
package object operators {
  implicit final class DuckCkptOps(private val df: DataFrame)
      extends AnyVal {
    def duckCkpt(): DataFrame = df.localCheckpoint()

    /** Lazy form of duckCkpt for the iterative loops (round 16): the
      * plan is truncated to a LogicalRDD immediately (identical
      * lineage-depth-1 semantics), but the RDD materializes inside the
      * NEXT action instead of its own dedicated job — in every
      * closure/peel loop that action is the round's own count()/scalar
      * aggregate, so one scheduler round per iteration disappears. Use
      * ONLY where a single downstream action follows before the frame
      * fans out; a frame that self-joins or fans out UNMATERIALIZED
      * would compute its partitions once per reference inside one job
      * (the eager form stays the default for shared subtrees). */
    def duckCkptLazy(): DataFrame = df.localCheckpoint(eager = false)
  }
}
