package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared connected-components kernel: distributed min-label propagation
  * with POINTER JUMPING, used by the shingle-graph dedup clusters and the
  * embedding-graph semantic dedup.
  *
  * Two lessons are baked in, both learned from the embedding graph (1769
  * nodes in chains hundreds long at sf0.1):
  *
  *  - Plain neighbor propagation converges in O(diameter) rounds. Each
  *    round therefore ALSO joins the label table with itself
  *    (lbl ← label(lbl)), the classic pointer-jumping shortcut — chains
  *    collapse exponentially and rounds drop to O(log diameter).
  *  - Chaining round N's cache onto round N−1's cached plan is a trap:
  *    Dataset.unpersist CASCADES to dependent cache entries, so each
  *    round silently uncached its successor and every job recomputed the
  *    full edge lineage from the source (observed: 30 s/round and an
  *    8 GB heap OOM on a 2 187-edge graph). Rounds now localCheckpoint
  *    instead — lineage depth stays 1, old checkpoint blocks are freed by
  *    the ContextCleaner once the loop drops the reference.
  *
  * Convergence check without a per-round join: labels only ever DECREASE
  * (next = min of monotone inputs), so the label sum strictly decreases
  * iff any label changed — one scalar aggregate per round, which doubles
  * as the action that materializes the round's checkpoint.
  */
object Components {

  /** Pin a round's result at lineage depth 1. localCheckpoint stores
    * blocks on executors — fast, but on a real cluster an executor loss
    * mid-loop kills the query. When the session has a RELIABLE checkpoint
    * dir configured (sparkContext.setCheckpointDir, typically HDFS/object
    * storage), use checkpoint(eager=true) instead: rounds then survive
    * executor loss, the right trade at 100 TB where a components loop can
    * run for many rounds over hours. Local mode and the bench have no
    * checkpoint dir set and keep the fast path. */
  private def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else
      // Lazy on the local path (round 16): every pin is immediately
      // followed by sumOf's scalar aggregate — THAT action materializes
      // the round's blocks (exactly as the round-pinning doc above
      // intended); the eager form paid one extra job per round. The
      // reliable-checkpoint branch stays eager: a cluster round must be
      // durable before the loop builds on it.
      df.duckCkptLazy()

  /** @param pairs undirected edges as (a, b) long columns (any names,
    *              positional); returns (id, lbl) with lbl = component min. */
  def minLabel(pairs: DataFrame): DataFrame = {
    val cols = pairs.columns
    val p = pairs.select(col(cols(0)).as("ea"), col(cols(1)).as("eb"))
    val edges = p
      .unionByName(p.select(col("eb").as("ea"), col("ea").as("eb")))
      .persist()
    // Seed with min(self, neighbors) — the same shuffle a distinct-ids
    // init would cost, but it IS the first propagation round.
    var labels = pin(edges
      .groupBy(col("ea").as("id"))
      .agg(min(col("eb")).as("mnb"))
      .select(col("id"), least(col("id"), col("mnb")).as("lbl")))
    // coalesce: sum over an EMPTY label frame is NULL (a pair-free input
    // must yield an empty result, not an NPE).
    def sumOf(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var lblSum = sumOf(labels)
    var changed = true
    while (changed) {
      // Round 17: THREE chained pointer jumps per round (the composed
      // map lbl⁴) instead of one — the embedding near-dup graph showed
      // 10 propagation rounds at ~0.25 s of fixed job/exchange floor
      // each; deeper in-round composition cuts rounds to
      // ~log₄(chain) for three extra LABELS-SIZED joins inside the SAME
      // job, which is far cheaper than extra rounds. (SEVEN jumps was
      // A/B'd and REVERTED: rounds didn't fall further and the 8-deep
      // join tree blew up planning/codegen nonlinearly — the last round
      // took 76 s.) Every composed
      // label is still a same-component node id ≥ the component min, so
      // the fixpoint (and the sum-unchanged termination test) is
      // untouched; jmp ≤ labels pointwise over the same id set, so the
      // old `labels ∪ …` union leg is subsumed by jmp.
      var jmp = labels
      for (_ <- 1 to 3) {
        jmp = jmp.as("x")
          .join(labels.select(col("id").as("jid"), col("lbl").as("jlbl")),
            col("x.lbl") === col("jid"))
          .select(col("x.id").as("id"), col("jlbl").as("lbl"))
      }
      val prop = edges
        .join(jmp, edges("ea") === jmp("id"))
        .select(col("eb").as("id"), col("lbl"))
      val next = pin(jmp
        .unionByName(prop)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl")))
      val nextSum = sumOf(next)
      changed = nextSum != lblSum
      lblSum = nextSum
      labels = next
    }
    edges.unpersist()
    labels
  }
}
