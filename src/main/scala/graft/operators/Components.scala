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
  *    8 GB heap OOM on a 2 187-edge graph). Rounds are Fixpoint cuts
  *    instead — lineage depth stays 1.
  *
  * Convergence check without a per-round join: labels only ever DECREASE
  * (next = min of monotone inputs), so the label sum strictly decreases
  * iff any label changed — one scalar aggregate per round (with the
  * node count, so a pair-free input stops at its empty seed), which is
  * the round's measure and so materializes it.
  */
object Components {

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
    val seed = edges
      .groupBy(col("ea").as("id"))
      .agg(min(col("eb")).as("mnb"))
      .select(col("id"), least(col("id"), col("mnb")).as("lbl"))
    // (nodes, label sum); coalesce: the sum over no labels is NULL
    def measure(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("lbl")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val rounds = Fixpoint.converge(seed, measure) { rs =>
      val labels = rs.last
      if (labels.measure._1 == 0 ||
          rs.size > 1 && labels.measure == rs(rs.size - 2).measure) None
      else {
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
        val jmp = (1 to 3).foldLeft(labels.df) { (j, _) =>
          j.as("x")
            .join(labels.df.select(col("id").as("jid"), col("lbl").as("jlbl")),
              col("x.lbl") === col("jid"))
            .select(col("x.id").as("id"), col("jlbl").as("lbl"))
        }
        val prop = edges
          .join(jmp, edges("ea") === jmp("id"))
          .select(col("eb").as("id"), col("lbl"))
        Some(jmp.unionByName(prop)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl")))
      }
    }
    edges.unpersist()
    rounds.last.df
  }
}
