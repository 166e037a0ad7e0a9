package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-12 additions, part 2: directed strongly-connected components
  * (round-11 verdict item 5 — the graph kit was undirected-complete
  * but event flows are directed) and the stream-stream FULL-outer
  * join (verdict item 6 — the both-side-null twin of
  * q_stream_live_louter's watermark-holdback pattern).
  *
  * Scale shape: scc builds its directed edge relation from one
  * events pass (per-(hour,type) first-touch chains over the sampled
  * user population); reachability closes by PATH DOUBLING —
  * O(log diameter) rounds, each a (reach ⋈ reach) equi-join, with
  * rounds cut by the Fixpoint kernel like Components. The closure is
  * per-SCC quadratic (within an SCC everyone reaches everyone), which
  * is the honest cost of EXACT SCC listing; at 100 TB the production
  * variant peels FW-BW per color so only one pivot's
  * reachable/reaching sets materialize per round — same primitive,
  * bounded memory — while this formulation keeps the whole closure
  * because the oracle (a recursive CTE) must see the identical set.
  * The fouter join is watermark-bounded state on both sides, sharded
  * by user key.
  *
  * Determinism contract (SURVEY §2.13): scc edges order by the exact
  * (first-touch µs, user) pair; scc_id = min over the mutual-reach
  * set ∪ self — pure integer min, no IEEE anywhere. fouter emits
  * null-padded rows only STRICTLY inside the decided region (both
  * cutoffs at max_ts − 90 min, the louter contract, applied to
  * whichever side survives), so micro-batch scheduling cannot leak
  * into the result set.
  */
object Extras138 {
  import Det._

  /** Directed first-touch chain edges over (hour, event_type) buckets
    * of the sampled (user_id%7==0) population — the directed sibling
    * of Extras11.undirectedEdges. Shared with the SCC condensation op
    * (Extras139). */
  private[operators] def directedEdges(s: SparkSession, d: String): DataFrame = {
    val v = Tables.events(s, d)
      .where(pmod(col("user_id"), lit(7L)) === 0)
      .groupBy(date_trunc("hour", col("ts")).as("h"),
        col("event_type").as("t"), col("user_id").as("u"))
      .agg(min(tsUs(col("ts"))).as("t0"))
    val w = Window.partitionBy(col("h"), col("t"))
      .orderBy(col("t0"), col("u"))
    v.withColumn("nxt", lead(col("u"), 1).over(w))
      .where(col("nxt").isNotNull && col("nxt") =!= col("u"))
      .select(col("u").as("src"), col("nxt").as("dst"))
      .distinct()
  }

  /** Leg-dedup threshold on a closure round's incoming Δ rows, tuned on
    * sf0.1 full-bench A/Bs (scc, scc_dag, bowtie; numbers at the loop). */
  private val LegDedupMinDelta = 4096L

  /** Transitive closure of a (src, dst) edge relation by SEMI-NAIVE
    * path doubling (round 17; shared by sccLabels and q_graph_bowtie).
    *
    * The naive loop (r ← distinct(r ∪ r∘r) to a count fixpoint)
    * re-joined the FULL closure with itself every round — at sf0.1 the
    * last two rounds each expanded ~Σk³ candidate paths within SCCs to
    * add +2 and then 0 new pairs (measured 1.4 s/round).
    * Every pair NEW to r_i∘r_i has at least one factor in
    * Δ = r_i \ r_{i-1} (both-old factors were composed in the previous
    * round), so each round joins only Δ∘r ∪ r∘Δ, anti-joins r away and
    * the closure is the union of the DISJOINT rounds: the no-progress
    * confirm round shrinks to a Δ-sized (eventually empty) join and no
    * round re-distincts the whole closure. Leg dedup is ADAPTIVE on the
    * incoming Δ's row count (both always-on and never-on were full-
    * bench A/B'd and lost — numbers at the loop). Identical fixpoint:
    * the union accumulates exactly the pairs the naive loop's distinct
    * kept (leg/except dedup only removes duplicates). */
  private[graft] def transitiveClosure(edges: DataFrame): DataFrame = {
    val c = edges.columns
    // (Round 17 A/B'd and REVERTED: round-robin repartitioning each
    // checkpoint to core parallelism — the two_hop treatment, on the
    // theory that the 1-2-partition checkpoints serialize the broadcast
    // joins' streamed side — measured 2-3× SLOWER on all three closure
    // keys (scc 2.0 → 6.8 s probe-steady): the per-round exchanges and
    // the partition-count blowup on the union chain cost far more than
    // the expansion's residual serialism at these byte sizes.)
    // Null-keyed edges reach nothing: dropped at the seed, because the
    // EXCEPT below matches null keys as equal (a left_anti would not).
    val seed = edges.select(col(c(0)).as("s"), col(c(1)).as("t"))
      .where(col("s").isNotNull && col("t").isNotNull)
    Fixpoint.converge(seed, Fixpoint.rows) { rs =>
      val delta = rs.last
      if (delta.measure == 0) None
      else {
        val r = rs.map(_.df).reduce(_ unionByName _)
        // Adaptive leg dedup (§2.2 shuffle fewer bytes — when there ARE
        // bytes): a doubling round's expansion re-derives each in-SCC
        // pair ~k× (Σk³ rows), so when the incoming Δ is large, a
        // per-leg distinct collapses the expansion map-side BEFORE the
        // anti-join's exchange (full-bench evidence: without it,
        // scc_dag 2.58 → 4.08 s, scc 2.37 → 2.58 s). When Δ is small
        // (late/confirm rounds — bowtie's Δ=119 round), the expansion is
        // Δ-bounded and the two extra aggregate exchanges are pure floor
        // (bowtie 2.12 → 2.83 s WITH unconditional leg dedup). The
        // row-count threshold scales with the data, not the host.
        def leg(df: DataFrame) =
          if (delta.measure > LegDedupMinDelta) df.distinct() else df
        val r2 = leg(delta.df.as("a").join(r.as("b"), col("a.t") === col("b.s"))
            .select(col("a.s").as("s"), col("b.t").as("t")))
          .unionByName(
            leg(r.as("a").join(delta.df.as("b"), col("a.t") === col("b.s"))
              .select(col("a.s").as("s"), col("b.t").as("t"))))
        // EXCEPT (distinct anti-join) resolves the shared-lineage plan
        // cleanly where distinct-above-union + left_anti trips Catalyst's
        // "key not found: s#…" (re-verified this round with explicit
        // aliases — still trips; except does not).
        Some(r2.except(r))
      }
    }.map(_.df).reduce(_ unionByName _)
  }

  /** The nodes (u) of a (src, dst) edge frame. */
  private[operators] def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("u"))
      .unionByName(edges.select(col("dst").as("u"))).distinct()

  /** SCC labels (u, scc_id) of `nodes` from their closure `r` (s, t):
    * scc_id = min over {u} ∪ {v : u ⇝ v ∧ v ⇝ u}. Shared by
    * q_graph_scc, the condensation op (Extras139) and q_graph_bowtie. */
  private[operators] def sccLabels(nodes: DataFrame, r: DataFrame)
      : DataFrame = {
    val mut = r.as("x").join(r.as("y"),
        col("x.s") === col("y.t") && col("x.t") === col("y.s"))
      .select(col("x.s").as("u"), col("x.t").as("v"))
    nodes.join(mut.groupBy(col("u")).agg(min(col("v")).as("mv")),
        Seq("u"), "left")
      .select(col("u"),
        least(col("u"), coalesce(col("mv"), col("u"))).as("scc_id"))
  }

  /** sccLabels over directedEdges. */
  private[operators] def sccLabels(s: SparkSession, d: String): DataFrame = {
    val edges = directedEdges(s, d).duckCkpt()
    sccLabels(nodesOf(edges), transitiveClosure(edges))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DIRECTED SCC — scc_id(u) = min over {u} ∪ {v : u ⇝ v ∧ v ⇝ u}.
    // Reachability closes by path doubling (R ← R ∪ R∘R) to a
    // count fixpoint; the mutual set is one self-join of the closure
    // on swapped endpoints.
    "q_graph_scc" -> ((s, d) =>
      sccLabels(s, d).orderBy("u")),

    // STREAM-STREAM FULL-OUTER JOIN — purchases ⟗ clicks within the
    // 1-hour lookback, null rows on EITHER side once the GLOBAL
    // watermark (the MIN across both inputs) has decided them.
    // Round-12 ADVICE: the watermark derives from EACH SIDE'S OWN
    // max event time (Spark tracks per-side maxima), not the global
    // max ts: wm = min(max p_ts − 10 min, max c_ts − 70 min). An
    // unmatched purchase is decided when wm passes p_ts (strict
    // cutoff wm − 20 min margin); an unmatched CLICK only when wm
    // passes c_ts + 1 h (strict cutoff wm − 80 min). Both engines
    // state the same two-sided cutoffs from the same per-side maxima.
    "q_stream_live_fouter" -> ((s, d) => {
      val events = graft.streaming.StreamOps.eventsFileStream(s, d)
      val purchases = events.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "10 minutes")
      val clicks = events.where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour 10 minutes")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user")
          && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
          && col("c_ts") <= col("p_ts"),
        "full_outer")
        .select(col("p_id"), col("p_user"), col("c_id"), col("c_user"),
          col("p_ts"), col("c_ts"))
      val sink = graft.streaming.StreamOps
        .runToMemoryAppend(joined, "live_fouter")
      val wm = Tables.events(s, d).agg(least(
        max(when(col("event_type") === "purchase", tsUs(col("ts"))))
          - lit(600000000L),
        max(when(col("event_type") === "click", tsUs(col("ts"))))
          - lit(4200000000L)).as("wm_us"))
      sink.crossJoin(broadcast(wm))
        .where((col("p_id").isNotNull && col("c_id").isNotNull)
          || (col("c_id").isNull
            && tsUs(col("p_ts")) < col("wm_us") - lit(1200000000L))
          || (col("p_id").isNull
            && tsUs(col("c_ts")) < col("wm_us") - lit(4800000000L)))
        .select(col("p_id"),
          coalesce(col("p_user"), col("c_user")).as("u"),
          col("c_id"), tsUs(col("p_ts")).as("p_us"),
          tsUs(col("c_ts")).as("c_us"))
        // explicit NULLS LAST: Spark defaults nulls-first on ASC,
        // DuckDB nulls-last — and p_id IS null on click-only rows.
        .orderBy(col("p_id").asc_nulls_last, col("c_id").asc_nulls_last)
    })
  )

  /** Shared SCC oracle core (recursive closure + mutual-min labels) —
    * interpolated by q_graph_scc and the condensation op. */
  private[operators] val sccCoreSql: String =
      """v AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS h,
                    event_type AS t, user_id AS u,
                    min(epoch_us(ts::TIMESTAMP)) AS t0
                  FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2, 3),
            ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY h, t
                     ORDER BY t0, u) AS dst FROM v),
            e AS (SELECT DISTINCT src, dst FROM ch
                  WHERE dst IS NOT NULL AND dst <> src),
            r(s, t) AS (SELECT src, dst FROM e
                        UNION
                        SELECT r.s, e.dst FROM r JOIN e ON e.src = r.t),
            nodes AS (SELECT src AS u FROM e UNION SELECT dst FROM e),
            mut AS (SELECT x.s AS u, x.t AS v
                    FROM r x JOIN r y ON y.s = x.t AND y.t = x.s),
            lbl AS (SELECT n.u,
                      least(n.u, COALESCE(MIN(m.v), n.u)) AS scc_id
                    FROM nodes n LEFT JOIN mut m ON m.u = n.u
                    GROUP BY n.u)"""

  val oracle: Map[String, String] = Map(

    "q_graph_scc" ->
      s"""WITH RECURSIVE $sccCoreSql
         SELECT u, scc_id FROM lbl ORDER BY u""",

    "q_stream_live_fouter" ->
      """WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id,
                           event_type FROM events),
            p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
                  FROM e WHERE event_type = 'purchase'),
            c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
                  FROM e WHERE event_type = 'click'),
            m AS (SELECT least(
                    max(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) - 600000000,
                    max(CASE WHEN event_type = 'click'
                        THEN epoch_us(ts) END) - 4200000000) AS wm_us
                  FROM e),
            j AS (SELECT p_id, p_user, c_id, c_user, p_ts, c_ts
                  FROM p FULL OUTER JOIN c
                    ON p_user = c_user
                   AND c_ts >= p_ts - INTERVAL 1 HOUR
                   AND c_ts <= p_ts)
         SELECT p_id, COALESCE(p_user, c_user) AS u, c_id,
                epoch_us(p_ts) AS p_us, epoch_us(c_ts) AS c_us
         FROM j CROSS JOIN m
         WHERE (p_id IS NOT NULL AND c_id IS NOT NULL)
            OR (c_id IS NULL
                AND epoch_us(p_ts) < wm_us - 1200000000)
            OR (p_id IS NULL
                AND epoch_us(c_ts) < wm_us - 4800000000)
         ORDER BY p_id NULLS LAST, c_id NULLS LAST"""
  )
}
