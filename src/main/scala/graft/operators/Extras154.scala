package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 additions, part 8: web-graph bow-tie decomposition,
  * double-sweep diameter estimation, the Spark-native session_window
  * operator surface, and the Kish survey design effect.
  *
  * Scale shape: both graph keys ride the sampled co-occurrence
  * fixtures (Extras11/138) whose closure/BFS kernels are the
  * established scc/bfs conventions — path doubling and frontier
  * expansion with one Fixpoint cut per round, all relations
  * bounded by the sampled population; session_window is ONE
  * (user_id) shuffle; kish is a map-side fold.
  *
  * Determinism contract (SURVEY §2.13): graph labels are pure
  * integer mins; the giant SCC ties to the smaller scc_id; BFS hop
  * counts are exact and capped identically (h < 40) on both engines
  * so truncation — if the graph ever got that deep — is
  * semantics-equal; session boundaries compare exact epoch
  * microseconds (gap ≥ 30 min starts a new session, mirroring
  * session_window's [ts, ts+gap) merge rule); deff/n_eff are IEEE
  * chains over exact integer moments, computed in DOUBLE so no
  * integer product can overflow at any K.
  */
object Extras154 {
  import graft.Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BOW-TIE DECOMPOSITION — the classic web-graph census (Broder
    // et al.): locate the giant SCC (CORE, ties to min scc_id), then
    // classify every node as core / in (reaches the core) / out
    // (reached from it) / other (tendrils, tubes, disconnected).
    // Reachability closes by path doubling to a count fixpoint (the
    // q_graph_scc kernel). The raw chain graph is strongly connected
    // at every SF (census = 100% core — measured), so a deterministic
    // sparsifier shapes the tie: nodes ≡1 (mod 3) keep only incoming
    // links (OUT candidates), nodes ≡2 (mod 5) only outgoing (IN
    // candidates) — yielding core/in/out at both graded SFs.
    "q_graph_bowtie" -> ((s, d) => {
      val edges = Extras138.directedEdges(s, d)
        .where(col("src") % 3 =!= 1 && col("dst") % 5 =!= 2)
        .duckCkpt()
      val nodes = Extras138.nodesOf(edges).duckCkpt()
      // Round 17: shared SEMI-NAIVE doubling kernel (see
      // Extras138.transitiveClosure) — same fixpoint, Δ-sized rounds.
      val r = Extras138.transitiveClosure(edges)
      val lbl = Extras138.sccLabels(nodes, r).duckCkpt()
      // giant SCC: max member count, ties to the SMALLER scc_id
      val giant = lbl.groupBy(col("scc_id")).agg(count(lit(1)).as("c"))
        .agg(max(struct(col("c"), (-col("scc_id")).as("nid"))).as("m"))
        .select((-col("m.nid")).as("gid"))
      val core = lbl.join(broadcast(giant),
          col("scc_id") === col("gid"))
        .select(col("u"))
      val inSet = r.join(core.select(col("u").as("t")), "t")
        .select(col("s").as("u")).distinct()
        .join(core, Seq("u"), "left_anti")
        .select(col("u"), lit(true).as("is_in"))
      val outSet = r.join(core.select(col("u").as("s")), "s")
        .select(col("t").as("u")).distinct()
        .join(core, Seq("u"), "left_anti")
        .select(col("u"), lit(true).as("is_out"))
      val tot = nodes.count().toDouble // bounded: sampled population
      nodes
        .join(core.withColumn("is_core", lit(true)), Seq("u"), "left")
        .join(inSet, Seq("u"), "left")
        .join(outSet, Seq("u"), "left")
        .select(col("u"),
          when(col("is_core"), "core")
            .when(col("is_in"), "in")
            .when(col("is_out"), "out")
            .otherwise("other").as("region"))
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n_nodes"), min(col("u")).as("min_node"))
        .withColumn("share",
          r6(col("n_nodes").cast("double") / lit(tot)))
        .orderBy(col("region"))
    }),

    // DOUBLE-SWEEP DIAMETER — the standard diameter lower bound:
    // BFS from the min node (ecc₀ + component size), re-BFS from the
    // farthest node found (ties min-u); its eccentricity is the
    // 2-sweep diameter estimate. Frontier rounds stop early when the
    // frontier empties (semantics identical to the shared h<40 cap —
    // the fixture's ecc is ~2; the cap only fences a pathological
    // regeneration).
    "q_graph_diameter" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d).duckCkpt()
      def bfs(seed: DataFrame): DataFrame = Extras11.bfs(e, seed, 40)
      val u0 = e.agg(min(col("src")).as("u"))
      val m1 = bfs(u0)
      val s1 = m1.agg(max(struct(col("h"), (-col("u")).as("nu"))).as("m"))
        .select((-col("m.nu")).as("u"), col("m.h").as("ecc0"))
      val m2 = bfs(s1.select(col("u")))
      val s2 = m2.agg(max(struct(col("h"), (-col("u")).as("nu"))).as("m"))
        .select((-col("m.nu")).as("u2"), col("m.h").as("diam_lb"))
      u0.select(col("u").as("u0"))
        .crossJoin(broadcast(s1.select(col("ecc0"), col("u").as("u1"))))
        .crossJoin(broadcast(m1.agg(count(lit(1)).as("n_reach"))))
        .crossJoin(broadcast(s2))
        .select(col("u0"), col("ecc0").cast("long").as("ecc0"),
          col("n_reach"), col("u1"),
          col("diam_lb").cast("long").as("diam_lb"), col("u2"))
    }),

    // SESSION WINDOW — Spark's native session_window(ts, gap)
    // grouping (dynamic-gap session assignment inside the engine,
    // not a window-function emulation): 30-min gap sessions for the
    // sampled user population, one row per session.
    "q_win_session_window" -> ((s, d) => {
      Tables.events(s, d)
        .where(pmod(col("user_id"), lit(17L)) === 0)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min(tsUs(col("ts"))).as("first_us"),
          max(tsUs(col("ts"))).as("last_us"))
        .select(col("user_id"), col("n_events"), col("first_us"),
          col("last_us"), (col("last_us") - col("first_us")).as("span_us"))
        .orderBy(col("user_id"), col("first_us"))
    }),

    // KISH DESIGN EFFECT — survey-sampling's deff = n·Σw²/(Σw)² and
    // the effective sample size (Σw)²/Σw², weights = order quantity.
    // Exact integer moments; the ratios are computed entirely in
    // DOUBLE so no integer product can overflow at any scale.
    "q_agg_kish_deff" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          dec(col("l_quantity")).cast("long").as("w"))
      base.groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sw2"))
        .select(col("flag"), col("n"), col("sw"), col("sw2"),
          r6(col("n").cast("double") * col("sw2").cast("double")
            / (col("sw").cast("double") * col("sw").cast("double")))
            .as("deff"),
          r6(col("sw").cast("double") * col("sw").cast("double")
            / col("sw2").cast("double")).as("n_eff"))
        .orderBy(col("flag"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_graph_bowtie" -> {
      // sccCoreSql's e is unsparsified; rebuild the CTE chain here
      // with the same sparsifier as the Spark side.
      s"""WITH RECURSIVE
            v AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS h,
                    event_type AS t, user_id AS u,
                    min(epoch_us(ts::TIMESTAMP)) AS t0
                  FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2, 3),
            ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY h, t
                     ORDER BY t0, u) AS dst FROM v),
            e AS (SELECT DISTINCT src, dst FROM ch
                  WHERE dst IS NOT NULL AND dst <> src
                    AND src % 3 <> 1 AND dst % 5 <> 2),
            r(s, t) AS (SELECT src, dst FROM e
                        UNION
                        SELECT r.s, e.dst FROM r JOIN e ON e.src = r.t),
            nodes AS (SELECT src AS u FROM e UNION SELECT dst FROM e),
            mut AS (SELECT x.s AS u, x.t AS v
                    FROM r x JOIN r y ON y.s = x.t AND y.t = x.s),
            lbl AS (SELECT n.u,
                      least(n.u, COALESCE(MIN(m.v), n.u)) AS scc_id
                    FROM nodes n LEFT JOIN mut m ON m.u = n.u
                    GROUP BY n.u),
            cnt AS (SELECT scc_id, COUNT(*) AS c FROM lbl GROUP BY 1),
            giant AS (SELECT scc_id FROM cnt ORDER BY c DESC, scc_id
                      LIMIT 1),
            core AS MATERIALIZED (
              SELECT u FROM lbl, giant WHERE lbl.scc_id = giant.scc_id),
            inn AS (SELECT DISTINCT r.s AS u FROM r
                    JOIN core c ON r.t = c.u
                    WHERE r.s NOT IN (SELECT u FROM core)),
            outt AS (SELECT DISTINCT r.t AS u FROM r
                     JOIN core c ON r.s = c.u
                     WHERE r.t NOT IN (SELECT u FROM core)),
            nd AS (SELECT DISTINCT u FROM nodes),
            -- DISTINCT is load-bearing: under WITH RECURSIVE DuckDB
            -- executes the nodes CTE's UNION without deduplicating
            -- (src+dst arrive twice); the scc oracle never saw it
            -- because lbl GROUPs BY u.
            cls AS (SELECT n.u,
                      CASE WHEN n.u IN (SELECT u FROM core) THEN 'core'
                           WHEN n.u IN (SELECT u FROM inn) THEN 'in'
                           WHEN n.u IN (SELECT u FROM outt) THEN 'out'
                           ELSE 'other' END AS region
                    FROM nd n),
            tot AS (SELECT COUNT(*) AS t FROM nd)
         SELECT region, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                CAST(MIN(u) AS BIGINT) AS min_node,
                round(CAST(COUNT(*) AS DOUBLE) / (SELECT t FROM tot), 6)
                  AS share
         FROM cls GROUP BY region ORDER BY region"""
    },

    "q_graph_diameter" ->
      """WITH RECURSIVE
            v AS (SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h,
                    event_type AS t, user_id AS u
                  FROM events WHERE user_id % 7 = 0),
            und AS (SELECT DISTINCT x.u AS a, y.u AS b
                    FROM v x JOIN v y
                    ON x.h = y.h AND x.t = y.t AND x.u < y.u),
            e AS MATERIALIZED (
              SELECT a AS src, b AS dst FROM und
              UNION ALL SELECT b, a FROM und),
            n0 AS (SELECT MIN(src) AS u FROM e),
            b1(u, h) AS (
              SELECT u, 0 FROM n0
              UNION
              SELECT e.dst, b1.h + 1 FROM b1 JOIN e ON e.src = b1.u
              WHERE b1.h < 40),
            m1 AS MATERIALIZED (
              SELECT u, MIN(h) AS mh FROM b1 GROUP BY u),
            s1 AS (SELECT u, mh FROM m1 ORDER BY mh DESC, u LIMIT 1),
            b2(u, h) AS (
              SELECT u, 0 FROM s1
              UNION
              SELECT e.dst, b2.h + 1 FROM b2 JOIN e ON e.src = b2.u
              WHERE b2.h < 40),
            m2 AS (SELECT u, MIN(h) AS mh FROM b2 GROUP BY u),
            s2 AS (SELECT u, mh FROM m2 ORDER BY mh DESC, u LIMIT 1)
         SELECT (SELECT u FROM n0) AS u0,
                CAST((SELECT mh FROM s1) AS BIGINT) AS ecc0,
                (SELECT COUNT(*) FROM m1) AS n_reach,
                (SELECT u FROM s1) AS u1,
                CAST((SELECT mh FROM s2) AS BIGINT) AS diam_lb,
                (SELECT u FROM s2) AS u2""",

    "q_win_session_window" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us
                    FROM events WHERE user_id % 17 = 0),
            g AS (SELECT user_id, us,
                    CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                           ORDER BY us) >= 1800000000
                         OR lag(us) OVER (PARTITION BY user_id
                           ORDER BY us) IS NULL
                      THEN 1 ELSE 0 END AS brk
                  FROM ev),
            sess AS (SELECT user_id, us,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                         ROWS UNBOUNDED PRECEDING) AS sid
                     FROM g)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                MIN(us) AS first_us, MAX(us) AS last_us,
                MAX(us) - MIN(us) AS span_us
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, first_us""",

    "q_agg_kish_deff" ->
      """SELECT l_returnflag AS flag, COUNT(*) AS n,
                CAST(SUM(w) AS BIGINT) AS sw,
                CAST(SUM(w * w) AS BIGINT) AS sw2,
                round(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(w * w) AS DOUBLE)
                  / (CAST(SUM(w) AS DOUBLE) * CAST(SUM(w) AS DOUBLE)), 6)
                  AS deff,
                round(CAST(SUM(w) AS DOUBLE) * CAST(SUM(w) AS DOUBLE)
                  / CAST(SUM(w * w) AS DOUBLE), 6) AS n_eff
         FROM (SELECT l_returnflag,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS w
               FROM lineitem) t
         GROUP BY flag ORDER BY flag"""
  )
}
