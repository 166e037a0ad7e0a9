package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 additions, part 2: training-mix weights, user lifecycle
  * accounting, exact length quantiles, session-size histogram, two-hop
  * reach, and the SQL-text PIVOT surface.
  */
object Extras35 {
  import graft.Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TRAINING-MIX WEIGHTS — the multinomial temperature-resampling
    // weights a pre-training mix uses (w_s ∝ n_s^0.7, the standard
    // upsample-the-tail exponent): per-source token counts are exact
    // integers; each n^0.7 is ONE per-row IEEE chain quantized to an
    // integer micro-weight BEFORE normalization, so the normalizing sum
    // is exact integer addition (order-free — same trick as
    // q_agg_entropy) and each share is one final IEEE division. The
    // whole thing is one corpus pass plus a 20-row dimension aggregate.
    "q_llm_mix_weights" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      val w = tok.withColumn("w_micro",
        round(pow(col("n_tokens").cast("double"), 0.7) * 1e6, 0)
          .cast("long"))
      val tot = w.agg(sum(col("w_micro")).as("w_tot"),
        sum(col("n_tokens")).as("tok_tot"))
      w.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("w_micro"),
          (col("w_micro").cast("double") / col("w_tot").cast("double"))
            .as("mix_share"),
          (col("n_tokens").cast("double") / col("tok_tot").cast("double"))
            .as("natural_share"))
        .orderBy("source")
    }),

    // USER LIFECYCLE (growth accounting) — per week: NEW (first-ever
    // active week), RETAINED (also active previous week), RESURRECTED
    // (active, not previous week, not new), DORMANT (previous week's
    // actives who went silent). Integer Monday-epoch weeks; the user
    // grain carries (wk, first_wk, lag wk) through ONE user-partitioned
    // window, then one week-grain aggregate; dormant joins the previous
    // week's active count on the tiny week spine. The classic growth
    // dashboard decomposition: actives(t) = new + retained + resurrected.
    "q_evt_lifecycle" -> ((s, d) => {
      val uw = Tables.events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts), DATE '2020-01-06') div 7").as("wk"))
        .distinct()
      val byU = Window.partitionBy(col("user_id")).orderBy(col("wk"))
      val lab = uw
        .withColumn("first_wk",
          min(col("wk")).over(Window.partitionBy(col("user_id"))))
        .withColumn("prev_wk", lag(col("wk"), 1).over(byU))
      val per = lab.groupBy(col("wk"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("prev_wk") === col("wk") - 1, 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("wk") =!= col("first_wk")
              && (col("prev_wk").isNull || col("prev_wk") =!= col("wk") - 1),
            1L).otherwise(0L)).as("n_resurrected"))
      val prev = per.select((col("wk") + 1).as("wk"),
        col("n_active").as("prev_active"))
      per.join(broadcast(prev), Seq("wk"), "left")
        .select(col("wk"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"),
          (coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
            .as("n_dormant"))
        .orderBy("wk")
    }),

    // DOCUMENT-LENGTH QUANTILES — per-source exact discrete p25/p50/p75/
    // p95 of n_chars: integer ranks ceil(p·n) computed in integer
    // arithmetic ((25n+99) div 100 etc. — IEEE p·n would mis-ceil on
    // exact multiples), values picked by cumulative count over the
    // per-(source, n_chars) histogram. The filtering/curriculum stat a
    // corpus pipeline reports; the histogram reduces the sort to the
    // distinct-length dimension, not the corpus.
    "q_llm_len_quantiles" -> ((s, d) => {
      val hist = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = hist.groupBy(col("source")).agg(sum(col("c")).as("n"))
      hist
        .withColumn("cum", sum(col("c")).over(wcum))
        .join(tot, "source")
        .withColumn("r25", expr("(25 * n + 99) div 100"))
        .withColumn("r50", expr("(50 * n + 99) div 100"))
        .withColumn("r75", expr("(75 * n + 99) div 100"))
        .withColumn("r95", expr("(95 * n + 99) div 100"))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"),
          min(when(col("cum") >= col("r25"), col("n_chars"))).as("p25"),
          min(when(col("cum") >= col("r50"), col("n_chars"))).as("p50"),
          min(when(col("cum") >= col("r75"), col("n_chars"))).as("p75"),
          min(when(col("cum") >= col("r95"), col("n_chars"))).as("p95"))
        .orderBy("source")
    }),

    // SESSION-SIZE HISTOGRAM — distribution of events-per-session under
    // the 30-min-gap rule: the sessionize kernel at (user, session)
    // grain, then a fixed 5-bucket histogram (1, 2, 3-5, 6-10, 11+).
    // One shuffle on user for the window, one tiny bucket aggregate —
    // the operating metric behind "are sessions getting deeper?".
    "q_evt_session_hist" -> ((s, d) => {
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tsUs(col("ts")).as("us"))
      val sess = ev
        .withColumn("new_sess", when(
          col("us") - lag(col("us"), 1).over(byU) > 1800000000L ||
            lag(col("us"), 1).over(byU).isNull, 1L).otherwise(0L))
        .withColumn("sess", sum(col("new_sess"))
          .over(byU.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("len"))
      sess
        .select(when(col("len") === 1, "a_1")
          .when(col("len") === 2, "b_2")
          .when(col("len") <= 5, "c_3_5")
          .when(col("len") <= 10, "d_6_10")
          .otherwise("e_11plus").as("bucket"),
          col("len"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("len")).as("n_events"))
        .orderBy("bucket")
    }),

    // TWO-HOP REACH — distinct friend-of-friend count per node:
    // neighbors-of-neighbors via one edge-edge equi-join on the middle
    // node, minus self and direct neighbors (the standard FoF
    // definition). Candidate volume is Σ deg(v)² (hub-bounded), never
    // |V|²; the distinct collapses it to the true reach. Link
    // prediction's candidate generator and the "people you may know"
    // kernel. Same co-occurrence construction as the shared %7 graph but
    // on the denser user%3 slice — the %7 graph is so sparse at smoke
    // scale that every 2-hop neighbor is already a direct one.
    "q_graph_two_hop" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d, mod = 3L)
      // distinct + LEFT ANTI instead of EXCEPT: e is distinct by
      // construction, so EXCEPT's right-side re-distinct was a wasted
      // shuffle (round-10 A/B probe: 10.8→4.8 s at sf0.1; the
      // per-node-array formulation measured 2× faster still but holds
      // one node's whole Σdeg² candidate set in a single row — a hub
      // memory cliff at 100 TB — and was rejected, see BASELINE.md).
      // Round 16: the wedge join's INPUT is tiny (the edge list) but its
      // OUTPUT is Σdeg² — AQE sizes the join's shuffle reads by input
      // bytes, so the expansion ran nearly serial. Explicit hash
      // repartitions at core parallelism on EXACTLY the join keys (dst
      // probe side, src build side) satisfy the join's required
      // distribution — same exchange count, expansion now parallel —
      // and the same pin on the (u,v) dedup keeps the Σdeg²-row distinct
      // merge parallel (the postingPairs lesson).
      val p = s.sparkContext.defaultParallelism
      val fof = e.repartition(p, col("dst")).as("p")
        .join(e.repartition(p, col("src")).as("q"),
          col("p.dst") === col("q.src"))
        .select(col("p.src").as("u"), col("q.dst").as("v"))
        .where(col("u") =!= col("v"))
        .repartition(p, col("u"), col("v"))
        .distinct()
        .join(e.select(col("src").as("u"), col("dst").as("v")),
          Seq("u", "v"), "left_anti")
      fof.groupBy(col("u"))
        .agg(count(lit(1)).as("two_hop"))
        .orderBy("u")
    }),

    // SQL-TEXT PIVOT — the parser surface for PIVOT (the DSL twin is
    // q_agg_pivot): order counts and exact cents by priority pivoted on
    // status. Spark's PIVOT clause; the oracle states the identical
    // relation as portable conditional aggregation (DuckDB's PIVOT is
    // a different dialect — the CONTRACT is the pivoted relation, not
    // the keyword).
    "q_sql_pivot" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderstatus"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
        .createOrReplaceTempView("v_orders_pv")
      s.sql("""
        SELECT * FROM (SELECT o_orderpriority, o_orderstatus, cents
                       FROM v_orders_pv)
        PIVOT (COUNT(*) AS n, SUM(cents) AS cents
               FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
        ORDER BY o_orderpriority""")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_llm_mix_weights" ->
      """WITH tok AS (SELECT source, COUNT(*) AS n_docs,
                        CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                          AS n_tokens
                      FROM documents GROUP BY 1),
            w AS (SELECT source, n_docs, n_tokens,
                    CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1e6, 0)
                      AS BIGINT) AS w_micro
                  FROM tok),
            t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_tot,
                         CAST(SUM(n_tokens) AS BIGINT) AS tok_tot FROM w)
         SELECT source, n_docs, n_tokens, w_micro,
                CAST(w_micro AS DOUBLE) / CAST(w_tot AS DOUBLE) AS mix_share,
                CAST(n_tokens AS DOUBLE) / CAST(tok_tot AS DOUBLE)
                  AS natural_share
         FROM w CROSS JOIN t ORDER BY source""",

    "q_evt_lifecycle" ->
      """WITH uw AS (SELECT DISTINCT user_id,
                       (CAST(ts AS DATE) - DATE '2020-01-06') // 7 AS wk
                     FROM events),
            lab AS (SELECT user_id, wk,
                      MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
                      lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                        AS prev_wk
                    FROM uw),
            per AS (SELECT wk, COUNT(*) AS n_active,
                      CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new,
                      CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_retained,
                      CAST(SUM(CASE WHEN wk <> first_wk
                                AND (prev_wk IS NULL OR prev_wk <> wk - 1)
                               THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_resurrected
                    FROM lab GROUP BY wk)
         SELECT p.wk, p.n_active, p.n_new, p.n_retained, p.n_resurrected,
                CAST(COALESCE(q.n_active, 0) - p.n_retained AS BIGINT)
                  AS n_dormant
         FROM per p LEFT JOIN per q ON q.wk = p.wk - 1
         ORDER BY p.wk""",

    "q_llm_len_quantiles" ->
      """WITH hist AS (SELECT source, n_chars, COUNT(*) AS c
                       FROM documents GROUP BY 1, 2),
            tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                    FROM hist GROUP BY 1),
            cum AS (SELECT h.source, h.n_chars, t.n,
                      CAST(SUM(h.c) OVER (PARTITION BY h.source
                        ORDER BY h.n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
                    FROM hist h JOIN tot t USING (source))
         SELECT source, MAX(n) AS n_docs,
                MIN(CASE WHEN cum >= (25 * n + 99) // 100 THEN n_chars END)
                  AS p25,
                MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN n_chars END)
                  AS p50,
                MIN(CASE WHEN cum >= (75 * n + 99) // 100 THEN n_chars END)
                  AS p75,
                MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN n_chars END)
                  AS p95
         FROM cum GROUP BY source ORDER BY source""",

    "q_evt_session_hist" ->
      """WITH ev AS (SELECT user_id, event_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS us
                     FROM events),
            flagged AS (SELECT user_id, event_id, us,
                    CASE WHEN us - lag(us) OVER w > 1800000000
                           OR lag(us) OVER w IS NULL
                         THEN 1 ELSE 0 END AS new_sess
                  FROM ev
                  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sess AS (SELECT user_id,
                    CAST(SUM(new_sess) OVER (PARTITION BY user_id
                      ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sess
                  FROM flagged),
            lens AS (SELECT user_id, sess, COUNT(*) AS len
                     FROM sess GROUP BY 1, 2)
         SELECT CASE WHEN len = 1 THEN 'a_1'
                     WHEN len = 2 THEN 'b_2'
                     WHEN len <= 5 THEN 'c_3_5'
                     WHEN len <= 10 THEN 'd_6_10'
                     ELSE 'e_11plus' END AS bucket,
                COUNT(*) AS n_sessions,
                CAST(SUM(len) AS BIGINT) AS n_events
         FROM lens GROUP BY 1 ORDER BY 1""",

    "q_graph_two_hop" -> """
      WITH v AS (SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h,
                        event_type AS t, user_id AS u
                 FROM events WHERE user_id % 3 = 0),
        und AS (SELECT DISTINCT x.u AS a, y.u AS b
                FROM v x JOIN v y
                ON x.h = y.h AND x.t = y.t AND x.u < y.u),
        e AS (SELECT a AS src, b AS dst FROM und
              UNION ALL SELECT b, a FROM und),
        fof AS (SELECT DISTINCT p.src AS u, q.dst AS v
                FROM e p JOIN e q ON p.dst = q.src
                WHERE p.src <> q.dst
                EXCEPT SELECT src, dst FROM e)
      SELECT u, COUNT(*) AS two_hop FROM fof GROUP BY u ORDER BY u""",

    "q_sql_pivot" ->
      """SELECT o_orderpriority,
                COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_n,
                CAST(SUM(CASE WHEN o_orderstatus = 'F'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) END) AS BIGINT) AS f_cents,
                COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_n,
                CAST(SUM(CASE WHEN o_orderstatus = 'O'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) END) AS BIGINT) AS o_cents,
                COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_n,
                CAST(SUM(CASE WHEN o_orderstatus = 'P'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) END) AS BIGINT) AS p_cents
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
  )
}
