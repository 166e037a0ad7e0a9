package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-7 additions, part 6: risk/inequality analytics (max drawdown,
  * Gini), interval algebra (overlap merge), weighted median, graph
  * node similarity (neighbor Jaccard), and int8 embedding quantization —
  * the remaining "everyday at 100 TB" shapes: every query here is one
  * or two hash exchanges plus window passes; nothing is all-pairs and
  * nothing leaves exact-arithmetic space before the final scalar cast.
  */
object Extras16 {
  import Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MAX DRAWDOWN per user value-series — the risk statistic every
    // monitoring pipeline computes over cumulative metrics: running
    // exact-DECIMAL cumulative sum, running max of that, drawdown =
    // running max − cumulative. Three same-spec windows share ONE
    // (user_id) exchange + sort; per-user output is bounded by the
    // user population, not the event count, so the result stays small
    // at any data scale. Only the final peak/drawdown values are cast
    // to DOUBLE (exact DECIMAL(18,2)→double conversions).
    "q_ts_drawdown" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = sum(col("v")).over(w)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tsUs(col("ts")).as("us"),
          dec(col("value")).as("v"))
        .select(col("user_id"),
          cum.as("cum"), max(cum).over(w).as("peak"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("peak")).cast("double").as("peak"),
          max(col("peak") - col("cum")).cast("double").as("max_drawdown"))
        .orderBy("user_id")
    }),

    // GINI COEFFICIENT of order value per priority class — the
    // inequality/concentration audit (is 1% of customers 90% of
    // revenue?). Sorted-rank formula G = Σ(2i−n−1)·x / (n·Σx): one
    // row_number window + one hash aggregate. Money moves as exact
    // int64 CENT-UNITS per row; the rank-sum Σi·x accumulates in
    // DECIMAL(38,0)/HUGEINT (∝ n²·x̄ — the round-14 FenceProbe read
    // n·Σx = 2.27e16 > 2^53 at sf0.1 with int64 overflow at ~sf2, so
    // the r13-era all-int64 form was a measured scale cliff), the
    // numerator emits through the two-limb split (Det.limbDouble —
    // a DECIMAL→double cast diverged by 1 ulp between the engines at
    // sf0.1, the original lesson), and the denominator is the IEEE
    // product of the two individually-≤2^53 factors n and Σx. Rank
    // ties don't matter: permuting equal x within a tie block leaves
    // Σ(i·x) unchanged, but the (x, key) tiebreak is pinned anyway.
    "q_agg_gini" -> ((s, d) => {
      val w = Window.partitionBy(col("pri"))
        .orderBy(col("xu"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("pri"),
          (dec(col("o_totalprice")) * 100).cast("long").as("xu"),
          col("o_orderkey"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"),
          sum(col("xu")).as("sxu"),
          // i cast to DECIMAL(38,0) BEFORE the multiply (round-14
          // ADVICE): rank×cents can outgrow int64 per ROW at large
          // corpus, where Spark wraps silently but DuckDB raises
          sum(col("i").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("xu"))
            .as("sixu"))
        .withColumn("gnum",
          expr("CAST(2 AS DECIMAL(38,0)) * sixu" +
            " - CAST(n + 1 AS DECIMAL(38,0)) * sxu"))
        .select(col("pri"), col("n"),
          (col("sxu").cast("double") / lit(100.0)).as("sum_price"),
          (limbDouble("gnum")
            / (col("n").cast("double") * col("sxu").cast("double")))
            .as("gini"))
        .orderBy("pri")
    }),

    // INTERVAL OVERLAP-MERGE per user — the interval-algebra primitive
    // (uptime stitching, visit coverage): each event opens [ts, ts+5min);
    // overlapping intervals merge into islands. Island boundary = start
    // beyond the running MAX of all previous ends (the lag-max
    // gaps-and-islands form that is correct even when an early interval
    // swallows later ones — plain lag(end) is not). Two same-spec
    // windows share one (user_id) exchange; everything is integer µs.
    "q_ts_interval_merge" -> ((s, d) => {
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
      val prevEnd = max(col("en"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tsUs(col("ts")).as("st"))
        .withColumn("en", col("st") + lit(300000000L))
        .withColumn("nw",
          when(prevEnd.isNull || col("st") > prevEnd, 1L).otherwise(0L))
        .withColumn("isl", sum(col("nw"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("ien") - col("ist")).as("covered_us"),
          (max(col("ien")) - min(col("ist"))).as("span_us"))
        .orderBy("user_id")
    }),

    // WEIGHTED MEDIAN price (weight = quantity) per return flag — the
    // robust central-tendency statistic plain median misses when rows
    // carry different volumes. Cumulative-weight form: first price where
    // 2·cumw ≥ totw, all comparisons in exact DECIMAL. The two windows
    // share one (rf) exchange; equal-price tie order cannot change the
    // reported value (the threshold crossing lands inside the same
    // equal-price block under any permutation of it).
    "q_agg_weighted_median" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("rf"),
          dec(col("l_extendedprice")).as("p"),
          dec(col("l_quantity")).as("w"),
          col("l_orderkey"), col("l_linenumber"))
      // Round 16: totw/nr were unbounded whole-partition window passes
      // (a second full buffer-and-scan of every rf partition after the
      // cumulative sort). A 3-row grouped aggregate broadcast back in
      // computes the identical per-rf constants with a partial+final
      // HashAggregate over a pruned (rf, w) projection.
      val tots = base.groupBy(col("rf"))
        .agg(sum(col("w")).as("totw"), count(lit(1)).as("nr"))
      // Round 17 A/B'd and REVERTED: running the cumulative window over
      // the grouped (rf, price, Σw) block spine (map-side partial agg
      // before the sort) measured SLOWER in full-bench conditions
      // (1.76 → 2.77 s median) — the price spine is 594,330 distinct
      // (rf, price) pairs over 600,000 rows at sf0.1, so the grouped pass
      // shrinks nothing and adds a full extra hash-aggregate exchange.
      // The row-level window (one (rf) exchange shared with nothing
      // else, 3-partition sort) stays; the block form only wins when the
      // value spine saturates, which a price key does not.
      val ord = Window.partitionBy(col("rf"))
        .orderBy(col("p"), col("l_orderkey"), col("l_linenumber"))
      base
        .withColumn("cumw", sum(col("w"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(tots), "rf")
        .where(col("cumw") * 2 >= col("totw"))
        .groupBy(col("rf"))
        .agg(min(col("p")).cast("double").as("w_median"),
          max(col("totw")).cast("double").as("total_weight"),
          max(col("nr")).as("n_rows"))
        .orderBy("rf")
    }),

    // NEIGHBOR-JACCARD node similarity on the shared co-occurrence graph
    // (link prediction's first feature): |N(a)∩N(b)| via the
    // common-neighbor equi-join — pair candidates are generated ONLY
    // through shared neighbors (join-shaped like q_graph_triangles, not
    // all-pairs), then degrees join in and J = common/(da+db−common) is
    // one IEEE division of exactly-agreed integers. At 100 TB the
    // neighbor join is the standard hub-capped shape; here as at any
    // scale the candidate count is Σ deg(v)², not |V|².
    "q_graph_jaccard" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d)
      val deg = e.groupBy(col("src").as("u")).agg(count(lit(1)).as("deg"))
      // Round 17 A/B'd and REVERTED (the two_hop §2.5 treatment —
      // explicit core-parallelism repartitions on the wedge join and
      // the pair aggregate): full-bench medians read 0.67 → 0.92 s WITH
      // the repartitions (all three samples elevated) — unlike two_hop,
      // this graph's Σdeg² expansion is small at sf0.1, so the two
      // extra exchanges are pure floor. The planner-chosen shape stays;
      // the pattern is kept on the keys where it measured neutral-or-
      // better (triad_census, transitivity, two_hop itself).
      val common = e.as("p").join(e.as("q"),
          col("p.dst") === col("q.dst") && col("p.src") < col("q.src"))
        .groupBy(col("p.src").as("a"), col("q.src").as("b"))
        .agg(count(lit(1)).as("common"))
        .where(col("common") >= 1)
      common
        .join(broadcast(deg.select(col("u").as("a"), col("deg").as("da"))), "a")
        .join(broadcast(deg.select(col("u").as("b"), col("deg").as("db"))), "b")
        .select(col("a"), col("b"), col("common"),
          (col("da") + col("db") - col("common")).as("union_size"),
          (col("common").cast("double") /
            (col("da") + col("db") - col("common")).cast("double"))
            .as("jaccard"))
        .orderBy("a", "b")
    }),

    // INT8 EMBEDDING QUANTIZATION audit — the storage/serving compression
    // step of a vector pipeline (fp32 → int8 cuts the 100 TB vector
    // store 4×): per-dimension symmetric scale q = round(v·127/max|v|).
    // Components enter the shared 1e-6 micro-unit integer space first
    // (so max|v| is an exact integer both engines agree on), the 64-row
    // per-dim max broadcasts back onto the scan, and the quantizer is a
    // shared IEEE floor(x·127/mx + 0.5) — identical op sequence on
    // identical integers. Output: 64 rows of saturation/mass audit.
    "q_llm_embed_quantize" -> ((s, d) => {
      val u = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("long"))))
        .select((col("pos") + 1).cast("long").as("i"), col("col").as("vu"))
      val mx = u.groupBy(col("i")).agg(max(abs(col("vu"))).as("mxu"))
      u.join(broadcast(mx), Seq("i"))
        .select(col("i"), col("mxu"),
          floor(col("vu") * lit(127.0) / col("mxu") + lit(0.5))
            .cast("long").as("q"))
        .groupBy(col("i"))
        .agg(count(lit(1)).as("n_vecs"), max(col("mxu")).as("max_abs_units"),
          sum(col("q")).as("sum_q"),
          sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_saturated"))
        .orderBy("i")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_ts_drawdown" ->
      """WITH b AS (SELECT user_id, event_id, ts::TIMESTAMP AS t,
                           CAST(value AS DECIMAL(18,2)) AS v
                    FROM events),
            s AS (SELECT user_id, event_id, t,
                         SUM(v) OVER (PARTITION BY user_id
                                      ORDER BY t, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum
                  FROM b),
            c AS (SELECT user_id, cum,
                         MAX(cum) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS peak
                  FROM s)
         SELECT user_id, COUNT(*) AS n_events,
                CAST(MAX(peak) AS DOUBLE) AS peak,
                CAST(MAX(peak - cum) AS DOUBLE) AS max_drawdown
         FROM c GROUP BY user_id ORDER BY user_id""",

    "q_agg_gini" ->
      """WITH r AS (SELECT o_orderpriority AS pri,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT) AS xu,
                           row_number() OVER (
                             PARTITION BY o_orderpriority
                             ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                           * 100 AS BIGINT),
                                      o_orderkey) AS i
                    FROM orders),
            g AS (SELECT pri, COUNT(*) AS n,
                         CAST(SUM(xu) AS BIGINT) AS sxu,
                         CAST(SUM(i * xu) AS HUGEINT) AS sixu
                  FROM r GROUP BY pri),
            g2 AS (SELECT pri, n, sxu,
                     2 * sixu - CAST(n + 1 AS HUGEINT) * sxu AS gnum
                   FROM g)
         SELECT pri, n, CAST(sxu AS DOUBLE) / 100.0 AS sum_price,
                (CAST(CAST(gnum // 1073741824 AS BIGINT) AS DOUBLE)
                   * 1073741824.0
                 + CAST(CAST(gnum % 1073741824 AS BIGINT) AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)) AS gini
         FROM g2 ORDER BY pri""",

    "q_ts_interval_merge" ->
      """WITH b AS (SELECT user_id, event_id,
                           epoch_us(ts::TIMESTAMP) AS st,
                           epoch_us(ts::TIMESTAMP) + 300000000 AS en
                    FROM events),
            f AS (SELECT user_id, event_id, st, en,
                         CASE WHEN MAX(en) OVER pw IS NULL
                                OR st > MAX(en) OVER pw
                              THEN 1 ELSE 0 END AS nw
                  FROM b
                  WINDOW pw AS (PARTITION BY user_id ORDER BY st, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)),
            g AS (SELECT user_id, st, en,
                         SUM(nw) OVER (PARTITION BY user_id
                                       ORDER BY st, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS isl
                  FROM f),
            i AS (SELECT user_id, isl, MIN(st) AS ist, MAX(en) AS ien
                  FROM g GROUP BY 1, 2)
         SELECT user_id, COUNT(*) AS n_intervals,
                CAST(SUM(ien - ist) AS BIGINT) AS covered_us,
                CAST(MAX(ien) - MIN(ist) AS BIGINT) AS span_us
         FROM i GROUP BY user_id ORDER BY user_id""",

    "q_agg_weighted_median" ->
      """WITH b AS (SELECT l_returnflag AS rf,
                           CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
                           CAST(l_quantity AS DECIMAL(18,2)) AS w,
                           l_orderkey, l_linenumber
                    FROM lineitem),
            c AS (SELECT rf, p,
                         SUM(w) OVER (PARTITION BY rf
                                      ORDER BY p, l_orderkey, l_linenumber
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cumw,
                         SUM(w) OVER (PARTITION BY rf) AS totw,
                         COUNT(*) OVER (PARTITION BY rf) AS nr
                  FROM b)
         SELECT rf, CAST(MIN(p) AS DOUBLE) AS w_median,
                CAST(MAX(totw) AS DOUBLE) AS total_weight,
                MAX(nr) AS n_rows
         FROM c WHERE cumw * 2 >= totw
         GROUP BY rf ORDER BY rf""",

    "q_graph_jaccard" ->
      s"""WITH ${Extras11.GraphSql},
            deg AS (SELECT src AS u, COUNT(*) AS deg FROM e GROUP BY 1),
            com AS (SELECT p.src AS a, q.src AS b, COUNT(*) AS common
                    FROM e p JOIN e q
                      ON p.dst = q.dst AND p.src < q.src
                    GROUP BY 1, 2 HAVING COUNT(*) >= 1)
         SELECT a, b, common,
                da.deg + db.deg - common AS union_size,
                CAST(common AS DOUBLE)
                  / CAST(da.deg + db.deg - common AS DOUBLE) AS jaccard
         FROM com JOIN deg da ON da.u = a JOIN deg db ON db.u = b
         ORDER BY a, b""",

    "q_llm_embed_quantize" ->
      """WITH q AS (SELECT vec_id,
                           list_transform(embedding, x ->
                             CAST(round(CAST(x AS DOUBLE) * 1000000)
                                  AS BIGINT)) AS qe
                    FROM embeddings),
            u AS (SELECT qe, unnest(generate_series(1, len(qe))) AS i FROM q),
            v AS (SELECT CAST(i AS BIGINT) AS i, qe[i] AS vu FROM u),
            m AS (SELECT i, MAX(ABS(vu)) AS mxu FROM v GROUP BY 1),
            z AS (SELECT v.i, m.mxu,
                         CAST(FLOOR(v.vu * 127.0 / m.mxu + 0.5) AS BIGINT)
                           AS q
                  FROM v JOIN m ON v.i = m.i)
         SELECT i, COUNT(*) AS n_vecs, MAX(mxu) AS max_abs_units,
                CAST(SUM(q) AS BIGINT) AS sum_q,
                CAST(SUM(CASE WHEN ABS(q) = 127 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_saturated
         FROM z GROUP BY i ORDER BY i"""
  )
}
