package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Det, Tables}

/** Round-11 additions, part 15: complexity + topology round-out —
  * sample entropy (the template-matching regularity statistic) and
  * band-limited spectral entropy over the daily revenue series, plus
  * 4-cycle (rectangle) counting and truncated-BFS closeness on the
  * shared co-occurrence graph.
  *
  * Determinism contract (SURVEY §2.13): template matches are exact
  * integer comparisons against an integer tolerance derived once from
  * exact moments; spectral powers fold quantized trig weights (the
  * q_ts_periodogram discipline) into DECIMAL(38,0); the graph counts
  * are pure integer combinatorics. The all-pairs template join rides
  * the CALENDAR-BOUNDED daily spine (~2.4k rows at any fact scale) —
  * broadcast, never a fact-row cross join.
  */
object Extras89 {
  import Det._

  private val Big = DecimalType(38, 0)

  /** Daily revenue spine with 0-based time index. */
  private def daily(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("y"))
      .withColumn("t",
        (row_number().over(Window.orderBy(col("dt"))) - 1).cast("long"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SAMPLE ENTROPY — SampEn(m=2, r=⌊0.2σ⌋ cents): B counts ordered
    // template pairs i<j over every position whose length-2 window
    // exists, matched within r in Chebyshev distance; A the length-3
    // matches over positions with a length-3 window; SampEn = −ln(A/B). The tolerance is ONE floor over
    // the exact population moments; every match test is an integer
    // comparison. Pairs = spine², distributed via broadcast of the
    // calendar-bounded template side.
    "q_ts_sample_entropy" -> ((s, d) => {
      val tpl = daily(s, d)
        .withColumn("y1", lead(col("y"), 1).over(Window.orderBy(col("dt"))))
        .withColumn("y2", lead(col("y"), 2).over(Window.orderBy(col("dt"))))
        .select(col("t"), col("y"), col("y1"), col("y2"))
      val glob = daily(s, d).agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"),
        sum(col("y").cast(Big) * col("y").cast(Big)).as("syy"))
        .select(col("n"),
          floor(lit(0.2) * sqrt((col("n").cast(Big) * col("syy")
            - col("sy").cast(Big) * col("sy").cast(Big)).cast("double"))
            / col("n").cast("double")).cast("long").as("r"))
      val pairs = tpl.as("ta")
        .join(broadcast(tpl.as("tb")), col("ta.t") < col("tb.t"))
        .crossJoin(broadcast(glob))
      val m2 = abs(col("ta.y") - col("tb.y")) <= col("r") &&
        abs(col("ta.y1") - col("tb.y1")) <= col("r")
      val m3 = m2 && abs(col("ta.y2") - col("tb.y2")) <= col("r")
      val a = pairs.agg(max(col("n")).as("n"), max(col("r")).as("r"),
        sum((col("ta.y1").isNotNull && col("tb.y1").isNotNull && m2)
          .cast("long")).as("b"),
        sum((col("ta.y2").isNotNull && col("tb.y2").isNotNull && m3)
          .cast("long")).as("a"))
      a.select(col("n").as("n_days"), col("r").as("r_cents"),
        col("b").as("b_pairs"), col("a").as("a_pairs"),
        r6(-log(col("a").cast("double") / col("b").cast("double")))
          .as("sampen"))
    }),

    // SPECTRAL ENTROPY — normalized band powers at the 7/30/90/365-day
    // periods: per band the quantized-trig projections (a,b) fold to
    // the exact power a²+b²; the four powers pivot to ONE row of named
    // scalars, so the entropy is a fixed-shape 4-term chain (never a
    // cross-row double sum). y rides div 1e5 (the periodogram
    // headroom discipline).
    "q_ts_spectral_entropy" -> ((s, d) => {
      val base = daily(s, d)
        .select(col("t"), expr("y div 100000").as("v"))
      def band(p: Int): DataFrame = base
        .withColumn("c", expr(
          s"CAST(round(cos(2 * pi() * (t % $p) / $p) * 1000000) AS BIGINT)"))
        .withColumn("s2", expr(
          s"CAST(round(sin(2 * pi() * (t % $p) / $p) * 1000000) AS BIGINT)"))
        .agg(sum(col("v") * col("c")).cast(Big).as("a"),
          sum(col("v") * col("s2")).cast(Big).as("b"))
        .select(lit(p).as("period"),
          (col("a") * col("a") + col("b") * col("b")).as("pw"))
      val piv = band(7).unionByName(band(30)).unionByName(band(90))
        .unionByName(band(365))
        .agg(max(when(col("period") === 7, col("pw"))).as("p7"),
          max(when(col("period") === 30, col("pw"))).as("p30"),
          max(when(col("period") === 90, col("pw"))).as("p90"),
          max(when(col("period") === 365, col("pw"))).as("p365"))
      val tot = (col("p7") + col("p30") + col("p90") + col("p365"))
        .cast("double")
      def share(c: String) = col(c).cast("double") / tot
      def term(c: String) = -share(c) * log(share(c))
      piv.select(r6(share("p7")).as("share7"),
        r6(share("p30")).as("share30"),
        r6(share("p90")).as("share90"),
        r6(share("p365")).as("share365"),
        r6(term("p7") + term("p30") + term("p90") + term("p365"))
          .as("spectral_entropy"))
    }),

    // 4-CYCLE (RECTANGLE) COUNT — wedges (u,v share a neighbor w) from
    // the symmetric edge relation with u<v; per (u,v) the common-
    // neighbor count c; Σ C(c,2) counts every rectangle once per
    // diagonal pair = twice, so R = Σ/2 — all integer combinatorics.
    // Same join family and bounds as q_graph_triangles.
    "q_graph_4cycles" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d)
      val common = e.as("e1")
        .join(e.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .groupBy(col("e1.dst").as("u"), col("e2.dst").as("v"))
        .agg(count(lit(1)).as("c"))
      common.agg(count(lit(1)).as("n_pairs_common"),
          sum(expr("c * (c - 1) div 2")).as("s"))
        .select(col("n_pairs_common"),
          expr("s div 2").as("n_rectangles"))
    }),

    // TRUNCATED CLOSENESS (depth ≤ 3) — the harmonic-centrality BFS
    // frontiers reused with the closeness formula:
    // C₃ = reached / Σdist = (n1+n2+n3)/(n1+2n2+3n3) — one division
    // of exact integers per seed.
    "q_graph_closeness" -> ((s, d) => {
      Extras50.hopCounts3(s, d)
        .withColumn("closeness3",
          r6((col("n1") + col("n2") + col("n3")).cast("double") /
            (col("n1") + col("n2") * 2 + col("n3") * 3).cast("double")))
        .orderBy("seed")
    })
  )

  private val DailySql =
    """daily AS (SELECT dt, y,
                   CAST(row_number() OVER (ORDER BY dt) - 1 AS BIGINT) AS t
                 FROM (SELECT CAST(o_orderdate AS DATE) AS dt,
                         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                           * 100 AS BIGINT)) AS BIGINT) AS y
                       FROM orders GROUP BY 1))"""

  val oracle: Map[String, String] = Map(

    "q_ts_sample_entropy" ->
      s"""WITH $DailySql,
            tpl AS (SELECT t, y,
                      lead(y, 1) OVER (ORDER BY dt) AS y1,
                      lead(y, 2) OVER (ORDER BY dt) AS y2
                    FROM daily),
            g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(floor(0.2 * sqrt(CAST(CAST(COUNT(*) AS HUGEINT)
                        * SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                        - CAST(SUM(y) AS HUGEINT)
                          * CAST(SUM(y) AS HUGEINT) AS DOUBLE))
                      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS r
                  FROM daily),
            p AS (SELECT x.y AS xy, x.y1 AS xy1, x.y2 AS xy2,
                    y.y AS yy, y.y1 AS yy1, y.y2 AS yy2, n, r
                  FROM tpl x JOIN tpl y ON x.t < y.t, g),
            a AS (SELECT MAX(n) AS n, MAX(r) AS r,
                    CAST(SUM(CASE WHEN xy1 IS NOT NULL AND yy1 IS NOT NULL
                          AND abs(xy - yy) <= r AND abs(xy1 - yy1) <= r
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
                    CAST(SUM(CASE WHEN xy2 IS NOT NULL AND yy2 IS NOT NULL
                          AND abs(xy - yy) <= r AND abs(xy1 - yy1) <= r
                          AND abs(xy2 - yy2) <= r
                        THEN 1 ELSE 0 END) AS BIGINT) AS a
                  FROM p)
         SELECT n AS n_days, r AS r_cents, b AS b_pairs, a AS a_pairs,
                round(-ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)), 6)
                  AS sampen
         FROM a""",

    "q_ts_spectral_entropy" -> {
      def band(p: Int) =
        s"""SELECT $p AS period,
              CAST(SUM(v * CAST(round(cos(2 * pi() * (t % $p) / $p)
                  * 1000000) AS BIGINT)) AS HUGEINT)
                * CAST(SUM(v * CAST(round(cos(2 * pi() * (t % $p) / $p)
                  * 1000000) AS BIGINT)) AS HUGEINT)
              + CAST(SUM(v * CAST(round(sin(2 * pi() * (t % $p) / $p)
                  * 1000000) AS BIGINT)) AS HUGEINT)
                * CAST(SUM(v * CAST(round(sin(2 * pi() * (t % $p) / $p)
                  * 1000000) AS BIGINT)) AS HUGEINT) AS pw
            FROM base"""
      s"""WITH $DailySql,
            base AS (SELECT t, y // 100000 AS v FROM daily),
            bands AS (${band(7)} UNION ALL ${band(30)}
              UNION ALL ${band(90)} UNION ALL ${band(365)}),
            piv AS (SELECT
                      MAX(CASE WHEN period = 7 THEN pw END) AS p7,
                      MAX(CASE WHEN period = 30 THEN pw END) AS p30,
                      MAX(CASE WHEN period = 90 THEN pw END) AS p90,
                      MAX(CASE WHEN period = 365 THEN pw END) AS p365
                    FROM bands),
            sh AS (SELECT
                     CAST(p7 AS DOUBLE)
                       / CAST(p7 + p30 + p90 + p365 AS DOUBLE) AS s7,
                     CAST(p30 AS DOUBLE)
                       / CAST(p7 + p30 + p90 + p365 AS DOUBLE) AS s30,
                     CAST(p90 AS DOUBLE)
                       / CAST(p7 + p30 + p90 + p365 AS DOUBLE) AS s90,
                     CAST(p365 AS DOUBLE)
                       / CAST(p7 + p30 + p90 + p365 AS DOUBLE) AS s365
                   FROM piv)
         SELECT round(s7, 6) AS share7, round(s30, 6) AS share30,
                round(s90, 6) AS share90, round(s365, 6) AS share365,
                round(-s7 * ln(s7) + -s30 * ln(s30) + -s90 * ln(s90)
                  + -s365 * ln(s365), 6) AS spectral_entropy
         FROM sh"""
    },

    "q_graph_4cycles" ->
      s"""WITH ${Extras11.GraphSql},
            common AS (SELECT e1.dst AS u, e2.dst AS v,
                         CAST(COUNT(*) AS BIGINT) AS c
                       FROM e e1 JOIN e e2
                         ON e1.src = e2.src AND e1.dst < e2.dst
                       GROUP BY 1, 2)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_common,
                CAST(SUM(c * (c - 1) // 2) // 2 AS BIGINT) AS n_rectangles
         FROM common""",

    "q_graph_closeness" ->
      s"""WITH ${Extras11.GraphSql},
            seeds AS (SELECT DISTINCT src AS seed FROM e
                      WHERE src % 35 = 0),
            d1 AS (SELECT DISTINCT seed, dst AS v
                   FROM seeds JOIN e ON e.src = seed
                   WHERE dst <> seed),
            d2 AS (SELECT DISTINCT d1.seed, e.dst AS v2
                   FROM d1 JOIN e ON e.src = d1.v
                   WHERE e.dst <> d1.seed
                     AND NOT EXISTS (SELECT 1 FROM d1 i
                       WHERE i.seed = d1.seed AND i.v = e.dst)),
            d3 AS (SELECT DISTINCT d2.seed, e.dst AS v3
                   FROM d2 JOIN e ON e.src = d2.v2
                   WHERE e.dst <> d2.seed
                     AND NOT EXISTS (SELECT 1 FROM d1 i
                       WHERE i.seed = d2.seed AND i.v = e.dst)
                     AND NOT EXISTS (SELECT 1 FROM d2 i
                       WHERE i.seed = d2.seed AND i.v2 = e.dst)),
            h AS (SELECT s.seed,
                    (SELECT COUNT(*) FROM d1 WHERE d1.seed = s.seed)
                      AS n1,
                    (SELECT COUNT(*) FROM d2 WHERE d2.seed = s.seed)
                      AS n2,
                    (SELECT COUNT(*) FROM d3 WHERE d3.seed = s.seed)
                      AS n3
                  FROM seeds s)
         SELECT seed, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(n3 AS BIGINT) AS n3,
                round(CAST(n1 + n2 + n3 AS DOUBLE)
                  / CAST(n1 + n2 * 2 + n3 * 3 AS DOUBLE), 6) AS closeness3
         FROM h WHERE n1 > 0 ORDER BY seed"""
  )
}
