package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Det, Tables}

/** Round-11 additions, part 21: experimentation-design round-out —
  * A/B sample-size (power) calculation from the observed conversion
  * base rate, the Fisher-z confidence interval for a correlation,
  * 28-day rolling regression beta between order and shipment revenue,
  * and the clustering-coefficient-by-degree profile of the shared
  * co-occurrence graph.
  *
  * Determinism contract (SURVEY §2.13): counts/moments are exact
  * integers; atanh/tanh are written as their explicit exp/ln forms
  * (shared fixed shape — no reliance on engine-specific hyperbolics);
  * per-node clustering coefficients are micro-quantized before the
  * per-degree-bucket fold.
  */
object Extras95 {
  import Det._

  private val Big = DecimalType(38, 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // POWER / SAMPLE SIZE — per-arm n to detect an absolute 2pp shift
    // on the observed user-level multi-purchase conversion (≥5
    // purchases — the saturated any-purchase rate would push p₂ past
    // 1) at α=.05 two-sided, 80% power; the shift direction flips by
    // the exact integer gate 2k > n so p₂ stays in (0,1):
    // n = (1.96·√(2p̄q̄) + 0.8416·√(p₁q₁+p₂q₂))² / δ².
    "q_evt_power_sample_size" -> ((s, d) => {
      val a = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg((sum((col("event_type") === "purchase").cast("int")) >= 5)
          .cast("int").as("c"))
        .agg(count(lit(1)).as("n"), sum(col("c").cast("long")).as("k"))
      val p1 = col("k").cast("double") / col("n").cast("double")
      val p2 = p1 + when(col("k") * 2 > col("n"), lit(-0.02))
        .otherwise(lit(0.02))
      val pbar = (p1 + p2) / 2
      val num = lit(1.96) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
        lit(0.8416) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
      a.select(col("n").as("n_users"), col("k").as("n_converted"),
        r6(p1).as("base_rate"),
        r6(num * num / lit(0.0004)).as("n_per_arm"))
    }),

    // FISHER-Z CORRELATION CI — r(quantity, price) with the z
    // transform written out: z = ln((1+r)/(1−r))/2, bounds z∓1.96/
    // √(n−3), back via (e²ᶻ−1)/(e²ᶻ+1) — one shared chain.
    "q_agg_corr_ci" -> ((s, d) => {
      val m = Tables.lineitem(s, d).select(
          col("l_quantity").cast("long").as("x"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast(Big) * col("x").cast(Big)).as("sxx"),
          sum(col("y").cast(Big) * col("y").cast(Big)).as("syy"),
          sum(col("x").cast(Big) * col("y").cast(Big)).as("sxy"))
      def ctr(sab: String, sa: String, sb: String) =
        (col("n").cast(Big) * col(sab)
          - col(sa).cast(Big) * col(sb).cast(Big)).cast("double")
      val r = ctr("sxy", "sx", "sy") /
        sqrt(ctr("sxx", "sx", "sx") * ctr("syy", "sy", "sy"))
      val z = log((lit(1.0) + r) / (lit(1.0) - r)) / 2
      val hw = lit(1.96) / sqrt(col("n").cast("double") - 3)
      def back(zc: org.apache.spark.sql.Column) =
        (exp(zc * 2) - 1) / (exp(zc * 2) + 1)
      m.select(col("n").as("n_rows"), r6(r).as("r"),
        r6(back(z - hw)).as("r_lo"), r6(back(z + hw)).as("r_hi"))
    }),

    // ROLLING BETA — 28-day regression slope of daily order revenue on
    // daily shipment revenue over the joined calendar spine: windowed
    // exact moments, slope = (mSxy−SxSy)/(mSxx−Sx²) per emitted day.
    "q_win_beta_rolling" -> ((s, d) => {
      val ship = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("dt"))
        .agg(sum((dec(col("l_extendedprice")) * 100).cast("long")).as("x"))
      val sp = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("y"))
        .join(ship, Seq("dt"))
      val wf = Window.orderBy(col("dt")).rowsBetween(-27, 0)
      val base = sp
        .withColumn("rn", row_number().over(Window.orderBy(col("dt"))))
        .withColumn("m", count(lit(1)).over(wf))
        .withColumn("sx", sum(col("x")).over(wf))
        .withColumn("sy", sum(col("y")).over(wf))
        .withColumn("sxx", sum(col("x").cast(Big) * col("x").cast(Big))
          .over(wf))
        .withColumn("sxy", sum(col("x").cast(Big) * col("y").cast(Big))
          .over(wf))
        .where(col("rn") >= 28)
      base.select(col("dt"),
          r6((col("m").cast(Big) * col("sxy")
            - col("sx").cast(Big) * col("sy").cast(Big)).cast("double") /
            (col("m").cast(Big) * col("sxx")
              - col("sx").cast(Big) * col("sx").cast(Big)).cast("double"))
            .as("beta28"))
        .orderBy(col("dt"))
    }),

    // CLUSTERING COEFFICIENT BY DEGREE — per-node triangle counts off
    // the symmetric edge relation (wedge + closing-edge semi join);
    // cc = 2t/(d(d−1)) micro-quantized per node, then the
    // log2-degree-bucket profile (bucket via integer doubling
    // comparisons — no float log).
    "q_graph_cc_by_degree" -> ((s, d) => {
      val und = Extras11.undirectedEdges(s, d)
      val e = Extras11.symmetricEdges(s, d)
      val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
      // Round 17 (the two_hop lesson, §2.5): Σdeg²-output wedge join on
      // a byte-sized edge list — one explicit core-parallelism
      // repartition on the shared join key (both sides reuse it) keeps
      // the expansion parallel; the closing-edge join and the per-node
      // count stay planner-chosen above it.
      val p = s.sparkContext.defaultParallelism
      val eR = e.repartition(p, col("src"))
      val wedge = eR.as("e1")
        .join(eR.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.src").as("v"), col("e1.dst").as("a"),
          col("e2.dst").as("b"))
      val tri = wedge.join(und.select(col("a"), col("b")), Seq("a", "b"))
        .groupBy(col("v")).agg(count(lit(1)).as("t"))
      val perNode = deg.join(tri, Seq("v"), "left")
        .select(col("v"), col("d"),
          coalesce(col("t"), lit(0L)).as("t"))
        .where(col("d") >= 2)
        .withColumn("cc_micro",
          round(col("t").cast("double") * 2e6 /
            (col("d").cast("double") * (col("d") - 1).cast("double")))
            .cast("long"))
        .withColumn("bucket",
          when(col("d") < 4, lit(2)).when(col("d") < 8, lit(4))
            .when(col("d") < 16, lit(8)).when(col("d") < 32, lit(16))
            .when(col("d") < 64, lit(32)).otherwise(lit(64))
            .cast("long"))
      perNode.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("cc_micro")).as("sm"))
        .select(col("bucket").as("degree_bucket"), col("n_nodes"),
          r6(col("sm").cast("double") / 1e6
            / col("n_nodes").cast("double")).as("avg_cc"))
        .orderBy(col("degree_bucket"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_evt_power_sample_size" ->
      """WITH per AS (SELECT user_id,
                    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) >= 5 THEN 1 ELSE 0 END AS c
                 FROM events GROUP BY 1),
            a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(c) AS BIGINT) AS k FROM per),
            e AS (SELECT n, k,
                    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p1
                  FROM a),
            f AS (SELECT n, k, p1,
                    p1 + (CASE WHEN k * 2 > n THEN -0.02 ELSE 0.02 END)
                      AS p2,
                    (p1 + (p1 + (CASE WHEN k * 2 > n THEN -0.02
                      ELSE 0.02 END))) / 2 AS pbar
                  FROM e)
         SELECT n AS n_users, k AS n_converted, round(p1, 6) AS base_rate,
                round((1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
                    + 0.8416 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                  * (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
                    + 0.8416 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                  / 0.0004, 6) AS n_per_arm
         FROM f""",

    "q_agg_corr_ci" ->
      """WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
                    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * 100 AS BIGINT)) AS BIGINT) AS sy,
                    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
                      * CAST(CAST(l_quantity AS BIGINT) AS HUGEINT))
                      AS sxx,
                    SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * 100 AS BIGINT) AS HUGEINT)
                      * CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * 100 AS BIGINT) AS HUGEINT)) AS syy,
                    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
                      * CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * 100 AS BIGINT) AS HUGEINT)) AS sxy
                  FROM lineitem),
            e AS (SELECT n,
                    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT)
                        * CAST(sy AS HUGEINT) AS DOUBLE)
                      / sqrt(CAST(CAST(n AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                          AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * syy
                          - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
                          AS DOUBLE)) AS r
                  FROM m),
            f AS (SELECT n, r,
                    ln((1.0 + r) / (1.0 - r)) / 2 AS z,
                    1.96 / sqrt(CAST(n AS DOUBLE) - 3) AS hw
                  FROM e)
         SELECT n AS n_rows, round(r, 6) AS r,
                round((exp((z - hw) * 2) - 1) / (exp((z - hw) * 2) + 1), 6)
                  AS r_lo,
                round((exp((z + hw) * 2) - 1) / (exp((z + hw) * 2) + 1), 6)
                  AS r_hi
         FROM f""",

    "q_win_beta_rolling" ->
      """WITH ship AS (SELECT CAST(l_shipdate AS DATE) AS dt,
                    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * 100 AS BIGINT)) AS BIGINT) AS x
                 FROM lineitem GROUP BY 1),
            ord AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                        * 100 AS BIGINT)) AS BIGINT) AS y
                    FROM orders GROUP BY 1),
            sp AS (SELECT ord.dt, x, y FROM ord JOIN ship USING (dt)),
            win AS (SELECT dt,
                      row_number() OVER (ORDER BY dt) AS rn,
                      CAST(COUNT(*) OVER w AS BIGINT) AS m,
                      CAST(SUM(x) OVER w AS BIGINT) AS sx,
                      CAST(SUM(y) OVER w AS BIGINT) AS sy,
                      SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w
                        AS sxx,
                      SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) OVER w
                        AS sxy
                    FROM sp
                    WINDOW w AS (ORDER BY dt ROWS BETWEEN 27 PRECEDING
                      AND CURRENT ROW))
         SELECT dt,
                round(CAST(CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT)
                    * CAST(sy AS HUGEINT) AS DOUBLE)
                  / CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT)
                    * CAST(sx AS HUGEINT) AS DOUBLE), 6) AS beta28
         FROM win WHERE rn >= 28 ORDER BY dt""",

    "q_graph_cc_by_degree" ->
      s"""WITH ${Extras11.GraphSql},
            deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d
                    FROM e GROUP BY 1),
            wedge AS (SELECT e1.src AS v, e1.dst AS a, e2.dst AS b
                      FROM e e1 JOIN e e2
                        ON e1.src = e2.src AND e1.dst < e2.dst),
            tri AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t
                    FROM wedge JOIN und USING (a, b) GROUP BY 1),
            pn AS (SELECT deg.v, d, COALESCE(t, 0) AS t,
                     CAST(round(CAST(COALESCE(t, 0) AS DOUBLE) * 2e6
                       / (CAST(d AS DOUBLE) * CAST(d - 1 AS DOUBLE)))
                       AS BIGINT) AS cc_micro,
                     CAST(CASE WHEN d < 4 THEN 2 WHEN d < 8 THEN 4
                       WHEN d < 16 THEN 8 WHEN d < 32 THEN 16
                       WHEN d < 64 THEN 32 ELSE 64 END AS BIGINT)
                       AS bucket
                   FROM deg LEFT JOIN tri ON deg.v = tri.v
                   WHERE d >= 2)
         SELECT bucket AS degree_bucket,
                CAST(COUNT(*) AS BIGINT) AS n_nodes,
                round(CAST(SUM(cc_micro) AS DOUBLE) / 1e6
                  / CAST(COUNT(*) AS DOUBLE), 6) AS avg_cc
         FROM pn GROUP BY 1 ORDER BY 1"""
  )
}
