package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Det, Tables}

/** Round-11 additions, part 60: personalized PageRank (teleport mass
  * pinned to the u%35=0 seed set — the "related items" kernel beside
  * the global q_graph_pagerank), the EWMA control chart (λ = 1/2
  * steady-state 3σ limits over the daily revenue — the
  * memory-weighted sibling of the CUSUM chart), and the per-cohort
  * repeat-purchase rate (share of each first-order-year cohort whose
  * second order lands within 365 days — the one-number retention
  * health metric).
  *
  * Scale shape: PPR iterates the integer micro-rank kernel
  * (Extras11.rankLoop: edges persisted and partitioned by src, ranks
  * cut per round by Fixpoint, the q_graph_pagerank discipline) with
  * the teleport entering through a LEFT join from the node set so
  * contribution-less seeds persist; ewma_chart rides the 16-day
  * truncated power-of-2 window (the q_ts_ewma kernel) + one exact
  * moment fold; repeat_rate is one per-customer rank pass.
  *
  * Determinism contract (SURVEY §2.13): PPR state is integer micro
  * units with div steps — both engines iterate identical integers
  * (teleport = (150000·n_nodes) div n_seeds, unrolled CTE twin).
  * ewma weights are exact powers of two; the flag gate compares the
  * same IEEE chain both engines. repeat_rate is exact integer
  * day arithmetic with the (td, orderkey) rank pin.
  */
object Extras134 {
  import Det._

  private val Big = DecimalType(38, 0)
  private val PprIters = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PERSONALIZED PAGERANK — teleport to the u%35=0 seeds only.
    "q_graph_ppr" -> ((s, d) => Extras11.rankLoop(s, d) { ce =>
      val nodes = ce.select(col("src").as("u"),
          (pmod(col("src"), lit(35L)) === 0).cast("long").as("seed"))
        .distinct()
        .duckCkpt()
      val counts = nodes.agg(count(lit(1)).as("n_nodes"),
        sum(col("seed")).as("n_seeds"))
      def step(r: DataFrame): DataFrame = {
        val contrib = ce.join(r.withColumnRenamed("u", "src"), "src")
          .groupBy(col("dst"))
          .agg(sum(expr("rank div outdeg")).as("c"))
        nodes.join(contrib.withColumnRenamed("dst", "u"), Seq("u"), "left")
          .crossJoin(broadcast(counts))
          .select(col("u"),
            (col("seed") * expr("(150000 * n_nodes) div n_seeds")
              + expr("(850000 * coalesce(c, 0)) div 1000000"))
              .as("rank"))
      }
      Fixpoint.rounds(step(nodes.select(col("u"), lit(1000000L).as("rank"))),
        PprIters - 1)(step).last
    }.orderBy("u")),

    // EWMA CONTROL CHART — λ = 1/2 truncated-16 EWMA of daily revenue
    // vs steady-state 3σ limits; emits the violating days.
    "q_ts_ewma_chart" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("y"))
      val glob = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y").cast(Big) * col("y").cast(Big)).as("syy"))
      val w = Window.orderBy(col("dt")).rowsBetween(-15, 0)
      val ew = daily
        .withColumn("lst", collect_list(col("y")).over(w))
        .where(size(col("lst")) === 16)
        .select(col("dt"),
          expr("""aggregate(
                    zip_with(lst, sequence(1, 16),
                             (v, k) -> CAST(v AS DOUBLE) * power(2, k - 1)),
                    CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("num"))
        .select(col("dt"),
          (col("num") / (pow(lit(2.0), lit(16.0)) - 1.0)).as("ewma"))
        .crossJoin(broadcast(glob))
      val nD = col("n").cast("double")
      val mu = col("sy").cast("double") / nD
      val sd = sqrt((nD * col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double")) /
        (nD * (nD - 1)))
      val halfWidth = lit(3.0) * sd * sqrt(lit(1.0) / lit(3.0))
      ew.where(abs(col("ewma") - mu) > halfWidth)
        .select(col("dt"),
          r6(col("ewma") / lit(100.0)).as("ewma_dollars"),
          r6((mu - halfWidth) / lit(100.0)).as("lcl_dollars"),
          r6((mu + halfWidth) / lit(100.0)).as("ucl_dollars"))
        .orderBy(col("dt"))
    }),

    // REPEAT RATE — per first-order-year cohort: share of customers
    // whose SECOND order arrives within 365 days of the first (the
    // one-number repeat-purchase health metric under each cohort).
    "q_evt_repeat_rate" -> ((s, d) => {
      val w = Window.partitionBy(col("c")).orderBy(col("td"),
        col("okey"))
      val per = Tables.orders(s, d)
        .select(col("o_custkey").as("c"),
          unix_date(to_date(col("o_orderdate"))).cast("long").as("td"),
          col("o_orderkey").as("okey"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .groupBy(col("c"))
        .agg(min(col("td")).as("t1"),
          max(when(col("rk") === 2, col("td"))).as("t2"))
      per
        .withColumn("cohort", year(date_add(to_date(lit("1970-01-01")),
          col("t1").cast("int"))))
        .withColumn("repeat365",
          (col("t2").isNotNull && col("t2") - col("t1") <= 365)
            .cast("long"))
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("repeat365")).as("n_repeat"))
        .select(col("cohort"), col("n_customers"), col("n_repeat"),
          r6(col("n_repeat").cast("double")
            / col("n_customers").cast("double")).as("repeat_rate"))
        .orderBy(col("cohort"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_graph_ppr" -> {
      val steps = (1 to PprIters).map { i =>
        s"""c$i AS (SELECT ce.dst AS u,
               CAST(SUM(r.rank // ce.outdeg) AS BIGINT) AS c
             FROM ce JOIN r${i - 1} r ON r.u = ce.src
             GROUP BY ce.dst),
           r$i AS (SELECT nodes.u,
               CAST(nodes.seed * ((150000 * cnt.n_nodes) // cnt.n_seeds)
                 + (850000 * COALESCE(c$i.c, 0)) // 1000000 AS BIGINT)
                 AS rank
             FROM nodes LEFT JOIN c$i ON c$i.u = nodes.u
             CROSS JOIN cnt)"""
      }.mkString(",\n")
      s"""WITH ${Extras11.GraphSql},
            deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
            ce AS (SELECT e.src, e.dst, deg.outdeg
                   FROM e JOIN deg ON deg.src = e.src),
            nodes AS (SELECT src AS u,
                      CASE WHEN src % 35 = 0 THEN 1 ELSE 0 END AS seed
                    FROM deg),
            cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                    CAST(SUM(seed) AS BIGINT) AS n_seeds FROM nodes),
            r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS rank
                   FROM nodes),
            $steps
         SELECT u, rank FROM r$PprIters ORDER BY u"""
    },

    "q_ts_ewma_chart" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS y
                 FROM orders GROUP BY 1),
            gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(y) AS BIGINT) AS sy,
                    CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                      AS HUGEINT) AS syy FROM daily),
            win AS (SELECT dt,
                    list(y) OVER (ORDER BY dt
                      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst
                  FROM daily),
            ew AS (SELECT dt,
                    list_dot_product(
                      list_transform(lst, x -> CAST(x AS DOUBLE)),
                      list_transform(generate_series(1, len(lst)),
                                     k -> power(2, k - 1)))
                      / (power(2, 16) - 1) AS ewma
                  FROM win WHERE len(lst) = 16),
            f AS (SELECT dt, ewma,
                    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                    3.0 * sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                      * sqrt(1.0 / 3.0) AS hw
                  FROM ew, gl)
         SELECT dt, round(ewma / 100.0, 6) AS ewma_dollars,
                round((mu - hw) / 100.0, 6) AS lcl_dollars,
                round((mu + hw) / 100.0, 6) AS ucl_dollars
         FROM f WHERE abs(ewma - mu) > hw ORDER BY dt""",

    "q_evt_repeat_rate" ->
      """WITH per AS (SELECT o_custkey AS c,
                    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                      AS BIGINT) AS td,
                    o_orderkey AS okey
                 FROM orders),
            rk AS (SELECT c, td,
                    row_number() OVER (PARTITION BY c
                      ORDER BY td, okey) AS rk
                  FROM per),
            f2 AS (SELECT c, MIN(td) AS t1,
                    MAX(CASE WHEN rk = 2 THEN td END) AS t2
                  FROM rk WHERE rk <= 2 GROUP BY 1),
            coh AS (SELECT
                    CAST(year(DATE '1970-01-01'
                      + CAST(t1 AS INTEGER)) AS INT) AS cohort,
                    CASE WHEN t2 IS NOT NULL AND t2 - t1 <= 365
                         THEN 1 ELSE 0 END AS repeat365
                  FROM f2)
         SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers,
                CAST(SUM(repeat365) AS BIGINT) AS n_repeat,
                round(CAST(SUM(repeat365) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS repeat_rate
         FROM coh GROUP BY 1 ORDER BY cohort"""
  )
}
