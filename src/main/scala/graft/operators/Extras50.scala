package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-9 additions, part 13: Kaplan-Meier survival (time to repeat
  * purchase, with censoring), the 2×2 odds ratio with its Wald CI,
  * truncated harmonic centrality, and slug normalization.
  *
  * Determinism contract (SURVEY §2.13): risk sets and event counts are
  * exact integers; per-event-time ln(1−d/n) terms quantize to integer
  * micro-units BEFORE the cumulative sum (so the survival curve is a
  * deterministic integer cumsum with one exp tail per row); harmonic
  * weights are exact sixths (6/d ∈ {6,3,2}).
  */
object Extras50 {
  import Det._

  /** Per-seed 3-hop frontier sizes (seed, n1, n2, n3) on the shared
    * co-occurrence graph: seeds are the nodes with id % 35 == 0, and
    * n_k counts the nodes first reached at exactly k hops. Harmonic and
    * truncated closeness centrality are two formulas over these counts. */
  private[operators] def hopCounts3(s: SparkSession, d: String): DataFrame = {
    val e = Extras11.symmetricEdges(s, d)
    val seeds = e.select(col("src").as("seed")).distinct()
      .where(pmod(col("seed"), lit(35L)) === 0)
    val d1 = seeds.join(e, col("seed") === col("src"))
      .select(col("seed"), col("dst").as("v")).distinct()
      .where(col("seed") =!= col("v"))
    val d2 = d1.join(e, col("v") === col("src"))
      .select(col("seed"), col("dst").as("v2")).distinct()
      .where(col("seed") =!= col("v2"))
      .join(d1.select(col("seed"), col("v").as("v2")),
        Seq("seed", "v2"), "left_anti")
    val d3 = d2.join(e, col("v2") === col("src"))
      .select(col("seed"), col("dst").as("v3")).distinct()
      .where(col("seed") =!= col("v3"))
      .join(d1.select(col("seed"), col("v").as("v3")),
        Seq("seed", "v3"), "left_anti")
      .join(d2.select(col("seed"), col("v2").as("v3")),
        Seq("seed", "v3"), "left_anti")
    val h1 = d1.groupBy(col("seed")).agg(count(lit(1)).as("n1"))
    val h2 = d2.groupBy(col("seed")).agg(count(lit(1)).as("n2"))
    val h3 = d3.groupBy(col("seed")).agg(count(lit(1)).as("n3"))
    h1.join(h2, Seq("seed"), "left").join(h3, Seq("seed"), "left")
      .select(col("seed"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n3"), lit(0L)).as("n3"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // KAPLAN-MEIER SURVIVAL — time from first to second order per
    // customer; single-order customers are right-CENSORED at the end
    // of the observation window (the textbook estimator, not the naive
    // repeat-rate). Per distinct duration: events d, censored c, and
    // the at-risk count n = N − (all removed strictly earlier) via an
    // exclusive cumulative sum over the duration spine (bounded
    // relation). Each ln(1−d/n) is micro-quantized; the emitted
    // survival is exp of the integer cumsum — one IEEE tail per row.
    "q_evt_survival" -> ((s, d) => {
      val byCust = Tables.orders(s, d)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("dt"),
          col("o_orderkey"))
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("dt"), col("o_orderkey"))))
      val firstTwo = byCust.where(col("rn") <= 2)
        .groupBy(col("o_custkey"))
        .agg(min(col("dt")).as("d1"),
          max(when(col("rn") === 2, col("dt"))).as("d2"))
      val maxDate = Tables.orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("dmax"))
      val durations = firstTwo.crossJoin(broadcast(maxDate))
        .select(
          when(col("d2").isNotNull, datediff(col("d2"), col("d1")))
            .otherwise(datediff(col("dmax"), col("d1"))).cast("long")
            .as("dur"),
          col("d2").isNotNull.as("is_event"))
      val byDur = durations.groupBy(col("dur"))
        .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d_events"),
          sum(when(col("is_event"), 0L).otherwise(1L)).as("d_cens"))
      val n = durations.agg(count(lit(1)).as("n_subjects"))
      val ordw = Window.orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val curve = byDur.crossJoin(broadcast(n))
        .withColumn("removed_before",
          coalesce(sum(col("d_events") + col("d_cens")).over(ordw), lit(0L)))
        .withColumn("n_risk", col("n_subjects") - col("removed_before"))
        .withColumn("term_micro",
          when(col("d_events") > 0 && col("d_events") < col("n_risk"),
            round(log(lit(1.0) - col("d_events").cast("double")
              / col("n_risk").cast("double")) * 1e6).cast("long")))
        .withColumn("cum_micro", sum(col("term_micro")).over(
          Window.orderBy(col("dur"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      curve.where(col("d_events") > 0 && col("d_events") < col("n_risk"))
        .select(col("dur").as("dur_days"), col("d_events"), col("d_cens"),
          col("n_risk"), col("cum_micro"),
          r6(exp(col("cum_micro").cast("double") / 1e6)).as("s_km"))
        .orderBy("dur_days")
    }),

    // ODDS RATIO — association of URGENT priority with high-value
    // orders in the 2×2 table, with the Wald log-CI. The four cell
    // counts come from exact integer predicates (cents > 2e7, never an
    // IEEE compare on price); OR is kept exact in micro-units; the CI
    // is the one shared IEEE chain.
    "q_agg_odds_ratio" -> ((s, d) => {
      Tables.orders(s, d)
        .select((col("o_orderpriority") === "1-URGENT").as("u"),
          ((dec(col("o_totalprice")) * 100).cast("long") > 20000000L)
            .as("h"))
        .agg(
          sum(when(col("u") && col("h"), 1L).otherwise(0L)).as("a"),
          sum(when(col("u") && !col("h"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("u") && col("h"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("u") && !col("h"), 1L).otherwise(0L)).as("dd"))
        .withColumn("or_micro", expr("""CAST(CAST(a AS DECIMAL(18,0)) * CAST(dd AS DECIMAL(18,0))
            * 1000000 div (b * c) AS BIGINT)"""))
        .select(col("a"), col("b"), col("c"), col("dd"), col("or_micro"),
          r6(log(col("a").cast("double") * col("dd").cast("double")
            / (col("b").cast("double") * col("c").cast("double"))))
            .as("log_or"),
          r6(sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
            + lit(1.0) / col("c") + lit(1.0) / col("dd"))).as("se"))
    }),

    // HARMONIC CENTRALITY (3-hop truncated) — Σ 1/d over nodes within
    // 3 hops of each seed, the bounded-frontier centrality that
    // distributes (full closeness needs all-pairs BFS). Weights are
    // EXACT SIXTHS (6/d ∈ {6,3,2}) so the per-seed sum is an integer;
    // each hop is one frontier⋈edges join + anti-join dedup, the
    // Components/BFS discipline.
    "q_graph_harmonic" -> ((s, d) => {
      hopCounts3(s, d)
        .withColumn("harmonic_sixths", col("n1") * 6
          + col("n2") * 3 + col("n3") * 2)
        .withColumn("harmonic",
          col("harmonic_sixths").cast("double") / 6.0)
        .orderBy("seed")
    }),

    // SLUG NORMALIZATION — the URL/id-minting string kernel: lowercase,
    // collapse every non-alphanumeric run to '-', strip the ends. Pure
    // codegen'd string ops, byte-identical in both engines.
    "q_fn_slug" -> ((s, d) => {
      Tables.part(s, d)
        .where(col("p_partkey") <= 50)
        .select(col("p_partkey"), col("p_name"),
          regexp_replace(
            regexp_replace(lower(col("p_name")), "[^a-z0-9]+", "-"),
            "^-+|-+$", "").as("slug"))
        .orderBy("p_partkey")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_evt_survival" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS dt,
                    o_orderkey,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
                      AS rn
                 FROM orders),
            ft AS (SELECT o_custkey, MIN(dt) AS d1,
                     MAX(CASE WHEN rn = 2 THEN dt END) AS d2
                   FROM o WHERE rn <= 2 GROUP BY o_custkey),
            mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax
                   FROM orders),
            dur AS (SELECT CAST(CASE WHEN d2 IS NOT NULL THEN d2 - d1
                            ELSE dmax - d1 END AS BIGINT) AS dur,
                      d2 IS NOT NULL AS is_event
                    FROM ft, mx),
            bd AS (SELECT dur,
                     CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END)
                       AS BIGINT) AS d_events,
                     CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END)
                       AS BIGINT) AS d_cens
                   FROM dur GROUP BY dur),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects FROM dur),
            c AS (SELECT dur, d_events, d_cens, n_subjects,
                    n_subjects - coalesce(SUM(d_events + d_cens)
                      OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS n_risk
                  FROM bd, n),
            t AS (SELECT dur, d_events, d_cens, n_risk,
                    CASE WHEN d_events > 0 AND d_events < n_risk
                      THEN CAST(round(ln(1.0 - CAST(d_events AS DOUBLE)
                           / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
                      END AS term_micro
                  FROM c),
            k AS (SELECT dur, d_events, d_cens, n_risk,
                    CAST(SUM(term_micro) OVER (ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_micro
                  FROM t)
         SELECT dur AS dur_days, d_events, d_cens,
                CAST(n_risk AS BIGINT) AS n_risk, cum_micro,
                round(exp(CAST(cum_micro AS DOUBLE) / 1e6), 6) AS s_km
         FROM k WHERE d_events > 0 AND d_events < n_risk
         ORDER BY dur_days""",

    "q_agg_odds_ratio" ->
      """WITH t AS (SELECT o_orderpriority = '1-URGENT' AS u,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 20000000 AS h
                 FROM orders),
            m AS (SELECT
                    CAST(SUM(CASE WHEN u AND h THEN 1 ELSE 0 END)
                      AS BIGINT) AS a,
                    CAST(SUM(CASE WHEN u AND NOT h THEN 1 ELSE 0 END)
                      AS BIGINT) AS b,
                    CAST(SUM(CASE WHEN NOT u AND h THEN 1 ELSE 0 END)
                      AS BIGINT) AS c,
                    CAST(SUM(CASE WHEN NOT u AND NOT h THEN 1 ELSE 0 END)
                      AS BIGINT) AS dd
                  FROM t)
         SELECT a, b, c, dd,
                CAST(a * dd * 1000000 // (b * c) AS BIGINT) AS or_micro,
                round(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
                  / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))), 6)
                  AS log_or,
                round(sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd), 6)
                  AS se
         FROM m""",

    "q_graph_harmonic" ->
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
                CAST(n1 * 6 + n2 * 3 + n3 * 2 AS BIGINT)
                  AS harmonic_sixths,
                CAST(n1 * 6 + n2 * 3 + n3 * 2 AS DOUBLE) / 6.0
                  AS harmonic
         FROM h WHERE n1 > 0 ORDER BY seed""",

    "q_fn_slug" ->
      """SELECT p_partkey, p_name,
                regexp_replace(regexp_replace(lower(p_name),
                  '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS slug
         FROM part WHERE p_partkey <= 50 ORDER BY p_partkey""",
  )
}
