package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 additions, part 4: k-core decomposition spectrum,
  * ESD-style iterative outlier removal, dominant-period detection,
  * isotonic calibration (the PAVA minimax closed form), the named
  * WINDOW SQL clause, and curriculum staging for LLM training data.
  *
  * Determinism contract (SURVEY §2.13): the series keys run on the
  * exact whole-dollar daily spine (the Extras149 unit rule); ESD
  * deviations and autocovariances are exact BIGINT forms with argmax
  * ties on the date/lag; isotonic rates come from the minimax
  * formula evaluated identically in both engines (every interval
  * average is ONE double division of small exact integers, min/max
  * over identical double sets); curriculum/core counts are exact.
  */
object Extras150 {
  import graft.Det._

  // shared exact whole-dollar daily spine (Extras149 rule: cents²
  // sums overflow BIGINT at probe volumes; dollars give ~2500×
  // headroom with identical truncation on both engines)
  private[operators] def dailyUsd(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long"))
        .as("vc"))
      .select(col("dt"), expr("vc div 100").as("v"))

  /** Three ESD rounds over `days` (dt, …, x): each round picks the day
    * with the largest |n·x − Σx| (exact scaled deviation — no mean
    * division, no doubles; ties to the earliest date) as (round, dt, …,
    * dev_num, n), and the next round runs without it. The pick is the
    * round's measure, cut eagerly because the result reads it too. */
  private[operators] def esdPicks(days: DataFrame, x: String): DataFrame = {
    def pick(rem: DataFrame): DataFrame = rem
      .crossJoin(broadcast(rem.agg(count(lit(1)).as("n"),
        sum(col(x)).as("sx"))))
      .withColumn("dev_num", col("n") * col(x) - col("sx"))
      .withColumn("rn", row_number().over(Window.orderBy(
        abs(col("dev_num")).desc, col("dt"))))
      .where(col("rn") === 1)
      .select((days.columns.map(col) :+ col("dev_num") :+ col("n")): _*)
      .duckCkpt()
    Fixpoint.bounded(days, 2, pick) { rs =>
      Some(rs.last.df.join(rs.last.measure.select(col("dt")), Seq("dt"),
        "left_anti"))
    }.zipWithIndex.map { case (r, i) =>
      r.measure.select((lit(i + 1L).as("round") +: r.measure.columns.map(col)): _*)
    }.reduce(_ unionByName _)
  }

  private[operators] val DailySql =
    """daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
              AS BIGINT)) // 100 AS BIGINT) AS v
       FROM orders GROUP BY 1)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // K-CORE DECOMPOSITION SPECTRUM: for k = 1..4, three peel rounds
    // each (the q_graph_kcore bounded-round convention, stated in the
    // oracle identically), emit the surviving (n_nodes, n_edges,
    // density) — the capacity curve of the co-occurrence graph.
    "q_graph_core_decomp" -> ((s, d) => {
      import s.implicits._
      val full = Extras11.symmetricEdges(s, d).duckCkpt()
      val rows = (1L to 4L).map { k =>
        // k=1 peels are identities by construction — every src present
        // in e has degree ≥ 1, so the k=1 row reports the full graph
        // exactly as the 3-round contract states
        val e = if (k > 1L) Extras17.kcore(full, k) else full
        val r = e.agg(countDistinct(col("src")).as("n"),
          count(lit(1)).as("m")).head()
        (k, r.getLong(0), r.getLong(1) / 2)
      }
      rows.toDF("k", "n_nodes", "n_edges")
        .select(col("k"), col("n_nodes"), col("n_edges"),
          when(col("n_nodes") > 0,
            r6(col("n_edges").cast("double")
              / col("n_nodes").cast("double"))).as("density"))
        .orderBy(col("k"))
    }),

    // ESD-STYLE OUTLIER REMOVAL (3 rounds): per round remove the day
    // with the largest |n·v − Σv| (exact scaled deviation — no
    // mean division, no doubles), tie to the earliest date. The
    // bounded-round unrolled form of the generalized ESD sweep.
    "q_ts_esd_outliers" -> ((s, d) =>
      esdPicks(dailyUsd(s, d), "v").orderBy(col("round"))),

    // DOMINANT PERIOD: argmax over lags 2..60 of the exact
    // integer-demeaned autocovariance Σ r_i·r_{i+L} with
    // r_i = v_i − (Σv div n) — the truncated-mean residual keeps
    // every product an exact BIGINT (≈1.5e17 at the 8× probe's
    // magnitudes; ~60× headroom). Emits the full lag spectrum ranked.
    "q_ts_dominant_period" -> ((s, d) => {
      val daily = dailyUsd(s, d)
        .withColumn("pos", row_number().over(Window.orderBy(col("dt")))
          .cast("long"))
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val res = daily.crossJoin(broadcast(tot))
        .select(col("pos"), (col("v") - expr("sv div n")).as("r"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("pos"))
        .duckCkpt()
      val lags = s.range(2, 61).select(col("id").as("lag"))
      val ac = res.crossJoin(broadcast(lags))
        .select(col("lag"), (col("pos") + col("lag")).as("tpos"),
          col("r"))
        .join(res.select(col("pos").as("tpos"), col("r").as("r2")),
          "tpos")
        .groupBy(col("lag"))
        .agg(sum(col("r") * col("r2")).as("ac_num"),
          count(lit(1)).as("n_terms"))
      ac.withColumn("rank", row_number().over(Window.orderBy(
          col("ac_num").desc, col("lag"))).cast("long"))
        .select(col("rank"), col("lag"), col("ac_num"), col("n_terms"))
        .orderBy(col("rank"))
    }),

    // ISOTONIC CALIBRATION via the PAVA MINIMAX closed form:
    // users deciled by click-count score ASCENDING (decile 10 = most
    // engaged); the isotonic (nondecreasing) conversion fit is
    // ĝ(i) = max_{a≤i} min_{b≥i} avg(x[a..b]) — 55 interval
    // averages, each ONE double division of small exact integers,
    // evaluated identically in both engines (no sequential PAVA
    // needed: the minimax form IS the pooled solution).
    "q_ml_isotonic_calibration" -> ((s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("converted"),
          sum(when(col("event_type") === "click", 1L)
            .otherwise(0L)).as("score"))
      val dec10 = users.withColumn("decile",
        ntile(10).over(Window.orderBy(col("score"), col("user_id")))
          .cast("long"))
      val per = dec10.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
        .duckCkpt()
      val a = per.select(col("decile").as("a"))
      val b = per.select(col("decile").as("b"))
      val ivals = a.crossJoin(broadcast(b)).where(col("a") <= col("b"))
      val avg_ab = broadcast(ivals)
        .join(per, col("decile").between(col("a"), col("b")))
        .groupBy(col("a"), col("b"))
        .agg((sum(col("x")).cast("double")
          / sum(col("n")).cast("double")).as("avg"))
      val i = per.select(col("decile").as("i"), col("n"), col("x"))
      val inner = broadcast(i).join(avg_ab, col("a") <= col("i"))
        .groupBy(col("i"), col("n"), col("x"), col("a"))
        .agg(min(when(col("b") >= col("i"), col("avg"))).as("mn"))
      inner.groupBy(col("i"), col("n"), col("x"))
        .agg(max(col("mn")).as("g"))
        .select(col("i").as("decile"), col("n"), col("x"),
          r6(col("g")).as("rate_iso"))
        .orderBy(col("decile"))
    }),

    // NAMED WINDOW CLAUSE — the SQL-parser surface for
    // `WINDOW w AS (...)` shared by several window functions.
    "q_sql_named_window" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders_nw")
      s.sql("""
        SELECT o_custkey,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) OVER w AS BIGINT) AS run_cents,
               CAST(count(*) OVER w AS BIGINT) AS run_n
        FROM v_orders_nw
        WHERE o_custkey % 97 = 0
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, rnk"""
      )
    }),

    // CURRICULUM STAGING: documents quartiled by length (word count
    // ASC — the easy-to-hard curriculum axis), per stage the doc
    // count, exact total words, cumulative words, and mean length.
    "q_llm_curriculum" -> ((s, d) => {
      val wc = size(split(col("text"), " ")).cast("long")
      val staged = Tables.documents(s, d)
        .select(col("doc_id"), wc.as("wc"))
        .withColumn("stage", ntile(4).over(
          Window.orderBy(col("wc"), col("doc_id"))).cast("long"))
      val per = staged.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("words"))
      per.select(col("stage"), col("n_docs"), col("words"),
          sum(col("words")).over(Window.orderBy(col("stage"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum_words"),
          r6(col("words").cast("double") / col("n_docs").cast("double"))
            .as("mean_words"))
        .orderBy(col("stage"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_graph_core_decomp" -> {
      val ks = (1 to 4).map { k =>
        val rounds = (1 to 3).map { r =>
          val prev = if (r == 1) "e" else s"k${k}e${r - 1}"
          s"""k${k}k$r AS MATERIALIZED (
                SELECT src AS u FROM $prev GROUP BY src
                HAVING COUNT(*) >= $k),
              k${k}e$r AS MATERIALIZED (
                SELECT src, dst FROM $prev
                WHERE src IN (SELECT u FROM k${k}k$r)
                  AND dst IN (SELECT u FROM k${k}k$r))"""
        }.mkString(",\n")
        s"""$rounds,
            k${k}s AS (SELECT CAST($k AS BIGINT) AS k,
                 CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
                 CAST(COUNT(*) // 2 AS BIGINT) AS n_edges
               FROM k${k}e3)"""
      }.mkString(",\n")
      val unions = (1 to 4).map(k =>
        s"""SELECT k, n_nodes, n_edges,
              CASE WHEN n_nodes > 0 THEN
                round(CAST(n_edges AS DOUBLE)
                  / CAST(n_nodes AS DOUBLE), 6) END AS density
            FROM k${k}s""").mkString(" UNION ALL ")
      s"""WITH ${Extras11.GraphSql},
            $ks
         SELECT * FROM ($unions) ORDER BY k"""
    },

    "q_ts_esd_outliers" -> {
      val rounds = (1 to 3).map { r =>
        val prev = if (r == 1) "daily" else s"rem${r - 1}"
        s"""t$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(v) AS BIGINT) AS sv FROM $prev),
            p$r AS MATERIALIZED (
              SELECT CAST($r AS BIGINT) AS round, dt, v,
                CAST(n * v - sv AS BIGINT) AS dev_num, n
              FROM (SELECT dt, v, n, sv, row_number() OVER (
                      ORDER BY abs(n * v - sv) DESC, dt) AS rn
                    FROM $prev, t$r) z
              WHERE rn = 1),
            rem$r AS MATERIALIZED (
              SELECT dt, v FROM $prev
              WHERE dt NOT IN (SELECT dt FROM p$r))"""
      }.mkString(",\n")
      s"""WITH $DailySql,
            $rounds
         SELECT round, dt, v, dev_num, n FROM (
           SELECT * FROM p1 UNION ALL SELECT * FROM p2
           UNION ALL SELECT * FROM p3) u
         ORDER BY round"""
    },

    "q_ts_dominant_period" ->
      s"""WITH $DailySql,
            pz AS (SELECT row_number() OVER (ORDER BY dt) AS pos, v
                   FROM daily),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(v) AS BIGINT) AS sv FROM pz),
            res AS MATERIALIZED (
              SELECT pos, CAST(v - (sv // n) AS BIGINT) AS r
              FROM pz, tot),
            lg AS (SELECT unnest(generate_series(2, 60)) AS lag),
            ac AS (SELECT lg.lag,
                     CAST(SUM(a.r * b.r) AS BIGINT) AS ac_num,
                     CAST(COUNT(*) AS BIGINT) AS n_terms
                   FROM lg
                   JOIN res a ON TRUE
                   JOIN res b ON b.pos = a.pos + lg.lag
                   GROUP BY lg.lag)
         SELECT CAST(row_number() OVER (ORDER BY ac_num DESC, lag)
                  AS BIGINT) AS rank,
                CAST(lag AS BIGINT) AS lag, ac_num, n_terms
         FROM ac ORDER BY rank""",

    "q_ml_isotonic_calibration" ->
      """WITH u AS (SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS score
             FROM events GROUP BY user_id),
            dec10 AS (SELECT *, CAST(ntile(10) OVER (
                ORDER BY score, user_id) AS BIGINT) AS decile
              FROM u),
            per AS MATERIALIZED (SELECT decile,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(converted) AS BIGINT) AS x
              FROM dec10 GROUP BY decile),
            iv AS MATERIALIZED (
              SELECT a.decile AS a, b.decile AS b,
                CAST(SUM(p.x) AS DOUBLE) / CAST(SUM(p.n) AS DOUBLE)
                  AS avg
              FROM per a JOIN per b ON a.decile <= b.decile
              JOIN per p ON p.decile BETWEEN a.decile AND b.decile
              GROUP BY 1, 2),
            inner_min AS (
              SELECT i.decile AS i, i.n, i.x, iv.a,
                MIN(CASE WHEN iv.b >= i.decile THEN iv.avg END) AS mn
              FROM per i JOIN iv ON iv.a <= i.decile
              GROUP BY 1, 2, 3, 4)
         SELECT i AS decile, n, x, round(MAX(mn), 6) AS rate_iso
         FROM inner_min GROUP BY i, n, x ORDER BY decile""",

    "q_sql_named_window" ->
      """SELECT o_custkey,
                CAST(rank() OVER w AS BIGINT) AS rnk,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) OVER w AS BIGINT) AS run_cents,
                CAST(count(*) OVER w AS BIGINT) AS run_n
         FROM orders
         WHERE o_custkey % 97 = 0
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rnk""",

    "q_llm_curriculum" ->
      """WITH staged AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS wc,
               CAST(ntile(4) OVER (
                 ORDER BY len(string_split(text, ' ')), doc_id)
                 AS BIGINT) AS stage
             FROM documents),
            per AS (SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(wc) AS BIGINT) AS words
              FROM staged GROUP BY stage)
         SELECT stage, n_docs, words,
                CAST(SUM(words) OVER (ORDER BY stage
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_words,
                round(CAST(words AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                  AS mean_words
         FROM per ORDER BY stage"""
  )
}
