package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 additions, part 11: seasonal-hybrid ESD anomalies
  * (the Twitter S-H-ESD shape on the daily spine), decision-threshold
  * selection (Youden's J + cost-optimal), the Murphy decomposition of
  * the Brier score, and categorical mutual information.
  *
  * Scale shape: every key folds the fact table once onto a bounded
  * spine (calendar days / the ≤11-value discount grid / a 6-cell
  * contingency table); the ESD rounds are 3 bounded argmax passes
  * over the calendar spine (the q_ts_esd_outliers kernel, fed by
  * deseasonalized residuals).
  *
  * Determinism contract (SURVEY §2.13): the day-of-week key is
  * epoch-days mod 7 (Spark's dayofweek() is 1-based Sunday, DuckDB's
  * 0-based — the integer form sidesteps the convention split);
  * seasonal medians are LOWER order statistics (exact integers);
  * every argmax/threshold pick orders by an exact integer statistic
  * with date/value tiebreaks; ln terms are nano-quantized per cell
  * before their bounded folds.
  */
object Extras157 {
  import graft.Det._

  /** Discount-bp spine with cumulative-from-top tp/fp and totals. */
  private def thSpine(s: SparkSession, d: String): DataFrame = {
    val per = Tables.lineitem(s, d)
      .where(col("l_returnflag").isin("R", "N"))
      .select((dec(col("l_discount")) * 100).cast("long").as("v"),
        (col("l_returnflag") === "R").cast("long").as("y"))
      .groupBy(col("v"))
      .agg(sum(col("y")).as("c1"), sum(lit(1) - col("y")).as("c0"))
    val w = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"))
    per
      .withColumn("tp", sum(col("c1")).over(w))
      .withColumn("fp", sum(col("c0")).over(w))
      .crossJoin(broadcast(tot))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SEASONAL-HYBRID ESD — deseasonalize the daily series by its
    // per-day-of-week LOWER median, then run 3 ESD argmax rounds on
    // the residual (the esd_outliers kernel): catches anomalies that
    // raw ESD misses because weekly seasonality dominates deviation.
    "q_ts_shesd" -> ((s, d) => {
      val daily = Extras150.dailyUsd(s, d)
        .withColumn("dow",
          pmod(datediff(col("dt"), lit("1970-01-01")), lit(7)))
      val wd = Window.partitionBy(col("dow")).orderBy(col("v"), col("dt"))
      val wc = Window.partitionBy(col("dow"))
      val med = daily
        .withColumn("rn", row_number().over(wd))
        .withColumn("cnt", count(lit(1)).over(wc))
        .where(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("dow"), col("v").as("med"))
      Extras150.esdPicks(daily.join(broadcast(med), "dow")
          .select(col("dt"), col("v"), (col("v") - col("med")).as("r")), "r")
        .orderBy(col("round"))
    }),

    // THRESHOLD SELECTION — Youden's J (max sensitivity+specificity−1,
    // exact numerator tp·n0 − fp·n1) and the cost-optimal threshold
    // (min fp·C_FP + fn·C_FN with C_FP=1, C_FN=5) off one spine pass.
    "q_ml_youden_cost" -> ((s, d) => {
      val th = thSpine(s, d)
        .select(col("v"), col("tp"), col("fp"), col("n1"), col("n0"),
          (col("tp") * col("n0") - col("fp") * col("n1")).as("jn"),
          (col("fp") + lit(5) * (col("n1") - col("tp"))).as("cost"))
        .duckCkpt() // two argmax passes share the spine
      val j = th.withColumn("rn", row_number().over(
          Window.orderBy(col("jn").desc, col("v"))))
        .where(col("rn") === 1)
        .select(col("v").as("j_threshold_bp"),
          r6(col("jn").cast("double")
            / (col("n1").cast("double") * col("n0").cast("double")))
            .as("youden_j"))
      val c = th.withColumn("rn", row_number().over(
          Window.orderBy(col("cost"), col("v"))))
        .where(col("rn") === 1)
        .select(col("v").as("cost_threshold_bp"), col("cost"))
      j.crossJoin(broadcast(c))
    }),

    // BRIER DECOMPOSITION (Murphy): reliability − resolution +
    // uncertainty over the spine bins with forecast f = bp/10 (the
    // q_ml_calibration convention); the direct Brier score is emitted
    // alongside and equals REL − RES + UNC (spec identity).
    "q_ml_brier_decomp" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("R", "N"))
        .select((dec(col("l_discount")) * 100).cast("long").as("v"),
          (col("l_returnflag") === "R").cast("long").as("y"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("c1"))
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("c1")).as("t1"))
      val f = col("v").cast("double") / lit(10.0)
      val o = col("c1").cast("double") / col("n").cast("double")
      val pbar = col("t1").cast("double") / col("nn").cast("double")
      val terms = per.crossJoin(broadcast(tot))
        .select(col("nn"), col("t1"),
          round(col("n") * (f - o) * (f - o) * 1e9).cast("long")
            .as("rel_nano"),
          round(col("n") * (o - pbar) * (o - pbar) * 1e9).cast("long")
            .as("res_nano"),
          round((col("c1") * (lit(1.0) - f) * (lit(1.0) - f)
            + (col("n") - col("c1")) * f * f) * 1e9).cast("long")
            .as("bs_nano"))
      terms.groupBy(col("nn"), col("t1"))
        .agg(sum(col("rel_nano")).as("sr"), sum(col("res_nano")).as("ss"),
          sum(col("bs_nano")).as("sb"))
        .select(col("nn").as("n"),
          r6(col("sr").cast("double") / 1e9 / col("nn").cast("double"))
            .as("reliability"),
          r6(col("ss").cast("double") / 1e9 / col("nn").cast("double"))
            .as("resolution"),
          r6((col("t1").cast("double") / col("nn").cast("double"))
            * (lit(1.0) - col("t1").cast("double")
              / col("nn").cast("double"))).as("uncertainty"),
          r6(col("sb").cast("double") / 1e9 / col("nn").cast("double"))
            .as("brier"))
    }),

    // MUTUAL INFORMATION — MI, marginal entropies and the
    // sqrt-normalized NMI of (returnflag, linestatus): per-cell terms
    // c·ln(N·c/(cx·cy)) nano-quantized over the 6-cell table.
    "q_agg_mutual_info" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("x"), col("l_linestatus").as("yy"))
      val cell = base.groupBy(col("x"), col("yy"))
        .agg(count(lit(1)).as("c"))
      val mx = base.groupBy(col("x")).agg(count(lit(1)).as("cx"))
      val my = base.groupBy(col("yy")).agg(count(lit(1)).as("cy"))
      val tot = base.agg(count(lit(1)).as("nn"))
      val j = cell.join(broadcast(mx), "x").join(broadcast(my), "yy")
        .crossJoin(broadcast(tot))
      val miT = round(col("c").cast("double")
        * log(col("nn").cast("double") * col("c").cast("double")
          / (col("cx").cast("double") * col("cy").cast("double")))
        * 1e9).cast("long")
      val mi = j.select(col("nn"), miT.as("t_nano"))
        .groupBy(col("nn")).agg(sum(col("t_nano")).as("sm"))
      val hx = mx.crossJoin(broadcast(tot))
        .select(round(-col("cx").cast("double")
          * log(col("cx").cast("double") / col("nn").cast("double"))
          * 1e9).cast("long").as("t"))
        .agg(sum(col("t")).as("shx"))
      val hy = my.crossJoin(broadcast(tot))
        .select(round(-col("cy").cast("double")
          * log(col("cy").cast("double") / col("nn").cast("double"))
          * 1e9).cast("long").as("t"))
        .agg(sum(col("t")).as("shy"))
      val mid = col("sm").cast("double") / 1e9 / col("nn").cast("double")
      val hxd = col("shx").cast("double") / 1e9 / col("nn").cast("double")
      val hyd = col("shy").cast("double") / 1e9 / col("nn").cast("double")
      mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select(col("nn").as("n"), r6(mid).as("mi"),
          r6(hxd).as("h_x"), r6(hyd).as("h_y"),
          r6(mid / sqrt(hxd * hyd)).as("nmi"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_ts_shesd" -> {
      val rounds = (1 to 3).map { r =>
        val prev = if (r == 1) "resid" else s"rem${r - 1}"
        s"""t$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(r) AS BIGINT) AS sr FROM $prev),
            p$r AS MATERIALIZED (
              SELECT CAST($r AS BIGINT) AS round, dt, v, r,
                CAST(n * r - sr AS BIGINT) AS dev_num, n
              FROM (SELECT dt, v, r, n, sr, row_number() OVER (
                      ORDER BY abs(n * r - sr) DESC, dt) AS rn
                    FROM $prev, t$r) z
              WHERE rn = 1),
            rem$r AS MATERIALIZED (
              SELECT dt, v, r FROM $prev
              WHERE dt NOT IN (SELECT dt FROM p$r))"""
      }.mkString(",\n")
      s"""WITH ${Extras150.DailySql},
            dow AS (SELECT dt, v,
                      (dt - DATE '1970-01-01') % 7 AS dw
                    FROM daily),
            med AS (SELECT dw, v AS med FROM (
                    SELECT dw, v, row_number() OVER (PARTITION BY dw
                      ORDER BY v, dt) AS rn,
                      COUNT(*) OVER (PARTITION BY dw) AS cnt
                    FROM dow) z
                  WHERE rn = (cnt + 1) // 2),
            resid AS MATERIALIZED (
              SELECT dow.dt, dow.v, dow.v - med.med AS r
              FROM dow JOIN med ON med.dw = dow.dw),
            $rounds
         SELECT round, dt, v, CAST(r AS BIGINT) AS r, dev_num, n FROM (
           SELECT * FROM p1 UNION ALL SELECT * FROM p2
           UNION ALL SELECT * FROM p3) u
         ORDER BY round"""
    },

    "q_ml_youden_cost" ->
      """WITH per AS (SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS v,
                      SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS c1,
                      SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                        AS c0
                    FROM lineitem WHERE l_returnflag IN ('R','N')
                    GROUP BY 1),
            tot AS (SELECT SUM(c1) AS n1, SUM(c0) AS n0 FROM per),
            th AS (SELECT v,
                     SUM(c1) OVER (ORDER BY v DESC
                       ROWS UNBOUNDED PRECEDING) AS tp,
                     SUM(c0) OVER (ORDER BY v DESC
                       ROWS UNBOUNDED PRECEDING) AS fp,
                     n1, n0
                   FROM per, tot),
            jj AS (SELECT v AS j_threshold_bp,
                     round(CAST(tp * n0 - fp * n1 AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
                       AS youden_j
                   FROM (SELECT *, row_number() OVER (
                           ORDER BY tp * n0 - fp * n1 DESC, v) AS rn
                         FROM th) z WHERE rn = 1),
            cc AS (SELECT v AS cost_threshold_bp,
                     CAST(fp + 5 * (n1 - tp) AS BIGINT) AS cost
                   FROM (SELECT *, row_number() OVER (
                           ORDER BY fp + 5 * (n1 - tp), v) AS rn
                         FROM th) z WHERE rn = 1)
         SELECT j_threshold_bp, youden_j, cost_threshold_bp, cost
         FROM jj, cc""",

    "q_ml_brier_decomp" ->
      """WITH per AS (SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS v,
                      COUNT(*) AS n,
                      SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS c1
                    FROM lineitem WHERE l_returnflag IN ('R','N')
                    GROUP BY 1),
            tot AS (SELECT SUM(n) AS nn, SUM(c1) AS t1 FROM per),
            terms AS (SELECT nn, t1,
                     CAST(round(n * (CAST(v AS DOUBLE) / 10
                         - CAST(c1 AS DOUBLE) / n)
                       * (CAST(v AS DOUBLE) / 10
                         - CAST(c1 AS DOUBLE) / n) * 1e9) AS BIGINT)
                       AS rel_nano,
                     CAST(round(n * (CAST(c1 AS DOUBLE) / n
                         - CAST(t1 AS DOUBLE) / nn)
                       * (CAST(c1 AS DOUBLE) / n
                         - CAST(t1 AS DOUBLE) / nn) * 1e9) AS BIGINT)
                       AS res_nano,
                     CAST(round((c1 * (1.0 - CAST(v AS DOUBLE) / 10)
                         * (1.0 - CAST(v AS DOUBLE) / 10)
                       + (n - c1) * (CAST(v AS DOUBLE) / 10)
                         * (CAST(v AS DOUBLE) / 10)) * 1e9) AS BIGINT)
                       AS bs_nano
                   FROM per, tot)
         SELECT CAST(nn AS BIGINT) AS n,
                round(CAST(SUM(rel_nano) AS DOUBLE) / 1e9 / nn, 6)
                  AS reliability,
                round(CAST(SUM(res_nano) AS DOUBLE) / 1e9 / nn, 6)
                  AS resolution,
                round((CAST(t1 AS DOUBLE) / nn)
                  * (1.0 - CAST(t1 AS DOUBLE) / nn), 6) AS uncertainty,
                round(CAST(SUM(bs_nano) AS DOUBLE) / 1e9 / nn, 6)
                  AS brier
         FROM terms GROUP BY nn, t1""",

    "q_agg_mutual_info" ->
      """WITH base AS (SELECT l_returnflag AS x, l_linestatus AS yy
                    FROM lineitem),
            cell AS (SELECT x, yy, COUNT(*) AS c FROM base GROUP BY 1, 2),
            mx AS (SELECT x, COUNT(*) AS cx FROM base GROUP BY 1),
            my AS (SELECT yy, COUNT(*) AS cy FROM base GROUP BY 1),
            tot AS (SELECT COUNT(*) AS nn FROM base),
            mi AS (SELECT nn, SUM(CAST(round(c * ln(CAST(nn AS DOUBLE)
                       * c / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                       * 1e9) AS BIGINT)) AS sm
                   FROM cell JOIN mx USING (x) JOIN my USING (yy)
                   CROSS JOIN tot
                   GROUP BY nn),
            hx AS (SELECT SUM(CAST(round(-cx * ln(CAST(cx AS DOUBLE)
                       / CAST(nn AS DOUBLE)) * 1e9) AS BIGINT)) AS shx
                   FROM mx, tot),
            hy AS (SELECT SUM(CAST(round(-cy * ln(CAST(cy AS DOUBLE)
                       / CAST(nn AS DOUBLE)) * 1e9) AS BIGINT)) AS shy
                   FROM my, tot)
         SELECT CAST(nn AS BIGINT) AS n,
                round(CAST(sm AS DOUBLE) / 1e9 / nn, 6) AS mi,
                round(CAST(shx AS DOUBLE) / 1e9 / nn, 6) AS h_x,
                round(CAST(shy AS DOUBLE) / 1e9 / nn, 6) AS h_y,
                round((CAST(sm AS DOUBLE) / 1e9 / nn)
                  / sqrt((CAST(shx AS DOUBLE) / 1e9 / nn)
                    * (CAST(shy AS DOUBLE) / 1e9 / nn)), 6) AS nmi
         FROM mi, hx, hy"""
  )
}
