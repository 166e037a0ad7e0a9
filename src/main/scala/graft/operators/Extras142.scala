package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Det, FixtureCache, Tables}

/** Round-12 additions, part 6: Bayesian-smoothed group means (the
  * additive-shrinkage estimator every per-segment dashboard should
  * use before trusting small groups), signup→purchase activation
  * buckets (the onboarding funnel), a DECIMAL(38,10) parquet
  * round-trip (decimal128 physical-type source surface), and max-core
  * subgraph density (the densest-region readout composed on the
  * shared k-core peel).
  *
  * Scale shape: shrunk_mean is one fact agg + a 1-row broadcast
  * grand mean; activation is two user-grain min-aggs + one join;
  * decimal128 is an ingest fixture + linear exact-decimal fold;
  * core_density reuses the 3-round 2-core peel (edge-linear rounds)
  * and folds two scalars.
  *
  * Determinism contract (SURVEY §2.13): group sums/counts are exact
  * integers; the shrinkage chain (grand mean, (s_i + λg)/(n_i + λ))
  * is the identical shared IEEE tree on both engines; activation
  * lags are exact µs integer buckets; the decimal sums stay exact
  * DECIMAL internally and EMIT as units+remainder BIGINT pairs
  * (no 128-bit output cells — round-12 verdict class); density is
  * one division of exact counts.
  */
object Extras142 {
  import Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SHRUNK GROUP MEANS — additive smoothing with λ = 50 pseudo-
    // observations at the grand mean: small segments pull hard toward
    // g, big ones barely move.
    "q_agg_shrunk_mean" -> ((s, d) => {
      val per = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum((dec(col("o_totalprice")) * 100).cast("long")).as("s"))
      val glob = per.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"))
      val g = col("ss").cast("double") / col("nn").cast("double")
      per.crossJoin(broadcast(glob))
        .select(col("segment"), col("n"),
          r6(col("s").cast("double") / col("n").cast("double") / 100.0)
            .as("mean_usd"),
          r6((col("s").cast("double") + lit(50.0) * g)
            / (col("n").cast("double") + lit(50.0)) / 100.0)
            .as("shrunk_usd"))
        .orderBy("segment")
    }),

    // ACTIVATION FUNNEL — per signed-up user, the lag from first
    // signup to first subsequent purchase, bucketed. Exact µs integer
    // arithmetic end to end.
    "q_evt_activation" -> ((s, d) => {
      val su = Tables.events(s, d)
        .where(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(tsUs(col("ts"))).as("s_us"))
      val buy = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), tsUs(col("ts")).as("b_us"))
      // the >= s_us predicate lives INSIDE the left join so a user
      // whose only purchases precede signup still yields its null row
      val lag = su.as("su").join(buy.as("b"),
          col("su.user_id") === col("b.user_id")
            && col("b_us") >= col("s_us"), "left")
        .groupBy(col("su.user_id").as("user_id"), col("s_us"))
        .agg(min(col("b_us")).as("a_us"))
        .withColumn("bucket",
          when(col("a_us").isNull, "5_never")
            .when(col("a_us") - col("s_us") <= 3600000000L, "1_hour")
            .when(col("a_us") - col("s_us") <= 86400000000L, "2_day")
            .when(col("a_us") - col("s_us") <= 604800000000L, "3_week")
            .otherwise("4_later"))
      lag.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"))
        .withColumn("share", r6(col("n_users").cast("double")
          / sum(col("n_users")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(lit(1)))
            .cast("double")))
        .orderBy("bucket")
    }),

    // DECIMAL128 ROUND-TRIP — DECIMAL(38,10) and DECIMAL(9,2) columns
    // through parquet's fixed-len-byte-array / int32 decimal
    // encodings; the exact sums prove the round-trip.
    "q_source_decimal128" -> ((s, d) => {
      val tmp = FixtureCache.ensure("orders_decimal128",
        Seq(s"$d/orders.parquet"), "decimal38/9 round-trip v1") { dest =>
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            (dec(col("o_totalprice")).cast(DecimalType(38, 10))
              * 12345).cast(DecimalType(38, 10)).as("d38"),
            dec(col("o_totalprice")).cast(DecimalType(9, 2)).as("d9"))
          .coalesce(2)
          .write.parquet(dest)
      }
      // The DECIMAL(38,10) sum stays exact end to end, but EMITS as
      // two BIGINTs (whole units + 1e-10 remainder): 128-bit output
      // cells are the one driver-hash-fragile class (round-12
      // verdict — the only two decimal128-emitting keys were the
      // only two red rows while their values agreed exactly).
      // The split pivots through exact CENTS: d38 = cents-valued
      // DECIMAL(18,2) * 12345 has exactly 2 significant fraction
      // digits, so sd38*100 is integral (~4.6e15 at sf0.01 — BIGINT
      // until ~sf10) and the decimal->BIGINT cast is exact on both
      // engines (Spark truncates, DuckDB rounds — identical on an
      // integral value); units/remainder are then pure BIGINT
      // div/mod, no floor()-on-decimal or double anywhere. The
      // round-trip proof is unchanged: both halves must match the
      // oracle's sum over raw orders to the last 1e-10.
      s.read.parquet(tmp)
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_checksum"),
          sum(col("d38")).cast(DecimalType(38, 10)).as("sd38"),
          sum(col("d9")).cast(DecimalType(18, 2)).as("sum_d9"))
        .withColumn("cents", (col("sd38") * 100).cast("long"))
        .select(col("n"), col("key_checksum"),
          expr("cents div 100").as("sum_d38_units"),
          (expr("cents % 100") * lit(100000000L)).as("sum_d38_rem10"),
          col("sum_d9"))
    }),

    // MAX-CORE DENSITY — edge density of the subgraph surviving the
    // shared 3-round 2-core peel: the dense-region readout.
    "q_graph_core_density" -> ((s, d) => {
      val e = Extras17.kcore(Extras11.symmetricEdges(s, d), 2L)
      e.agg(countDistinct(col("src")).as("n_nodes"),
          (count(lit(1)) / 2).cast("long").as("n_edges"))
        .select(col("n_nodes"), col("n_edges"),
          r6(col("n_edges").cast("double") / col("n_nodes").cast("double"))
            .as("density"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_agg_shrunk_mean" ->
      """WITH per AS (SELECT c_mktsegment AS segment,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS s
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 GROUP BY 1),
            g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                    CAST(SUM(s) AS BIGINT) AS ss FROM per)
         SELECT segment, n,
                round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
                  AS mean_usd,
                round((CAST(s AS DOUBLE)
                    + 50.0 * (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)))
                  / (CAST(n AS DOUBLE) + 50.0) / 100.0, 6)
                  AS shrunk_usd
         FROM per, g ORDER BY segment""",

    "q_evt_activation" ->
      """WITH su AS (SELECT user_id,
                    CAST(MIN(epoch_us(ts::TIMESTAMP)) AS BIGINT) AS s_us
                 FROM events WHERE event_type = 'signup' GROUP BY 1),
            buy AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS b_us
                    FROM events WHERE event_type = 'purchase'),
            act AS (SELECT su.user_id, su.s_us,
                      CAST(MIN(buy.b_us) AS BIGINT) AS a_us
                    FROM su LEFT JOIN buy
                      ON buy.user_id = su.user_id
                     AND buy.b_us >= su.s_us
                    GROUP BY 1, 2),
            b AS (SELECT user_id,
                    CASE WHEN a_us IS NULL THEN '5_never'
                         WHEN a_us - s_us <= 3600000000 THEN '1_hour'
                         WHEN a_us - s_us <= 86400000000 THEN '2_day'
                         WHEN a_us - s_us <= 604800000000 THEN '3_week'
                         ELSE '4_later' END AS bucket
                  FROM act),
            c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_users
                  FROM b GROUP BY 1)
         SELECT bucket, n_users,
                round(CAST(n_users AS DOUBLE)
                  / CAST(SUM(n_users) OVER () AS DOUBLE), 6) AS share
         FROM c ORDER BY bucket""",

    "q_source_decimal128" ->
      """WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    AS DECIMAL(38,10)) * 12345) AS DECIMAL(38,10))
                  AS sd38,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    AS DECIMAL(9,2))) AS DECIMAL(18,2)) AS sum_d9
         FROM orders),
            c AS (SELECT n, key_checksum, sum_d9,
                CAST(sd38 * 100 AS BIGINT) AS cents
         FROM s)
         SELECT n, key_checksum,
                cents // 100 AS sum_d38_units,
                (cents % 100) * 100000000 AS sum_d38_rem10,
                sum_d9
         FROM c""",

    "q_graph_core_density" ->
      s"""WITH ${Extras11.GraphSql},
            ${Extras17.KcoreSql},
            agg AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
                      CAST(COUNT(*) // 2 AS BIGINT) AS n_edges
                    FROM e3)
         SELECT n_nodes, n_edges,
                round(CAST(n_edges AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
                  AS density
         FROM agg"""
  )
}
