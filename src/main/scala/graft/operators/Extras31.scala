package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-7 additions, part 21: label propagation, time-weighted average,
  * right outer join, activity-depth histogram, training-shard assignment,
  * and filtered distinct counting.
  */
object Extras31 {
  import Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // LABEL PROPAGATION — two SYNCHRONIZED min-label rounds over the
    // co-occurrence graph (the cheap community pass next to
    // q_graph_components' full convergence): l1 = min(self, neighbor
    // ids), l2 = min(self l1, neighbor l1). Deterministic because the
    // update is min (order-free) and rounds are synchronized — never
    // the async coin-flip LPA. Each round is one self-join + min-agg
    // on the symmetrized edge list; labels are exact node ids.
    "q_graph_label_prop" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d)
      val nodes = e.select(col("src").as("u")).distinct()
      def round(labels: DataFrame): DataFrame =
        e.join(labels.withColumnRenamed("u", "dst2")
            .withColumnRenamed("l", "dl"),
            col("dst") === col("dst2"))
          .groupBy(col("src").as("u2")).agg(min(col("dl")).as("nmin"))
          .join(labels, col("u") === col("u2"))
          .select(col("u"), least(col("l"), col("nmin")).as("l"))
      val l0 = nodes.select(col("u"), col("u").as("l"))
      val l2 = round(round(l0))
      l2.select(col("u"), col("l").as("label")).orderBy("u")
    }),

    // TIME-WEIGHTED AVERAGE — the ts-database standard for irregular
    // samples: each reading holds until the next one (last one until
    // midnight), so the mean weighs value by EXACT µs duration, not by
    // sample count. Σ cents·dur is scale-invariant-bounded (durations
    // partition the day: Σdur ≤ 86400e6 regardless of event density),
    // so plain longs never overflow. Two shared IEEE divisions emit twa.
    "q_ts_twa" -> ((s, d) => {
      val byTD = Window.partitionBy(col("t"), col("day"))
        .orderBy(col("t_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type").as("t"), col("event_id"),
          to_date(col("ts")).as("day"), unix_micros(col("ts")).as("t_us"),
          (dec(col("value")) * 100).cast("long").as("cents"))
        .withColumn("next_us", lead(col("t_us"), 1).over(byTD))
        .withColumn("end_us",
          coalesce(col("next_us"),
            unix_micros(date_add(col("day"), 1).cast("timestamp"))))
        .withColumn("dur", col("end_us") - col("t_us"))
        .groupBy(col("t"), col("day"))
        .agg(sum(col("dur")).as("sum_dur"),
          sum(col("cents") * col("dur")).as("sum_wt"))
        .select(col("t"), col("day"), col("sum_dur"), col("sum_wt"),
          (col("sum_wt").cast("double") / col("sum_dur").cast("double")
            / lit(100.0)).as("twa"))
        .orderBy("t", "day")
    }),

    // RIGHT OUTER JOIN — the orientation q_join_left leaves out:
    // every customer survives, order columns go NULL where the
    // filtered build side (status P only) has no match. Ordering is
    // pinned NULLS FIRST in both engines — an outer join's emitted
    // NULLs are exactly where engines' default sort orders disagree.
    "q_join_right" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .where(col("o_orderstatus") === "P")
        .select(col("o_custkey"), col("o_orderkey"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      o.join(c, col("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"),
          col("cents"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    }),

    // ACTIVITY-DEPTH HISTOGRAM — count-of-counts: how many (user, day)
    // cells saw exactly k events? The engagement-depth distribution
    // (the shape DAU hides). Two bounded aggs, exact integers.
    "q_evt_depth_hist" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_user_days"))
        .orderBy("k")
    }),

    // TRAINING-SHARD ASSIGNMENT — deterministically hash every doc
    // into 8 shards and audit the balance (docs, chars, char share per
    // shard): the step between curation and tokenization, where a
    // skewed shard becomes a straggler GPU. The portable md5 bucket
    // (never rand()) makes the assignment reproducible everywhere;
    // share is one IEEE division off exact integers.
    "q_llm_shard_assign" -> ((s, d) => {
      val shard = pmod(md5long(concat(col("doc_id").cast("string"),
        lit(":shard"))), lit(8L))
      val perShard = Tables.documents(s, d)
        .groupBy(shard.as("shard"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
      val total = perShard.agg(sum(col("chars")).as("total_chars"))
      perShard.crossJoin(broadcast(total))
        .select(col("shard"), col("docs"), col("chars"),
          (col("chars").cast("double") / col("total_chars").cast("double"))
            .as("char_share"))
        .orderBy("shard")
    }),

    // FILTERED DISTINCT COUNT — distinct users per day per behavior in
    // one pass (COUNT(DISTINCT CASE ...) — the funnel numerator and
    // denominator computed together, never two scans). Conversion is
    // one guarded IEEE division.
    "q_agg_distinct_filtered" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          countDistinct(when(col("event_type") === "view",
            col("user_id"))).as("viewers"),
          countDistinct(when(col("event_type") === "purchase",
            col("user_id"))).as("buyers"))
        .select(col("day"), col("viewers"), col("buyers"),
          when(col("viewers") > 0,
            col("buyers").cast("double") / col("viewers").cast("double"))
            .as("conversion"))
        .orderBy("day")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_graph_label_prop" ->
      s"""WITH ${Extras11.GraphSql},
            nodes AS (SELECT DISTINCT src AS u FROM e),
            l0 AS (SELECT u, u AS l FROM nodes),
            r1 AS (SELECT e.src AS u, MIN(l0.l) AS nmin
                   FROM e JOIN l0 ON e.dst = l0.u GROUP BY 1),
            l1 AS (SELECT l0.u, LEAST(l0.l, r1.nmin) AS l
                   FROM l0 JOIN r1 ON l0.u = r1.u),
            r2 AS (SELECT e.src AS u, MIN(l1.l) AS nmin
                   FROM e JOIN l1 ON e.dst = l1.u GROUP BY 1),
            l2 AS (SELECT l1.u, LEAST(l1.l, r2.nmin) AS l
                   FROM l1 JOIN r2 ON l1.u = r2.u)
         SELECT u, l AS label FROM l2 ORDER BY u""",

    "q_ts_twa" ->
      """WITH v AS (
           SELECT event_type AS t, event_id,
                  CAST(ts AS DATE) AS day,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents
           FROM events),
         w AS (
           SELECT t, day, t_us, cents,
                  COALESCE(
                    LEAD(t_us) OVER (PARTITION BY t, day
                                     ORDER BY t_us, event_id),
                    epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
                    - t_us AS dur
           FROM v)
         SELECT t, day,
                CAST(SUM(dur) AS BIGINT) AS sum_dur,
                CAST(SUM(cents * dur) AS BIGINT) AS sum_wt,
                CAST(SUM(cents * dur) AS DOUBLE)
                  / CAST(SUM(dur) AS DOUBLE) / 100.0 AS twa
         FROM w GROUP BY t, day ORDER BY t, day""",

    "q_join_right" ->
      """SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.cents
         FROM (SELECT o_custkey, o_orderkey,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS cents
               FROM orders WHERE o_orderstatus = 'P') o
         RIGHT JOIN (SELECT c_custkey, c_mktsegment FROM customer) c
           ON o.o_custkey = c.c_custkey
         ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST""",

    "q_evt_depth_hist" ->
      """WITH per AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      COUNT(*) AS k
                 FROM events GROUP BY 1, 2)
         SELECT k, COUNT(*) AS n_user_days FROM per
         GROUP BY k ORDER BY k""",

    "q_llm_shard_assign" ->
      """WITH v AS (
           SELECT CAST(('0x' || substr(md5(doc_id || ':shard'), 1, 15))
                       AS BIGINT) % 8 AS shard,
                  n_chars
           FROM documents),
         p AS (SELECT shard, COUNT(*) AS docs,
                      CAST(SUM(n_chars) AS BIGINT) AS chars
               FROM v GROUP BY 1),
         t AS (SELECT CAST(SUM(chars) AS BIGINT) AS total_chars FROM p)
         SELECT shard, docs, chars,
                CAST(chars AS DOUBLE) / CAST(total_chars AS DOUBLE)
                  AS char_share
         FROM p CROSS JOIN t ORDER BY shard""",

    "q_agg_distinct_filtered" ->
      """SELECT CAST(ts AS DATE) AS day,
                COUNT(DISTINCT CASE WHEN event_type = 'view'
                                    THEN user_id END) AS viewers,
                COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS buyers,
                CASE WHEN COUNT(DISTINCT CASE WHEN event_type = 'view'
                                              THEN user_id END) > 0
                     THEN CAST(COUNT(DISTINCT CASE WHEN event_type =
                               'purchase' THEN user_id END) AS DOUBLE)
                          / CAST(COUNT(DISTINCT CASE WHEN event_type =
                                 'view' THEN user_id END) AS DOUBLE)
                END AS conversion
         FROM events GROUP BY 1 ORDER BY 1"""
  )
}
