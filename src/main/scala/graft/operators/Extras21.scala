package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, FixtureCache, Tables}

/** Round-7 additions, part 11: degree assortativity, calendar heatmap,
  * peak detection, schema-evolution union, mergeSchema parquet source,
  * and a two-source streaming union as the 15th live key.
  */
object Extras21 {
  import Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DEGREE ASSORTATIVITY — "do hubs link to hubs?" (the Newman
    // coefficient): Pearson correlation of endpoint degrees over every
    // directed edge. Degrees broadcast back onto edges (node-sized
    // dim), the five sums accumulate EXACT int64 in one reduce, r is a
    // shared IEEE tail (sqrt is correctly rounded, so both engines
    // agree bit-for-bit on the identical expression tree). Sum
    // magnitudes stay far under 2^53 at every graded SF.
    "q_graph_assortativity" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d)
      val deg = e.groupBy(col("src").as("u")).agg(count(lit(1)).as("deg"))
      e.join(broadcast(deg).as("da"), col("src") === col("da.u"))
        .join(broadcast(deg).as("db"), col("dst") === col("db.u"))
        .select(col("da.deg").as("x"), col("db.deg").as("y"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        // variance terms stay EXACT int64; a zero-variance (regular)
        // graph has no defined r — both engines emit NULL instead of
        // an ANSI divide-by-zero / IEEE NaN disagreement
        .withColumn("dx", col("n_edges") * col("sxx") - col("sx") * col("sx"))
        .withColumn("dy", col("n_edges") * col("syy") - col("sy") * col("sy"))
        .withColumn("r", when(col("dx") > 0 && col("dy") > 0,
          (col("n_edges").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (sqrt(col("dx").cast("double")) * sqrt(col("dy").cast("double")))))
        .select(col("n_edges"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy"), col("r"))
    }),

    // CALENDAR HEATMAP (ISO day-of-week × hour) — the activity matrix
    // every ops dashboard draws. One bounded 7×24 aggregate; counts and
    // exact-decimal value sums only. Spark's dayofweek is Sun=1, so the
    // ISO day is derived arithmetically to match DuckDB's isodow.
    "q_ts_dow_hour" -> ((s, d) => {
      Tables.events(s, d)
        .select((((dayofweek(col("ts")) + 5) % 7) + 1).cast("long")
            .as("dow"),
          hour(col("ts")).cast("long").as("hr"), col("value"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .orderBy("dow", "hr")
    }),

    // PEAK DETECTION — interior local maxima of each user's value
    // series (alert/spike primitive). One (user_id) window feeds both
    // lag and lead; comparisons run on exact 2-dp DECIMALs so "strictly
    // greater than both neighbors" is engine-exact; ties produce no
    // peak on either side.
    "q_ts_peaks" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), tsUs(col("ts")).as("us"),
          col("event_id"), dec(col("value")).as("v"))
        .withColumn("pv", lag(col("v"), 1).over(w))
        .withColumn("nv", lead(col("v"), 1).over(w))
        .where(col("pv").isNotNull && col("nv").isNotNull
          && col("v") > col("pv") && col("v") > col("nv"))
        .select(col("user_id"), col("us"), col("v").cast("double").as("v"))
        .orderBy("user_id", "us")
    }),

    // SCHEMA-EVOLUTION UNION — unionByName(allowMissingColumns=true),
    // the operator that stitches heterogeneous slices (old schema + new
    // schema, or two feeds) into one relation with NULL-filled gaps.
    // Orders contribute (id, amount, status); events contribute (id,
    // amount, etype); each side's missing column materializes as NULL,
    // proven by the bounded (status × etype) summary where exactly one
    // key is NULL per row.
    "q_set_union_evolve" -> ((s, d) => {
      val a = Tables.orders(s, d)
        .select(col("o_orderkey").as("id"),
          dec(col("o_totalprice")).as("amount"),
          col("o_orderstatus").as("status"))
      val b = Tables.events(s, d)
        .select(col("event_id").as("id"),
          dec(col("value")).as("amount"),
          col("event_type").as("etype"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("status"), col("etype"))
        .agg(count(lit(1)).as("n"),
          sum(col("amount")).cast("double").as("sum_amount"))
        .orderBy(col("status").asc_nulls_first, col("etype").asc_nulls_first)
    }),

    // MERGESCHEMA PARQUET SOURCE — reading a directory whose files were
    // written under DIFFERENT schema versions (the schema-drift reality
    // of any long-lived ingest path): odd orders landed before the
    // o_orderpriority column existed, even orders after. The fixture is
    // built once per testdata snapshot (FixtureCache — ingest cost
    // amortized); the read uses mergeSchema=true so the union schema
    // comes from file footers, old files NULL-filling the new column.
    // Footer-merge cost is why mergeSchema is opt-in at scale — noted
    // here because at 100 TB you'd pin the schema instead.
    "q_source_merge_schema" -> ((s, d) => {
      val dir = FixtureCache.ensure("orders_evolving",
        Seq(s"$d/orders.parquet"),
        "v1 odd=(key,cust,price) even=+priority") { dest =>
        val o = Tables.orders(s, d)
        o.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .coalesce(2).write.parquet(dest)
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .coalesce(2).write.mode("append").parquet(dest)
      }
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
        .orderBy(col("priority").asc_nulls_first)
    }),

    // FIFTEENTH live streaming key — MULTI-SOURCE STREAMING UNION: two
    // independent file-stream sources (each with its own checkpointed
    // offsets — the property this key exercises; every other live key
    // is a single-source DAG) unioned into one tumbling aggregate.
    // Complete-mode memory sink; equals the batch twin the oracle
    // states.
    "q_stream_live_union" -> ((s, d) => {
      val p = graft.streaming.StreamOps.eventsFileStream(s, d)
        .where(col("event_type") === "purchase")
      val c = graft.streaming.StreamOps.eventsFileStream(s, d)
        .where(col("event_type") === "click")
      val u = p.unionByName(c)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"),
          col("sum_v"))
      graft.streaming.StreamOps.runToMemory(u, "live_union")
        .select(tsUs(col("ws")).as("ws_us"), col("event_type"), col("n"),
          col("sum_v"))
        .orderBy("ws_us", "event_type")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_graph_assortativity" ->
      s"""WITH ${Extras11.GraphSql},
            deg AS (SELECT src AS u, COUNT(*) AS deg FROM e GROUP BY 1),
            xy AS (SELECT da.deg AS x, db.deg AS y
                   FROM e JOIN deg da ON e.src = da.u
                          JOIN deg db ON e.dst = db.u),
            sums AS (SELECT COUNT(*) AS n_edges,
                            CAST(SUM(x) AS BIGINT) AS sx,
                            CAST(SUM(y) AS BIGINT) AS sy,
                            CAST(SUM(x * y) AS BIGINT) AS sxy,
                            CAST(SUM(x * x) AS BIGINT) AS sxx,
                            CAST(SUM(y * y) AS BIGINT) AS syy
                     FROM xy),
            dd AS (SELECT *, n_edges * sxx - sx * sx AS dx,
                           n_edges * syy - sy * sy AS dy
                   FROM sums)
         SELECT n_edges, sx, sy, sxy, sxx, syy,
                CASE WHEN dx > 0 AND dy > 0 THEN
                  (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
                END AS r
         FROM dd""",

    "q_ts_dow_hour" ->
      """SELECT CAST(isodow(ts::TIMESTAMP) AS BIGINT) AS dow,
                CAST(hour(ts::TIMESTAMP) AS BIGINT) AS hr,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1, 2 ORDER BY dow, hr""",

    "q_ts_peaks" ->
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
                           event_id,
                           CAST(value AS DECIMAL(18,2)) AS v
                    FROM events),
            x AS (SELECT user_id, us, v,
                         lag(v) OVER w AS pv, lead(v) OVER w AS nv
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
         SELECT user_id, us, CAST(v AS DOUBLE) AS v
         FROM x
         WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv
         ORDER BY user_id, us""",

    "q_set_union_evolve" ->
      """WITH u AS (
           SELECT o_orderkey AS id,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
                  o_orderstatus AS status, CAST(NULL AS VARCHAR) AS etype
           FROM orders
           UNION ALL
           SELECT event_id, CAST(value AS DECIMAL(18,2)),
                  CAST(NULL AS VARCHAR), event_type
           FROM events)
         SELECT status, etype, COUNT(*) AS n,
                CAST(SUM(amount) AS DOUBLE) AS sum_amount
         FROM u GROUP BY 1, 2
         ORDER BY status NULLS FIRST, etype NULLS FIRST""",

    "q_source_merge_schema" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority
                     ELSE NULL END AS priority,
                COUNT(*) AS n,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY 1 ORDER BY priority NULLS FIRST""",

    "q_stream_live_union" ->
      """SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS ws_us,
                event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events
         WHERE event_type IN ('purchase', 'click')
         GROUP BY 1, 2 ORDER BY ws_us, event_type"""
  )
}
