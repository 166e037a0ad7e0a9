package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-7 additions, part 8: tolerance-bounded as-of join, local
  * clustering coefficient, RFM customer segmentation, Benford
  * first-digit audit, and multiset symmetric difference.
  */
object Extras18 {
  import Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // AS-OF JOIN WITH TOLERANCE — the production refinement of q_join_asof:
    // a match is only valid within a staleness bound (here 1 hour), else
    // NULL — exactly how feature stores join facts to slowly-arriving
    // context. Same single-shuffle running-last kernel (union the two
    // streams, one (user_id) sort, last(ignoreNulls) carries the latest
    // click struct); the tolerance is applied AFTER the carry, so it adds
    // zero join fan-out — no range join, no per-row probe. The carried
    // struct orders (ts, event_id), making the equal-ts tie pick the max
    // event_id deterministically.
    "q_join_asof_tolerance" -> ((s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          struct(tsUs(col("ts")).as("cus"), col("event_id").as("cid"))
            .as("click"), lit(0).as("tag"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("struct<cus:bigint,cid:bigint>").as("click"),
          lit(1).as("tag"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("prev", last(col("click"), ignoreNulls = true).over(w))
        .where(col("tag") === 1)
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
          when(col("prev").isNotNull
              && col("prev.cus") >= tsUs(col("ts")) - lit(3600000000L),
            col("prev.cid")).as("prev_click_id"))
        .orderBy("event_id")
    }),

    // LOCAL CLUSTERING COEFFICIENT per node — "how interconnected is my
    // neighborhood" (the community-structure statistic next to degree and
    // triangles). Node triangle counts come from exploding each a<b<c
    // triangle to its three corners (the q_graph_triangles three-join
    // closure, reused); wedges = deg·(deg−1)/2 stays integer; cc =
    // 2·tri/(deg·(deg−1)) is one IEEE division of agreed integers.
    // Join-shaped on the shared graph; nodes with deg < 2 report cc = 0.
    "q_graph_cluster_coeff" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d).duckCkpt()
      val und = e.where(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
      val deg = e.groupBy(col("src").as("u")).agg(count(lit(1)).as("deg"))
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e2.b") === col("e3.b") && col("e1.a") === col("e3.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val triPerNode = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("n_tri"))
      deg.join(triPerNode, Seq("u"), "left")
        .select(col("u"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("deg") >= 2,
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("double")
              / (col("deg") * (col("deg") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("cc"))
        .orderBy("u")
    }),

    // RFM SEGMENTATION — the classic customer scoring (recency /
    // frequency / monetary quintiles → 3-digit segment). Facts aggregate
    // ONCE to the customer dimension; the three ntile windows run over
    // customers only (dimension-sized at any fact scale). Every ntile
    // order is a total order ((metric, custkey) tiebreak), so bucket
    // assignment is engine-exact; monetary stays exact cents until the
    // final per-segment average (one shared IEEE division).
    "q_agg_rfm" -> ((s, d) => {
      val anchor = Window.partitionBy(lit(1))
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(tsUs(col("o_orderdate"))).as("last_us"),
          count(lit(1)).as("freq"),
          sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
      val r = ntile(5).over(Window.orderBy(col("last_us").desc, col("o_custkey")))
      val f = ntile(5).over(Window.orderBy(col("freq").desc, col("o_custkey")))
      val m = ntile(5).over(Window.orderBy(col("cents").desc, col("o_custkey")))
      cust
        .select(col("o_custkey"), col("cents"),
          (r * 100 + f * 10 + m).cast("long").as("segment"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"),
          (sum(col("cents")).cast("double") / lit(100.0)
            / count(lit(1))).as("avg_monetary"))
        .orderBy("segment")
    }),

    // BENFORD FIRST-DIGIT AUDIT — the fraud/data-quality screen: the
    // first significant digit of organic money amounts follows
    // log10(1+1/d). Digits come from the exact-cents INTEGER's decimal
    // string (never from double formatting, which differs across
    // engines); one bounded 9-row aggregate; the observed share is one
    // IEEE division each. The Benford expectation itself is asserted in
    // the spec, not the result (cross-engine log10 is not bit-pinned).
    "q_ts_benford" -> ((s, d) => {
      val tot = Window.partitionBy(lit(1))
      Tables.orders(s, d)
        .select(substring((dec(col("o_totalprice")) * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("share",
          col("n").cast("double") / sum(col("n")).over(tot).cast("double"))
        .select(col("digit"), col("n"), col("share"))
        .orderBy("digit")
    }),

    // MULTISET SYMMETRIC DIFFERENCE — the missing fourth set op next to
    // union/intersect/except ALL: rows in exactly one of the two sides,
    // with multiplicity |a−b|. Two EXCEPT ALLs + UNION ALL (each a
    // hash-partitioned count-compare — no sort), then a bounded per-key
    // count so the output is a difference summary, not a row flood.
    "q_set_symdiff" -> ((s, d) => {
      def uids(t: String) = Tables.events(s, d)
        .where(col("event_type") === t).select(col("user_id"))
      uids("view").exceptAll(uids("click"))
        .unionByName(uids("click").exceptAll(uids("view")))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_sym"))
        .orderBy("user_id")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_join_asof_tolerance" ->
      """WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id,
                           event_type FROM events),
            p AS (SELECT * FROM e WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                (SELECT c.event_id FROM e c
                 WHERE c.user_id = p.user_id AND c.event_type = 'click'
                   AND c.ts <= p.ts
                   AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
                 ORDER BY c.ts DESC, c.event_id DESC LIMIT 1)
                  AS prev_click_id
         FROM p ORDER BY p.event_id""",

    "q_graph_cluster_coeff" ->
      s"""WITH ${Extras11.GraphSql},
            deg AS (SELECT src AS u, COUNT(*) AS deg FROM e GROUP BY 1),
            tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                    FROM und e1
                    JOIN und e2 ON e1.b = e2.a
                    JOIN und e3 ON e2.b = e3.b AND e1.a = e3.a),
            tpn AS (SELECT u, COUNT(*) AS n_tri
                    FROM (SELECT x AS u FROM tri
                          UNION ALL SELECT y FROM tri
                          UNION ALL SELECT z FROM tri)
                    GROUP BY u)
         SELECT deg.u, deg.deg, COALESCE(tpn.n_tri, 0) AS n_tri,
                CASE WHEN deg.deg >= 2
                  THEN CAST(COALESCE(tpn.n_tri, 0) * 2 AS DOUBLE)
                       / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                  ELSE 0.0 END AS cc
         FROM deg LEFT JOIN tpn ON tpn.u = deg.u
         ORDER BY deg.u""",

    "q_agg_rfm" ->
      """WITH cust AS (SELECT o_custkey,
                    MAX(epoch_us(o_orderdate::TIMESTAMP)) AS last_us,
                    COUNT(*) AS freq,
                    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
                 FROM orders GROUP BY 1),
            s AS (SELECT o_custkey, cents,
                    ntile(5) OVER (ORDER BY last_us DESC, o_custkey) * 100
                    + ntile(5) OVER (ORDER BY freq DESC, o_custkey) * 10
                    + ntile(5) OVER (ORDER BY cents DESC, o_custkey)
                      AS segment
                  FROM cust)
         SELECT segment, COUNT(*) AS n_customers,
                CAST(SUM(cents) AS DOUBLE) / 100.0 / COUNT(*)
                  AS avg_monetary
         FROM s GROUP BY segment ORDER BY segment""",

    "q_ts_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice
                      AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
                      AS INT) AS digit
                    FROM orders),
            g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1)
         SELECT digit, n,
                CAST(n AS DOUBLE)
                  / CAST(SUM(n) OVER () AS DOUBLE) AS share
         FROM g ORDER BY digit""",

    "q_set_symdiff" ->
      """WITH sd AS (
           (SELECT user_id FROM events WHERE event_type = 'view'
            EXCEPT ALL
            SELECT user_id FROM events WHERE event_type = 'click')
           UNION ALL
           (SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT ALL
            SELECT user_id FROM events WHERE event_type = 'view'))
         SELECT user_id, COUNT(*) AS n_sym
         FROM sd GROUP BY user_id ORDER BY user_id"""
  )
}
