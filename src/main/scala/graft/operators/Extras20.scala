package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.{Det, Tables}

/** Per-user session accumulator for the event-time-timeout key. */
case class SessAcc(startUs: Long, lastUs: Long, n: Long)
/** The three Event fields the session-timeout state reads. */
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
case class SessOut(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long)

/** Round-7 additions, part 10: table profiling, constraint audit,
  * frequent itemset pairs, null-safe join, cumulative-distinct users,
  * and session close-on-timeout as the 14th live streaming key.
  */
object Extras20 {
  import Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TABLE PROFILING — the per-column (nulls, distinct, min, max)
    // summary every data-quality suite starts with. ONE fact pass: all
    // six columns' aggregates run in a single agg (multi-distinct via
    // Spark's expand — 6× row fan-out inside one shuffle beats six
    // scans at any scale), packed into structs and exploded to the
    // 6-row profile. Min/max are taken on the NATIVE type and only
    // then rendered to string (lexicographic min of "99"/"100" is the
    // classic profiling bug); the renderings (long, DECIMAL(18,2),
    // DATE) are format-stable across engines.
    "q_dq_profile" -> ((s, d) => {
      def p(name: String, c: Column, native: Column) = struct(
        lit(name).as("col_name"),
        sum(when(c.isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(c).as("n_distinct"),
        min(native).cast("string").as("min_s"),
        max(native).cast("string").as("max_s"))
      Tables.orders(s, d)
        .agg(count(lit(1)).as("n"), array(
          p("o_custkey", col("o_custkey"), col("o_custkey")),
          p("o_orderdate", col("o_orderdate"), to_date(col("o_orderdate"))),
          p("o_orderkey", col("o_orderkey"), col("o_orderkey")),
          p("o_orderpriority", col("o_orderpriority"), col("o_orderpriority")),
          p("o_orderstatus", col("o_orderstatus"), col("o_orderstatus")),
          p("o_totalprice", col("o_totalprice"), dec(col("o_totalprice")))
        ).as("ps"))
        .select(col("n"), explode(col("ps")).as("pr"))
        .select(col("pr.col_name").as("col_name"), col("n"),
          col("pr.n_null").as("n_null"),
          col("pr.n_distinct").as("n_distinct"),
          col("pr.min_s").as("min_s"), col("pr.max_s").as("max_s"))
        .orderBy("col_name")
    }),

    // CONSTRAINT AUDIT — declarative expectation checks (referential
    // integrity, key uniqueness, domain bounds) reported as one row per
    // rule. Each check is an independent bounded aggregate (the orphan
    // check an anti-join with the dimension, broadcastable); a fixed
    // 4-row report regardless of data size.
    "q_dq_constraints" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val e = Tables.events(s, d)
      def row(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_violations"))
      row("dup_event_ids",
          e.groupBy(col("event_id")).agg(count(lit(1)).as("nn"))
            .where(col("nn") > 1))
        .unionByName(row("nonpositive_price",
          o.where(dec(col("o_totalprice")) <= 0)))
        .unionByName(row("null_user_id", e.where(col("user_id").isNull)))
        .unionByName(row("orphan_orders",
          o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
        .orderBy("check_name")
    }),

    // FREQUENT ITEMSET PAIRS (market-basket 2-itemsets) — the top
    // co-ordered part pairs. Baskets dedupe to (order, part), pairs
    // come from an equi-join ON THE ORDER KEY with pa < pb (candidate
    // count is Σ basket², never |parts|²), then one pair aggregate.
    // Top-20 under the TOTAL order (n desc, pa, pb) instead of a
    // support threshold, so the result is non-empty and deterministic
    // at every SF.
    "q_agg_itemsets" -> ((s, d) => {
      // Round 16: the distinct + self-equi-join (3 exchanges + a
      // sort-merge, with the pair agg's read byte-coalesced onto one
      // core) became the shared in-group pair kernel — ONE basket
      // shuffle, the (order, part) dedup fused into the sorted run,
      // identical (lo, hi) pair multiset (PairKernel's doc).
      PairKernel.groupedPairs(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey")))
        .select(col("a").as("pa"), col("b").as("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pa"), col("pb"))
        .limit(20)
    }),

    // NULL-SAFE JOIN (<=> / IS NOT DISTINCT FROM) — the join semantic
    // plain equality can't express: NULL keys MATCH each other instead
    // of dropping out. Two priority-keyed aggregates (each with one
    // priority mapped to NULL) full-outer-joined null-safely: the NULL
    // bucket row carries counts from BOTH sides, the orphaned
    // priorities survive half-null. Dimension-sized inputs after the
    // pre-aggregation — the join itself is trivially broadcastable.
    "q_join_nullsafe" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.withColumn("k",
          when(col("o_orderpriority") === "1-URGENT", lit(null))
            .otherwise(col("o_orderpriority")))
        .groupBy(col("k")).agg(count(lit(1)).as("na"))
      val b = o.where(col("o_orderstatus") === "F")
        .withColumn("k",
          when(col("o_orderpriority") === "3-MEDIUM", lit(null))
            .otherwise(col("o_orderpriority")))
        .groupBy(col("k")).agg(count(lit(1)).as("nb"))
      a.as("a").join(b.as("b"), col("a.k") <=> col("b.k"), "full_outer")
        .select(coalesce(col("a.k"), col("b.k")).as("k"),
          col("na"), col("nb"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // CUMULATIVE DISTINCT USERS per day — "total unique users to date",
    // the growth-dashboard staple. Computed scalably as FIRST-TOUCH
    // counts (one user-keyed shuffle → per-day news) cumulated over the
    // calendar — NO per-day re-scan of history, which is how the naive
    // windowed COUNT(DISTINCT) dies at scale. Days with events but no
    // new users still emit (left join against the distinct-day spine).
    // The ORACLE is the independent quadratic formulation (correlated
    // COUNT DISTINCT per day).
    "q_win_running_distinct" -> ((s, d) => {
      val e = Tables.events(s, d)
      val firstTouch = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("dt"))
        .groupBy(col("dt")).agg(count(lit(1)).as("new_users"))
      val days = e.select(to_date(col("ts")).as("dt")).distinct()
      val cum = Window.orderBy(col("dt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(firstTouch, Seq("dt"), "left")
        .select(col("dt"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(cum))
        .orderBy("dt")
    }),

    // FOURTEENTH live streaming key — SESSION CLOSE ON EVENT-TIME
    // TIMEOUT: flatMapGroupsWithState with EventTimeTimeout, the one
    // streaming state semantic the other 13 keys don't exercise (state
    // that emits because TIME PASSED, not because data arrived).
    // Sessions (30-min gap, same rule as q_stream_session) close
    // in-line when a successor event proves the gap; each user's FINAL
    // session closes via the timeout callback when the terminal
    // watermark (max_ts − 10 min) passes last_ts + 30 min. Sessions
    // ending within 40 min of max_ts are either undecided (final) or
    // only decidable by data the oracle can't see (inline closers), so
    // BOTH engines emit exactly the sessions with end_us < max_ts −
    // 40 min (the louter/file-sink holdback pattern, applied uniformly).
    // Events are sorted (ts, event_id) inside the group buffer, making
    // session assembly iterator-order-free. Unlike the fold-state live
    // keys this one is not combined before its shuffle: a session gap
    // is decided between neighbouring timestamps, so the state needs
    // every event's ts, and no per-partition partial is smaller.
    "q_stream_live_timeout" -> ((s, d) => {
      import s.implicits._
      val ds = graft.streaming.StreamOps.narrow[SessEvent](
        graft.streaming.StreamOps.eventsFileStream(s, d)
          .withWatermark("ts", "10 minutes"))
      val sessions = ds.groupByKey(_.user_id)
        .flatMapGroupsWithState[SessAcc, SessOut](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (uid, it, state) =>
            if (state.hasTimedOut) {
              val acc = state.get
              state.remove()
              Iterator(SessOut(uid, acc.startUs, acc.lastUs, acc.n))
            } else {
              def us(t: java.sql.Timestamp): Long =
                t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
              val evs = it.toIndexedSeq
                .map(e => (us(e.ts), e.event_id)).sorted
              var closed = List.empty[SessOut]
              var acc = state.getOption.orNull
              evs.foreach { case (u, _) =>
                if (acc == null) acc = SessAcc(u, u, 1L)
                else if (u - acc.lastUs > 1800000000L) {
                  closed ::= SessOut(uid, acc.startUs, acc.lastUs, acc.n)
                  acc = SessAcc(u, u, 1L)
                } else acc = SessAcc(acc.startUs, u, acc.n + 1L)
              }
              state.update(acc)
              // timeout at last event + 30 min (ms API)
              state.setTimeoutTimestamp(acc.lastUs / 1000L + 1800000L)
              closed.reverse.iterator
            }
        }.toDF()
      val sink = graft.streaming.StreamOps
        .runToMemoryAppend(sessions, "live_timeout")
      val mx = Tables.events(s, d).agg(max(tsUs(col("ts"))).as("mx_us"))
      sink.crossJoin(broadcast(mx))
        .where(col("end_us") < col("mx_us") - lit(2400000000L))
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_dq_profile" ->
      """SELECT 'o_custkey' AS col_name, COUNT(*) AS n,
                CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_null,
                COUNT(DISTINCT o_custkey) AS n_distinct,
                MIN(o_custkey)::VARCHAR AS min_s,
                MAX(o_custkey)::VARCHAR AS max_s FROM orders
         UNION ALL
         SELECT 'o_orderdate', COUNT(*),
                CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT),
                COUNT(DISTINCT o_orderdate),
                MIN(CAST(o_orderdate AS DATE))::VARCHAR,
                MAX(CAST(o_orderdate AS DATE))::VARCHAR FROM orders
         UNION ALL
         SELECT 'o_orderkey', COUNT(*),
                CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT),
                COUNT(DISTINCT o_orderkey),
                MIN(o_orderkey)::VARCHAR, MAX(o_orderkey)::VARCHAR
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', COUNT(*),
                CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
                     END) AS BIGINT),
                COUNT(DISTINCT o_orderpriority),
                MIN(o_orderpriority), MAX(o_orderpriority) FROM orders
         UNION ALL
         SELECT 'o_orderstatus', COUNT(*),
                CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0
                     END) AS BIGINT),
                COUNT(DISTINCT o_orderstatus),
                MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
         UNION ALL
         SELECT 'o_totalprice', COUNT(*),
                CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0
                     END) AS BIGINT),
                COUNT(DISTINCT o_totalprice),
                MIN(CAST(o_totalprice AS DECIMAL(18,2)))::VARCHAR,
                MAX(CAST(o_totalprice AS DECIMAL(18,2)))::VARCHAR
         FROM orders
         ORDER BY col_name""",

    "q_dq_constraints" ->
      """SELECT 'dup_event_ids' AS check_name,
                CAST(COUNT(*) AS BIGINT) AS n_violations
         FROM (SELECT event_id FROM events GROUP BY 1 HAVING COUNT(*) > 1)
         UNION ALL
         SELECT 'nonpositive_price', COUNT(*) FROM orders
         WHERE CAST(o_totalprice AS DECIMAL(18,2)) <= 0
         UNION ALL
         SELECT 'null_user_id', COUNT(*) FROM events WHERE user_id IS NULL
         UNION ALL
         SELECT 'orphan_orders', COUNT(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)
         ORDER BY check_name""",

    "q_agg_itemsets" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey
                        FROM lineitem)
         SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n
         FROM items a JOIN items b
           ON a.ok = b.ok AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2
         ORDER BY n DESC, pa, pb LIMIT 20""",

    "q_join_nullsafe" ->
      """WITH a AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
                        THEN NULL ELSE o_orderpriority END AS k,
                      COUNT(*) AS na
                   FROM orders GROUP BY 1),
            b AS (SELECT CASE WHEN o_orderpriority = '3-MEDIUM'
                        THEN NULL ELSE o_orderpriority END AS k,
                      COUNT(*) AS nb
                   FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         SELECT COALESCE(a.k, b.k) AS k, na, nb
         FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
         ORDER BY k NULLS FIRST""",

    "q_win_running_distinct" ->
      """WITH d AS (SELECT DISTINCT CAST(ts::TIMESTAMP AS DATE) AS dt
                    FROM events),
            x AS (SELECT dt,
                    (SELECT COUNT(DISTINCT e.user_id) FROM events e
                     WHERE CAST(e.ts::TIMESTAMP AS DATE) <= d.dt)
                      AS cum_users
                  FROM d)
         SELECT dt,
                CAST(cum_users - COALESCE(lag(cum_users)
                     OVER (ORDER BY dt), 0) AS BIGINT) AS new_users,
                CAST(cum_users AS BIGINT) AS cum_users
         FROM x ORDER BY dt""",

    "q_stream_live_timeout" ->
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
                           event_id FROM events),
            x AS (SELECT user_id, us,
                    CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS brk
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            y AS (SELECT user_id, us,
                    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                      ROWS UNBOUNDED PRECEDING) AS sid
                  FROM x),
            sess AS (SELECT user_id, sid, MIN(us) AS start_us,
                            MAX(us) AS end_us, COUNT(*) AS n_events
                     FROM y GROUP BY 1, 2),
            mx AS (SELECT MAX(us) AS mx_us FROM e)
         SELECT s.user_id, s.start_us, s.end_us,
                CAST(s.n_events AS BIGINT) AS n_events
         FROM sess s CROSS JOIN mx
         WHERE s.end_us < mx.mx_us - 2400000000
         ORDER BY s.user_id, s.start_us"""
  )
}
