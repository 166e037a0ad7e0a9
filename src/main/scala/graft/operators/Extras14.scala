package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.{Det, Tables}
import graft.streaming.StreamOps

/** An Event without its props JSON: every field the CDC state reads. */
case class CdcEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Per-user CDC state: the latest (by (us, event_id)) change record. */
case class CdcLatest(user_id: Long, us: Long, event_id: Long,
    etype: String, cents: Long)

/** Round-7 additions, part 4: graded connected components (completing the
  * graph family: degree, triangles, components, PageRank, BFS), monthly
  * period-over-period change, and a CDC latest-state streaming apply.
  */
object Extras14 {
  import Det._

  /** The CDC fold of q_stream_live_cdc: per user the latest change record
    * by the (µs, event_id) total order, held in flatMapGroupsWithState and
    * re-emitted (update mode) on every micro-batch that changes it.
    * "Latest" is a max over a total order, so each input partition first
    * keeps only its latest record per user and only those cross the state
    * shuffle. */
  def latestPerUser(events: DataFrame): Dataset[CdcLatest] = {
    import events.sparkSession.implicits._
    def later(a: CdcLatest, b: CdcLatest): CdcLatest =
      if (a.us > b.us || (a.us == b.us && a.event_id >= b.event_id)) a
      else b
    StreamOps.combinePartials(StreamOps.narrow[CdcEvent](events))(
        _.user_id,
        e => CdcLatest(e.user_id,
          e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L,
          e.event_id, e.event_type, StreamOps.cents(e.value)),
        later)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcLatest, CdcLatest](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, parts: Iterator[CdcLatest], state: GroupState[CdcLatest]) =>
          val next = (state.getOption.iterator ++ parts).reduce(later)
          state.update(next)
          Iterator(next)
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CONNECTED COMPONENTS, graded on the shared co-occurrence graph —
    // the pointer-jumping Components kernel (O(log diameter) rounds,
    // per-round checkpoint; reliable-checkpoint mode when a dir is set)
    // that already powers dedup_clusters/dedup_semantic, now
    // oracle-checked against a recursive-CTE min-label fixpoint on the
    // GRAPH family's edge relation. Component id = min node id.
    "q_graph_components" -> ((s, d) => {
      val und = Extras11.undirectedEdges(s, d)
      Components.minLabel(und)
        .select(col("id").as("u"), col("lbl").as("component"))
        .orderBy("u")
    }),

    // MONTH-OVER-MONTH CHANGE — the BI period-over-period staple:
    // monthly exact-decimal revenue, percent change vs the previous
    // month ((v − vl) exact in decimal, ONE shared IEEE division).
    // Monthly series is calendar-bounded (the q_ts_acf argument), so
    // the unpartitioned lag window is a constant-size tail at any
    // data volume.
    "q_ts_mom" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(sum(dec(col("o_totalprice"))).cast(Det.D2).as("v"))
      val w = Window.orderBy("m")
      monthly
        .withColumn("vl", lag(col("v"), 1).over(w))
        .select(tsUs(col("m")).as("m_us"), col("v").cast("double").as("rev"),
          round((col("v") - col("vl")).cast("double")
            / col("vl").cast("double") * 100, 6).as("mom_pct"))
        .orderBy("m_us")
    }),

    // CDC LATEST-STATE APPLY — treat the event stream as a changelog:
    // per user keep only the LATEST record by the (µs, event_id) total
    // order, an 'error'-typed record is a tombstone that deletes the
    // key from the final state. flatMapGroupsWithState holds one record
    // per key (state size = O(live keys), sharded by user_id across
    // state-store partitions); update mode re-emits a key's latest on
    // every micro-batch, and the final max_by((us, event_id)) collapse
    // makes the result invariant to the batch split — the same
    // discipline as q_stream_live_stateful. The tombstone filter runs
    // at the END so a delete arriving in any batch wins iff it is the
    // key's last record, exactly the batch oracle's semantics.
    "q_stream_live_cdc" -> ((s, d) =>
      StreamOps.runToMemoryUpdate(
        latestPerUser(StreamOps.eventsFileStream(s, d)).toDF(), "live_cdc")
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("us"), col("event_id"), col("etype"),
          col("cents")), struct(col("us"), col("event_id"))).as("r"))
        .select(col("user_id"), col("r.us").as("us"),
          col("r.event_id").as("event_id"), col("r.etype").as("etype"),
          col("r.cents").as("cents"))
        .where(col("etype") =!= "error")
        .orderBy("user_id"))
  )

  val oracle: Map[String, String] = Map(
    "q_graph_components" ->
      """WITH RECURSIVE
            v AS (SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h,
                                  event_type AS t, user_id AS u
                  FROM events WHERE user_id % 7 = 0),
            und AS (SELECT DISTINCT x.u AS a, y.u AS b
                    FROM v x JOIN v y
                      ON x.h = y.h AND x.t = y.t AND x.u < y.u),
            e AS (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
            r(u, lbl) AS (
              SELECT DISTINCT src, src FROM e
              UNION
              SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.u
              WHERE r.lbl < e.dst)
         SELECT u, MIN(lbl) AS component FROM r GROUP BY u ORDER BY u""",
    "q_ts_mom" ->
      """WITH monthly AS (SELECT date_trunc('month', o_orderdate) AS m,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS v
              FROM orders GROUP BY 1),
            lg AS (SELECT m, v, lag(v) OVER (ORDER BY m) AS vl FROM monthly)
         SELECT epoch_us(m::TIMESTAMP) AS m_us, CAST(v AS DOUBLE) AS rev,
                round(CAST(v - vl AS DOUBLE) / CAST(vl AS DOUBLE) * 100, 6)
                  AS mom_pct
         FROM lg ORDER BY m_us""",
    "q_stream_live_cdc" ->
      """WITH x AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id,
                event_type AS etype,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn
              FROM events)
         SELECT user_id, us, event_id, etype, cents
         FROM x WHERE rn = 1 AND etype <> 'error'
         ORDER BY user_id"""
  )
}
