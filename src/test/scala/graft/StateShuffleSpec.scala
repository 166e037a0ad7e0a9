package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.streaming.{Event, StreamOps, UserRunningCents}

/** A typed state shuffle moves only what its state function reads:
  * runningPerUserCents narrows each Event to (user_id, value) before its
  * groupByKey, so no exchange in its plan carries props, event_type or
  * ts, and combines each input partition's events into one partial per
  * user, so the exchange carries partials, not events. Run over a static
  * Dataset the operator plans as a batch job, whose exchanges are the
  * ones the stream's state shuffle would make. */
class StateShuffleSpec extends QuerySuiteBase with AdaptiveSparkPlanHelper {

  test("runningPerUserCents shuffles no props, event_type or ts") {
    val s = spark
    import s.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val run = StreamOps.runningPerUserCents(Seq(
      Event(1L, ts, 7L, "click", 1.25, """{"k":1}"""),
      Event(2L, ts, 7L, "view", 2.5, "{}"),
      Event(3L, ts, 8L, "click", 0.1, "{}")).toDS())
    assert(run.collect().sortBy(_.user_id).toSeq ==
      Seq(UserRunningCents(7L, 2L, 375L), UserRunningCents(8L, 1L, 10L)))
    val shuffles = collect(run.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, "expected a state shuffle")
    for (e <- shuffles) {
      val moved = e.output.map(_.name).toSet
      assert((moved & Set("props", "event_type", "ts")).isEmpty,
        s"state shuffle carries ${moved.mkString(", ")}")
    }
  }

  /** `n` events over `users` users, in one input partition. */
  private def events(n: Int, users: Int) = {
    val s = spark
    import s.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    s.createDataset(s.sparkContext.parallelize((1 to n).map(i =>
      Event(i.toLong, ts, (i % users).toLong, "click", i * 0.005, "{}")), 1))
  }

  test("runningPerUserCents: the state shuffle carries one partial per user") {
    val run = StreamOps.runningPerUserCents(events(1000, 10))
    val got = run.collect().sortBy(_.user_id).toSeq
    assert(got == (0 until 10).map { u =>
      val vs = (1 to 1000).filter(_ % 10 == u)
      UserRunningCents(u.toLong, vs.size.toLong,
        vs.map(i => StreamOps.cents(i * 0.005)).sum)
    })
    val written = collect(run.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
    }
    assert(written == Seq(10L), s"state shuffle wrote $written records")
  }

  test("combinePartials: a flush at the key cap keeps the fold") {
    val s = spark
    import s.implicits._
    def partials(cap: Int) = StreamOps.combinePartials(events(1000, 10), cap)(
      _.user_id, e => (e.user_id, 1L, e.event_id),
      (a: (Long, Long, Long), b: (Long, Long, Long)) =>
        (a._1, a._2 + b._2, a._3 + b._3)).collect().toSeq
    def folded(ps: Seq[(Long, Long, Long)]) = ps.groupBy(_._1).view
      .mapValues(g => (g.map(_._2).sum, g.map(_._3).sum)).toMap
    val whole = partials(StreamOps.CombineKeyCap)
    val flushed = partials(2)
    val (nWhole, nFlushed) = (whole.size, flushed.size)
    assert(nWhole == 10, s"$nWhole partials for 10 keys")
    assert(nFlushed > 10, "a cap of 2 keys never flushed")
    assert(folded(flushed) == folded(whole))
    assert(folded(whole) == (0 until 10).map { u =>
      val ids = (1 to 1000).filter(_ % 10 == u)
      u.toLong -> (ids.size.toLong, ids.map(_.toLong).sum)
    }.toMap)
  }
}
