package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.streaming.{Event, StreamOps, UserRunningCents}

/** A typed state shuffle moves only the fields its state function reads:
  * runningPerUserCents narrows each Event to (user_id, value) before its
  * groupByKey, so no exchange in its plan carries props, event_type or
  * ts. Run over a static Dataset the operator plans as a batch job, whose
  * exchanges are the ones the stream's state shuffle would make. */
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
}
