package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The query executions a block runs, as a QueryExecutionListener sees
  * them, and the physical operators they ran. */
trait ExecutionCapture extends AdaptiveSparkPlanHelper {
  self: QuerySuiteBase =>

  /** Every query execution `run` makes, in order. Listener calls arrive
    * asynchronously and in order, so a marker query run before and after
    * `run` fences them off from every other execution. */
  def executionsOf(run: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    @volatile var lastMarker = -1L
    def marker(qe: QueryExecution): Option[Long] =
      qe.analyzed.collectFirst { case r: Range if r.start >= 424242L => r.start }
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        marker(qe) match {
          case Some(m) => lastMarker = m
          case None => seen.add(qe)
        }
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def drain(m: Long): Unit = {
      spark.range(m, m + 1).collect()
      eventually(timeout(60.seconds))(assert(lastMarker == m))
    }
    spark.listenerManager.register(listener)
    try {
      drain(424242L)
      seen.clear()
      run
      drain(424243L)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The distinct physical operators `qes` ran, one entry per operator
    * instance: inside adaptive stages and inside cached relations, whose
    * one plan every execution that reads the cache shares. */
  def operatorsOf(qes: Seq[QueryExecution]): Seq[SparkPlan] = {
    def within(p: SparkPlan): Seq[SparkPlan] = collect(p) {
      case m: InMemoryTableScanExec => m +: within(m.relation.cachedPlan)
      case n => Seq(n)
    }.flatten
    val ids = new java.util.IdentityHashMap[SparkPlan, Unit]
    qes.flatMap(qe => within(qe.executedPlan)).filter(ids.put(_, ()) == null)
  }

  /** How many scans of the events table read rows in `qes`. */
  def eventScans(qes: Seq[QueryExecution]): Int = operatorsOf(qes).count {
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.exists(_.getName == "events.parquet") &&
        f.metrics("numOutputRows").value > 0
    case _ => false
  }
}
