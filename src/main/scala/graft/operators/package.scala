package graft

import scala.annotation.tailrec

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Shared materialization boundary for every graded operator: a
  * driver-loop or shared-subtree cut at lineage depth 1. perfbench's
  * `operators.ckpt_jobs` counts checkpoint jobs by THIS call site, so
  * operators checkpoint through here, and the driver-loop kernel
  * (Fixpoint) lives here too. The decimal→double twin needs nothing
  * here: the checkpoint job is planned by the session optimizer, which
  * carries DuckCast's rule.
  */
package object operators {
  implicit final class DuckCkptOps(private val df: DataFrame)
      extends AnyVal {
    /** Eager cut of a shared subtree: one job materializes it now. */
    def duckCkpt(): DataFrame = Fixpoint.held(df.localCheckpoint())

    /** Lazy cut: the plan is truncated to an RDD scan now, and the RDD
      * materializes inside the first action that reads it. Only
      * Fixpoint cuts rounds this way (see its round rule). */
    def duckCkptLazy(): DataFrame =
      Fixpoint.held(df.localCheckpoint(eager = false))
  }

  /** The driver-loop kernel: every distributed loop runs its rounds
    * here, so four decisions are made once.
    *
    * '''Cut.''' Each round's frame (the seed is round 0) is cut to
    * lineage depth 1 (D-Streams' truncated lineage): lazily by a local
    * checkpoint, or, when the session has a reliable checkpoint dir, by
    * an eager reliable checkpoint, so a round survives executor loss
    * before the loop builds on it. A frame that is already an RDD scan
    * is not cut again.
    *
    * '''Materialization.''' A lazy cut materializes in the first job that
    * reads it: the loop's measure (`rows` counts the cut in one job),
    * else the next round's jobs; the kernel counts the last round if
    * nothing read it. Spark's `doCheckpoint` walks a job's lineage only
    * down to the first RDD marked for checkpointing, so a round read
    * only by a later marked round is computed and cached but never
    * marked checkpointed, and its blocks would stay until a driver GC.
    *
    * '''Release.''' So every cut made while a key builds its frame is
    * recorded (`scoped`, opened per key by `SparkEntry.queries`), and
    * each one the built frame no longer reads is unpersisted.
    *
    * '''Cap.''' `converge` runs to a fixpoint and throws after
    * `MaxRounds`; `bounded` and `rounds` run a round count that the
    * key's contract (and its DuckDB oracle) fixes, and stop silently.
    */
  object Fixpoint {

    /** Round cap of a loop that runs to its fixpoint: path doubling and
      * pointer jumping need O(log diameter) rounds, so 64 rounds covers
      * any graph a run can hold. */
    val MaxRounds = 64

    /** One cut round and what the loop's measure read from it. */
    final case class Round[M](df: DataFrame, measure: M)

    /** Runs `step` from `seed` until it returns None (the fixpoint).
      * `step` sees every round so far, seed first; a loop not at its
      * fixpoint within `MaxRounds` rounds throws. Returns the rounds. */
    def converge[M](seed: DataFrame, measure: DataFrame => M)(
        step: Seq[Round[M]] => Option[DataFrame]): Seq[Round[M]] =
      run(seed, measure, MaxRounds, throw new IllegalStateException(
        s"no fixpoint within Fixpoint.MaxRounds = $MaxRounds rounds"))(step)

    /** Like `converge`, but stops silently after `n` rounds past the
      * seed: the loop's round bound is part of its contract. */
    def bounded[M](seed: DataFrame, n: Int, measure: DataFrame => M)(
        step: Seq[Round[M]] => Option[DataFrame]): Seq[Round[M]] =
      run(seed, measure, n, ())(step)

    /** Exactly `n` rounds past the seed, each read only by the next: the
      * frames, seed first; the last is materialized. */
    def rounds(seed: DataFrame, n: Int)(step: DataFrame => DataFrame)
        : Seq[DataFrame] =
      bounded(seed, n, _ => ())(rs => Some(step(rs.last.df))).map(_.df)

    /** The measure that counts a round's rows: one job over the cut
      * itself, so that job marks the round checkpointed. */
    def rows(df: DataFrame): Long = count(rddOf(df))

    /** A cut with no partitions (an empty relation the planner pruned)
      * needs no job. */
    private def count(rdd: RDD[_]): Long =
      if (rdd.partitions.isEmpty) 0L else rdd.count()

    private def run[M](seed: DataFrame, measure: DataFrame => M, cap: Int,
        atCap: => Unit)(step: Seq[Round[M]] => Option[DataFrame])
        : Seq[Round[M]] = {
      def round(df: DataFrame): Round[M] = {
        val c = cut(df)
        Round(c, measure(c))
      }
      @tailrec def loop(rs: Vector[Round[M]]): Vector[Round[M]] =
        if (rs.size > cap) { atCap; rs }
        else step(rs) match {
          case Some(next) => loop(rs :+ round(next))
          case None => rs
        }
      val rs = loop(Vector(round(seed)))
      val last = rddOf(rs.last.df)
      if (!last.isCheckpointed) count(last)
      rs
    }

    private def cut(df: DataFrame): DataFrame =
      df.queryExecution.analyzed match {
        case _: LogicalRDD => df
        case _ if df.sparkSession.sparkContext.getCheckpointDir.isDefined =>
          df.checkpoint()
        case _ => df.duckCkptLazy()
      }

    private def rddOf(df: DataFrame): RDD[_] =
      df.queryExecution.analyzed match {
        case r: LogicalRDD => r.rdd
        case p => throw new IllegalArgumentException(
          s"not a cut round: ${p.nodeName}")
      }

    /** The open scope's cuts; null when no scope is open. */
    private val open = new ThreadLocal[collection.mutable.Buffer[RDD[_]]]

    /** Records the RDD of a cut in the open scope, if any. */
    private[operators] def held(df: DataFrame): DataFrame = {
      Option(open.get).foreach(_ += rddOf(df))
      df
    }

    /** Builds a frame with every cut recorded, then unpersists the cuts
      * the frame does not read. Nested scopes belong to the outermost. */
    def scoped(build: => DataFrame): DataFrame =
      if (open.get != null) build
      else {
        val cuts = collection.mutable.Buffer.empty[RDD[_]]
        open.set(cuts)
        val df = try build finally open.remove()
        val live = reads(df)
        cuts.filterNot(r => live(r.id)).foreach(_.unpersist(blocking = false))
        df
      }

    /** Ids of the RDDs a frame's plan reads: its RDD scans (also inside
      * cached plans and subqueries) and their lineage. */
    def reads(df: DataFrame): Set[Int] = {
      val scans = df.queryExecution.analyzed.collectWithSubqueries {
        case r: LogicalRDD => Seq(r.rdd)
        case m: InMemoryRelation =>
          m.cacheBuilder.cachedPlan.collectWithSubqueries {
            case s: RDDScanExec => s.rdd
          }
      }.flatten
      @tailrec def walk(todo: List[RDD[_]], seen: Set[Int]): Set[Int] =
        todo match {
          case r :: rest if seen(r.id) => walk(rest, seen)
          case r :: rest => walk(r.dependencies.map(_.rdd).toList ++ rest,
            seen + r.id)
          case Nil => seen
        }
      walk(scans.toList, Set.empty)
    }
  }
}
