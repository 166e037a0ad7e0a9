package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Components, Extras17, Fixpoint}

/** The driver-loop kernel: the cap, the bound, the empty seed, and the
  * release of the rounds a frame no longer reads (per key: RankLoopSpec). */
class FixpointSpec extends QuerySuiteBase {

  /** A 4-clique with a pendant path 4-5-6-7-8-9, as symmetric arcs:
    * peeling at degree ≥ 2 drops one path node per round. */
  private def arcs: DataFrame = {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a fixpoint loop that never stabilises throws at the cap") {
    import spark.implicits._
    val e = intercept[IllegalStateException] {
      Fixpoint.converge(Seq(1L).toDF("x"), Fixpoint.rows) { rs =>
        Some(rs.last.df.select((col("x") + 1).as("x")))
      }
    }
    assert(e.getMessage.contains(s"MaxRounds = ${Fixpoint.MaxRounds}"),
      e.getMessage)
  }

  test("a bounded loop stops silently at its bound, as unrolled") {
    val peel = (e: DataFrame) => Extras17.peel(e)(_ >= 2L)
    val unrolled = rowsOf(peel(peel(peel(arcs))))
    // three rounds leave the clique and 4-5-6: not yet a fixpoint
    assert(unrolled.size == 16)
    assert(rowsOf(peel(peel(peel(peel(arcs))))) != unrolled)
    val measured = Fixpoint.bounded(arcs, 3, Fixpoint.rows) { rs =>
      Some(peel(rs.last.df))
    }
    assert(measured.size == 4)
    assert(rowsOf(measured.last.df) == unrolled)
    assert(rowsOf(Fixpoint.rounds(arcs, 3)(peel).last) == unrolled)
  }

  test("an empty seed runs zero rounds and gives an empty result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val rs = Fixpoint.converge(empty, Fixpoint.rows) { rs =>
      if (rs.last.measure == 0) None else Some(rs.last.df)
    }
    assert(rs.size == 1 && rs.last.measure == 0)
    assert(Components.minLabel(empty).collect().isEmpty)
  }

  test("a scope releases the rounds its frame no longer reads") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val peel = (e: DataFrame) => Extras17.peel(e)(_ >= 2L)
    val rounds = collection.mutable.Buffer.empty[DataFrame]
    val out = Fixpoint.scoped {
      rounds ++= Fixpoint.rounds(arcs, 3)(peel)
      rounds.last
    }
    val unread = rounds.init.flatMap(Fixpoint.reads).toSet --
      Fixpoint.reads(out)
    assert(unread.nonEmpty, "the loop's rounds are all still read")
    val kept = sc.getPersistentRDDs.keySet -- before
    assert(kept.intersect(unread).isEmpty,
      s"rounds the frame no longer reads are still persisted: $kept")
    assert(rowsOf(out).size == 16)
  }
}
