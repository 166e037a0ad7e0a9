package graft

import scala.collection.mutable

class Extras138Spec extends QuerySuiteBase {
  Seq("q_graph_scc", "q_stream_live_fouter", "q_ts_lombscargle_fap")
    .foreach(checkDeclared(_))

  test("scc labels match a local Tarjan on the same edge relation") {
    // Rebuild the directed first-touch chain edges exactly as the
    // operator does, then run textbook Tarjan locally and compare the
    // min-member component labels one-to-one.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val v = Tables.events(spark, sf)
      .where(pmod(col("user_id"), lit(7L)) === 0)
      .groupBy(date_trunc("hour", col("ts")).as("h"),
        col("event_type").as("t"), col("user_id").as("u"))
      .agg(min(Det.tsUs(col("ts"))).as("t0"))
    val w = Window.partitionBy(col("h"), col("t"))
      .orderBy(col("t0"), col("u"))
    val edges = v.withColumn("nxt", lead(col("u"), 1).over(w))
      .where(col("nxt").isNotNull && col("nxt") =!= col("u"))
      .select(col("u").as("src"), col("nxt").as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val adj = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    // iterative Tarjan
    val index = mutable.Map.empty[Long, Int]
    val low = mutable.Map.empty[Long, Int]
    val onStack = mutable.Set.empty[Long]
    val stack = mutable.Stack.empty[Long]
    val comp = mutable.Map.empty[Long, Long]
    var counter = 0
    def strongconnect(v0: Long): Unit = {
      // explicit work stack to avoid deep recursion
      val work = mutable.Stack[(Long, Int)]((v0, 0))
      while (work.nonEmpty) {
        val (u, pi) = work.pop()
        if (pi == 0) {
          index(u) = counter; low(u) = counter; counter += 1
          stack.push(u); onStack += u
        }
        val ns = adj.getOrElse(u, Array.empty[Long])
        var i = pi
        var recursed = false
        while (i < ns.length && !recursed) {
          val n = ns(i)
          if (!index.contains(n)) {
            work.push((u, i + 1)); work.push((n, 0)); recursed = true
          } else {
            if (onStack(n)) low(u) = math.min(low(u), index(n))
            i += 1
          }
        }
        if (!recursed) {
          if (low(u) == index(u)) {
            val members = mutable.Buffer.empty[Long]
            var x = 0L
            do { x = stack.pop(); onStack -= x; members += x }
            while (x != u)
            val m = members.min
            members.foreach(comp(_) = m)
          }
          if (work.nonEmpty) {
            val (p, _) = work.top
            low(p) = math.min(low(p), low(u))
          }
        }
      }
    }
    nodes.foreach(n => if (!index.contains(n)) strongconnect(n))
    val expected = nodes.map(n => n -> comp(n)).toMap
    val got = q("q_graph_scc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("a null-keyed edge leaves the transitive closure unchanged") {
    import spark.implicits._
    // a 3-cycle with a tail: closure = {1,2,3}² ∪ {1,2,3}×{4}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .map { case (a, b) => (Option(a), Option(b)) }
    def closure(es: Seq[(Option[Long], Option[Long])]) =
      operators.Extras138.transitiveClosure(es.toDF("src", "dst"))
        .collect().map(r => (r.get(0), r.get(1))).toSet
    val clean = closure(edges)
    assert(clean.size == 12)
    assert(closure(edges ++ Seq((None, Some(1L)), (Some(4L), None))) == clean)
  }

  test("fouter's purchase side equals the left-outer key's rows") {
    // Restricting the full-outer result to rows with a purchase must
    // reproduce q_stream_live_louter exactly (same join, same decided
    // region on that side).
    val fo = q("q_stream_live_fouter").collect()
      .filter(!_.isNullAt(0))
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val lo = q("q_stream_live_louter").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(fo == lo)
  }

  test("fap: in [0,1], anti-monotone in z, matches the closed form") {
    val rows = q("q_ts_lombscargle_fap").collect()
      .map(r => (r.getDouble(2), r.getDouble(3)))
    rows.foreach { case (z, fap) =>
      assert(fap >= 0.0 && fap <= 1.0)
      val ref = 1.0 - math.pow(1.0 - math.exp(-z), 28)
      assert(math.abs(fap - ref) < 1e-4, s"z=$z fap=$fap ref=$ref")
    }
    val byZ = rows.sortBy(_._1)
    byZ.map(_._2).zip(byZ.tail.map(_._2)).foreach { case (a, b) =>
      assert(a >= b - 1e-9)
    }
  }
}
