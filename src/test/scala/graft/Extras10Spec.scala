package graft

import org.apache.spark.sql.functions._

class Extras10Spec extends QuerySuiteBase with ExecutionCapture {
  Seq("q_llm_kmeans_iter", "q_graph_pagerank",
    "q_fn_editdist", "q_evt_funnel").foreach(checkDeclared(_))

  test("kmeans shift precondition: |embedding component| < 1") {
    // The +1e6 shift that makes the floored-mean centroid update
    // cross-engine exact assumes micro-units stay non-negative, i.e.
    // every component is > -1. Fail loudly if the testdata ever changes.
    val mx = Tables.embeddings(spark, sf)
      .select(explode(col("embedding")).as("x"))
      .agg(max(abs(col("x")))).head().getFloat(0)
    assert(mx < 1.0f, s"component magnitude $mx >= 1 breaks the shift")
  }

  test("kmeans_iter: total inertia non-increasing across Lloyd steps") {
    val byStep = q("q_llm_kmeans_iter")
      .groupBy("step").agg(sum("inertia").as("j"))
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(byStep.map(_._1).toSeq == Seq(1, 2, 3))
    // Lloyd guarantees J(a2,c1) <= J(a1,c1) <= J(a1,c0); the floored-mean
    // centroid is off by <1 micro-unit per dim from the true minimizer,
    // so allow that bounded slack (dims * members) — in practice the
    // decrease is orders of magnitude larger.
    val slack = 64L * 1000
    assert(byStep(1)._2 <= byStep(0)._2 + slack,
      s"step2 inertia ${byStep(1)._2} > step1 ${byStep(0)._2}")
    assert(byStep(2)._2 <= byStep(1)._2 + slack,
      s"step3 inertia ${byStep(2)._2} > step2 ${byStep(1)._2}")
    // and the first update must actually improve on the seed centroids
    assert(byStep(1)._2 < byStep(0)._2, "Lloyd step made no progress")
  }

  test("pagerank: ranks positive and mass roughly conserved") {
    val r = q("q_graph_pagerank").collect()
    assert(r.forall(_.getLong(1) > 0))
    // every node gets >= 150000 (teleport floor); symmetric graph keeps
    // total mass near n * 1e6 (integer-div leakage only shrinks it)
    val total = r.map(_.getLong(1)).sum
    assert(total <= r.length * 1000000L)
    assert(total >= r.length * 150000L)
  }

  test("pagerank: one execution per run scans events") {
    // The graph is built once, into the edge relation every round reads:
    // one scan of events reads rows, in whichever execution materialises
    // that relation, and the rounds and the final action read it.
    val scans = eventScans(executionsOf(q("q_graph_pagerank").collect()))
    assert(scans == 1, s"$scans scans of events read rows")
  }

  test("shingle posting cache path == inline kernel path") {
    // q_llm_dedup_near computes shingle postings inline; q_llm_dedup_keep
    // reads the FixtureCache layout. The dropped-doc set derived from the
    // inline pairs must equal documents minus the cached-path keep set.
    val inlineDrop = q("q_llm_dedup_near")
      .select(col("doc_b")).distinct().collect().map(_.getLong(0)).toSet
    val kept = q("q_llm_dedup_keep")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val all = Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(all -- kept == inlineDrop,
      "cached shingle postings diverge from the inline kernel")
  }

  test("funnel: transition count = events - one first-event per user") {
    val ev = Tables.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    val nTrans = q("q_evt_funnel").agg(sum("n")).head().getLong(0)
    assert(nTrans == nEvents - nUsers,
      s"$nTrans transitions != $nEvents events - $nUsers users")
  }
}
