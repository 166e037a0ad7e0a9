package graft

class Extras134Spec extends QuerySuiteBase with ExecutionCapture {
  Seq("q_graph_ppr", "q_ts_ewma_chart", "q_evt_repeat_rate")
    .foreach(checkDeclared(_))

  test("ppr: seeds hold more rank mass per node than non-seeds") {
    val rows = q("q_graph_ppr").collect()
    assert(rows.nonEmpty)
    val (seeds, rest) = rows.partition(_.getLong(0) % 35 == 0)
    if (seeds.nonEmpty && rest.nonEmpty) {
      val sAvg = seeds.map(_.getLong(1)).sum.toDouble / seeds.length
      val rAvg = rest.map(_.getLong(1)).sum.toDouble / rest.length
      assert(sAvg > rAvg)
    }
  }

  test("ppr: one execution per run scans events") {
    // The node set is derived from the edge relation, so the graph is
    // built (events scanned) once per run, as in q_graph_pagerank.
    val scans = eventScans(executionsOf(q("q_graph_ppr").collect()))
    assert(scans == 1, s"$scans scans of events read rows")
  }

  test("ewma chart: violations sit outside the band") {
    val rows = q("q_ts_ewma_chart").collect()
    rows.foreach { r =>
      val (e, lcl, ucl) = (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))
      assert(e < lcl + 1e-6 || e > ucl - 1e-6)
    }
  }

  test("repeat rate: shares in [0,1], cohorts cover the span") {
    val rows = q("q_evt_repeat_rate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }
}
