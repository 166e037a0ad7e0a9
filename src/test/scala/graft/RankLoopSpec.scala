package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The rank loops (Extras11.rankLoop) shuffle their edge relation once,
  * to build it partitioned by src; every round after that moves only the
  * (node, rank) relation. The persisted edges are released before the
  * key's function returns, so a run leaves nothing persisted but its
  * local checkpoints. */
class RankLoopSpec extends QuerySuiteBase with ExecutionCapture {

  for (key <- Seq("q_graph_pagerank", "q_graph_ppr",
      "q_graph_eigencentrality")) {
    test(s"$key: one shuffle carries the edge relation") {
      val edgeShuffles = operatorsOf(executionsOf(q(key).collect())).collect {
        case e: ShuffleExchangeExec
            if Set("src", "dst").subsetOf(e.output.map(_.name).toSet) => e
      }
      assert(edgeShuffles.size == 1,
        s"${edgeShuffles.size} shuffles carry (src, dst):\n" +
          edgeShuffles.map(_.simpleString(200)).mkString("\n"))
    }

    test(s"$key: the run leaves no cache persisted") {
      // A local checkpoint is a persisted RDD too; the ContextCleaner
      // drops it once nothing references it, so those are left out.
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      q(key).collect()
      val kept = sc.getPersistentRDDs.collect {
        case (id, rdd) if !before(id) &&
          !rdd.toString.contains(" at localCheckpoint at ") => rdd
      }
      assert(kept.isEmpty, s"left persisted: ${kept.mkString(", ")}")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }
}
