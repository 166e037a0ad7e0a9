package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.Fixpoint

/** The rank loops (Extras11.rankLoop) shuffle their edge relation once,
  * to build it partitioned by src; every round after that moves only the
  * (node, rank) relation. And every key whose loop runs through
  * operators.Fixpoint leaves persisted only what its frame still reads. */
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
  }

  /** The CacheManager's entries (a suite run earlier in this JVM may
    * have left some). */
  private def cached(): Int = {
    val f = classOf[org.apache.spark.sql.execution.CacheManager]
      .getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[Seq[_]].size
  }

  // Every key whose loop runs through the kernel: after collect(), every
  // RDD the run left persisted is one the returned frame's plan reads.
  for (key <- Seq("q_graph_components", "q_llm_dedup_clusters",
      "q_llm_dedup_semantic", "q_llm_dedup_card", "q_graph_modularity",
      "q_graph_scc", "q_graph_scc_dag", "q_graph_bowtie",
      "q_graph_pagerank", "q_graph_ppr", "q_graph_eigencentrality",
      "q_graph_bfs", "q_graph_diameter", "q_graph_kcore",
      "q_graph_core_density", "q_graph_core_decomp", "q_graph_ktruss",
      "q_graph_densest", "q_llm_ann_hnsw", "q_llm_ann_hnsw_ml",
      "q_llm_ann_hnsw_bestfirst")) {
    test(s"$key: the run leaves no cache persisted") {
      val sc = spark.sparkContext
      val (before, cachedBefore) = (sc.getPersistentRDDs.keySet, cached())
      val df = q(key)
      df.collect()
      val read = Fixpoint.reads(df)
      val kept = sc.getPersistentRDDs.filter { case (id, _) =>
        !before(id) && !read(id)
      }
      assert(kept.isEmpty, s"left persisted: ${kept.values.mkString(", ")}")
      assert(cached() == cachedBefore, "left a cached Dataset")
    }
  }
}
