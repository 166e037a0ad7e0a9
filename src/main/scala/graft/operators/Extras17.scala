package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-7 additions, part 7: the foreachBatch merge-upsert sink (12th
  * live streaming key), k-core graph peeling, embedding-dimension
  * covariance, and ABC/Pareto revenue classification.
  */
object Extras17 {
  import Det._

  /** One peel round over symmetric arcs (src, dst): keeps the arcs
    * whose two ends both have a degree that `keep` accepts. */
  private[graft] def peel(e: DataFrame)(keep: Column => Column)
      : DataFrame = {
    val kept = e.groupBy(col("src").as("u")).agg(count(lit(1)).as("c"))
      .where(keep(col("c"))).select(col("u"))
    e.join(kept.withColumnRenamed("u", "src"), Seq("src"), "semi")
      .join(kept.withColumnRenamed("u", "dst"), Seq("dst"), "semi")
      .select(col("src"), col("dst"))
  }

  /** The bounded k-core: three peel rounds at degree ≥ k (the round
    * count the oracles unroll), the last one materialized. */
  private[graft] def kcore(e: DataFrame, k: Long): DataFrame =
    Fixpoint.rounds(e, 3)(peel(_)(_ >= k)).last

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TWELFTH live streaming key — the FOREACHBATCH MERGE-UPSERT sink:
    // every other live key's sink is declarative (memory/parquet); this
    // one exercises the production "foreachBatch → MERGE INTO the serving
    // table" pattern, where each micro-batch is reduced and merged into
    // the accumulated target with a full-outer join (the same shape as
    // q_merge_upsert — on a cluster the target would be a table format
    // and the join its MERGE). The split fixture + maxFilesPerTrigger=1
    // forces ≥2 real micro-batches, so the merge path (not just the
    // first-batch insert path) is graded. Deterministic under ANY batch
    // split: latest-wins is keyed max_by over the (µs, event_id) total
    // order and the event counter is an associative integer sum — both
    // merge-invariant. The per-batch target is localCheckpoint'd so
    // lineage stays one batch deep (the Components discipline).
    "q_stream_live_foreachbatch" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val split = Extras9.eventsSplit(s, d)
      val schema = s.read.parquet(s"$split/a.parquet").schema
      def reduceBatch(b: DataFrame): DataFrame = b
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("etype"),
          (col("value").cast(D2) * 100).cast("long").as("cents"))
        .groupBy(col("user_id"))
        .agg(max_by(struct(tsUs(col("ts")).as("us"), col("event_id"),
            col("etype"), col("cents")),
          struct(tsUs(col("ts")).as("us"), col("event_id"))).as("r"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("r.us").as("us"),
          col("r.event_id").as("event_id"), col("r.etype").as("etype"),
          col("r.cents").as("cents"), col("n_events"))
      var tgt: Option[DataFrame] = None
      graft.streaming.StreamOps.withCappedState(s) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(split.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val nb = reduceBatch(batch)
            val merged = tgt match {
              case None => nb
              case Some(t) =>
                t.as("t").join(nb.as("b"), Seq("user_id"), "full_outer")
                  .select(col("user_id"),
                    when(col("b.us").isNull, struct(col("t.us").as("us"),
                      col("t.event_id").as("event_id"),
                      col("t.etype").as("etype"), col("t.cents").as("cents")))
                    .when(col("t.us").isNull
                        || col("b.us") > col("t.us")
                        || (col("b.us") === col("t.us")
                          && col("b.event_id") > col("t.event_id")),
                      struct(col("b.us").as("us"),
                        col("b.event_id").as("event_id"),
                        col("b.etype").as("etype"), col("b.cents").as("cents")))
                    .otherwise(struct(col("t.us").as("us"),
                      col("t.event_id").as("event_id"),
                      col("t.etype").as("etype"), col("t.cents").as("cents")))
                      .as("r"),
                    (coalesce(col("t.n_events"), lit(0L))
                      + coalesce(col("b.n_events"), lit(0L))).as("n_events"))
                  .select(col("user_id"), col("r.us").as("us"),
                    col("r.event_id").as("event_id"),
                    col("r.etype").as("etype"), col("r.cents").as("cents"),
                    col("n_events"))
            }
            tgt = Some(merged.duckCkpt())
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      tgt.getOrElse(sys.error("foreachBatch sink saw no micro-batch"))
        .orderBy("user_id")
    }),

    // K-CORE PEELING (k=2, 3 rounds) on the shared co-occurrence graph —
    // the community-density filter (the standard prune before expensive
    // per-node work): each round drops nodes of degree < 2 and induces
    // the subgraph on the survivors. Iterative like BFS/PageRank: degree
    // aggregate + two semi-joins per round, each round a Fixpoint cut so
    // lineage stays one round deep; at scale the edge relation keeps its
    // (src) partitioning and only the shrinking keep-set moves. Three
    // unrolled rounds (not to fixpoint) so the DuckDB twin is three
    // unrolled CTEs — same contract as the BPE rounds.
    "q_graph_kcore" -> ((s, d) => {
      val e = kcore(Extras11.symmetricEdges(s, d), 2L)
      e.groupBy(col("src").as("u")).agg(count(lit(1)).as("degree"))
        .orderBy("u")
    }),

    // EMBEDDING-DIMENSION COVARIANCE (first 16 dims, upper triangle) —
    // the feature-correlation audit before whitening/PCA. Components in
    // exact 1e-6 micro-units; the (vec_id)-keyed self-join expands each
    // vector to its 136 dim pairs (join-shaped on the vector id — never
    // all-pairs over rows), integer sums Σxy, Σx, Σy are exact, and
    // cov = Σxy/n − (Σx/n)(Σy/n) is the identical IEEE tail in both
    // engines. ΣxΣy would overflow int64 at corpus scale — the mean-form
    // tail is the overflow-safe formulation, not a style choice.
    "q_llm_embed_cov" -> ((s, d) => {
      val u = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(transform(slice(col("embedding"), 1, 16),
            x => round(x.cast("double") * 1e6).cast("long"))))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
          col("col").as("vu"))
      u.as("x").join(u.as("y"),
          col("x.vec_id") === col("y.vec_id") && col("x.i") <= col("y.i"))
        .groupBy(col("x.i").as("i"), col("y.i").as("j"))
        .agg(count(lit(1)).as("n"),
          sum(col("x.vu") * col("y.vu")).as("sxy"),
          sum(col("x.vu")).as("sx"), sum(col("y.vu")).as("sy"))
        .select(col("i"), col("j"), col("n"),
          (col("sxy").cast("double") / col("n")
            - (col("sx").cast("double") / col("n"))
              * (col("sy").cast("double") / col("n"))).as("cov_units"))
        .orderBy("i", "j")
    }),

    // ABC / PARETO CLASSIFICATION — the inventory-analytics classic (A =
    // parts covering the first 80% of revenue, B to 95%, C the tail).
    // Part revenues aggregate distributed; the rank/cumulative window
    // runs over the PART dimension (dimension-sized, not fact-sized — at
    // 100 TB the facts shuffle once into the part aggregate and the
    // window sees only parts). Class boundaries compare exact DECIMALs
    // cross-multiplied by integer percentages — no division enters the
    // classification; the output shares are one IEEE division each.
    "q_agg_abc_pareto" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rev").desc, col("l_partkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("rev"))
        .withColumn("cum", sum(col("rev")).over(w))
        .withColumn("tot", sum(col("rev")).over(all))
        .withColumn("cls",
          when(col("cum") * 100 <= col("tot") * 80, "A")
            .when(col("cum") * 100 <= col("tot") * 95, "B")
            .otherwise(lit("C")))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("rev")).cast("double").as("class_rev"),
          (sum(col("rev")).cast("double")
            / max(col("tot")).cast("double")).as("rev_share"))
        .orderBy("cls")
    })
  )

  private[operators] val KcoreSql = {
    val rounds = (1 to 3).map { r =>
      val prev = s"e${r - 1}"
      s"""k$r AS (SELECT src AS u FROM $prev GROUP BY src
                  HAVING COUNT(*) >= 2),
          e$r AS (SELECT src, dst FROM $prev
                  WHERE src IN (SELECT u FROM k$r)
                    AND dst IN (SELECT u FROM k$r))"""
    }.mkString(",\n")
    s"""e0 AS (SELECT src, dst FROM e),
        $rounds"""
  }

  val oracle: Map[String, String] = Map(

    "q_stream_live_foreachbatch" ->
      """WITH x AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id,
                           event_type AS etype,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                             AS cents,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY ts::TIMESTAMP DESC, event_id DESC)
                             AS rn,
                           COUNT(*) OVER (PARTITION BY user_id) AS n_events
                    FROM events)
         SELECT user_id, us, event_id, etype, cents, n_events
         FROM x WHERE rn = 1 ORDER BY user_id""",

    "q_graph_kcore" ->
      s"""WITH ${Extras11.GraphSql},
            $KcoreSql
         SELECT src AS u, COUNT(*) AS degree
         FROM e3 GROUP BY src ORDER BY u""",

    "q_llm_embed_cov" ->
      """WITH q AS (SELECT vec_id,
                           list_transform(embedding[1:16], x ->
                             CAST(round(CAST(x AS DOUBLE) * 1000000)
                                  AS BIGINT)) AS qe
                    FROM embeddings),
            u AS (SELECT vec_id, qe,
                         unnest(generate_series(1, len(qe))) AS i FROM q),
            v AS (SELECT vec_id, CAST(i AS BIGINT) AS i, qe[i] AS vu FROM u),
            p AS (SELECT x.i AS i, y.i AS j, x.vu AS xv, y.vu AS yv
                  FROM v x JOIN v y
                    ON x.vec_id = y.vec_id AND x.i <= y.i),
            g AS (SELECT i, j, COUNT(*) AS n,
                         CAST(SUM(xv * yv) AS BIGINT) AS sxy,
                         CAST(SUM(xv) AS BIGINT) AS sx,
                         CAST(SUM(yv) AS BIGINT) AS sy
                  FROM p GROUP BY 1, 2)
         SELECT i, j, n,
                CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
                  AS cov_units
         FROM g ORDER BY i, j""",

    "q_agg_abc_pareto" ->
      """WITH pr AS (SELECT l_partkey,
                            SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
                     FROM lineitem GROUP BY 1),
            c AS (SELECT l_partkey, rev,
                         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum,
                         SUM(rev) OVER () AS tot
                  FROM pr),
            k AS (SELECT rev, tot,
                         CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                              WHEN cum * 100 <= tot * 95 THEN 'B'
                              ELSE 'C' END AS cls
                  FROM c)
         SELECT cls, COUNT(*) AS n_parts,
                CAST(SUM(rev) AS DOUBLE) AS class_rev,
                CAST(SUM(rev) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE)
                  AS rev_share
         FROM k GROUP BY cls ORDER BY cls"""
  )
}
