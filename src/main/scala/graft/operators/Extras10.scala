package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Round-7 operator additions: the iterated k-means the round-6 verdict
  * asked for (multi-step Lloyd with the integer-arithmetic trick that
  * removes the centroid re-quantization hazard), integer fixed-point
  * PageRank (the second iterative graph kernel beside connected
  * components), the edit-distance scalar family, and an event-funnel
  * transition matrix.
  */
object Extras10 {

  /** k-means in shifted integer micro-units: components are 6-dp-quantized
    * to BIGINT micro-units and SHIFTED non-negative (+1e6; |x| < 1 in the
    * testdata, asserted in Extras10Spec). Distances are shift-invariant,
    * so the shift costs nothing — what it buys is that the centroid
    * update `sum(q) div count(*)` only ever divides non-negative integers,
    * where Spark's `div` and DuckDB's `//` provably agree (they differ on
    * negative operands: truncation vs floor). That makes MULTI-STEP Lloyd
    * cross-engine exact — the re-quantization hazard that kept
    * q_llm_kmeans to one step disappears because centroids never leave
    * integer space.
    */
  private val KmeansSteps = 3

  /** One Lloyd step as DuckDB CTEs: distances under c{i-1}, argmin
    * assignment (ties by centroid id), per-step summary, floored-mean
    * integer centroids c{i}. */
  private def kmeansStepsSql(n: Int): String =
    (1 to n).map { i =>
      val cin = s"c${i - 1}"
      s"""d$i AS (SELECT e.vec_id, c.c,
             CAST(SUM((e.q - c.cv) * (e.q - c.cv)) AS BIGINT) AS dist
           FROM e JOIN $cin c USING (dim) GROUP BY 1, 2),
         a$i AS (SELECT vec_id, c, dist FROM (
             SELECT vec_id, c, dist,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist, c) AS rn
             FROM d$i) WHERE rn = 1),
         s$i AS (SELECT $i AS step, c AS cluster, COUNT(*) AS n_members,
                   CAST(SUM(dist) AS BIGINT) AS inertia
                 FROM a$i GROUP BY 2),
         c$i AS (SELECT a.c AS c, e.dim,
                   CAST(SUM(e.q) AS BIGINT) // COUNT(*) AS cv
                 FROM e JOIN a$i a USING (vec_id) GROUP BY 1, 2)"""
    }.mkString(",\n")

  /** PageRank iteration count; damping 0.85 in parts-per-million integer
    * arithmetic so every engine computes the identical ranks. */
  private val PageRankIters = 3

  private def pagerankStepsSql(n: Int): String =
    (1 to n).map { i =>
      s"""r$i AS (SELECT ce.dst AS u,
             CAST(150000 + (850000 * SUM(r.rank // ce.outdeg)) // 1000000
                  AS BIGINT) AS rank
           FROM ce JOIN r${i - 1} r ON r.u = ce.src
           GROUP BY ce.dst)"""
    }.mkString(",\n")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ITERATED K-MEANS — 3 full Lloyd steps (assign → summarize → update
    // centroids), k=4, entirely in shifted integer micro-units (see the
    // scaladoc above: the shift makes the floored-mean centroid update
    // engine-exact, so unlike q_llm_kmeans this one can iterate). Output
    // is one row per (step, cluster) with member count and integer
    // inertia; Extras10Spec asserts total inertia is non-increasing
    // step-over-step (the Lloyd guarantee). Scale shape: the exploded
    // (vec, dim, q) relation is localCheckpoint'd once (at 100 TB:
    // persisted) and never recomputed; per step the k×dim centroid
    // relation broadcasts, embeddings shuffle only for the per-vector
    // argmin, and each step's assignment is localCheckpoint'd so lineage
    // stays constant per iteration — the Components checkpoint
    // discipline applied to Lloyd.
    "q_llm_kmeans_iter" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos", "x")
        .select(col("vec_id"), (col("pos") + 1).as("dim"),
          ((round(col("x").cast("double"), 6).cast(DecimalType(18, 6))
            * 1000000).cast("long") + 1000000L).as("q"))
        .duckCkpt()
      var c = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("c"), col("dim"), col("q").as("cv"))
      val steps = (1 to KmeansSteps).map { step =>
        val dist = e.join(broadcast(c), "dim")
          .groupBy(col("vec_id"), col("c"))
          .agg(sum((col("q") - col("cv")) * (col("q") - col("cv"))).as("dist"))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("c"))
        val assign = dist.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("c"), col("dist"))
          .duckCkpt()
        c = e.join(assign.select(col("vec_id"), col("c")), "vec_id")
          .groupBy(col("c"), col("dim"))
          .agg(expr("sum(q) div count(1)").as("cv"))
        assign.groupBy(col("c"))
          .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"))
          .select(lit(step).as("step"), col("c").as("cluster"),
            col("n_members"), col("inertia"))
      }
      steps.reduce(_ unionByName _).orderBy("step", "cluster")
    }),

    // PAGERANK — integer fixed-point (rank in ppm, damping 0.85 as
    // 850000/1000000 with integer division; all values non-negative so
    // div/// agree), 3 iterations over the symmetrized hourly
    // co-occurrence graph q_graph_triangles defined. Each iteration is
    // one join (ranks onto edges by src) + one groupBy dst — the
    // textbook distributed PageRank shape. Extras11.rankLoop keeps the
    // (src, dst, outdeg) edge list persisted and partitioned by src, so
    // only the (node, rank) relation — orders of magnitude smaller —
    // moves per round, and releases it once the last round is
    // materialised. Round 1 needs no join: every node starts at rank
    // 10^6, so its input is the edge list with that constant rank, and
    // the graph is built (events scanned) once per run.
    "q_graph_pagerank" -> ((s, d) => Extras11.rankLoop(s, d) { ce =>
      def step(ranked: DataFrame): DataFrame = ranked
        .groupBy(col("dst"))
        .agg(sum(expr("rank div outdeg")).as("contrib"))
        .select(col("dst").as("u"),
          expr("CAST(150000 + (850000 * contrib) div 1000000 AS BIGINT)")
            .as("rank"))
      Fixpoint.rounds(step(ce.withColumn("rank", lit(1000000L))),
          PageRankIters - 1) { r =>
        step(ce.join(r.withColumnRenamed("u", "src"), "src"))
      }.last
    }.orderBy("u")),

    // EDIT-DISTANCE scalar family — levenshtein over derived string pairs
    // (vs reversed self, vs another column, vs a digit-flipped phone).
    // Pure per-row projection: no shuffle, codegen end to end; both
    // engines implement the standard unit-cost Wagner-Fischer distance.
    "q_fn_editdist" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          levenshtein(col("c_name"), reverse(col("c_name"))).as("d_rev"),
          levenshtein(col("c_name"), col("c_mktsegment")).as("d_seg"),
          levenshtein(col("c_acctbal").cast(DecimalType(18, 2)).cast("string"),
            translate(col("c_acctbal").cast(DecimalType(18, 2)).cast("string"),
              "0123456789", "9876543210")).as("d_bal"),
          levenshtein(upper(col("c_name")), col("c_name")).as("d_case"))
        .orderBy("c_custkey")
    }),

    // EVENT FUNNEL / transition matrix — for each user's event stream in
    // (ts, event_id) order, count every consecutive (prev_type →
    // next_type) transition plus the distinct users making it: the
    // Markov-matrix view a product-analytics funnel is read from. The
    // (ts, event_id) tiebreak makes the sequence a total order, so lag()
    // is deterministic in both engines. One shuffle on user_id for the
    // window, one bounded 5×5 aggregate after it.
    "q_evt_funnel" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("prev_type", "next_type")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_llm_kmeans_iter" ->
      s"""WITH x AS (SELECT vec_id, embedding,
                            unnest(generate_series(1, len(embedding))) AS dim
                     FROM embeddings),
            e AS (SELECT vec_id, dim,
                    CAST(CAST(round(CAST(embedding[dim] AS DOUBLE), 6)
                              AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                      + 1000000 AS q
                  FROM x),
            c0 AS (SELECT vec_id AS c, dim, q AS cv FROM e WHERE vec_id < 4),
            ${kmeansStepsSql(KmeansSteps)}
         SELECT step, cluster, n_members, inertia
         FROM (${(1 to KmeansSteps).map(i => s"SELECT * FROM s$i")
           .mkString(" UNION ALL ")})
         ORDER BY step, cluster""",
    "q_graph_pagerank" ->
      s"""WITH v AS (SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h,
                                     event_type AS t, user_id AS u
                     FROM events WHERE user_id % 7 = 0),
            und AS (SELECT DISTINCT x.u AS a, y.u AS b
                    FROM v x JOIN v y
                      ON x.h = y.h AND x.t = y.t AND x.u < y.u),
            e AS (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
            deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
            ce AS (SELECT e.src, e.dst, deg.outdeg
                   FROM e JOIN deg ON deg.src = e.src),
            r0 AS (SELECT src AS u, CAST(1000000 AS BIGINT) AS rank FROM deg),
            ${pagerankStepsSql(PageRankIters)}
         SELECT u, rank FROM r$PageRankIters ORDER BY u""",
    "q_fn_editdist" ->
      """SELECT c_custkey,
                CAST(levenshtein(c_name, reverse(c_name)) AS INT) AS d_rev,
                CAST(levenshtein(c_name, c_mktsegment) AS INT) AS d_seg,
                CAST(levenshtein(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR),
                       translate(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR),
                         '0123456789', '9876543210'))
                     AS INT) AS d_bal,
                CAST(levenshtein(upper(c_name), c_name) AS INT) AS d_case
         FROM customer ORDER BY c_custkey""",
    "q_evt_funnel" ->
      """SELECT prev_type, event_type AS next_type, COUNT(*) AS n,
                COUNT(DISTINCT user_id) AS n_users
         FROM (SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts::TIMESTAMP, event_id) AS prev_type
               FROM events)
         WHERE prev_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
