package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-10 additions, part 4: eigenvector centrality (unnormalized
  * power iteration with max-normalization per round) and the top
  * principal component of the embedding covariance (the same power
  * iteration on a dimension²-bounded matrix).
  *
  * Determinism contract (SURVEY §2.13): both iterations run in EXACT
  * integer micro-units. Negative intermediates (pc1 only) normalize via
  * sign·(|v|·1e6 div max) — Spark `div` truncates toward zero while
  * DuckDB `//` floors, so division operands are made non-negative
  * before any integer division (the q_graph_pagerank rule generalized
  * to signed values).
  */
object Extras66 {

  private val EigenIters = 6
  private val Pc1Iters = 8

  /** Oracle-side iteration steps. Each CTE references its predecessor
    * exactly ONCE and the per-round max comes from a WINDOW aggregate,
    * not a scalar subquery: DuckDB inlines non-materialized CTEs, so a
    * step that names s_i twice re-evaluates the whole chain per
    * reference — 2^iters recomputations of the base join (measured:
    * the first draft ran 40+ min at sf0.01 where this form takes
    * seconds). The base relations are additionally MATERIALIZED. */
  private def eigenStepsSql(n: Int): String =
    (1 to n).map { i =>
      s"""r$i AS MATERIALIZED (
           SELECT u, CAST((CAST(raw AS HUGEINT) * 1000000)
                  // MAX(raw) OVER () AS BIGINT) AS sc
           FROM (SELECT e.dst AS u, CAST(SUM(r.sc) AS BIGINT) AS raw
                 FROM e JOIN r${i - 1} r ON r.u = e.src
                 GROUP BY e.dst))"""
    }.mkString(",\n")

  private def pc1StepsSql(n: Int): String =
    (1 to n).map { i =>
      s"""v$i AS MATERIALIZED (
           SELECT i,
             CAST(CAST(CASE WHEN raw < 0 THEN -1 ELSE 1 END AS BIGINT)
               * ((CAST(abs(raw) AS HUGEINT) * 1000000)
                  // MAX(abs(raw)) OVER ()) AS BIGINT) AS lv
           FROM (SELECT c.i AS i, CAST(SUM(c.cv * v.lv) AS BIGINT) AS raw
                 FROM cm c JOIN v${i - 1} v ON v.i = c.j
                 GROUP BY c.i))"""
    }.mkString(",\n")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // EIGENVECTOR CENTRALITY — power iteration x ← A·x over the hourly
    // co-occurrence graph (q_graph_pagerank's graph), max-normalized to
    // 1e6 each round in exact integers (scores are non-negative, so
    // div/// agree). Each round is one join (scores onto edges by src)
    // + one groupBy dst + a broadcast 1-row max — the distributed
    // power-iteration shape where only the (node, score) relation
    // moves: Extras11.rankLoop builds the edge relation once, keeps it
    // persisted and partitioned by src across rounds, and releases it
    // once the last round is materialised.
    "q_graph_eigencentrality" -> ((s, d) => Extras11.rankLoop(s, d) { ce =>
      def step(r: DataFrame): DataFrame = {
        val raw = ce.join(r.withColumnRenamed("u", "src"), "src")
          .groupBy(col("dst"))
          .agg(sum(col("sc")).as("raw"))
        val mx = raw.agg(max(col("raw")).as("mx"))
        // ×1e6 in DECIMAL(38,0): raw ≤ deg_max·1e6 and a 1e7-degree hub
        // would overflow the BIGINT product (HUGEINT on the oracle side)
        raw.crossJoin(broadcast(mx))
          .select(col("dst").as("u"),
            expr("""CAST(CAST(raw AS DECIMAL(38,0)) * 1000000 div mx
                    AS BIGINT)""").as("sc"))
      }
      Fixpoint.rounds(step(ce.select(col("src").as("u")).distinct()
        .select(col("u"), lit(1000000L).as("sc"))), EigenIters - 1)(step).last
    }.orderBy("u")),

    // EMBEDDING PC1 — dominant eigenvector of the 16×16 covariance of
    // the first 16 embedding dims (the q_llm_embed_cov matrix, mirrored
    // and rounded to integer micro-units), via the same max-normalized
    // power iteration. The fact pass is the one covariance agg; every
    // iteration is over a 256-row broadcast-sized relation. Negative
    // loadings are legal, so normalization is sign·(|raw|·1e6 div
    // max|raw|) with the multiply in DECIMAL(38,0) (|raw| ≤ ~2e17 and
    // the ×1e6 product overflows BIGINT).
    "q_llm_embed_pc1" -> ((s, d) => {
      val u = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(transform(slice(col("embedding"), 1, 16),
            x => round(x.cast("double") * 1e6).cast("long"))))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
          col("col").as("vu"))
      val covUp = u.as("x").join(u.as("y"),
          col("x.vec_id") === col("y.vec_id") && col("x.i") <= col("y.i"))
        .groupBy(col("x.i").as("i"), col("y.i").as("j"))
        .agg(count(lit(1)).as("n"),
          sum(col("x.vu") * col("y.vu")).as("sxy"),
          sum(col("x.vu")).as("sx"), sum(col("y.vu")).as("sy"))
        .select(col("i"), col("j"),
          round(col("sxy").cast("double") / col("n")
            - (col("sx").cast("double") / col("n"))
              * (col("sy").cast("double") / col("n"))).cast("long")
            .as("cv"))
      val cm = covUp.unionByName(
          covUp.where(col("i") =!= col("j"))
            .select(col("j").as("i"), col("i").as("j"), col("cv")))
      // Round 16: the 8 max-normalized power-iteration rounds ran as
      // 8 × (join + agg + 1-row max + checkpoint) scheduler rounds over
      // a 256-row relation. The matrix is 16×16 BY CONSTRUCTION (first
      // 16 embedding dims) at ANY corpus size, so this is the
      // ipf_raking / markov_absorb bounded-driver-matrix shape: collect
      // the 256 cells once and fold the rounds driver-locally in EXACT
      // integer arithmetic — BigInt reproduces the DECIMAL(38,0) fold
      // (|cv·vj| ≤ ~1e24, ×1e6 ≤ ~1e31, both inside 38 digits) and
      // `div`'s truncating division bit-for-bit; CASE WHEN raw < 0 maps
      // raw = 0 to +1·0 = 0, exactly signum·(0 div mx). The distributed
      // fact pass (the covariance aggregate) is unchanged.
      import s.implicits._
      val cells = cm.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val dims = cells.map(_._1).distinct.sorted
      var lv: Map[Long, BigInt] =
        dims.map(_ -> BigInt(1000000L)).toMap
      val byI = cells.groupBy(_._1)
      for (_ <- 1 to Pc1Iters) {
        val raw: Map[Long, BigInt] = byI.map { case (i, cs) =>
          i -> cs.iterator.map(c => BigInt(c._3) * lv(c._2)).sum
        }
        val mx = raw.valuesIterator.map(_.abs).max
        require(mx.signum > 0,
          "pc1: degenerate all-zero covariance — refusing to silently " +
            "null-propagate where the distributed form would")
        lv = raw.map { case (i, rv) =>
          i -> (BigInt(rv.signum) * ((rv.abs * 1000000) / mx))
        }
      }
      dims.toSeq.map(i => (i, lv(i).bigInteger.longValueExact()))
        .toDF("dim", "loading_micro")
        .orderBy("dim")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_graph_eigencentrality" ->
      s"""WITH v AS (SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h,
                                     event_type AS t, user_id AS u
                     FROM events WHERE user_id % 7 = 0),
            und AS (SELECT DISTINCT x.u AS a, y.u AS b
                    FROM v x JOIN v y
                      ON x.h = y.h AND x.t = y.t AND x.u < y.u),
            e AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
            r0 AS (SELECT DISTINCT src AS u, CAST(1000000 AS BIGINT) AS sc
                   FROM e),
            ${eigenStepsSql(EigenIters)}
         SELECT u, sc FROM r$EigenIters ORDER BY u""",

    "q_llm_embed_pc1" ->
      s"""WITH u AS (SELECT vec_id, CAST(i AS BIGINT) AS i,
                    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                         AS BIGINT) AS vu
                 FROM embeddings,
                      (SELECT unnest(range(1, 17)) AS i)),
            cu AS (SELECT x.i AS i, y.i AS j, COUNT(*) AS n,
                     CAST(SUM(x.vu * y.vu) AS BIGINT) AS sxy,
                     CAST(SUM(x.vu) AS BIGINT) AS sx,
                     CAST(SUM(y.vu) AS BIGINT) AS sy
                   FROM u x JOIN u y
                     ON x.vec_id = y.vec_id AND x.i <= y.i
                   GROUP BY x.i, y.i),
            cup AS (SELECT i, j,
                      CAST(round(CAST(sxy AS DOUBLE) / n
                        - (CAST(sx AS DOUBLE) / n)
                          * (CAST(sy AS DOUBLE) / n)) AS BIGINT) AS cv
                    FROM cu),
            cm AS MATERIALIZED (SELECT i, j, cv FROM cup
                   UNION ALL
                   SELECT j, i, cv FROM cup WHERE i <> j),
            v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS lv
                   FROM cm),
            ${pc1StepsSql(Pc1Iters)}
         SELECT i AS dim, lv AS loading_micro
         FROM v$Pc1Iters ORDER BY dim"""
  )
}
