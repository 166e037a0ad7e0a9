package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.FixtureCache

/** Round-14 additions, part 1: the two ANN refinements named by the
  * round-13 verdict —
  *   (a) q_llm_ann_ivfpq_lloyd2: the Extras148 residual IVF-PQ kernel
  *       with a 2-STEP-Lloyd trained book: two exact (E, M) rounds,
  *       each moving every non-empty codeword to the positive-shifted
  *       ROUND-TO-NEAREST mean of its members ((Σ(r6+4e6) + n div 2)
  *       div n − 4e6, identical on both engines because the numerator
  *       is non-negative); empty codewords keep the previous round's
  *       entry. Lloyd monotonically decreases quantization error, so
  *       recall must be >= the 1-step book at both scales (measured in
  *       BASELINE.md alongside the seed < 1-step ladder). Its rerank
  *       shortlist is CORPUS-PROPORTIONAL, max(100, nv div 128): the
  *       fixed 100 of the sibling keys is the measured 8× recall bug,
  *       not the codebook — every lost true neighbor at 8× sat INSIDE a
  *       probed cell at ADC rank 109-210. nv div 128 keeps the rerank a
  *       constant fraction of per-cell occupancy as the corpus grows;
  *       the floor 100 preserves the 1× behavior.
  *   (b) q_llm_ann_hnsw_bestfirst: the paper's 1-AT-A-TIME best-first
  *       layer-0 search (verdict item 4) over the SAME persisted graph
  *       as q_llm_ann_hnsw — each round expands exactly ONE node per
  *       query (the globally closest not-yet-expanded), gated by the
  *       paper's stop condition: expand only while that node is no
  *       farther than the worst of the ef=16 best found so far. The
  *       round cap (16) appears in BOTH engines, and post-termination
  *       rounds are no-ops in both, so the driver loop may early-stop
  *       via a bounded 1-row-per-query read without divergence.
  *
  * Scale shape: both ride the amortized-index convention — the
  * corpus-sized build passes persist via FixtureCache as parquet keyed
  * by the source snapshot, and the graded query is SEARCH: cell-pruned
  * ADC scan + bounded rerank for (a); entry scan + <= 16 single-node
  * expansions of <= 9 edges each for (b).
  *
  * Determinism contract (SURVEY §2.13): all distances are exact
  * BIGINT micro² zip-folds; every argmin/top-k ties on an id; emitted
  * distances are ONE IEEE division + r6 on both engines.
  */
object Extras160 {
  import graft.Det._
  import Extras148.d2

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_llm_ann_ivfpq_lloyd2" -> ((s, d) => Extras148.searchResidualIvfpq(
      s, d,
      FixtureCache.ensure("ann_ivfpq_lloyd2_idx",
        Seq(s"$d/embeddings.parquet"),
        "residual IVF-PQ: assign + 2-step-Lloyd (nearest-mean) book + " +
          "codes, v3")(
        Extras148.buildResidualIvfpq(s, d,
          Seq(Extras148.NearestMean, Extras148.NearestMean))),
      shortlist = greatest(lit(100L), expr("nv div 128")))),

    // HNSW 1-AT-A-TIME BEST-FIRST layer-0 search over the persisted
    // q_llm_ann_hnsw graph (shared fixture — one index, two search
    // algorithms: the production shape). Entry = exact nearest
    // stride-16 node; each round expands the single closest
    // unexpanded node per query IF it is within the worst of that
    // query's ef=16 best found (the paper's termination test);
    // <= 16 rounds, early-stopped when every query is done.
    "q_llm_ann_hnsw_bestfirst" -> ((s, d) =>
      hnswBestFirstSearch(s, Extras148.buildHnswIndex(s, d,
        diversify = false)))
  )

  /** The 1-at-a-time best-first layer-0 search, parametrized by the
    * built fixture so ScaleProbe can A/B it over the plain AND the
    * Alg.4-diversified graphs (round-14 verdict item 4); the graded
    * key reads the plain fixture. */
  private[graft] def hnswBestFirstSearch(s: SparkSession,
      idxDir: String, ef: Int = 16, maxRounds: Int = 16): DataFrame = {
      val P = s.conf.get("spark.sql.shuffle.partitions").toInt
      val vpack = s.read.parquet(s"$idxDir/vpack").duckCkpt()
      val edges = s.read.parquet(s"$idxDir/edges")
        .repartition(P, col("src"))
        .duckCkpt()
      val qp = vpack.where(col("vec_id").between(0, 3))
        .select(col("vec_id").as("qid"), col("v").as("qv"))
        .duckCkpt()
      val bw = Window.partitionBy(col("qid"))
        .orderBy(col("dd"), col("vec_id"))
      // entry = the single nearest upper-layer node per query (the
      // paper's ep; a 4-seed efSearch warm start was A/B'd and left
      // recall unchanged at both scales — BASELINE.md round-14)
      // best-first rounds, ONE cut + ONE bounded driver read per round:
      // the frontier is BY CONSTRUCTION <= 1 row per query (<= 4 rows —
      // the playbook bounded-read rule), so it collects to the driver
      // and re-enters the plan as a literal broadcast relation — this
      // halves the per-round action count vs a checkpointed frontier
      // (measured: ~0.9 -> ~0.45 s/round). The round cap lives in BOTH
      // engines, and a terminated query expands nothing in both, so
      // skipping no-op rounds cannot diverge.
      import s.implicits._
      val state = Fixpoint.bounded(Extras148.strideEntry(vpack, qp)
          .withColumn("exp", lit(false)), maxRounds, _ => ()) { rs =>
        val state = rs.last.df
        // ONE ranked pass yields both the ef-bound (16th-best found)
        // and the best unexpanded node (min struct over !exp rows —
        // no second window)
        val baRows = state
          .withColumn("rn", row_number().over(bw))
          .groupBy(col("qid"))
          .agg(max(when(col("rn") <= ef, col("dd"))).as("t16"),
            min(when(!col("exp"),
              struct(col("dd"), col("vec_id")))).as("bu"))
          .where(col("bu").isNotNull && col("bu.dd") <= col("t16"))
          .select(col("qid"), col("bu.vec_id").as("vec_id"))
          .collect()
        if (baRows.isEmpty) None else {
          val ba = baRows.toSeq
            .map(r => (r.getLong(0), r.getLong(1)))
            .toDF("qid", "vec_id")
          // one src per qid -> (qid, dst) is already distinct
          val cand = broadcast(ba)
            .join(edges, ba("vec_id") === edges("src"))
            .select(col("qid"), col("dst").as("vec_id"))
            .join(state.select(col("qid"), col("vec_id")),
              Seq("qid", "vec_id"), "left_anti")
          val scored = vpack.select(col("vec_id"), col("v").as("vb"))
            .join(broadcast(cand), "vec_id")
            .join(broadcast(qp), "qid")
            .select(col("qid"), col("vec_id"), d2("qv", "vb").as("dd"),
              lit(false).as("exp"))
          Some(state
            .join(broadcast(ba.withColumn("f", lit(true))),
              Seq("qid", "vec_id"), "left")
            .select(col("qid"), col("vec_id"), col("dd"),
              (col("exp") || coalesce(col("f"), lit(false))).as("exp"))
            .unionByName(scored))
        }
      }.last.df
      state.where(col("vec_id") =!= col("qid"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("dd"), col("vec_id"))).cast("long"))
        .where(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("vec_id"),
          r6(col("dd").cast("double") / lit(1e12)).as("dist"))
        .orderBy(col("qid"), col("rank"))
  }

  val oracle: Map[String, String] = Map(

    "q_llm_ann_ivfpq_lloyd2" ->
      """WITH x AS (SELECT vec_id, embedding,
                      unnest(generate_series(1, len(embedding))) AS dim
                    FROM embeddings),
            e AS MATERIALIZED (
              SELECT vec_id, dim, (dim - 1) // 4 AS sub,
                CAST(CAST(round(CAST(embedding[dim] AS DOUBLE), 6)
                     AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS q6
              FROM x),
            nc AS (SELECT COUNT(*) AS nv,
                     CASE WHEN COUNT(*) <= 512 THEN 8
                        WHEN COUNT(*) <= 1024 THEN 16
                        WHEN COUNT(*) <= 2048 THEN 32
                        ELSE 64 END AS c,
                     CASE WHEN COUNT(*) <= 1024 THEN 2 ELSE 4 END AS np,
                     greatest(1, (COUNT(*)
                       - CASE WHEN COUNT(*) <= 512 THEN 8
                           WHEN COUNT(*) <= 1024 THEN 16
                           WHEN COUNT(*) <= 2048 THEN 32
                           ELSE 64 END) // 256) AS s
                   FROM embeddings),
            cent AS MATERIALIZED (
              SELECT vec_id AS ccid, dim, q6 AS c6
              FROM e, nc WHERE vec_id < c),
            cd AS MATERIALIZED (
              SELECT e.vec_id, cent.ccid,
                CAST(SUM(e.q6 * cent.c6) AS BIGINT) AS cdot
              FROM e JOIN cent ON e.dim = cent.dim
              GROUP BY 1, 2),
            assign AS MATERIALIZED (
              SELECT vec_id, ccid AS cell FROM (
                SELECT vec_id, ccid, row_number() OVER (
                  PARTITION BY vec_id ORDER BY cdot DESC, ccid) AS rn
                FROM cd) t WHERE rn = 1),
            qprobe AS (SELECT vec_id AS qid, ccid AS cell FROM (
                       SELECT vec_id, ccid, row_number() OVER (
                         PARTITION BY vec_id ORDER BY cdot DESC, ccid)
                         AS rn
                       FROM cd WHERE vec_id BETWEEN 0 AND 3) t, nc
                       WHERE rn <= np),
            resid AS MATERIALIZED (
              SELECT e.vec_id, e.dim, e.sub, e.q6 - cent.c6 AS r6
              FROM e
              JOIN assign ON assign.vec_id = e.vec_id
              JOIN cent ON cent.ccid = assign.cell
                AND cent.dim = e.dim),
            rcb0 AS MATERIALIZED (
              SELECT (vec_id - c) // s AS cw, dim, r6 AS rc6
              FROM resid, nc
              WHERE vec_id >= c AND (vec_id - c) % s = 0
                AND (vec_id - c) // s < 256),
            enc0 AS MATERIALIZED (
              SELECT vec_id, sub, cw AS code FROM (
                SELECT resid.vec_id, resid.sub, rcb0.cw,
                  row_number() OVER (
                    PARTITION BY resid.vec_id, resid.sub
                    ORDER BY SUM((resid.r6 - rcb0.rc6)
                      * (resid.r6 - rcb0.rc6)), rcb0.cw) AS rn
                FROM resid JOIN rcb0 ON resid.dim = rcb0.dim
                GROUP BY resid.vec_id, resid.sub, rcb0.cw) t
              WHERE rn = 1),
            upd0 AS (SELECT enc0.code AS cw, r.dim,
                      CAST((SUM(r.r6 + 4000000) + COUNT(*) // 2)
                        // COUNT(*) - 4000000 AS BIGINT) AS rc6t
                    FROM resid r
                    JOIN enc0 ON enc0.vec_id = r.vec_id
                      AND enc0.sub = r.sub
                    GROUP BY 1, 2),
            rcb1 AS MATERIALIZED (
              SELECT s.cw, s.dim, COALESCE(u.rc6t, s.rc6) AS rc6
              FROM rcb0 s LEFT JOIN upd0 u
                ON u.cw = s.cw AND u.dim = s.dim),
            enc1 AS MATERIALIZED (
              SELECT vec_id, sub, cw AS code FROM (
                SELECT resid.vec_id, resid.sub, rcb1.cw,
                  row_number() OVER (
                    PARTITION BY resid.vec_id, resid.sub
                    ORDER BY SUM((resid.r6 - rcb1.rc6)
                      * (resid.r6 - rcb1.rc6)), rcb1.cw) AS rn
                FROM resid JOIN rcb1 ON resid.dim = rcb1.dim
                GROUP BY resid.vec_id, resid.sub, rcb1.cw) t
              WHERE rn = 1),
            upd1 AS (SELECT enc1.code AS cw, r.dim,
                      CAST((SUM(r.r6 + 4000000) + COUNT(*) // 2)
                        // COUNT(*) - 4000000 AS BIGINT) AS rc6t
                    FROM resid r
                    JOIN enc1 ON enc1.vec_id = r.vec_id
                      AND enc1.sub = r.sub
                    GROUP BY 1, 2),
            rcb2 AS MATERIALIZED (
              SELECT s.cw, s.dim, COALESCE(u.rc6t, s.rc6) AS rc6
              FROM rcb1 s LEFT JOIN upd1 u
                ON u.cw = s.cw AND u.dim = s.dim),
            encd AS (SELECT vec_id, sub, cw AS code FROM (
                     SELECT resid.vec_id, resid.sub, rcb2.cw,
                       row_number() OVER (
                         PARTITION BY resid.vec_id, resid.sub
                         ORDER BY SUM((resid.r6 - rcb2.rc6)
                           * (resid.r6 - rcb2.rc6)), rcb2.cw) AS rn
                     FROM resid JOIN rcb2 ON resid.dim = rcb2.dim
                     GROUP BY resid.vec_id, resid.sub, rcb2.cw) t
                   WHERE rn = 1),
            qe AS (SELECT vec_id AS qid, dim, sub, q6 FROM e
                   WHERE vec_id BETWEEN 0 AND 3),
            qres AS (SELECT qprobe.qid, qprobe.cell, qe.dim, qe.sub,
                       qe.q6 - cent.c6 AS rq6
                     FROM qprobe
                     JOIN qe ON qe.qid = qprobe.qid
                     JOIN cent ON cent.ccid = qprobe.cell
                       AND cent.dim = qe.dim),
            adc AS (SELECT qres.qid, qres.cell, qres.sub, rcb2.cw,
                      CAST(SUM((qres.rq6 - rcb2.rc6)
                        * (qres.rq6 - rcb2.rc6)) AS BIGINT) AS d_qc
                    FROM qres JOIN rcb2 ON qres.dim = rcb2.dim
                    GROUP BY 1, 2, 3, 4),
            candv AS (SELECT qprobe.qid, qprobe.cell, assign.vec_id
                      FROM assign JOIN qprobe USING (cell)
                      WHERE assign.vec_id <> qprobe.qid),
            scored AS (SELECT c.qid, c.vec_id,
                      CAST(SUM(adc.d_qc) AS BIGINT) AS adc_i
                    FROM candv c
                    JOIN encd ON encd.vec_id = c.vec_id
                    JOIN adc ON adc.qid = c.qid AND adc.cell = c.cell
                      AND adc.sub = encd.sub AND adc.cw = encd.code
                    GROUP BY 1, 2),
            cand AS (SELECT qid, vec_id, adc_i FROM (
                     SELECT qid, vec_id, adc_i,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY adc_i, vec_id) AS crank
                     FROM scored) t, nc
                   WHERE crank <= greatest(100, nv // 128)),
            ex AS (SELECT cand.qid, cand.vec_id, cand.adc_i,
                      CAST(SUM((ev.q6 - qe.q6) * (ev.q6 - qe.q6))
                        AS BIGINT) AS true_i
                    FROM cand
                    JOIN e ev ON ev.vec_id = cand.vec_id
                    JOIN qe ON qe.qid = cand.qid AND qe.dim = ev.dim
                    GROUP BY 1, 2, 3),
            rk AS (SELECT qid, vec_id, adc_i, true_i,
                      CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY true_i, vec_id) AS BIGINT) AS rank
                    FROM ex)
         SELECT qid, rank, vec_id,
                round(CAST(adc_i AS DOUBLE) / 1e12, 6) AS adc_dist,
                round(CAST(true_i AS DOUBLE) / 1e12, 6) AS true_dist
         FROM rk WHERE rank <= 10 ORDER BY qid, rank""",

    "q_llm_ann_hnsw_bestfirst" -> {
      // 16 unrolled single-expansion rounds; every multi-referenced
      // CTE MATERIALIZED (the re-evaluation rule). A terminated query
      // (no unexpanded node within its 16th-best found) contributes
      // nothing to ba_t, so later rounds are exact no-ops for it.
      val rounds = (1 to 16).map { t =>
        s"""w$t AS (SELECT qid, MAX(dd) AS t16 FROM (
                  SELECT qid, dd, row_number() OVER (
                    PARTITION BY qid ORDER BY dd, vec_id) AS rn
                  FROM b${t - 1}) z WHERE rn <= 16 GROUP BY qid),
            ba$t AS MATERIALIZED (
              SELECT bb.qid, bb.vec_id FROM (
                SELECT qid, vec_id, dd, row_number() OVER (
                  PARTITION BY qid ORDER BY dd, vec_id) AS rn
                FROM b${t - 1} WHERE NOT exp) bb
              JOIN w$t w ON w.qid = bb.qid
              WHERE bb.rn = 1 AND bb.dd <= w.t16),
            nn$t AS (SELECT DISTINCT a.qid, ed.dst AS vec_id
                    FROM ba$t a JOIN edges ed ON ed.src = a.vec_id
                    WHERE NOT EXISTS (SELECT 1 FROM b${t - 1} b
                      WHERE b.qid = a.qid AND b.vec_id = ed.dst)),
            ns$t AS (SELECT c.qid, c.vec_id,
                      CAST(SUM((qd.q6 - ev.q6) * (qd.q6 - ev.q6))
                        AS BIGINT) AS dd
                    FROM nn$t c
                    JOIN e ev ON ev.vec_id = c.vec_id
                    JOIN qd ON qd.qid = c.qid AND qd.dim = ev.dim
                    GROUP BY 1, 2),
            b$t AS MATERIALIZED (
              SELECT b.qid, b.vec_id, b.dd,
                b.exp OR EXISTS (SELECT 1 FROM ba$t a
                  WHERE a.qid = b.qid AND a.vec_id = b.vec_id) AS exp
              FROM b${t - 1} b
              UNION ALL
              SELECT qid, vec_id, dd, FALSE AS exp FROM ns$t)"""
      }.mkString(",\n")
      s"""WITH x AS (SELECT vec_id, embedding,
                      unnest(generate_series(1, len(embedding))) AS dim
                    FROM embeddings),
            e AS MATERIALIZED (
              SELECT vec_id, dim,
                CAST(CAST(round(CAST(embedding[dim] AS DOUBLE), 6)
                     AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS q6
              FROM x),
            nc AS (SELECT CASE WHEN COUNT(*) <= 512 THEN 8
                        WHEN COUNT(*) <= 1024 THEN 16
                        WHEN COUNT(*) <= 2048 THEN 32
                        ELSE 64 END AS c
                   FROM embeddings),
            cent AS (SELECT vec_id AS ccid, dim, q6 AS c6
                     FROM e, nc WHERE vec_id < c),
            asg AS MATERIALIZED (
              SELECT vec_id, ccid AS cell FROM (
                SELECT e.vec_id, cent.ccid, row_number() OVER (
                  PARTITION BY e.vec_id
                  ORDER BY SUM(e.q6 * cent.c6) DESC, cent.ccid) AS rn
                FROM e JOIN cent ON e.dim = cent.dim
                GROUP BY e.vec_id, cent.ccid) t
              WHERE rn = 1),
            ee AS MATERIALIZED (
              SELECT e.vec_id, e.dim, e.q6, asg.cell
              FROM e JOIN asg USING (vec_id)),
            knn AS (SELECT src, dst FROM (
                    SELECT a.vec_id AS src, b.vec_id AS dst,
                      row_number() OVER (PARTITION BY a.vec_id
                        ORDER BY SUM((a.q6 - b.q6) * (a.q6 - b.q6)),
                          b.vec_id) AS rn
                    FROM ee a JOIN ee b ON a.cell = b.cell
                      AND a.dim = b.dim AND a.vec_id <> b.vec_id
                    GROUP BY a.vec_id, b.vec_id) t
                  WHERE rn <= 8),
            hub AS MATERIALIZED (
              SELECT cell, MIN(vec_id) AS h FROM asg GROUP BY cell),
            edges AS MATERIALIZED (
              SELECT src, dst FROM knn
              UNION
              SELECT asg.vec_id, hub.h FROM asg JOIN hub USING (cell)
              WHERE asg.vec_id <> hub.h
              UNION
              SELECT a.h, b.h FROM hub a, hub b WHERE a.h <> b.h),
            qd AS MATERIALIZED (
              SELECT vec_id AS qid, dim, q6 FROM e
              WHERE vec_id BETWEEN 0 AND 3),
            up AS (SELECT vec_id FROM asg WHERE vec_id % 16 = 0),
            b0 AS MATERIALIZED (
              SELECT qid, vec_id, dd, FALSE AS exp FROM (
                SELECT qid, vec_id, dd, row_number() OVER (
                  PARTITION BY qid ORDER BY dd, vec_id) AS rn
                FROM (SELECT qd.qid, up.vec_id,
                        CAST(SUM((qd.q6 - ev.q6) * (qd.q6 - ev.q6))
                          AS BIGINT) AS dd
                      FROM up
                      JOIN e ev ON ev.vec_id = up.vec_id
                      JOIN qd ON qd.dim = ev.dim
                      GROUP BY 1, 2) z) t
              WHERE rn = 1),
            $rounds
         SELECT qid, rank, vec_id,
                round(CAST(dd AS DOUBLE) / 1e12, 6) AS dist
         FROM (SELECT qid, vec_id, dd,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dd, vec_id) AS BIGINT) AS rank
               FROM b16 WHERE vec_id <> qid) rk
         WHERE rank <= 10 ORDER BY qid, rank"""
    }
  )
}
