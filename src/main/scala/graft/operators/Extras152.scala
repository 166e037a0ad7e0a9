package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.FixtureCache

/** Round-13 additions, part 6: two users of the Extras148 ANN kernel —
  *   (a) q_llm_ann_ivfpq_lloyd: residual IVF-PQ whose stride seed book
  *       is TRAINED by one exact Lloyd step (E-step encode, floor-mean
  *       M-step; empty codewords keep the seed) — the remaining gap to
  *       production IVFADC. Build and search are the shared kernel;
  *       this key passes only its fixture, its training step and the
  *       fixed 100-candidate shortlist.
  *   (b) q_llm_ann_hnsw_ml: HNSW with a MULTI-LEVEL entry descent. L2
  *       = vec_id % 256 == 0 (L2 ⊆ L1 because 16 | 256 — the
  *       nested-stride analog of HNSW's geometric level nesting), L1 =
  *       vec_id % 16 == 0. Entry = exact nearest L2 node (corpus/256
  *       scan), then THREE greedy 1-at-a-time hops over the L1 graph
  *       (the paper's ef=1 upper-layer search, one expansion per hop),
  *       then 4 rounds of the shared beam-16 layer-0 search over the
  *       q_llm_ann_hnsw fixture. The L1 graph is the shared cell graph
  *       builder at k = 4 over the stride-16 nodes.
  *
  * Determinism contract (SURVEY §2.13): all distances are exact BIGINT
  * micro² zip-folds; the Lloyd mean is an exact positive-shifted floor
  * division ((Σ(r6+4e6)) div n − 4e6 — identical truncation on both
  * engines because the numerator is forced non-negative; |r6| ≤ ~2.2e6
  * bounds the shift); every argmin ties on an id; emitted distances
  * are ONE IEEE division + r6 on both engines.
  */
object Extras152 {
  import Extras148.{d2, rescore}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_llm_ann_ivfpq_lloyd" -> ((s, d) => Extras148.searchResidualIvfpq(
      s, d,
      FixtureCache.ensure("ann_ivfpq_lloyd_idx",
        Seq(s"$d/embeddings.parquet"),
        "residual IVF-PQ: assign + 1-step-Lloyd (floor-mean) book + " +
          "codes, v2")(
        Extras148.buildResidualIvfpq(s, d, Seq(Extras148.FloorMean))),
      shortlist = lit(100L))),

    "q_llm_ann_hnsw_ml" -> ((s, d) => {
      val l0 = Extras148.buildHnswIndex(s, d, diversify = false)
      // INDEX BUILD, amortized: the L1 graph over the layer-0 fixture's
      // packed vectors (per-cell 4-NN among the stride-16 nodes ∪ each
      // L1 node → its cell's L1 hub ∪ hub mesh, for hops that must
      // cross cells) persists as parquet keyed by the source snapshot
      // and the layer-0 fixture it reads, so a rebuilt layer 0 rebuilds it
      val idxDir = FixtureCache.ensure("ann_hnsw_ml_idx",
        Seq(s"$d/embeddings.parquet", l0),
        "L1 4-NN/hub/mesh edge list over the ann_hnsw_idx packed " +
          "vectors, v2") { dest =>
        val l1 = Extras148.withCells(s, d, s.read.parquet(s"$l0/vpack"))
          .where(col("vec_id") % 16 === 0)
          .duckCkpt() // both kNN sides, hubs, hub links
        Extras148.cellGraph(l1, Extras148.inCellKnn(l1, 4))
          .write.parquet(s"$dest/edges1")
      }
      val edges1 = s.read.parquet(s"$idxDir/edges1").duckCkpt()
      def nearest(c: DataFrame): DataFrame = c
        .groupBy(col("qid"))
        .agg(min(struct(col("dd"), col("vec_id"))).as("m"))
        .select(col("qid"), col("m.vec_id").as("vec_id"),
          col("m.dd").as("dd"))
      Extras148.hnswBeamSearch(s, l0, rounds = 4, entry = (vpack, qp) => {
        // L2 entry: exact nearest stride-256 node per query, then the
        // greedy ef=1 descent: 3 hops, each expands exactly the ONE
        // current node (paper-parity upper search; state is 4 rows)
        Fixpoint.rounds(
            nearest(qp.crossJoin(vpack.where(col("vec_id") % 256 === 0)
                .select(col("vec_id").as("cand"), col("v").as("vb")))
              .select(col("qid"), col("cand").as("vec_id"),
                d2("qv", "vb").as("dd"))), 3) { cur =>
          val nb = cur.join(edges1, cur("vec_id") === edges1("src"))
            .select(col("qid"), col("dst").as("vec_id"))
          nearest(rescore(
            nb.unionByName(cur.select(col("qid"), col("vec_id"))).distinct(),
            vpack, qp))
        }.last
      })
    })
  )

  val oracle: Map[String, String] = Map(

    "q_llm_ann_ivfpq_lloyd" ->
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
            upd AS (SELECT enc0.code AS cw, r.dim,
                      CAST(SUM(r.r6 + 4000000) // COUNT(*) - 4000000
                        AS BIGINT) AS rc6t
                    FROM resid r
                    JOIN enc0 ON enc0.vec_id = r.vec_id
                      AND enc0.sub = r.sub
                    GROUP BY 1, 2),
            rcb1 AS MATERIALIZED (
              SELECT s.cw, s.dim, COALESCE(u.rc6t, s.rc6) AS rc6
              FROM rcb0 s LEFT JOIN upd u
                ON u.cw = s.cw AND u.dim = s.dim),
            encd AS (SELECT vec_id, sub, cw AS code FROM (
                     SELECT resid.vec_id, resid.sub, rcb1.cw,
                       row_number() OVER (
                         PARTITION BY resid.vec_id, resid.sub
                         ORDER BY SUM((resid.r6 - rcb1.rc6)
                           * (resid.r6 - rcb1.rc6)), rcb1.cw) AS rn
                     FROM resid JOIN rcb1 ON resid.dim = rcb1.dim
                     GROUP BY resid.vec_id, resid.sub, rcb1.cw) t
                   WHERE rn = 1),
            qe AS (SELECT vec_id AS qid, dim, sub, q6 FROM e
                   WHERE vec_id BETWEEN 0 AND 3),
            qres AS (SELECT qprobe.qid, qprobe.cell, qe.dim, qe.sub,
                       qe.q6 - cent.c6 AS rq6
                     FROM qprobe
                     JOIN qe ON qe.qid = qprobe.qid
                     JOIN cent ON cent.ccid = qprobe.cell
                       AND cent.dim = qe.dim),
            adc AS (SELECT qres.qid, qres.cell, qres.sub, rcb1.cw,
                      CAST(SUM((qres.rq6 - rcb1.rc6)
                        * (qres.rq6 - rcb1.rc6)) AS BIGINT) AS d_qc
                    FROM qres JOIN rcb1 ON qres.dim = rcb1.dim
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
                     FROM scored) t
                   WHERE crank <= 100),
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

    "q_llm_ann_hnsw_ml" -> {
      // 3 unrolled greedy hops + 4 unrolled beam rounds; every
      // multi-referenced CTE MATERIALIZED (the re-evaluation rule).
      val greedy = (1 to 3).map { t =>
        s"""gc$t AS (SELECT g.qid, ed.dst AS vec_id
                    FROM g${t - 1} g JOIN edges1 ed ON ed.src = g.vec_id
                    UNION
                    SELECT qid, vec_id FROM g${t - 1}),
            gs$t AS (SELECT c.qid, c.vec_id,
                      CAST(SUM((qd.q6 - ev.q6) * (qd.q6 - ev.q6))
                        AS BIGINT) AS dd
                    FROM gc$t c
                    JOIN e ev ON ev.vec_id = c.vec_id
                    JOIN qd ON qd.qid = c.qid AND qd.dim = ev.dim
                    GROUP BY 1, 2),
            g$t AS MATERIALIZED (
              SELECT qid, vec_id, dd FROM (
                SELECT qid, vec_id, dd, row_number() OVER (
                  PARTITION BY qid ORDER BY dd, vec_id) AS rn
                FROM gs$t) t WHERE rn = 1)"""
      }.mkString(",\n")
      val rounds = (1 to 4).map { t =>
        s"""v$t AS MATERIALIZED (
              SELECT qid, vec_id FROM v${t - 1}
              UNION SELECT qid, vec_id FROM f${t - 1}),
            c$t AS (SELECT DISTINCT f.qid, ed.dst AS vec_id
                    FROM f${t - 1} f JOIN edges ed ON ed.src = f.vec_id
                    WHERE NOT EXISTS (SELECT 1 FROM b${t - 1} b
                      WHERE b.qid = f.qid AND b.vec_id = ed.dst)),
            s$t AS (SELECT c.qid, c.vec_id,
                      CAST(SUM((qd.q6 - ev.q6) * (qd.q6 - ev.q6))
                        AS BIGINT) AS dd
                    FROM c$t c
                    JOIN e ev ON ev.vec_id = c.vec_id
                    JOIN qd ON qd.qid = c.qid AND qd.dim = ev.dim
                    GROUP BY 1, 2),
            b$t AS MATERIALIZED (
              SELECT qid, vec_id, dd FROM b${t - 1}
              UNION ALL SELECT qid, vec_id, dd FROM s$t),
            f$t AS MATERIALIZED (
              SELECT qid, vec_id FROM (
                SELECT b.qid, b.vec_id, row_number() OVER (
                  PARTITION BY b.qid ORDER BY b.dd, b.vec_id) AS rn
                FROM b$t b
                WHERE NOT EXISTS (SELECT 1 FROM v$t v
                  WHERE v.qid = b.qid AND v.vec_id = b.vec_id)) t
              WHERE rn <= 16)"""
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
            l1 AS MATERIALIZED (
              SELECT vec_id, cell FROM asg WHERE vec_id % 16 = 0),
            ee1 AS MATERIALIZED (
              SELECT e.vec_id, e.dim, e.q6, l1.cell
              FROM e JOIN l1 USING (vec_id)),
            knn1 AS (SELECT src, dst FROM (
                    SELECT a.vec_id AS src, b.vec_id AS dst,
                      row_number() OVER (PARTITION BY a.vec_id
                        ORDER BY SUM((a.q6 - b.q6) * (a.q6 - b.q6)),
                          b.vec_id) AS rn
                    FROM ee1 a JOIN ee1 b ON a.cell = b.cell
                      AND a.dim = b.dim AND a.vec_id <> b.vec_id
                    GROUP BY a.vec_id, b.vec_id) t
                  WHERE rn <= 4),
            hub1 AS MATERIALIZED (
              SELECT cell, MIN(vec_id) AS h FROM l1 GROUP BY cell),
            edges1 AS MATERIALIZED (
              SELECT src, dst FROM knn1
              UNION
              SELECT l1.vec_id, hub1.h FROM l1 JOIN hub1 USING (cell)
              WHERE l1.vec_id <> hub1.h
              UNION
              SELECT a.h, b.h FROM hub1 a, hub1 b WHERE a.h <> b.h),
            qd AS MATERIALIZED (
              SELECT vec_id AS qid, dim, q6 FROM e
              WHERE vec_id BETWEEN 0 AND 3),
            up2 AS (SELECT vec_id FROM asg WHERE vec_id % 256 = 0),
            g0 AS MATERIALIZED (
              SELECT qid, vec_id, dd FROM (
                SELECT qid, vec_id, dd, row_number() OVER (
                  PARTITION BY qid ORDER BY dd, vec_id) AS rn
                FROM (SELECT qd.qid, up2.vec_id,
                        CAST(SUM((qd.q6 - ev.q6) * (qd.q6 - ev.q6))
                          AS BIGINT) AS dd
                      FROM up2
                      JOIN e ev ON ev.vec_id = up2.vec_id
                      JOIN qd ON qd.dim = ev.dim
                      GROUP BY 1, 2) z) t
              WHERE rn = 1),
            $greedy,
            b0 AS MATERIALIZED (SELECT qid, vec_id, dd FROM g3),
            f0 AS MATERIALIZED (SELECT qid, vec_id FROM b0),
            v0 AS (SELECT qid, vec_id FROM f0 WHERE 1 = 0),
            $rounds
         SELECT qid, rank, vec_id,
                round(CAST(dd AS DOUBLE) / 1e12, 6) AS dist
         FROM (SELECT qid, vec_id, dd,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dd, vec_id) AS BIGINT) AS rank
               FROM b4 WHERE vec_id <> qid) rk
         WHERE rank <= 10 ORDER BY qid, rank"""
    }
  )
}
