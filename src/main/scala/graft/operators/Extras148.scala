package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{FixtureCache, Tables}

/** The shared ANN index kernel, plus its first two users.
  *
  * RESIDUAL IVF-PQ (the production IVFADC shape: PQ codes quantize the
  * residual v − centroid(cell), which holds recall when cells widen at
  * corpus scale). One build and one search serve the three residual
  * keys; each passes only its fixture name and salt, its codebook
  * training and its rerank shortlist depth:
  *   - q_llm_ann_ivfpq_residual: the stride seed book, untrained;
  *   - q_llm_ann_ivfpq_lloyd (Extras152): one floor-mean Lloyd step;
  *   - q_llm_ann_ivfpq_lloyd2 (Extras160): two round-to-nearest steps
  *     and a corpus-proportional shortlist.
  * Build (`buildResidualIvfpq`, charged to the FixtureCache ingest):
  * quantized explode → adaptive cell policy → dot-product coarse
  * assignment → residuals → 256-codeword stride seed book → Lloyd
  * steps → packed argmin encode. Search (`searchResidualIvfpq`):
  * nprobe cell probes of the 4 query vectors → per-probed-cell
  * residual ADC table → cell-pruned ADC scan → exact rerank on raw
  * vectors.
  *
  * HNSW (`buildHnswIndex`, `hnswBeamSearch`): packed micro vectors,
  * the same coarse cells, a per-cell kNN + hub + hub-mesh graph, and a
  * beam-16 layer-0 search from a caller-chosen entry. q_llm_ann_hnsw
  * enters at the nearest stride-16 node; q_llm_ann_hnsw_ml (Extras152)
  * descends two strided upper layers first and reuses the layer-0
  * fixture and the same graph builder for its stride-16 layer;
  * q_llm_ann_hnsw_bestfirst (Extras160) searches the same fixture one
  * node at a time.
  *
  * Determinism contract (SURVEY §2.13): every distance is an exact
  * BIGINT micro² sum (components are 6-dp-quantized micros ≤ ~5.3e5,
  * residual diffs ≤ ~2.2e6, per-sub sums ≤ 2e13 — far inside int64),
  * every argmin/top-k ties on an id, the Lloyd means are exact
  * positive-shifted integer divisions, and every emitted distance
  * column is ONE IEEE division (exact-int/1e12, < 2^53) + r6 on both
  * engines.
  */
object Extras148 {
  import graft.Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RESIDUAL IVF-PQ with the untrained stride seed book
    "q_llm_ann_ivfpq_residual" -> ((s, d) => searchResidualIvfpq(s, d,
      FixtureCache.ensure("ann_ivfpq_residual_idx",
        Seq(s"$d/embeddings.parquet"),
        "residual IVF-PQ: assign + stride-256 residual seed book " +
          "(cw = (vec_id - c) div s) + codes, v2")(
        buildResidualIvfpq(s, d, Nil)),
      shortlist = lit(100L))),

    // HNSW-STYLE BEAM-SEARCH ANN (round-12 verdict item 9 — the
    // highest-recall ANN family): a hierarchical navigable-small-world
    // search re-expressed deterministically —
    //   * upper layer = the vec_id % 16 == 0 stride (HNSW's random
    //     geometric level assignment replaced by a documented
    //     deterministic proxy); the query's entry point is its exact
    //     nearest upper-layer vector (a corpus/16 scan — the
    //     hierarchy's log-shortcut; q_llm_ann_hnsw_ml builds the
    //     deeper strided levels);
    //   * base-layer graph = exact 8-NN within each adaptive IVF cell
    //     (per-cell quadratic bounded by occupancy — the q_graph_scc
    //     per-component contract) ∪ vec→cell-hub ∪ hub↔hub mesh
    //     (≤ c² long-range links, the cross-cell navigability);
    //   * search = 5 beam rounds (beam B=16): expand every frontier
    //     node's out-edges, exact-score the unseen ones, keep the 16
    //     best not-yet-expanded as the next frontier (batched
    //     best-first — stated beam variant of HNSW's 1-at-a-time).
    // Determinism: all distances are exact BIGINT micro² zip-folds,
    // every top-k ties on vec_id, the UNION dedups are on exact ids.
    // Scale: graph build is Σ occ²/cell (quadratic-within-bounded-
    // cells), search touches ≤ B·9 edges/round/query.
    "q_llm_ann_hnsw" -> ((s, d) =>
      hnswBeamSearch(s, buildHnswIndex(s, d, diversify = false)))
  )

  /** Packed-array zip_with exact L2² fold (BIGINT micro²). */
  private[operators] def d2(a: String, b: String) = expr(
    s"""aggregate(zip_with($a, $b,
          (x, y) -> (x.q6 - y.q6) * (x.q6 - y.q6)),
          CAST(0 AS BIGINT), (s, v) -> s + v)""")
  private def dot(a: String, b: String) = expr(
    s"""aggregate(zip_with($a, $b, (x, y) -> x.q6 * y.q6),
          CAST(0 AS BIGINT), (s, v) -> s + v)""")

  /** Per-dim exact micros of an embeddings frame: (vec_id, dim, q6,
    * sub), dim 1-based, sub = the 4-dim PQ subspace. */
  private def quantized(emb: DataFrame): DataFrame = emb
    .select(col("vec_id"), posexplode(col("embedding")))
    .toDF("vec_id", "pos", "x")
    .select(col("vec_id"), (col("pos") + 1).as("dim"),
      (round(col("x").cast("double"), 6).cast(DecimalType(18, 6))
        * 1000000).cast("long").as("q6"))
    .withColumn("sub", expr("(dim - 1) div 4"))

  /** The adaptive IVF cell policy, one row: nv vectors; c cells, the
    * smallest of {8, 16, 32, 64} holding expected occupancy ≤ 64
    * (integer thresholds only — the q_llm_ann_lsh_adaptive scale rule:
    * fixed 8 cells at 8× corpus decayed recall@10 0.85 → 0.45); np
    * probed cells, growing with c (2 of ≤ 16 → 4 of ≥ 32) so the
    * probed fraction falls while staying recall-viable; s, the stride
    * of the 256-codeword PQ seed sample outside the centroid block
    * [0, c) — a codeword set overlapping the centroids degenerates to
    * near-zero residuals once c widens to 64 (measured: recall@10
    * 0.93 → 0.10 at the 8× probe before this rule). The centroids are
    * vectors 0 .. c-1. */
  private[operators] def cellPolicy(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).agg(count(lit(1)).as("nv"))
      .select(col("nv"), when(col("nv") <= 512, 8L)
        .when(col("nv") <= 1024, 16L)
        .when(col("nv") <= 2048, 32L)
        .otherwise(64L).as("c"))
      .withColumn("np", when(col("c") <= 16, 2L).otherwise(4L))
      .withColumn("s", greatest(lit(1L), expr("(nv - c) div 256")))

  /** Exact BIGINT coarse dots (vec_id, ccid, cdot) of per-dim micros
    * `v` (vec_id, dim, q6) against centroids `cent` (ccid, dim, c6). */
  private[operators] def coarseDots(v: DataFrame, cent: DataFrame): DataFrame =
    v.join(broadcast(cent), "dim")
      .groupBy(col("vec_id"), col("ccid"))
      .agg(sum(col("q6") * col("c6")).as("cdot"))

  /** Coarse-cell rank order: max dot, ties to the smaller ccid. */
  private[operators] val coarseOrder = Window.partitionBy(col("vec_id"))
    .orderBy(col("cdot").desc, col("ccid"))

  /** The per-dim centroid micros (ccid, dim, c6) of a quantized
    * frame: vectors 0 .. c-1. */
  private[operators] def centroidsOf(e: DataFrame, nc: DataFrame): DataFrame =
    e.crossJoin(broadcast(nc))
      .where(col("vec_id") < col("c"))
      .select(col("vec_id").as("ccid"), col("dim"), col("q6").as("c6"))

  /** Lloyd M-step means over the positive-shifted numerator Σ(r6+4e6)
    * (non-negative because |r6| ≤ ~2.2e6, so both engines truncate
    * identically): the floor mean, and the round-to-nearest mean
    * ((S + n div 2) div n). Across TWO rounds the floor bias (−0.5
    * micro expected per round) compounds, measured: floor-floor read
    * recall@10 0.83 at 8× vs the 1-step book's 0.85 (BASELINE.md
    * round-14 part 1), so the 2-step key rounds to nearest. */
  private[operators] val FloorMean =
    "CAST(sum(r6 + 4000000) div count(1) - 4000000 AS BIGINT)"
  private[operators] val NearestMean =
    "CAST((sum(r6 + 4000000) + count(1) div 2) div count(1)" +
      " - 4000000 AS BIGINT)"

  /** RESIDUAL IVF-PQ INDEX BUILD into `dest` (amortized: the corpus-
    * sized passes persist as parquet keyed by the source snapshot, the
    * production IVFADC deployment where the index is built once at
    * ingest; every artifact is exact BIGINTs, so the parquet round
    * trip is bit-identical):
    *   - assign: (vec_id, cell), max coarse dot, ties to smaller ccid;
    *   - book: (cw, dim, rc6), the 256 stride-sampled residuals from
    *     outside the centroid block, numbered cw = (vec_id − c) div s,
    *     then one exact (E, M) Lloyd round per entry of `meanSteps`
    *     (encode the corpus residuals, move each non-empty codeword to
    *     its members' mean, an empty codeword keeps its entry);
    *   - codes: (vec_id, sub, code), each residual subvector's nearest
    *     book codeword, ties to the smaller cw. */
  private[graft] def buildResidualIvfpq(s: SparkSession, d: String,
      meanSteps: Seq[String])(dest: String): Unit = {
    val P = s.conf.get("spark.sql.shuffle.partitions").toInt
    val nc = cellPolicy(s, d)
    // fan out BEFORE checkpointing: the small parquet file scans as one
    // partition, which would serialize the ×c coarse-dot and ×256
    // encode expansions below onto one core
    val e = quantized(Tables.embeddings(s, d))
      .repartition(P, col("vec_id"))
      .duckCkpt() // centroids, assign AND residuals
    val cent = centroidsOf(e, nc)
    coarseDots(e, cent).withColumn("rn", row_number().over(coarseOrder))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("ccid").as("cell"))
      .write.parquet(s"$dest/assign")
    // corpus residuals r = v − centroid(cell(v)); the assignment re-reads
    // its own just-written artifact (cent derives from e: rename its dim
    // to dodge the ambiguous self-join lineage check)
    val resid = e.join(s.read.parquet(s"$dest/assign"), "vec_id")
      .join(broadcast(cent.withColumnRenamed("dim", "cdim")),
        col("cell") === col("ccid") && col("dim") === col("cdim"))
      .select(col("vec_id"), col("dim"), col("sub"),
        (col("q6") - col("c6")).as("r6"))
      .duckCkpt() // seed book, every encode, every M-step
    val seed = resid.crossJoin(broadcast(nc.select(col("c"), col("s"))))
      .where(col("vec_id") >= col("c")
        && (col("vec_id") - col("c")) % col("s") === 0
        && expr("(vec_id - c) div s") < 256)
      .select(expr("(vec_id - c) div s").as("cw"), col("dim"),
        col("r6").as("rc6"))
      .duckCkpt() // first encode AND the empty-codeword fallback
    // Packed encode: per (vector, subspace) argmin over the 256
    // codewords. The per-dim flat join form shuffles #vec × 16 × 256
    // grouped rows (65M at the 8× probe, measured 94 s); instead each
    // (vec, sub) residual and each (sub, cw) codeword packs into a
    // 4-dim array, each distance is ONE codegen'd zip_with fold, and
    // min(struct(dist, cw)) takes the argmin tie-broken to the smallest
    // cw, with the map-side partial agg collapsing the rows to #vec × 16
    // before any shuffle. repartition after the tiny groupBy: AQE
    // coalesces the 32k-row shuffle to ONE partition, putting the ×256
    // codebook expansion on a single core (measured 16 s at sf0.1).
    val rsub = resid.groupBy(col("vec_id"), col("sub"))
      .agg(sort_array(collect_list(struct(col("dim"), col("r6"))))
        .as("rv"))
      .repartition(P, col("vec_id"))
      .duckCkpt() // every encode
    def encode(book: DataFrame): DataFrame = {
      val cbSub = book
        .withColumn("sub", expr("(dim - 1) div 4"))
        .groupBy(col("sub"), col("cw"))
        .agg(sort_array(collect_list(struct(col("dim"), col("rc6"))))
          .as("cv"))
      rsub.join(broadcast(cbSub), "sub")
        .select(col("vec_id"), col("sub"), col("cw"), expr(
          """aggregate(zip_with(rv, cv,
               (a, b) -> (a.r6 - b.rc6) * (a.r6 - b.rc6)),
               CAST(0 AS BIGINT), (s, v) -> s + v)""").as("dist"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("cw"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cw").as("code"))
    }
    meanSteps.foldLeft(seed) { (book, mean) =>
      val upd = resid.join(encode(book), Seq("vec_id", "sub"))
        .groupBy(col("code").as("cw"), col("dim"))
        .agg(expr(mean).as("rc6t"))
      book.join(upd, Seq("cw", "dim"), "left")
        .select(col("cw"), col("dim"),
          coalesce(col("rc6t"), col("rc6")).as("rc6"))
        .duckCkpt() // next round's encode AND fallback
    }.write.parquet(s"$dest/book")
    encode(s.read.parquet(s"$dest/book")).write.parquet(s"$dest/codes")
  }

  /** RESIDUAL IVF-PQ SEARCH against a built index: the np best coarse
    * cells per query vector 0..3, the query's residual PER PROBED CELL
    * → an ADC table keyed by cell (4·np·16·256 rows, broadcast-size),
    * the cell-pruned ADC scan of the code table, the `shortlist` best
    * ADC candidates (a column over the policy row, e.g. nv), and the
    * exact top-10 rerank on RAW vectors (true L2, not residual space).
    *
    * The corpus expansion is checkpointed once and read three times
    * (centroids, queries, rerank). Reading three pushed-down slivers
    * instead (≤64 centroids, 4 queries, the shortlisted candidates, the
    * last through a checkpointed candidate list) measured slower on a
    * 4-core host at sf0.1: QueryProbe medians of 6 interleaved
    * repetitions 2.57 s for the sliver path against 2.23 / 2.29 s for
    * this one. */
  private[graft] def searchResidualIvfpq(s: SparkSession, d: String,
      idxDir: String, shortlist: Column): DataFrame = {
    val P = s.conf.get("spark.sql.shuffle.partitions").toInt
    val nc = cellPolicy(s, d)
    val e = quantized(Tables.embeddings(s, d))
      .repartition(P, col("vec_id")) // 1-partition expansion trap
      .duckCkpt() // centroids, queries AND rerank
    val cent = centroidsOf(e, nc)
    val assign = s.read.parquet(s"$idxDir/assign")
    val book = s.read.parquet(s"$idxDir/book")
    val enc = s.read.parquet(s"$idxDir/codes")
    // query coarse dots: identical rows to the corpus-wide relation
    // restricted to the qids (same per-vec_id groups, same order)
    val eq = e.where(col("vec_id").between(0, 3))
    val qprobe = coarseDots(eq, cent)
      .withColumn("rn", row_number().over(coarseOrder))
      .crossJoin(broadcast(nc.select(col("np"))))
      .where(col("rn") <= col("np"))
      .select(col("vec_id").as("qid"), col("ccid").as("cell"))
    val qe = eq.select(col("vec_id").as("qid"), col("dim"), col("sub"),
      col("q6").as("qq6"))
    val qres = qprobe.join(qe, "qid")
      .join(broadcast(cent.withColumnRenamed("dim", "cdim")),
        col("cell") === col("ccid") && col("dim") === col("cdim"))
      .select(col("qid"), col("cell"), col("dim"), col("sub"),
        (col("qq6") - col("c6")).as("rq6"))
    val adc = qres.join(broadcast(book), "dim")
      .groupBy(col("qid"), col("cell"), col("sub"), col("cw"))
      .agg(sum((col("rq6") - col("rc6")) * (col("rq6") - col("rc6")))
        .as("d_qc"))
    val cand = assign.join(broadcast(qprobe), "cell")
      .where(col("vec_id") =!= col("qid"))
      .join(enc, "vec_id")
      .join(broadcast(adc), Seq("qid", "cell", "sub"))
      .where(col("code") === col("cw"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d_qc")).as("adc_i"))
      .crossJoin(broadcast(nc.select(col("nv"))))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc_i"), col("vec_id"))))
      .where(col("crank") <= shortlist)
    cand.join(e.select(col("vec_id"), col("dim"), col("q6").as("v6")),
        "vec_id")
      .join(broadcast(qe.select(col("qid"), col("dim"), col("qq6"))),
        Seq("qid", "dim"))
      .groupBy(col("qid"), col("vec_id"), col("adc_i"))
      .agg(sum((col("v6") - col("qq6")) * (col("v6") - col("qq6")))
        .as("true_i"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("true_i"), col("vec_id"))).cast("long"))
      .where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"),
        r6(col("adc_i").cast("double") / lit(1e12)).as("adc_dist"),
        r6(col("true_i").cast("double") / lit(1e12)).as("true_dist"))
      .orderBy(col("qid"), col("rank"))
  }

  /** SHARED HNSW layer-0 index build (one derivation for every key
    * that reads the fixture, so the recipe cannot drift between
    * byte-duplicated bodies).
    *
    * INDEX BUILD, amortized: the packed vector table (vpack) and the
    * navigable graph (edges), whose build is the Σ occ²/cell in-cell
    * kNN, persist as parquet keyed by the source snapshot. The graded
    * queries are SEARCH against the built graph. Exact BIGINT arrays
    * round-trip parquet bit-identically.
    *
    * diversify=false → plain in-cell 8-NN edges (the round-12 graph).
    * diversify=true → the paper's Algorithm-4 heuristic neighbor
    * selection, re-expressed ORDER-FREE as the classic RNG rule so
    * both engines state it declaratively: from a 24-candidate pool,
    * candidate e (rank r_e by exact distance to q) is PRUNED if some
    * closer-ranked candidate r has d²(e,r) < d²(e,q) — e is better
    * reached THROUGH r, so the edge slot is spent on a new direction
    * instead. Kept edges = first m0 by (pruned ASC, rank) — the paper's
    * keepPrunedConnections backfill, so degree stays m0 and the graph
    * only gets MORE diverse, never sparser. This is what turns
    * near-duplicate edge fans into long-range links (the round-14
    * 8×-miss diagnosis: the lost neighbor's nearest in-link ranked
    * 168th — reachable only through a diversified edge). Scale: the
    * prune join adds ≤ 24·23/2 exact pair folds per node —
    * corpus-LINEAR, charged to the ingest-time build like the rest.
    *
    * m0 = layer-0 out-degree for the DIVERSIFIED graph (the paper's M0;
    * default M0 = M = 8 is the graded fixture). The round-15
    * best-first 8× diagnosis was topology-bound — diversification thins
    * the local kNN mesh and the paper's remedy is M0 = 2M, not more
    * ef — so ScaleProbe A/Bs m0 = 16 against the graded 8. The
    * kept-edge count is the ONLY recipe difference; pool size (24) and
    * the RNG prune rule are shared, and the salt versions the
    * derivation. */
  private[graft] def buildHnswIndex(s: SparkSession, d: String,
      diversify: Boolean, m0: Int = 8): String = {
    require(m0 == 8 || diversify, "m0 override is a diversified-graph probe")
    val P = s.conf.get("spark.sql.shuffle.partitions").toInt
    val (fixName, salt) =
      if (diversify && m0 != 8)
        (s"ann_hnsw_div_m${m0}_idx", "packed micro vectors + Alg.4/RNG-" +
          s"diversified $m0-edge list (24-NN pool over self+3 nearest " +
          "cells, keep-pruned backfill, M0=2M probe) + hub/mesh, v1")
      else if (diversify)
        ("ann_hnsw_div_idx", "packed micro vectors + Alg.4/RNG-" +
          "diversified 8-edge list (24-NN pool over self+3 nearest " +
          "cells, keep-pruned backfill) + hub/mesh, v2")
      else
        ("ann_hnsw_idx",
          "packed micro vectors + in-cell 8-NN/hub/mesh edge list, v1")
    FixtureCache.ensure(fixName, Seq(s"$d/embeddings.parquet"), salt) {
      dest =>
      // packed per-vector micro arrays (dim-sorted) — EVERY distance
      // and dot below is one codegen'd zip_with fold over these; no
      // exploded per-dim relation ever shuffles (the per-dim coarse
      // assignment alone was a 4M-row groupBy + window)
      quantized(Tables.embeddings(s, d))
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("dim"), col("q6"))))
          .as("v"))
        .repartition(P, col("vec_id"))
        .write.parquet(s"$dest/vpack")
      val vpack = withCells(s, d, s.read.parquet(s"$dest/vpack").duckCkpt())
        .duckCkpt()
      val knn =
        if (!diversify) inCellKnn(vpack, 8)
        else {
          // Alg.4/RNG heuristic selection over a 24-NN pool drawn from
          // the node's OWN cell PLUS its 3 nearest neighbor cells (the
          // paper's extendCandidates: within-cell diversification alone
          // cannot mint the long-range CROSS-cell links the round-14
          // 8×-miss diagnosis calls for — the lost neighbor's nearest
          // in-link ranked 168th, in another cell). Cell adjacency =
          // exact centroid L2 top-4 (self ranks first at distance 0);
          // the adjacency relation is ≤ c·4 rows — broadcast. Pool join
          // cost: 4·occ candidates per node, still corpus-linear and
          // ingest-charged. Pool referenced three times below → one
          // checkpoint (shared-subtree rule).
          val centArr = centroidVectors(s, d, vpack)
          val cn = centArr.crossJoin(broadcast(centArr
              .select(col("ccid").as("c2"), col("cv").as("cv2"))))
            .select(col("ccid").as("cell"), col("c2"),
              d2("cv", "cv2").as("cd"))
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("cell"))
                .orderBy(col("cd"), col("c2"))))
            .where(col("rn") <= 4)
            .select(col("cell"), col("c2"))
          val pool = vpack.select(col("vec_id").as("src"), col("cell"),
              col("v").as("va"))
            .join(broadcast(cn), "cell")
            .join(vpack.select(col("vec_id").as("dst"),
                col("cell").as("cell2"), col("v").as("vb")),
              col("c2") === col("cell2") && col("src") =!= col("dst"))
            .select(col("src"), col("dst"), d2("va", "vb").as("dd"),
              col("vb"))
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("src"))
                .orderBy(col("dd"), col("dst"))))
            .where(col("rn") <= 24)
            .duckCkpt()
          val closer = pool.select(col("src").as("src2"),
            col("rn").as("rn2"), col("vb").as("v2"))
          val prunedE = pool.join(closer,
              col("src") === col("src2") && col("rn2") < col("rn"))
            .where(d2("vb", "v2") < col("dd"))
            .select(col("src"), col("dst")).distinct()
          pool.join(prunedE.withColumn("p", lit(1)),
              Seq("src", "dst"), "left")
            .withColumn("rn2", row_number().over(
              Window.partitionBy(col("src"))
                .orderBy(coalesce(col("p"), lit(0)), col("rn"))))
            .where(col("rn2") <= m0)
            .select(col("src"), col("dst"))
        }
      cellGraph(vpack, knn).write.parquet(s"$dest/edges")
    }
  }

  /** The packed centroid vectors (ccid, cv): vectors 0 .. c-1. */
  private def centroidVectors(s: SparkSession, d: String,
      vpack: DataFrame): DataFrame =
    vpack.crossJoin(broadcast(cellPolicy(s, d)))
      .where(col("vec_id") < col("c"))
      .select(col("vec_id").as("ccid"), col("v").as("cv"))

  /** Packed vectors (vec_id, v) plus their coarse cell: max dot, ties
    * to the SMALLER ccid (the residual build's coarseOrder) via
    * max(struct) on (cdot, -ccid). */
  private[operators] def withCells(s: SparkSession, d: String,
      vpack: DataFrame): DataFrame = {
    val assign = vpack.crossJoin(broadcast(centroidVectors(s, d, vpack)))
      .select(col("vec_id"), col("ccid"), dot("v", "cv").as("cdot"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cdot"), (-col("ccid")).as("nid"))).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("cell"))
    vpack.join(assign, "vec_id")
  }

  /** Exact in-cell k-NN edges (src, dst) of celled vectors (vec_id,
    * cell, v): per-cell quadratic, ties on dst. */
  private[operators] def inCellKnn(vp: DataFrame, k: Int): DataFrame =
    vp.select(col("vec_id").as("src"), col("cell"), col("v").as("va"))
      .join(vp.select(col("vec_id").as("dst"), col("cell").as("cell2"),
          col("v").as("vb")),
        col("cell") === col("cell2") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"), d2("va", "vb").as("dd"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dd"), col("dst"))))
      .where(col("rn") <= k)
      .select(col("src"), col("dst"))

  /** A navigable layer over celled vectors (vec_id, cell, v): the
    * `knn` edges ∪ vec → its cell's hub (the cell's smallest vec_id) ∪
    * the hub↔hub mesh (≤ c² long-range links, the cross-cell
    * navigability), deduplicated. */
  private[operators] def cellGraph(vp: DataFrame, knn: DataFrame): DataFrame = {
    val hub = vp.groupBy(col("cell")).agg(min(col("vec_id")).as("h"))
    val toHub = vp.select(col("vec_id"), col("cell")).join(hub, "cell")
      .where(col("vec_id") =!= col("h"))
      .select(col("vec_id").as("src"), col("h").as("dst"))
    val mesh = hub.select(col("h").as("src"))
      .crossJoin(hub.select(col("h").as("dst")))
      .where(col("src") =!= col("dst"))
    knn.unionByName(toHub).unionByName(mesh).distinct()
  }

  /** Exact distances (qid, vec_id, dd) of candidate (qid, vec_id) rows
    * to their query, over packed vectors and query rows (qid, qv). */
  private[operators] def rescore(cand: DataFrame, vpack: DataFrame,
      qp: DataFrame): DataFrame = cand
    .join(vpack.select(col("vec_id"), col("v").as("vb")), "vec_id")
    .join(broadcast(qp), "qid")
    .select(col("qid"), col("vec_id"), d2("qv", "vb").as("dd"))

  /** Each query's exact nearest vec_id % 16 == 0 node (qid, vec_id, dd):
    * the single-upper-layer entry point. */
  private[operators] def strideEntry(vpack: DataFrame,
      qp: DataFrame): DataFrame =
    qp.crossJoin(vpack.where(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("cand"), col("v").as("vb")))
      .select(col("qid"), col("cand").as("vec_id"), d2("qv", "vb").as("dd"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dd"), col("vec_id"))))
      .where(col("rn") === 1)
      .select(col("qid"), col("vec_id"), col("dd"))

  /** SHARED beam-16 layer-0 search over a built HNSW fixture — the
    * batched production variant (best-first is the paper-parity study
    * in Extras160). `entry(vpack, qp)` gives each query's start node
    * (qid, vec_id, dd); `rounds` beam rounds follow. q_llm_ann_hnsw and
    * q_llm_ann_hnsw_div run 5 rounds from `strideEntry`;
    * q_llm_ann_hnsw_ml runs 4 from its upper-layer descent; ScaleProbe
    * varies `rounds` for its budget-vs-edge-bound recall probe. */
  private[graft] def hnswBeamSearch(s: SparkSession, idxDir: String,
      rounds: Int = 5,
      entry: (DataFrame, DataFrame) => DataFrame = strideEntry)
      : DataFrame = {
    val P = s.conf.get("spark.sql.shuffle.partitions").toInt
    // SEARCH: read the built index; both relations are re-joined every
    // beam round, so one checkpoint each (shared-subtree rule)
    val vpack = s.read.parquet(s"$idxDir/vpack").duckCkpt()
    val edges = s.read.parquet(s"$idxDir/edges")
      .repartition(P, col("src"))
      .duckCkpt()
    val qp = vpack.where(col("vec_id").between(0, 3))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .duckCkpt()
    // beam rounds: ONE state relation (qid, vec_id, dd, exp), one
    // Fixpoint round each (all rows ≤ 4·(B·9·rounds) — the
    // densest-subgraph driver-loop convention; the three-relation
    // best/visited/frontier form cost 3 checkpoint actions per round,
    // ~2× the wall-clock, same semantics)
    val bw = Window.partitionBy(col("qid"))
      .orderBy(col("dd"), col("vec_id"))
    val state = Fixpoint.rounds(
        entry(vpack, qp).withColumn("exp", lit(false)), rounds) { state =>
      // frontier = the 16 best not-yet-expanded per query
      val front = state.where(!col("exp"))
        .withColumn("rn", row_number().over(bw))
        .where(col("rn") <= 16)
        .select(col("qid"), col("vec_id"))
      val cand = front.join(edges, front("vec_id") === edges("src"))
        .select(col("qid"), col("dst").as("vec_id")).distinct()
        .join(state.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_anti")
      state
        .join(front.withColumn("f", lit(true)),
          Seq("qid", "vec_id"), "left")
        .select(col("qid"), col("vec_id"), col("dd"),
          (col("exp") || coalesce(col("f"), lit(false))).as("exp"))
        .unionByName(rescore(cand, vpack, qp).withColumn("exp", lit(false)))
    }.last
    state.where(col("vec_id") =!= col("qid"))
      .withColumn("rank", row_number().over(bw).cast("long"))
      .where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"),
        r6(col("dd").cast("double") / lit(1e12)).as("dist"))
      .orderBy(col("qid"), col("rank"))
  }

  val oracle: Map[String, String] = Map(

    "q_llm_ann_ivfpq_residual" ->
      """WITH x AS (SELECT vec_id, embedding,
                      unnest(generate_series(1, len(embedding))) AS dim
                    FROM embeddings),
            e AS (SELECT vec_id, dim, (dim - 1) // 4 AS sub,
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
            cent AS (SELECT vec_id AS ccid, dim, q6 AS c6
                     FROM e, nc WHERE vec_id < c),
            cd AS (SELECT e.vec_id, cent.ccid,
                     CAST(SUM(e.q6 * cent.c6) AS BIGINT) AS cdot
                   FROM e JOIN cent ON e.dim = cent.dim
                   GROUP BY 1, 2),
            assign AS (SELECT vec_id, ccid AS cell FROM (
                       SELECT vec_id, ccid, row_number() OVER (
                         PARTITION BY vec_id ORDER BY cdot DESC, ccid)
                         AS rn
                       FROM cd) t WHERE rn = 1),
            qprobe AS (SELECT vec_id AS qid, ccid AS cell FROM (
                       SELECT vec_id, ccid, row_number() OVER (
                         PARTITION BY vec_id ORDER BY cdot DESC, ccid)
                         AS rn
                       FROM cd WHERE vec_id BETWEEN 0 AND 3) t, nc
                       WHERE rn <= np),
            resid AS (SELECT e.vec_id, e.dim, e.sub,
                        e.q6 - cent.c6 AS r6
                      FROM e
                      JOIN assign ON assign.vec_id = e.vec_id
                      JOIN cent ON cent.ccid = assign.cell
                        AND cent.dim = e.dim),
            rcb AS (SELECT vec_id AS cw, dim, r6 AS rc6
                    FROM resid, nc
                    WHERE vec_id >= c AND (vec_id - c) % s = 0
                      AND (vec_id - c) // s < 256),
            encd AS (SELECT vec_id, sub, cw AS code FROM (
                     SELECT resid.vec_id, resid.sub, rcb.cw,
                       row_number() OVER (
                         PARTITION BY resid.vec_id, resid.sub
                         ORDER BY SUM((resid.r6 - rcb.rc6)
                           * (resid.r6 - rcb.rc6)), rcb.cw) AS rn
                     FROM resid JOIN rcb ON resid.dim = rcb.dim
                     GROUP BY resid.vec_id, resid.sub, rcb.cw) t
                   WHERE rn = 1),
            qe AS (SELECT vec_id AS qid, dim, sub, q6 FROM e
                   WHERE vec_id BETWEEN 0 AND 3),
            qres AS (SELECT qprobe.qid, qprobe.cell, qe.dim, qe.sub,
                       qe.q6 - cent.c6 AS rq6
                     FROM qprobe
                     JOIN qe ON qe.qid = qprobe.qid
                     JOIN cent ON cent.ccid = qprobe.cell
                       AND cent.dim = qe.dim),
            adc AS (SELECT qres.qid, qres.cell, qres.sub, rcb.cw,
                      CAST(SUM((qres.rq6 - rcb.rc6)
                        * (qres.rq6 - rcb.rc6)) AS BIGINT) AS d_qc
                    FROM qres JOIN rcb ON qres.dim = rcb.dim
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

    "q_llm_ann_hnsw" -> {
      // 5 unrolled beam rounds; every multi-referenced CTE
      // MATERIALIZED (the playbook re-evaluation rule — b/v/f chains
      // would otherwise re-run exponentially).
      val rounds = (1 to 5).map { t =>
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
            qd AS MATERIALIZED (
              SELECT vec_id AS qid, dim, q6 FROM e
              WHERE vec_id BETWEEN 0 AND 3),
            up AS (SELECT vec_id FROM asg WHERE vec_id % 16 = 0),
            b0 AS MATERIALIZED (
              SELECT qid, vec_id, dd FROM (
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
            f0 AS MATERIALIZED (SELECT qid, vec_id FROM b0),
            v0 AS (SELECT qid, vec_id FROM f0 WHERE 1 = 0),
            $rounds
         SELECT qid, rank, vec_id,
                round(CAST(dd AS DOUBLE) / 1e12, 6) AS dist
         FROM (SELECT qid, vec_id, dd,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dd, vec_id) AS BIGINT) AS rank
               FROM b5 WHERE vec_id <> qid) rk
         WHERE rank <= 10 ORDER BY qid, rank"""
    }
  )
}
