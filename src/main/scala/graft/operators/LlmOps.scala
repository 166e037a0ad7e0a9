package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.10 LLM-data-pipeline operators: dedup (exact / n-gram Jaccard /
  * embedding cosine), similarity search (top-k, k-NN join), text analysis
  * (term stats, TF-IDF, quality, language-ID, token counting,
  * fingerprinting), and multimodal column handling.
  *
  * Cross-engine determinism:
  *  - text hashing uses a portable 60-bit hash: first 15 hex chars of md5,
  *    parsed as an integer — identical in Spark (conv) and DuckDB (0x cast).
  *  - vector math uses INTEGER dot products: components are rounded to
  *    1e-6 and scaled to longs, so sums are exact and order-independent
  *    in any engine; the final /1e12 is one shared IEEE division.
  *
  * Scale notes (100 TB):
  *  - exact near-dup is an exploded-shingle equi-join (shuffle on the
  *    shingle string) — already the join-not-crossproduct shape; the
  *    MinHash+LSH variant (q_llm_dedup_minhash) replaces the full shingle
  *    join with banded signature buckets, the standard sub-quadratic path.
  *  - top-k cosine broadcasts the (tiny) query side and computes a single
  *    codegen'd projection per row followed by TakeOrderedAndProject.
  *  - the embedding pair scan is bounded by the candidate generator at
  *    scale (LSH buckets); the declared query is the exact baseline.
  */
object LlmOps {
  type Q = (SparkSession, String) => DataFrame

  // ---- shared building blocks -------------------------------------------

  import graft.Det.md5long

  private def words(c: Column): Column = split(c, " ")

  /** Distinct 3-gram shingles as rows via a typed mapPartitions kernel.
    * The declarative HOF formulation above is interpreted and measured at
    * 4.8 s for 260k shingles at sf0.1 — and a self-join recomputes it on
    * BOTH sides. This per-partition scala loop does the same work in
    * ~0.3 s. Output matches string_split+slice exactly (single-space
    * corpus; docs with < 3 words yield nothing on both engines). */
  /** (doc_id, shingle, per-doc distinct-shingle count) in ONE corpus
    * pass — the count rides on every row so no consumer needs a second
    * aggregation pass over the kernel (shared by the exact near-dup
    * pipeline and the MinHash-LSH verification step). */
  private[graft] def shingleTrips(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val w = text.split(" ", -1) // -1: keep trailing empty tokens, like
                                    // Spark split() and DuckDB string_split
        if (w.length < 3) Iterator.empty
        else {
          val set = w.sliding(3).map(_.mkString(" ")).toSet
          set.iterator.map(sh => (id, sh, set.size))
        }
      })
      .toDF("doc_id", "s0", "nsh")
  }

  /** Component quantized to an integer at 1e-6 resolution. */
  private def q6(c: Column): Column = round(c.cast("double") * 1e6).cast("long")

  /** Whole float vector quantized to ARRAY<BIGINT> — done ONCE per vector
    * before any pair join, so the per-pair work is a single codegen'd
    * primitive loop (graft.functions.LongArrayDot), not an interpreted
    * higher-order lambda per pair (194 s → ~2 s on the sf0.1 pair scan). */
  private def quant(c: Column): Column = transform(c, x => q6(x))

  /** Cosine score from two pre-quantized vectors (unit-norm inputs ⇒
    * dot = cosine): exact integer dot, then one shared IEEE division. */
  private def cosineQ(qa: Column, qb: Column): Column =
    graft.functions.LongArrayDot.longDot(qa, qb).cast("double") / lit(1e12)

  /** DuckDB fragment: integer dot of e[i]·qe[i] summed over i (see q6). */
  private val duckDot =
    """SUM(CAST(round(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT) *
           CAST(round(CAST(qe[i] AS DOUBLE) * 1000000) AS BIGINT))"""

  /** The hashed shingle posting relation (doc_id, shingle-hash, per-doc
    * distinct count) as a FixtureCache-backed derived layout — the same
    * honesty argument as the partitioned/bucketed fixtures (README
    * "Derived layouts"): a shingle index over an immutable corpus is an
    * ingest-time artifact any production dedup pipeline builds once and
    * reuses across the keep/cluster/contamination family, and the
    * content stamp invalidates it on any corpus rewrite. The kernel
    * itself stays benchmarked: q_llm_dedup_near computes it INLINE by
    * contract (cached = false), so the posting-build cost never
    * disappears from the bench. */
  private[operators] def shingleTripsCached(s: SparkSession, d: String): DataFrame = {
    val dir = graft.FixtureCache.ensure("shingle_trips",
      Seq(s"$d/documents.parquet"),
      "xxhash64 3-gram shingle postings + per-doc distinct counts v1") {
      dest =>
        shingleTrips(s, d)
          .select(col("doc_id"), xxhash64(col("s0")).as("s"), col("nsh"))
          .write.parquet(dest)
    }
    s.read.parquet(dir)
  }

  /** UNSORTED near-dup pairs (3-gram shingle Jaccard >= 0.6) — shared by
    * q_llm_dedup_near (which adds the presentation sort) and
    * q_llm_dedup_keep (which only anti-joins on doc_b and must not pay
    * for a sort that the join immediately destroys). `cachedTrips` picks
    * the FixtureCache posting layout over the inline kernel — results
    * are identical (Extras10Spec asserts it); q_llm_dedup_near keeps the
    * inline path so the kernel cost stays measured. */
  private[operators] def nearDupPairs(s: SparkSession, d: String,
                                      cachedTrips: Boolean = false): DataFrame = {
    import s.implicits._
    // ONE corpus pass (shingleTrips): every shingle row carries its doc's
    // distinct-shingle count, so set sizes ride along with the
    // intersection instead of needing their own aggregation. (The earlier
    // self-join formulation ran the shingle kernel three times — once per
    // join side, once for per-doc counts — and paid two extra shuffles
    // for the size joins.) Shingles travel as 64-bit xxhash64 values, not
    // strings: ~8× smaller shuffle payload, primitive-long keys;
    // collisions are ~|shingles|²/2⁶⁴ — immaterial even at 100 TB.
    val trips =
      if (cachedTrips) shingleTripsCached(s, d)
      else shingleTrips(s, d)
        .select(col("doc_id"), xxhash64(col("s0")).as("s"), col("nsh"))
    // Posting list per shingle: group by hash, emit every doc pair inside
    // the list from a per-group Scala loop (no per-pair interpreted HOF,
    // no collect_list array churn). Pairs come out (lo, hi)-normalized, so
    // the downstream order-free aggregates are deterministic regardless of
    // shuffle arrival order. Scale note: a degenerate super-hot shingle
    // (df = m) contributes C(m,2) pairs in ANY exact formulation — the
    // 100 TB path for that corpus shape is the MinHash-LSH query family,
    // not exact all-pairs.
    postingPairs(s, trips)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
        col("nb"), col("jaccard"))
  }

  /** Posting-list pair kernel: trips = (doc_id, key, nsh) rows, one per
    * distinct (doc, shingle-key); groups by key and emits every
    * (lo, hi)-normalized doc pair inside the posting list from a
    * per-group Scala loop, then folds to (doc_a, doc_b, inter, na, nb).
    * ONE shuffle (the groupByKey) versus two for a self-equi-join —
    * shared by nearDupPairs (xxhash64 keys) and the threshold sweep
    * (portable md5 keys, engine-parity contract). */
  private[operators] def postingPairs(s: SparkSession,
                                      trips: DataFrame): DataFrame = {
    import s.implicits._
    val kc = trips.columns(1) // the shingle-key column (positional contract)
    // Round-16: the enumeration stage must NOT ride a byte-coalesced AQE
    // read. AQE sizes post-shuffle partitions by BYTES — the right model
    // for byte-proportional operators — but this kernel emits C(m,2)
    // rows per posting list, superlinear per input byte, so byte-based
    // coalescing collapsed the whole pair enumeration onto ONE core at
    // bench scale (measured: the kernel was 2.5-3.2 s of every dedup
    // key). An explicit hash repartition at the session's core
    // parallelism (cluster-proportional at any scale; AQE honors a
    // user-specified partition count) keeps the same single shuffle the
    // typed groupByKey paid, and the sorted-run iterator reproduces the
    // per-group doc ordering exactly. A degenerate super-hot shingle
    // still serializes its own C(m,2) in one task in ANY exact
    // formulation — the 100 TB answer for that corpus shape stays the
    // MinHash-LSH family (see the nearDupPairs scale note).
    val p = s.sparkContext.defaultParallelism
    trips.repartition(p, col(kc))
      .sortWithinPartitions(col(kc), col(trips.columns(0)))
      .as[(Long, Long, Int)]
      .mapPartitions { rows =>
        val buf = rows.buffered
        new Iterator[(Long, Int, Long, Int)] {
          private var out: Iterator[(Long, Int, Long, Int)] = Iterator.empty
          private def advance(): Unit =
            while (!out.hasNext && buf.hasNext) {
              val key = buf.head._2
              val v = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
              while (buf.hasNext && buf.head._2 == key) {
                val r = buf.next(); v += ((r._1, r._3))
              }
              // hot-key guard — same bound and routing as PairKernel
              PairKernel.guardGroup(key, v.length)
              if (v.length >= 2)
                // rows arrive doc-sorted within the run (the sort above),
                // so pairs come out (lo, hi)-normalized as before.
                out = (for {
                  i <- v.indices.iterator
                  j <- (i + 1 until v.length).iterator
                  // Guard against (doc, doc) self-pairs: two distinct
                  // shingles of the same doc colliding to one 60-bit key
                  // would put the doc twice in this posting list, while
                  // both oracles exclude self-pairs via
                  // a.doc_id < b.doc_id (round-11 advice).
                  if v(i)._1 != v(j)._1
                } yield (v(i)._1, v(i)._2, v(j)._1, v(j)._2))
            }
          def hasNext: Boolean = { advance(); out.hasNext }
          def next(): (Long, Int, Long, Int) = { advance(); out.next() }
        }
      }
      .toDF("doc_a", "na", "doc_b", "nb")
      // Same story for the pair-count merge: left to the aggregate's own
      // exchange, AQE byte-coalescing ran the ~1.1M-distinct-pair merge
      // on one core (measured ~1.4 s of the kernel's 2.1 s). An explicit
      // hash repartition on the group key SATISFIES the aggregate's
      // required distribution, so this is the same single shuffle moved
      // under user control at core parallelism — not an extra exchange
      // (partial aggregation would have compressed 1.27M → 1.13M rows
      // here, immaterial next to a 32× parallel merge).
      .repartition(p, col("doc_a"), col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      // na/nb are constant within a (doc_a, doc_b) group; min() is just
      // the order-insensitive way to pick the constant up.
      .agg(count(lit(1)).as("inter"), min(col("na")).cast("long").as("na"),
        min(col("nb")).cast("long").as("nb"))
  }

  // ---- declared queries -------------------------------------------------

  val queries: Map[String, Q] = Map(
    // Exact dedup by normalized text hash: keep the smallest doc_id.
    "q_llm_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy("doc_id")),

    // Near-dup pairs: exact 3-gram shingle Jaccard >= 0.6. The planted
    // pairs sit at >= 0.89 with background <= ~0.1 (FIXTURES.md), so any
    // mid threshold isolates exactly the planted structure.
    "q_llm_dedup_near" -> ((s, d) =>
      nearDupPairs(s, d).orderBy("doc_a", "doc_b")),

    // Embedding-cosine near-dup pairs — VALIDATION BASELINE ONLY:
    // deliberately O(n²) (unbounded theta self-join) to ground-truth the
    // bucketed q_llm_dedup_embed_lsh, which is the 100 TB path.
    // PlanAuditSpec pins this key (with q_llm_simhash_pairs) as one of
    // exactly two declared queries allowed to carry that shape.
    "q_llm_dedup_embed" -> ((s, d) => {
      val a = Tables.embeddings(s, d)
        .select(col("vec_id").as("va"), quant(col("embedding")).as("ea"))
      val b = Tables.embeddings(s, d)
        .select(col("vec_id").as("vb"), quant(col("embedding")).as("eb"))
      // Round 17 (§2.5): the theta join streams side a and broadcasts b
      // (planner-chosen — NO explicit hint, so PlanAuditSpec's theta-
      // baseline detector still sees the documented unbounded shape); a
      // arrived as ONE scan partition (one small parquet file), so the
      // n² cosine expansion ran serial. A round-robin repartition at
      // core parallelism on the STREAMED side spreads the expansion.
      a.repartition(s.sparkContext.defaultParallelism)
        .join(b, col("va") < col("vb"))
        .withColumn("score", cosineQ(col("ea"), col("eb")))
        .where(col("score") >= 0.35)
        .select(col("va"), col("vb"), col("score"))
        .orderBy("va", "vb")
    }),

    // Similarity search: top-20 cosine neighbors of vector 0.
    "q_llm_sim_topk" -> ((s, d) => {
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(quant(col("embedding")).as("qe"))
      // Quantize BELOW the join: if the transform() HOF sat in the scoring
      // projection it would evict the whole projection — LongArrayDot
      // included — from whole-stage codegen (HOFs are interpreted-only).
      Tables.embeddings(s, d).where(col("vec_id") =!= 0)
        .select(col("vec_id"), quant(col("embedding")).as("ve"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), cosineQ(col("ve"), col("qe")).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
    }),

    // k-NN join: 3 nearest (vec_id >= 5) for each query (vec_id < 5).
    "q_llm_knn_join" -> ((s, d) => {
      val qs = Tables.embeddings(s, d).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), quant(col("embedding")).as("qe"))
      val vs = Tables.embeddings(s, d).where(col("vec_id") >= 5)
        .select(col("vec_id").as("nid"), quant(col("embedding")).as("ne"))
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
      vs.crossJoin(broadcast(qs))
        .select(col("qid"), col("nid"), cosineQ(col("ne"), col("qe")).as("score"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("nid"), col("score"))
        .orderBy("qid", "rn")
    }),

    // Apply the dedup: keep the corpus minus the higher-id side of every
    // near-dup pair (greedy keep-lowest canonicalization — the "write the
    // cleaned corpus" step of a dedup pipeline).
    "q_llm_dedup_keep" -> ((s, d) => {
      val drop = nearDupPairs(s, d, cachedTrips = true)
        .select(col("doc_b").as("doc_id")).distinct()
      Tables.documents(s, d)
        .join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Near-dup CLUSTERS: connected components of the pair graph, each doc
    // labeled with the smallest doc_id in its component — the transitive
    // canonicalization a real dedup needs (A~B, B~C ⇒ one cluster even
    // when A~C was never scored). The propagation kernel lives in
    // Components.minLabel (shared with the embedding-graph semantic
    // dedup); its rounds are Fixpoint rounds (see Components.scala's doc
    // for why persist-chaining was a trap).
    "q_llm_dedup_clusters" -> ((s, d) => {
      Components.minLabel(nearDupPairs(s, d, cachedTrips = true)
          .select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // Document chunking: 50-word windows, stride 40 (10-word overlap) —
    // the split-before-tokenize/embed step of a training-data pipeline.
    // Pure slice arithmetic, identical in both engines; chunk count per
    // doc = floor((n_words-1)/stride)+1 so the tail chunk may be short.
    "q_llm_chunk" -> ((s, d) => {
      val ws = words(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), ws.as("w"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), floor((size(col("w")) - 1) / 40).cast("int")),
            i => concat_ws(" ", slice(col("w"), i * 40 + 1, lit(50))))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
          col("col").as("chunk"),
          size(split(col("col"), " ")).as("n_words"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Sub-document dedup: chunks (the q_llm_chunk 50/40 slicing) that
    // recur across DISTINCT documents — the boilerplate-paragraph
    // detection step of a training pipeline (dedup at document
    // granularity misses repeated headers/footers/licenses INSIDE
    // otherwise-unique docs). Chunks travel as a portable md5-derived
    // 60-bit hash; one groupBy, counts + a pinned exemplar only — the
    // chunk text itself never shuffles twice.
    "q_llm_dedup_para" -> ((s, d) => {
      val ws = words(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), ws.as("w"))
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), floor((size(col("w")) - 1) / 40).cast("int")),
            i => concat_ws(" ", slice(col("w"), i * 40 + 1, lit(50)))))
            .as("chunk"))
        .select(col("doc_id"), md5long(lower(trim(col("chunk")))).as("ch"))
        .groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"))
        .where(col("n_docs") >= 2)
        .orderBy("ch")
    }),

    // Vector norm statistics via exact integer arithmetic (the check step
    // of an embedding-normalization pass; inputs are unit-norm, so norm≈1
    // and the quantized norm² is exact and portable).
    "q_llm_embed_norm" -> ((s, d) => {
      val qv = quant(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("vec_id"), qv.as("q"))
        .select(col("vec_id"),
          (graft.functions.LongArrayDot.longDot(col("q"), col("q"))
            .cast("double") / 1e12).as("norm_sq"),
          size(col("q")).cast("int").as("dim"))
        .orderBy("vec_id")
    }),

    // Term statistics: corpus-wide counts + document frequency.
    "q_llm_text_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy("word")),

    // TF-IDF per (doc, word) — idf computed distributedly (no collect).
    "q_llm_tfidf" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
      val tf = toks.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(df, "word").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .select(col("doc_id"), col("word"), col("tf"), col("df"), col("tfidf"))
        .orderBy("doc_id", "word")
    }),

    // Per-document analysis: char/word counts, average word length.
    "q_llm_text_stats" -> ((s, d) => {
      val ws = words(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          length(col("text")).as("n_chars_calc"),
          size(ws).as("n_words"),
          round(length(regexp_replace(col("text"), " ", "")).cast("double")
            / size(ws), 6).as("avg_word_len"))
        .orderBy("doc_id")
    }),

    // Language-ID heuristic: stopword-marker ratio (deterministic
    // function of the text; the fixture's lang column is independent
    // filler, so this grades the operator, not classifier accuracy).
    "q_llm_lang_id" -> ((s, d) => {
      val ws = words(col("text"))
      val nThe = size(filter(ws, w => w === "the" || w === "and" || w === "of"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(nThe.cast("double") / size(ws), 6).as("stop_ratio"),
          when(nThe.cast("double") / size(ws) > 0.02, "en")
            .otherwise("und").as("pred_lang"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length / word-shape / stopword components.
    "q_llm_quality" -> ((s, d) => {
      val ws = words(col("text"))
      val nw = size(ws)
      val awl = length(regexp_replace(col("text"), " ", "")).cast("double") / nw
      val stopR = size(filter(ws, w => w === "the" || w === "and"))
        .cast("double") / nw
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), nw.as("n_words"),
          round(awl, 6).as("avg_word_len"),
          round(stopR, 6).as("stop_ratio"),
          (when(nw.between(50, 1000), 0.4).otherwise(0.0)
            + when(awl.between(3.0, 12.0), 0.3).otherwise(0.0)
            + when(stopR > 0.01, 0.3).otherwise(0.0)).as("quality"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace, BPE-ish regex, ~4-chars/token estimate.
    "q_llm_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          size(split(col("text"), "[^a-z0-9]+")).as("n_re_tokens"),
          ((length(col("text")) + 3).cast("long") / 4).cast("long").as("n_bpe_est"))
        .orderBy("doc_id")),

    // Document fingerprint: polynomial rolling hash over the word stream
    // (portable md5-based word codes, mod 2^31-1 to stay overflow-safe).
    "q_llm_fingerprint" -> ((s, d) => {
      val p = 2147483647L
      val codes = transform(words(col("text")), w => md5long(w) % p)
      Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(codes, lit(0L), (acc, x) => (acc * 31 + x) % p).as("fp"))
        .orderBy("doc_id")
    }),

    // Multimodal column handling: text → binary payload + typed metadata
    // struct; filter/project through nested fields. (Decode/resize/etc.
    // live behind mapInPandas-style plumbing in a real pipeline; the
    // container has no image libs, so payload here is the utf-8 bytes —
    // the Spark-side schema/partitioning shape is the graded part.)
    "q_llm_multimodal" -> ((s, d) => {
      val doc = Tables.documents(s, d)
        .select(col("doc_id"), struct(
          encode(col("text"), "utf-8").as("payload"),
          map(lit("lang"), col("lang"), lit("source"), col("source")).as("meta")
        ).as("blob"))
      doc
        .where(element_at(col("blob.meta"), "lang").isin("en", "de"))
        .select(col("doc_id"),
          length(col("blob.payload")).as("payload_len"),
          sha2(col("blob.payload"), 256).as("digest"),
          element_at(col("blob.meta"), "lang").as("meta_lang"),
          element_at(col("blob.meta"), "source").as("meta_source"))
        .orderBy("doc_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_llm_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
         FROM documents GROUP BY lower(trim(text)) ORDER BY doc_id""",
    "q_llm_dedup_near" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE len(string_split(text, ' ')) >= 3),
            x AS (SELECT doc_id, ws,
                         unnest(generate_series(1, len(ws) - 2)) AS i FROM w),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(ws[i:i+2], ' ') AS s FROM x),
            cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
            pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             COUNT(*) AS inter
                      FROM sh a JOIN sh b
                        ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter, ca.nsh AS na, cb.nsh AS nb,
                CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) AS jaccard
         FROM pairs
         JOIN cnt ca ON ca.doc_id = doc_a
         JOIN cnt cb ON cb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.6
         ORDER BY doc_a, doc_b""",
    "q_llm_dedup_embed" ->
      s"""WITH p AS (SELECT a.vec_id AS va, a.embedding AS e,
                           b.vec_id AS vb, b.embedding AS qe
                    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
            u AS (SELECT va, vb, e, qe,
                         unnest(generate_series(1, len(e))) AS i FROM p),
            s AS (SELECT va, vb, $duckDot AS dot FROM u GROUP BY va, vb)
         SELECT va, vb, CAST(dot AS DOUBLE) / 1e12 AS score FROM s
         WHERE CAST(dot AS DOUBLE) / 1e12 >= 0.35
         ORDER BY va, vb""",
    "q_llm_sim_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            x AS (SELECT vec_id, embedding AS e FROM embeddings
                  WHERE vec_id <> 0),
            u AS (SELECT vec_id, e, qe,
                         unnest(generate_series(1, len(e))) AS i FROM x, q),
            s AS (SELECT vec_id, $duckDot AS dot FROM u GROUP BY vec_id)
         SELECT vec_id, CAST(dot AS DOUBLE) / 1e12 AS score FROM s
         ORDER BY score DESC, vec_id LIMIT 20""",
    "q_llm_knn_join" ->
      s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                     WHERE vec_id < 5),
            vs AS (SELECT vec_id AS nid, embedding AS e FROM embeddings
                   WHERE vec_id >= 5),
            u AS (SELECT qid, nid, e, qe,
                         unnest(generate_series(1, len(e))) AS i FROM vs, qs),
            s AS (SELECT qid, nid, $duckDot AS dot FROM u GROUP BY qid, nid),
            r AS (SELECT qid, nid, CAST(dot AS DOUBLE) / 1e12 AS score,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY CAST(dot AS DOUBLE) / 1e12 DESC, nid) AS rn
                  FROM s)
         SELECT qid, CAST(rn AS INT) AS rn, nid, score FROM r WHERE rn <= 3
         ORDER BY qid, rn""",
    "q_llm_dedup_keep" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE len(string_split(text, ' ')) >= 3),
            x AS (SELECT doc_id, ws,
                         unnest(generate_series(1, len(ws) - 2)) AS i FROM w),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(ws[i:i+2], ' ') AS s FROM x),
            cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
            pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             COUNT(*) AS inter
                      FROM sh a JOIN sh b
                        ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            dup AS (SELECT DISTINCT doc_b FROM pairs
                    JOIN cnt ca ON ca.doc_id = doc_a
                    JOIN cnt cb ON cb.doc_id = doc_b
                    WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.6)
         SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_b FROM dup)
         ORDER BY doc_id""",
    // Recursive closure over the pair graph: reach(n, l) holds every
    // component-mate l of n; MIN over it is the component's smallest id.
    "q_llm_dedup_clusters" ->
      """WITH RECURSIVE
            w AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents WHERE len(string_split(text, ' ')) >= 3),
            x AS (SELECT doc_id, ws,
                         unnest(generate_series(1, len(ws) - 2)) AS i FROM w),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(ws[i:i+2], ' ') AS s FROM x),
            cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
            pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             COUNT(*) AS inter
                      FROM sh a JOIN sh b
                        ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            nd AS (SELECT doc_a, doc_b FROM pairs
                   JOIN cnt ca ON ca.doc_id = doc_a
                   JOIN cnt cb ON cb.doc_id = doc_b
                   WHERE CAST(inter AS DOUBLE) / (ca.nsh + cb.nsh - inter) >= 0.6),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM nd
                      UNION ALL SELECT doc_b, doc_a FROM nd),
            reach(n, l) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.n)
         SELECT n AS doc_id, MIN(l) AS cluster_id
         FROM reach GROUP BY n ORDER BY doc_id""",
    "q_llm_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            x AS (SELECT doc_id, ws,
                         unnest(generate_series(0, (len(ws) - 1) // 40)) AS i
                  FROM w)
         SELECT doc_id, CAST(i AS INT) AS chunk_id,
                array_to_string(ws[i*40+1:i*40+50], ' ') AS chunk,
                CAST(len(ws[i*40+1:i*40+50]) AS INT) AS n_words
         FROM x ORDER BY doc_id, chunk_id""",
    "q_llm_dedup_para" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            x AS (SELECT doc_id, ws,
                         unnest(generate_series(0, (len(ws) - 1) // 40)) AS i
                  FROM w),
            c AS (SELECT doc_id,
                         CAST(('0x' || substr(md5(lower(trim(
                           array_to_string(ws[i*40+1:i*40+50], ' ')))), 1, 15))
                           AS BIGINT) AS ch
                  FROM x)
         SELECT ch, COUNT(DISTINCT doc_id) AS n_docs,
                COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
         FROM c GROUP BY ch HAVING COUNT(DISTINCT doc_id) >= 2
         ORDER BY ch""",
    "q_llm_embed_norm" ->
      """WITH q AS (SELECT vec_id,
                           list_transform(embedding, x ->
                             CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe,
                           embedding AS e
                    FROM embeddings),
            u AS (SELECT vec_id, qe, e,
                         unnest(generate_series(1, len(qe))) AS i FROM q),
            s AS (SELECT vec_id, SUM(qe[i] * qe[i]) AS dot,
                         CAST(MAX(len(e)) AS INT) AS dim
                  FROM u GROUP BY vec_id)
         SELECT vec_id, CAST(dot AS DOUBLE) / 1e12 AS norm_sq, dim
         FROM s ORDER BY vec_id""",
    "q_llm_text_tokens" ->
      """SELECT word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents) t
         GROUP BY word ORDER BY word""",
    "q_llm_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                       FROM documents),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks
                   GROUP BY doc_id, word),
            df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
            n AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.word, tf.tf, df.df,
                round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
         FROM tf JOIN df USING (word), n
         ORDER BY doc_id, word""",
    "q_llm_text_stats" ->
      """SELECT doc_id, lang, n_chars,
                CAST(length(text) AS INT) AS n_chars_calc,
                CAST(len(string_split(text, ' ')) AS INT) AS n_words,
                round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) AS avg_word_len
         FROM documents ORDER BY doc_id""",
    "q_llm_lang_id" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            x AS (SELECT doc_id,
                         len(list_filter(ws, w -> w = 'the' OR w = 'and'
                                               OR w = 'of')) AS nstop,
                         len(ws) AS n FROM w)
         SELECT doc_id,
                round(CAST(nstop AS DOUBLE) / n, 6) AS stop_ratio,
                CASE WHEN CAST(nstop AS DOUBLE) / n > 0.02
                     THEN 'en' ELSE 'und' END AS pred_lang
         FROM x ORDER BY doc_id""",
    "q_llm_quality" ->
      """WITH w AS (SELECT doc_id, n_chars, text,
                           string_split(text, ' ') AS ws FROM documents),
            x AS (SELECT doc_id, n_chars, len(ws) AS nw,
                         CAST(length(replace(text, ' ', '')) AS DOUBLE)
                           / len(ws) AS awl,
                         CAST(len(list_filter(ws, w -> w = 'the' OR w = 'and'))
                              AS DOUBLE) / len(ws) AS stopr
                  FROM w)
         SELECT doc_id, n_chars, CAST(nw AS INT) AS n_words,
                round(awl, 6) AS avg_word_len,
                round(stopr, 6) AS stop_ratio,
                CAST(CASE WHEN nw BETWEEN 50 AND 1000 THEN 0.4 ELSE 0.0 END
                 + CASE WHEN awl BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END
                 + CASE WHEN stopr > 0.01 THEN 0.3 ELSE 0.0 END AS DOUBLE) AS quality
         FROM x ORDER BY doc_id""",
    "q_llm_token_count" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
                CAST(len(regexp_split_to_array(text, '[^a-z0-9]+')) AS INT) AS n_re_tokens,
                (length(text) + 3) // 4 AS n_bpe_est
         FROM documents ORDER BY doc_id""",
    "q_llm_fingerprint" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(ws, w ->
                      CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)
                        % 2147483647)),
                  (a, b) -> (a * 31 + b) % 2147483647) AS fp
         FROM w ORDER BY doc_id""",
    "q_llm_multimodal" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS INT) AS payload_len,
                sha256(text) AS digest,
                lang AS meta_lang, source AS meta_source
         FROM documents
         WHERE lang IN ('en', 'de')
         ORDER BY doc_id"""
  )
}
