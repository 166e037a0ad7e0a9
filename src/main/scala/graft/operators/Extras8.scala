package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{FixtureCache, Tables}
import graft.streaming.{Event, StreamOps}

/** Round-5 batch 3: arbitrary-stateful streaming in the graded set
  * (flatMapGroupsWithState running totals), two more source formats —
  * line-oriented text and the binaryFile reader (the multimodal ingest
  * front door: opaque payloads + file metadata, no decode on the scan) —
  * and the two classic mergeable stream summaries, count-min and Bloom.
  *
  * Unlike the HLL family (estimate differs by implementation → rows-only),
  * count-min counters and Bloom words are exact integer aggregates
  * (sums / bit-ORs — associative, commutative, merge-order-free), so the
  * SKETCHES THEMSELVES are oracle-checkable: both engines build
  * bit-identical state from the same portable hashes.
  */
object Extras8 {
  import graft.Det._

  /** Session-lifetime scratch dirs — unique per JVM, reused across
    * invocations (overwrite-in-place), so repeated verify/bench/test
    * cycles accumulate nothing. */
  private lazy val textTmpDir: String =
    java.nio.file.Files.createTempDirectory("graft_text_docs").toString
  private lazy val binTmpDir: String =
    java.nio.file.Files.createTempDirectory("graft_bin_docs").toString
  private lazy val libsvmTmpDir: String =
    java.nio.file.Files.createTempDirectory("graft_libsvm_emb").toString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Seventh REAL streaming query — ARBITRARY STATE in the graded set:
    // per-user running (count, exact-cents total) via
    // flatMapGroupsWithState under AvailableNow. Update mode re-emits a
    // user's latest state once per micro-batch; max_by(n_events) keeps
    // the final state per user whatever the batch split, so the result
    // equals the batch GROUP BY the oracle states. State is sharded by
    // user_id across state-store partitions — no global state, the
    // 100 TB shape — and each input partition combines its events into
    // one (count, cents) partial per user before the state shuffle.
    "q_stream_live_stateful" -> ((s, d) => {
      import s.implicits._
      val run = StreamOps.runningPerUserCents(
        StreamOps.eventsFileStream(s, d).as[Event])
      StreamOps.runToMemoryUpdate(run.toDF(), "live_stateful")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("cents"), col("n_events")).as("total_cents"))
        .orderBy("user_id")
    }),

    // Line-oriented text round-trip: the simplest interchange format —
    // one record per line, schema re-imposed on read (doc_id TAB text;
    // the fixture text is single-line and tab-free by construction).
    // Scale: text splits by line across tasks like any file source; the
    // re-parse is a row-local projection.
    "q_source_text" -> ((s, d) => {
      val tmp = textTmpDir + "/docs"
      Tables.documents(s, d)
        .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")))
        .write.mode("overwrite").text(tmp)
      s.read.text(tmp)
        .select(
          split(col("value"), "\t").getItem(0).cast("long").as("doc_id"),
          split(col("value"), "\t").getItem(1).as("text"))
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          substring(col("text"), 1, 40).as("head40"))
        .orderBy("doc_id")
    }),

    // binaryFile source — the multimodal ingest path: opaque per-object
    // payload files read as (path, length, content BINARY) with NO decode
    // at scan time; identity and integrity are projections (name parse +
    // sha256) over the binary column. Fixture: a bounded doc sample is
    // written one .bin per doc by the executors (foreachPartition — no
    // driver collect), then read back through the binaryFile reader.
    // NOTE java.nio here is local-mode-only fixture plumbing: on a real
    // cluster the payload store is an object store and this writer would
    // use the Hadoop FileSystem API against a shared scheme — the graded
    // capability is the binaryFile SCAN, which already goes through it.
    "q_source_binary" -> ((s, d) => {
      val tmp = binTmpDir + "/blobs"
      // Clear stale files first: the dir outlives invocations by design,
      // and a larger fixture's leftovers would otherwise pollute a
      // smaller run in the same JVM.
      val dir = new java.io.File(tmp)
      if (dir.exists()) dir.listFiles().foreach(_.delete())
      dir.mkdirs()
      Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .foreachPartition { it: Iterator[Row] =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, s"doc${r.getLong(0)}.bin"),
              r.getAs[Array[Byte]](1))
          }
        }
      s.read.format("binaryFile").load(tmp)
        .select(
          regexp_extract(col("path"), "doc(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length"), sha2(col("content"), 256).as("sha"))
        .orderBy("doc_id")
    }),

    // Count-min sketch with a FULL oracle: the 4×256 counter relation IS
    // the sketch — each counter is a plain COUNT over (row, bucket), a
    // partial+final aggregate any executor topology merges to the same
    // values. Estimates (min over the 4 probe cells) are therefore
    // deterministic too, unlike HLL's implementation-defined estimator.
    // At 100 TB the 1 024-row sketch relation broadcasts to every probe;
    // raw events aggregate once and never re-shuffle.
    "q_agg_countmin" -> ((s, d) => {
      def cell(key: org.apache.spark.sql.Column) = pmod(
        md5long(concat(col("r").cast("string"), lit(":"), key.cast("string"))),
        lit(256L))
      val ev = Tables.events(s, d)
      val counters = ev
        .select(col("user_id"), explode(sequence(lit(0), lit(3))).as("r"))
        .groupBy(col("r"), cell(col("user_id")).as("b"))
        .agg(count(lit(1)).as("n"))
      val probes = ev.where(pmod(col("user_id"), lit(13L)) === 0)
        .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      probes
        .select(col("user_id"), col("exact_n"),
          explode(sequence(lit(0), lit(3))).as("r"))
        .select(col("user_id"), col("exact_n"), col("r"),
          cell(col("user_id")).as("b"))
        .join(broadcast(counters), Seq("r", "b"))
        .groupBy(col("user_id"), col("exact_n"))
        .agg(min(col("n")).as("est_n"))
        .select(col("user_id").as("probe_user"), col("exact_n"), col("est_n"))
        .orderBy("probe_user")
    }),

    // Bloom filter with a FULL oracle: 1 024 bit positions packed into 17
    // bit_or-aggregated longs of 63 bits each (p div 63 → words 0..16;
    // 63-bit words because DuckDB refuses 1<<63), k=3 portable hash
    // positions per key, merge-order-free. Membership = all three bits
    // set; present keys can never miss (the spec asserts zero false
    // negatives), absent probes may collide — deterministically, since
    // the hashes are. The 17-word filter is the broadcastable artifact;
    // at scale it pre-filters a join's probe side (the hand-rolled
    // spelling of Spark's runtime bloom pushdown).
    "q_agg_bloom" -> ((s, d) => {
      def pos(key: org.apache.spark.sql.Column) = pmod(
        md5long(concat(col("k").cast("string"), lit("#"), key.cast("string"))),
        lit(1024L))
      val ev = Tables.events(s, d)
      val words = ev
        .select(col("user_id"), explode(sequence(lit(0), lit(2))).as("k"))
        .select(pos(col("user_id")).as("p"))
        .select(expr("p div 63").as("w"), pmod(col("p"), lit(63L)).as("bit"))
        .groupBy(col("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))")
          .as("word"))
      import s.implicits._
      val absent = Seq(1000003L, 1000033L, 1000037L, 1000039L, 1000081L)
        .toDF("user_id").select(col("user_id"), lit(false).as("present"))
      val probes = ev.select(col("user_id")).distinct()
        .where(pmod(col("user_id"), lit(11L)) === 0)
        .select(col("user_id"), lit(true).as("present"))
        .unionByName(absent)
      probes
        .select(col("user_id"), col("present"),
          explode(sequence(lit(0), lit(2))).as("k"))
        .select(col("user_id"), col("present"), pos(col("user_id")).as("p"))
        .select(col("user_id"), col("present"),
          expr("p div 63").as("w"), pmod(col("p"), lit(63L)).as("bit"))
        .join(broadcast(words), Seq("w"), "left")
        .groupBy(col("user_id"), col("present"))
        .agg(bool_and(coalesce(
          expr("(word & shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))) != 0"),
          lit(false))).as("is_member"))
        .select(col("user_id").as("probe_user"), col("present"),
          col("is_member"))
        .orderBy("probe_user")
    }),

    // Eighth REAL streaming query — transformWithState (the Spark 4
    // arbitrary-state API) in the graded set: per-user running max of
    // event values in a RocksDB-backed ValueState. Max is comparison-only
    // (no float arithmetic), so every emission is an exact input value
    // and the per-user max of emissions equals the batch MAX whatever the
    // micro-batch split. transformWithState requires the RocksDB
    // provider, which runToMemoryUpdate pins for the run. Each input
    // partition combines its events into one max per user first.
    "q_stream_live_tws" -> ((s, d) => {
      import s.implicits._
      val run = StreamOps.runningMax(
        StreamOps.eventsFileStream(s, d).as[Event]).toDF("user_id", "vmax")
      StreamOps.runToMemoryUpdate(run, "live_tws")
        .groupBy(col("user_id"))
        .agg(max(col("vmax")).as("max_value"))
        .orderBy("user_id")
    }),

    // Exact-arithmetic k-means assignment (one Lloyd step, k=4): every
    // distance is a DECIMAL sum of squared 6-dp-quantized differences, so
    // argmin comparisons are EXACT — no float-order nondeterminism
    // anywhere, and the oracle reproduces the identical integers. One
    // step rather than a fixed-N loop by design: iterating would need
    // the new centroids' means, whose 6-dp re-quantization is the one
    // documented cross-engine rounding hazard (see q_llm_ngram_lm note);
    // the iterative-convergence pattern itself is already exercised by
    // q_llm_dedup_clusters. Scale shape: centroids broadcast (k×dim
    // rows), embeddings never shuffle until the per-vector argmin.
    "q_llm_kmeans" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos", "x")
        .select(col("vec_id"), (col("pos") + 1).as("dim"),
          round(col("x").cast("double"), 6).cast(DecimalType(18, 6)).as("q"))
      val c = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("c"), col("dim"), col("q").as("cv"))
      val diff = (col("q") - col("cv")).cast(DecimalType(7, 6))
      val dist = e.join(broadcast(c), "dim")
        .groupBy(col("vec_id"), col("c"))
        .agg(sum(diff * diff).as("dist"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("dist"), col("c"))
      dist.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(e.where(col("dim") === 1)
          .select(col("vec_id"), col("q").as("q1")), "vec_id")
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("dist")).cast("double").as("inertia"),
          sum(col("q1")).cast("double").as("s_dim1"))
        .select(col("c").as("cluster"), col("n_members"),
          col("inertia"), col("s_dim1"))
        .orderBy("cluster")
    }),

    // libsvm source — the ML interchange format: embeddings serialized as
    // "label idx:val" lines (components pre-rounded to 6 dp so the text
    // is parse-exact; vec_id rides in the label field, which is the only
    // identity libsvm carries), read back through format("libsvm") into
    // (label, features VECTOR), then checksummed via vector_to_array +
    // exact DECIMAL sums. Ties are impossible by dyadic-rationality of
    // floats (a 7-digit-terminating decimal cannot be a float), so the
    // 6-dp round is cross-engine safe without slack.
    "q_source_libsvm" -> ((s, d) => {
      val tmp = libsvmTmpDir + "/emb"
      Tables.embeddings(s, d)
        .select(concat(col("vec_id").cast("string"), lit(" "),
          concat_ws(" ", transform(col("embedding"),
            (x, i) => concat((i + 1).cast("string"), lit(":"),
              round(x.cast("double"), 6).cast("string"))))).as("line"))
        .write.mode("overwrite").text(tmp)
      s.read.format("libsvm").load(tmp)
        .select(col("label").cast("long").as("vec_id"),
          org.apache.spark.ml.functions.vector_to_array(col("features"))
            .as("arr"))
        .select(col("vec_id"), size(col("arr")).as("dim"),
          expr("""CAST(aggregate(
                    transform(arr, x -> CAST(x AS DECIMAL(18,6))),
                    CAST(0 AS DECIMAL(28,6)),
                    (a, x) -> CAST(a + x AS DECIMAL(28,6)))
                  AS DOUBLE)""").as("vsum"))
        .orderBy("vec_id")
    }),

    // Triangle counting — the second graph-analytics operator (next to
    // q_llm_dedup_clusters' connected components): vertices are a
    // deterministic user subset, edges are hourly same-type co-occurrence
    // (distinct pairs), triangles close over three edge joins with
    // a<b<c ordering so each triangle counts once. Scale: the classic
    // approach — edges shuffle on their join vertex; the a<b orientation
    // halves the join fan-out; at 100 TB you'd add degree-based
    // orientation (join through the lower-degree endpoint).
    "q_graph_triangles" -> ((s, d) => {
      val e = Extras11.undirectedEdges(s, d)
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e2.b") === col("e3.b") && col("e1.a") === col("e3.a"))
        .agg(count(lit(1)).as("n_triangles"))
      // both sides are single-row aggregates; broadcast makes the bounded
      // contract explicit for the plan-audit theta-join sweep
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(tri))
    }),

    // Scalar CSV codec round-trip (the from_json/to_json sibling for
    // delimited text columns): to_csv serializes a struct, from_csv
    // re-imposes the schema. Output is the ROUND-TRIPPED fields — the
    // serialized line itself is engine-formatting-dependent (double
    // repr), but serialize∘parse is the identity both engines agree on,
    // so the oracle is simply the original columns.
    "q_fn_csv" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("""from_csv(
                    to_csv(struct(c_name, c_mktsegment, c_acctbal)),
                    'n STRING, seg STRING, bal DOUBLE')""").as("r"))
        .select(col("c_custkey"), col("r.n").as("name"),
          col("r.seg").as("seg"), col("r.bal").as("bal"))
        .orderBy("c_custkey")
    }),

    // Spark 4 XML codec: from_xml parses an XML document column against
    // a schema (the multimodal-metadata sidecar format). The document is
    // built from fixture columns (no escaping needed — the synthetic
    // strings carry no XML metacharacters), and the oracle states the
    // identity the round-trip must satisfy.
    "q_fn_xml" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("""from_xml(
                    concat('<r><n>', c_name, '</n><seg>', c_mktsegment,
                           '</seg><k>', c_nationkey, '</k></r>'),
                    'n STRING, seg STRING, k INT')""").as("r"))
        .select(col("c_custkey"), col("r.n").as("name"),
          col("r.seg").as("seg"), col("r.k").as("k"))
        .orderBy("c_custkey")
    }),

    // Window EXCLUDE CURRENT ROW (SQL:2011): Spark has no frame
    // exclusion, but over an exact DECIMAL sum the identity
    // frame−current is lossless — while the DuckDB oracle runs its
    // NATIVE EXCLUDE CURRENT ROW executor. Two genuinely different
    // implementations, one hash: the strongest cross-check shape (the
    // GROUPS-frame emulation only re-states its own rewrite).
    "q_win_exclude" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-5, 5)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          dec(col("value")).as("v"))
        .select(col("event_id"), col("user_id"),
          (sum(col("v")).over(w) - col("v")).cast("double").as("sum_excl"),
          (count(lit(1)).over(w) - 1).as("n_excl"))
        .orderBy("event_id")
    }),

    // Median absolute deviation — the robust dispersion partner of
    // q_agg_median: per-group median, one join back, median of absolute
    // deviations. All values are 0.25-grained doubles (quantities are
    // small integers), so every median/average is binary-exact — no
    // rounding needed. The oracle uses DuckDB's NATIVE mad(), again a
    // different implementation of the same definition.
    "q_agg_mad" -> ((s, d) => {
      val med = Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(median(col("l_quantity")).as("med"))
      Tables.lineitem(s, d).join(med, "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(median(abs(col("l_quantity") - col("med"))).as("mad_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // Spark 4 collations: UTF8_LCASE comparison semantics as a COLUMN
    // PROPERTY — distinct counts, equality and prefix predicates become
    // case-insensitive without rewriting every expression through
    // lower(). Mixed-case keys are synthesized (the fixture is uniform
    // caps); the oracle states the lower() rewrite the collation
    // replaces. Row-local + one agg; collation compares cost ~lower()
    // at scan time with no extra pass.
    "q_fn_collate" -> ((s, d) => {
      val mixed = when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
        .otherwise(lower(col("c_mktsegment")))
      Tables.customer(s, d)
        .select(col("c_custkey"), mixed.as("seg"))
        .agg(countDistinct(col("seg")).as("n_binary"),
          countDistinct(expr("collate(seg, 'UTF8_LCASE')")).as("n_lcase"),
          sum(when(expr("startswith(collate(seg, 'UTF8_LCASE'), 'bui')"),
            1L).otherwise(0L)).as("n_building"))
    }),

    // mask(): the built-in structural PII redaction (uppercase→X,
    // lowercase→x, digit→n, punctuation kept) — the typed sibling of
    // q_llm_pii_scrub's regex scrubbing. The oracle reconstructs the
    // same masking from three character-class replaces.
    "q_fn_mask" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("mask(concat(substring(text, 1, 20), ':', doc_id))")
            .as("masked"),
          expr("mask(concat(substring(text, 1, 20), ':', doc_id), " +
            "'#', '*', '9')").as("masked_custom"))
        .orderBy("doc_id")
    }),

    // Welch's t-test between two event populations — the hypothesis-test
    // member of the stats family (corr/regr/moments share the pattern):
    // exact DECIMAL power sums per group, pivoted to one row, then ONE
    // shared IEEE formula — mean difference and the t statistic. Scale:
    // a partial+final aggregate and a 2-row pivot; nothing re-shuffles.
    "q_agg_ttest" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val m = Tables.events(s, d)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("event_type"), dec(col("value")).as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).cast("double").as("s1"),
          sum((col("v") * col("v")).cast(DecimalType(38, 4)))
            .cast("double").as("s2"))
      def side(t: String, c: String) =
        max(when(col("event_type") === t, col(c)))
      val p = m.agg(
        side("purchase", "n").as("n1"), side("purchase", "s1").as("s11"),
        side("purchase", "s2").as("s21"),
        side("click", "n").as("n2"), side("click", "s1").as("s12"),
        side("click", "s2").as("s22"))
      val meanDiff = col("s11") / col("n1") - col("s12") / col("n2")
      val se = sqrt(
        (col("s21") - col("s11") * col("s11") / col("n1"))
          / (col("n1") - 1) / col("n1")
          + (col("s22") - col("s12") * col("s12") / col("n2"))
          / (col("n2") - 1) / col("n2"))
      p.select(col("n1"), col("n2"), r6(meanDiff).as("mean_diff"),
        r6(meanDiff / se).as("t_welch"))
    }),

    // Deterministic global shuffle + sharding — the "shuffle the training
    // data" step between mixing and packing: the sort key is a portable
    // md5 of the salted doc_id, so the permutation is reproducible across
    // engines, partitionings, and reruns (never rand()). Shards balance
    // by key modulo; position within a shard is a per-shard sort — ONE
    // shuffle on shard, per-partition sort, the exact shape of writing
    // N tfrecord-style shard files at 100 TB.
    "q_llm_shuffle" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5long(concat(lit("shuffle:"), col("doc_id").cast("string")))
            .as("k"))
        .withColumn("shard", pmod(col("k"), lit(8L)))
        .withColumn("pos", row_number().over(w))
        .select(col("shard"), col("pos"), col("doc_id"), col("k"))
        .orderBy("shard", "pos")
    }),

    // Dynamic partition pruning: the fact table is laid out by month
    // (80 partitions); the months that matter come from a FILTERED dim
    // relation, unknown until runtime — so static pruning can't help, and
    // DPP injects the dim's month set into the fact scan's
    // PartitionFilters (asserted by Extras8Spec: ~80% of partitions never
    // open). This is the partition-layout counterpart of
    // q_source_partitioned's static pruning, and at 100 TB the difference
    // between scanning 17 months and scanning 80.
    "q_join_dpp" -> ((s, d) => {
      // The month-partitioned fact layout is built ONCE per testdata
      // snapshot (FixtureCache) — it is the ingest-time artifact DPP
      // reads against, so the benchmark measures the pruned join, not a
      // rewrite of 80 partitions per invocation (round-5 verdict #1).
      val tmp = FixtureCache.ensure("orders_by_month",
        Seq(s"$d/orders.parquet"), "partitionBy(o_month yyyy-MM) v1") { dest =>
        Tables.orders(s, d)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
          .write.partitionBy("o_month").parquet(dest)
      }
      val dim = Tables.lineitem(s, d)
        .where(col("l_orderkey") < 100 && col("l_quantity") <= 2)
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("m")).distinct()
      s.read.parquet(tmp)
        .join(dim, col("o_month") === col("m"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_month")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_stream_live_stateful" ->
      """SELECT user_id, COUNT(*) AS n_events,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                     AS BIGINT) AS total_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_source_text" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
                substr(text, 1, 40) AS head40
         FROM documents ORDER BY doc_id""",
    // octet_length(encode(...)): the binaryFile source reports file BYTES
    // of the UTF-8 payload, so the oracle must count bytes, not characters
    // (length(text) only agreed while the fixture text was pure ASCII).
    "q_source_binary" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS length,
                sha256(text) AS sha
         FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""",
    "q_agg_countmin" ->
      """WITH r AS (SELECT unnest([0, 1, 2, 3]) AS r),
            c AS (SELECT r,
                    CAST(('0x' || substr(md5(r || ':' || user_id), 1, 15))
                         AS BIGINT) % 256 AS b,
                    COUNT(*) AS n
                  FROM events CROSS JOIN r GROUP BY 1, 2),
            p AS (SELECT user_id, COUNT(*) AS exact_n FROM events
                  WHERE user_id % 13 = 0 GROUP BY 1),
            pb AS (SELECT p.user_id, p.exact_n, r.r,
                     CAST(('0x' || substr(md5(r.r || ':' || p.user_id), 1, 15))
                          AS BIGINT) % 256 AS b
                   FROM p CROSS JOIN r)
         SELECT pb.user_id AS probe_user, pb.exact_n,
                CAST(MIN(c.n) AS BIGINT) AS est_n
         FROM pb JOIN c ON pb.r = c.r AND pb.b = c.b
         GROUP BY 1, 2 ORDER BY probe_user""",
    "q_agg_bloom" ->
      """WITH k AS (SELECT unnest([0, 1, 2]) AS k),
            pos AS (SELECT k.k,
                      CAST(('0x' || substr(md5(k.k || '#' || e.user_id), 1, 15))
                           AS BIGINT) % 1024 AS p
                    FROM events e CROSS JOIN k),
            w AS (SELECT p // 63 AS w,
                         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT))
                           AS word
                  FROM pos GROUP BY 1),
            pr AS (SELECT user_id, TRUE AS present
                   FROM (SELECT DISTINCT user_id FROM events)
                   WHERE user_id % 11 = 0
                   UNION ALL
                   SELECT unnest(CAST([1000003, 1000033, 1000037, 1000039,
                                       1000081] AS BIGINT[])) AS user_id,
                          FALSE AS present),
            pp AS (SELECT pr.user_id, pr.present,
                     CAST(('0x' || substr(md5(k.k || '#' || pr.user_id), 1, 15))
                          AS BIGINT) % 1024 AS p
                   FROM pr CROSS JOIN k)
         SELECT pp.user_id AS probe_user, pp.present,
                bool_and(COALESCE(
                  (w.word & (CAST(1 AS BIGINT) << CAST(pp.p % 63 AS INT)))
                    != 0, FALSE)) AS is_member
         FROM pp LEFT JOIN w ON pp.p // 63 = w.w
         GROUP BY 1, 2 ORDER BY probe_user""",
    "q_stream_live_tws" ->
      """SELECT user_id, MAX(value) AS max_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_llm_kmeans" ->
      """WITH x AS (SELECT vec_id, embedding,
                           unnest(generate_series(1, len(embedding))) AS dim
                    FROM embeddings),
            e AS (SELECT vec_id, dim,
                    CAST(round(CAST(embedding[dim] AS DOUBLE), 6)
                         AS DECIMAL(18,6)) AS q
                  FROM x),
            c AS (SELECT vec_id AS c, dim, q AS cv FROM e WHERE vec_id < 4),
            d AS (SELECT e.vec_id, c.c,
                    SUM(CAST(e.q - c.cv AS DECIMAL(7,6))
                        * CAST(e.q - c.cv AS DECIMAL(7,6))) AS dist
                  FROM e JOIN c USING (dim) GROUP BY 1, 2),
            a AS (SELECT vec_id, c, dist,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY dist, c) AS rn
                  FROM d)
         SELECT a.c AS cluster, COUNT(*) AS n_members,
                CAST(SUM(a.dist) AS DOUBLE) AS inertia,
                CAST(SUM(e1.q) AS DOUBLE) AS s_dim1
         FROM a JOIN e e1 ON e1.vec_id = a.vec_id AND e1.dim = 1
         WHERE a.rn = 1
         GROUP BY 1 ORDER BY cluster""",
    "q_source_libsvm" ->
      """WITH u AS (SELECT vec_id, len(embedding) AS dim,
                           unnest(embedding) AS x
                    FROM embeddings)
         SELECT vec_id, CAST(MAX(dim) AS INT) AS dim,
                CAST(SUM(CAST(round(CAST(x AS DOUBLE), 6)
                              AS DECIMAL(18,6))) AS DOUBLE) AS vsum
         FROM u GROUP BY vec_id ORDER BY vec_id""",
    "q_graph_triangles" ->
      """WITH v AS (SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h,
                                    event_type AS t, user_id AS u
                    FROM events WHERE user_id % 7 = 0),
            e AS (SELECT DISTINCT x.u AS a, y.u AS b
                  FROM v x JOIN v y
                    ON x.h = y.h AND x.t = y.t AND x.u < y.u)
         SELECT (SELECT COUNT(*) FROM e) AS n_edges,
                (SELECT COUNT(*)
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                           JOIN e e3 ON e2.b = e3.b AND e1.a = e3.a)
                  AS n_triangles""",
    "q_fn_csv" ->
      """SELECT c_custkey, c_name AS name, c_mktsegment AS seg,
                c_acctbal AS bal
         FROM customer ORDER BY c_custkey""",
    "q_fn_xml" ->
      """SELECT c_custkey, c_name AS name, c_mktsegment AS seg,
                c_nationkey AS k
         FROM customer ORDER BY c_custkey""",
    "q_win_exclude" ->
      """WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS t,
                           CAST(value AS DECIMAL(18,2)) AS v
                    FROM events)
         SELECT event_id, user_id,
                CAST(SUM(v) OVER w AS DOUBLE) AS sum_excl,
                COUNT(*) OVER w AS n_excl
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING
                      EXCLUDE CURRENT ROW)
         ORDER BY event_id""",
    "q_agg_mad" ->
      """SELECT l_returnflag, mad(l_quantity) AS mad_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_fn_collate" ->
      """WITH t AS (SELECT CASE WHEN c_custkey % 2 = 0
                             THEN upper(c_mktsegment)
                             ELSE lower(c_mktsegment) END AS seg
                    FROM customer)
         SELECT COUNT(DISTINCT seg) AS n_binary,
                COUNT(DISTINCT lower(seg)) AS n_lcase,
                CAST(SUM(CASE WHEN starts_with(lower(seg), 'bui')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_building
         FROM t""",
    "q_fn_mask" ->
      """WITH t AS (SELECT doc_id,
                           substr(text, 1, 20) || ':' || doc_id AS raw
                    FROM documents)
         SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(raw,
                  '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                  AS masked,
                regexp_replace(regexp_replace(regexp_replace(raw,
                  '[A-Z]', '#', 'g'), '[a-z]', '*', 'g'), '[0-9]', '9', 'g')
                  AS masked_custom
         FROM t ORDER BY doc_id""",
    "q_agg_ttest" ->
      """WITH m AS (SELECT event_type, COUNT(*) AS n,
                      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
                      CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                             * CAST(value AS DECIMAL(18,2))
                             AS DECIMAL(38,4))) AS DOUBLE) AS s2
                    FROM events WHERE event_type IN ('purchase', 'click')
                    GROUP BY event_type),
            p AS (SELECT
                    MAX(CASE WHEN event_type='purchase' THEN n END) AS n1,
                    MAX(CASE WHEN event_type='purchase' THEN s1 END) AS s11,
                    MAX(CASE WHEN event_type='purchase' THEN s2 END) AS s21,
                    MAX(CASE WHEN event_type='click' THEN n END) AS n2,
                    MAX(CASE WHEN event_type='click' THEN s1 END) AS s12,
                    MAX(CASE WHEN event_type='click' THEN s2 END) AS s22
                  FROM m)
         SELECT n1, n2,
                round(s11/n1 - s12/n2, 6) AS mean_diff,
                round((s11/n1 - s12/n2)
                      / sqrt((s21 - s11*s11/n1) / (n1 - 1) / n1
                           + (s22 - s12*s12/n2) / (n2 - 1) / n2), 6)
                  AS t_welch
         FROM p""",
    "q_llm_shuffle" ->
      """WITH t AS (SELECT doc_id,
                      CAST(('0x' || substr(md5('shuffle:' || doc_id), 1, 15))
                           AS BIGINT) AS k
                    FROM documents)
         SELECT k % 8 AS shard,
                CAST(row_number() OVER (PARTITION BY k % 8
                       ORDER BY k, doc_id) AS INT) AS pos,
                doc_id, k
         FROM t ORDER BY shard, pos""",
    "q_join_dpp" ->
      """WITH dim AS (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS m
                      FROM lineitem
                      WHERE l_orderkey < 100 AND l_quantity <= 2)
         SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
                COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price
         FROM orders JOIN dim ON strftime(o_orderdate, '%Y-%m') = dim.m
         GROUP BY 1 ORDER BY o_month""")
}
