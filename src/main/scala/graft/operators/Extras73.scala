package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
import org.apache.spark.sql.types.DecimalType

import graft.{Det, Tables}
import graft.streaming.StreamOps

/** The two Event fields the streaming-KMV state reads: its key and the
  * user id it hashes. */
case class TypeUser(event_type: String, user_id: Long)

/** Streaming-KMV state: the ≤k smallest distinct 60-bit user hashes
  * seen per event type, plus a processed-row counter that makes the
  * last emitted row per key identifiable after an update-mode sink. */
case class KmvSketchState(event_type: String, hashes: Array[Long],
                          n_proc: Long)

/** Round-10 additions, part 11: a STREAMING KMV distinct sketch
  * (bounded per-key state — the mergeable-sketch family meets
  * arbitrary streaming state), 13-gram benchmark decontamination (the
  * GPT-3-style strict n-gram screen beside the 3-gram
  * q_llm_contamination), CUPED variance reduction (the experimentation
  * platform's standard pre-period adjustment), and the
  * fill-in-the-middle transform (q_llm_span_corrupt's sibling for
  * infilling models).
  *
  * Determinism contract (SURVEY §2.13): the KMV stream state is a
  * sorted ≤64-array of portable md5 hashes — batch-split-invariant by
  * construction (set-min is associative/commutative); CUPED folds
  * exact DECIMAL(38,0) sums pivoted to one row; FIM split points are
  * integer hash arithmetic; every estimate is one IEEE tail.
  */
object Extras73 {
  import Det._

  private val KmvK = 64

  /** Two KMV sketches of one event type merged: the KmvK smallest distinct
    * hashes of both (each sorted ascending and distinct, and so is the
    * result) and the summed row counters. Associative and commutative, so
    * the per-partition combine and the state fold may meet partials in any
    * grouping and order. */
  private def kmvMerge(a: KmvSketchState, b: KmvSketchState): KmvSketchState = {
    val (x, y) = (a.hashes, b.hashes)
    val out = Array.newBuilder[Long]
    var (i, j, n) = (0, 0, 0)
    while (n < KmvK && (i < x.length || j < y.length)) {
      val h = if (j == y.length || (i < x.length && x(i) <= y(j))) x(i) else y(j)
      if (i < x.length && x(i) == h) i += 1
      if (j < y.length && y(j) == h) j += 1
      out += h
      n += 1
    }
    KmvSketchState(a.event_type, out.result(), a.n_proc + b.n_proc)
  }

  /** JVM twin of Det.md5long — same first-15-hex-chars construction. */
  private def md5longJvm(s: String): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      dig.map("%02x".format(_)).mkString.take(15), 16)
  }

  /** 13-GRAM DECONTAMINATION kernel — shared by the graded query (no
    * cap) and the ScaleProbe deployment-shape row (round-10 verdict
    * item 6: a real decontamination screen holds the benchmark suite
    * CONSTANT while the corpus scales, so the probe caps the bench
    * slice to the 1× doc_id block — a no-op at 1× where every doc_id
    * is below the ScaleProbe replica block offset 2^20). */
  /** FNV-1a 64 over a string's UTF-16 code units — a deterministic
    * per-word fingerprint for the 13-gram kernel below. */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h
  }

  private[graft] def contamination13(s: SparkSession, d: String,
                                     benchIdCap: Long): DataFrame = {
    import s.implicits._
    // Round 17 (codegen/expressions): the old form ran the interpreted
    // transform(sequence)+slice+concat_ws HOF TWICE over the corpus
    // (bench + train side), materializing every position's 13-WORD RAW
    // string and pushing those ~100-byte keys through the broadcast,
    // the join and a countDistinct. This per-partition kernel splits
    // each doc once, fingerprints each word (FNV-1a 64) and combines 13
    // word-hashes positionally (odd-multiplier polynomial) — O(words)
    // per doc, no gram strings built — emitting each doc's DISTINCT
    // 8-byte gram fingerprints. Joining on fingerprints instead of raw
    // grams is the same no-64-bit-collision trade the 3-gram
    // q_llm_contamination and the whole MinHash family document. The
    // n²/2⁶⁵ birthday figure holds only for independent uniform
    // hashes; an FNV-1a fold with a fixed polynomial combine is
    // neither, so it is a heuristic scale, not a bound — structured
    // inputs can collide more often. Equal grams hash equal on both
    // sides, so no true hit is lost; a collision can only merge two
    // distinct grams (a false hit, or one fewer distinct gram).
    val B = 0x9E3779B97F4A7C15L // odd ⇒ invertible mod 2^64
    def grams(keep: (Long, Long) => Boolean) = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (docId, text) =>
          // a null text has no grams
          if (text == null) Iterator.empty
          else if (!keep(md5longJvm("split:" + docId) % 100, docId))
            Iterator.empty
          else {
            val ws = text.split(" ", -1)
            if (ws.length < 13) Iterator.empty
            else {
              val wh = ws.map(fnv64)
              val seen = new java.util.HashSet[java.lang.Long]()
              val out = Array.newBuilder[(Long, Long)]
              var i = 0
              while (i + 13 <= wh.length) {
                var g = 0L
                var j = 0
                while (j < 13) { g = g * B + wh(i + j); j += 1 }
                if (seen.add(g)) out += ((docId, g))
                i += 1
              }
              out.result().iterator
            }
          }
        }
      }.toDF("doc_id", "g")
    val bench = grams((b, id) => b >= 90 && id < benchIdCap)
      .select(col("g")).distinct()
    grams((b, _) => b < 80)
      .join(broadcast(bench), "g")
      .groupBy(col("doc_id"))
      // fingerprints are per-doc distinct already (the kernel dedups)
      .agg(count(lit(1)).as("n_hit_grams"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // STREAMING KMV — per event type, a LIVE bounded-state distinct-
    // user sketch: state is the ≤64 smallest distinct md5 hashes of
    // user ids (k longs per key FOREVER, the whole point of a sketch
    // as streaming state — a collect_set would grow with cardinality).
    // Update-mode emits the running sketch each micro-batch; the final
    // max_by(n_proc) collapse makes the result batch-split-invariant.
    // Estimate rule shared with the oracle: n_s < k → the sample IS
    // the distinct set (exact); else (k−1)·2^60/h_k. Sketches merge
    // (kmvMerge), so each input partition first folds its events into
    // one sketch per event type and the state merges those.
    "q_stream_live_kmv" -> ((s, d) => {
      import s.implicits._
      val sketched = StreamOps.combinePartials(
          StreamOps.narrow[TypeUser](StreamOps.eventsFileStream(s, d)))(
          _.event_type,
          e => KmvSketchState(e.event_type,
            Array(md5longJvm(e.user_id.toString)), 1L),
          kmvMerge)
        .groupByKey(_.event_type)
        .flatMapGroupsWithState[KmvSketchState, KmvSketchState](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (et: String, parts: Iterator[KmvSketchState],
           state: GroupState[KmvSketchState]) =>
            val next = parts.foldLeft(state.getOption
              .getOrElse(KmvSketchState(et, Array.empty[Long], 0L)))(kmvMerge)
            state.update(next)
            Iterator(next)
        }
      val m = 1.152921504606846976e18
      StreamOps.runToMemoryUpdate(sketched.toDF(), "live_kmv")
        .groupBy(col("event_type"))
        .agg(max_by(col("hashes"), col("n_proc")).as("hashes"))
        .select(col("event_type"),
          size(col("hashes")).cast("long").as("n_s"),
          array_max(col("hashes")).as("kth"))
        .select(col("event_type"), col("n_s"),
          when(col("n_s") < KmvK, lit(0L)).otherwise(col("kth"))
            .as("kth_or_zero"),
          r6(when(col("n_s") < KmvK, col("n_s").cast("double"))
            .otherwise((col("n_s") - 1).cast("double") * lit(m)
              / col("kth").cast("double"))).as("est_distinct"))
        .orderBy("event_type")
    }),

    // 13-GRAM DECONTAMINATION — the strict GPT-3-style screen beside
    // the 3-gram q_llm_contamination: a training doc is flagged iff it
    // shares ANY 13-gram with the held-out benchmark slice (doc
    // buckets ≥ 90). RAW-string join keys (the round-10 containment
    // discipline); the benchmark side is slice-bounded and BROADCAST,
    // so the corpus side streams past it with no shuffle.
    "q_llm_contamination_13gram" -> ((s, d) =>
      contamination13(s, d, benchIdCap = Long.MaxValue)),

    // CUPED — variance-reduced A/B readout: per user, pre-period (first
    // calendar half) and experiment-period value totals; θ =
    // cov(X,Y)/var(X) pooled; the adjusted lift is (ȳ1−ȳ0) −
    // θ(x̄1−x̄0) and the variance-reduction factor is ρ². All moments
    // are exact DECIMAL(38,0) sums pivoted to one row; the whole
    // statistic is one IEEE tree.
    "q_evt_cuped" -> ((s, d) => {
      val big = DecimalType(38, 0)
      val span = Tables.events(s, d)
        .agg(min(to_date(col("ts"))).as("dmin"),
          max(to_date(col("ts"))).as("dmax"))
      val per = Tables.events(s, d).crossJoin(broadcast(span))
        .select(col("user_id"),
          pmod(col("user_id"), lit(2L)).as("v"),
          (datediff(to_date(col("ts")), col("dmin")) * 2
            <= datediff(col("dmax"), col("dmin"))).as("pre"),
          (dec(col("value")) * 100).cast("long").as("cents"))
        .groupBy(col("user_id"), col("v"))
        .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
          sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"))
      val mo = per.groupBy(col("v"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(big)).as("sx"),
          sum(col("y").cast(big)).as("sy"),
          sum(col("x").cast(big) * col("y").cast(big)).as("sxy"),
          sum(col("x").cast(big) * col("x").cast(big)).as("sxx"),
          sum(col("y").cast(big) * col("y").cast(big)).as("syy"))
      def side(k: Int, c: String) =
        max(when(col("v") === k, col(c))).as(s"$c$k")
      val p = mo.agg(
        side(0, "n"), side(0, "sx"), side(0, "sy"),
        side(0, "sxy"), side(0, "sxx"), side(0, "syy"),
        side(1, "n"), side(1, "sx"), side(1, "sy"),
        side(1, "sxy"), side(1, "sxx"), side(1, "syy"))
      def dd(c: String) = col(c).cast("double")
      val n = dd("n0") + dd("n1")
      val sx = dd("sx0") + dd("sx1")
      val sy = dd("sy0") + dd("sy1")
      val sxy = dd("sxy0") + dd("sxy1")
      val sxx = dd("sxx0") + dd("sxx1")
      val syy = dd("syy0") + dd("syy1")
      val covXY = sxy - sx * sy / n
      val varX = sxx - sx * sx / n
      val varY = syy - sy * sy / n
      val theta = covXY / varX
      val diffRaw = dd("sy1") / dd("n1") - dd("sy0") / dd("n0")
      val diffX = dd("sx1") / dd("n1") - dd("sx0") / dd("n0")
      p.select(col("n0").cast("long").as("n0"),
        col("n1").cast("long").as("n1"),
        r6(theta).as("theta"),
        r6(diffRaw / lit(100.0)).as("diff_raw_usd"),
        r6((diffRaw - theta * diffX) / lit(100.0)).as("diff_cuped_usd"),
        r6(covXY * covXY / (varX * varY)).as("var_reduction"))
    }),

    // FILL-IN-THE-MIDDLE — the infilling-model transform (span
    // corruption's sibling): deterministic prefix/middle/suffix split
    // of each doc's character stream, re-emitted in PSM order
    // (<PRE>prefix<SUF>suffix<MID>middle). Split points are integer
    // hash arithmetic over the doc length; the graded row carries the
    // exact split geometry + the md5long of the PSM string. Pure
    // per-row projection — embarrassingly parallel.
    "q_llm_fim_transform" -> ((s, d) => {
      val len = length(col("text"))
      val third = expr("len div 3")
      val u1 = md5long(concat(lit("fim1:"), col("doc_id").cast("string")))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), len.cast("long").as("len"))
        .where(col("len") >= 9)
        .withColumn("s1", (u1 % third + 1).cast("long"))
        .withColumn("mlen", third.cast("long"))
      val psm = concat(lit("<PRE>"),
        col("text").substr(lit(1), col("s1")),
        lit("<SUF>"),
        col("text").substr(col("s1") + col("mlen") + 1,
          col("len") - col("s1") - col("mlen")),
        lit("<MID>"),
        col("text").substr(col("s1") + 1, col("mlen")))
      docs.select(col("doc_id"), col("len"), col("s1"), col("mlen"),
          md5long(psm).as("psm_h"))
        .orderBy("doc_id")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_stream_live_kmv" ->
      s"""WITH h AS (SELECT event_type,
                    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                      1, 15)) AS BIGINT) AS h
                 FROM events),
            dh AS (SELECT DISTINCT event_type, h FROM h),
            rk AS (SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY h) AS rn
                   FROM dh),
            km AS (SELECT event_type,
                     CAST(COUNT(*) AS BIGINT) AS n_s,
                     MAX(h) AS kth
                   FROM rk WHERE rn <= $KmvK GROUP BY event_type)
         SELECT event_type, n_s,
                CASE WHEN n_s < $KmvK THEN 0 ELSE kth END AS kth_or_zero,
                round(CASE WHEN n_s < $KmvK THEN CAST(n_s AS DOUBLE)
                  ELSE CAST(n_s - 1 AS DOUBLE) * 1.152921504606846976e18
                    / CAST(kth AS DOUBLE) END, 6) AS est_distinct
         FROM km ORDER BY event_type""",

    "q_llm_contamination_13gram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
                    CAST(('0x' || substr(md5('split:'
                      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                      % 100 AS bucket
                 FROM documents),
            g AS (SELECT doc_id, bucket,
                    array_to_string(ws[i:i+12], ' ') AS g
                  FROM w, unnest(generate_series(1, len(ws) - 12)) t(i)
                  WHERE len(ws) >= 13),
            bench AS (SELECT DISTINCT g FROM g WHERE bucket >= 90)
         SELECT g.doc_id,
                CAST(COUNT(DISTINCT g.g) AS BIGINT) AS n_hit_grams
         FROM g JOIN bench ON g.g = bench.g
         WHERE g.bucket < 80
         GROUP BY g.doc_id
         ORDER BY g.doc_id""",

    "q_evt_cuped" ->
      """WITH span AS (SELECT MIN(CAST(ts AS DATE)) AS dmin,
                      MAX(CAST(ts AS DATE)) AS dmax FROM events),
            per AS (SELECT user_id, user_id % 2 AS v,
                    CAST(SUM(CASE WHEN pre THEN cents ELSE 0 END)
                      AS BIGINT) AS x,
                    CAST(SUM(CASE WHEN pre THEN 0 ELSE cents END)
                      AS BIGINT) AS y
                  FROM (SELECT user_id,
                          date_diff('day', dmin, CAST(ts AS DATE)) * 2
                            <= date_diff('day', dmin, dmax) AS pre,
                          CAST(CAST(value AS DECIMAL(18,2)) * 100
                            AS BIGINT) AS cents
                        FROM events, span)
                  GROUP BY user_id, user_id % 2),
            mo AS (SELECT v, COUNT(*) AS n,
                    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                    CAST(SUM(CAST(x AS DECIMAL(38,0))
                      * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                    CAST(SUM(CAST(x AS DECIMAL(38,0))
                      * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                    CAST(SUM(CAST(y AS DECIMAL(38,0))
                      * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS syy
                  FROM per GROUP BY v),
            p AS (SELECT
                    MAX(CASE WHEN v = 0 THEN n END) AS n0,
                    MAX(CASE WHEN v = 0 THEN sx END) AS sx0,
                    MAX(CASE WHEN v = 0 THEN sy END) AS sy0,
                    MAX(CASE WHEN v = 0 THEN sxy END) AS sxy0,
                    MAX(CASE WHEN v = 0 THEN sxx END) AS sxx0,
                    MAX(CASE WHEN v = 0 THEN syy END) AS syy0,
                    MAX(CASE WHEN v = 1 THEN n END) AS n1,
                    MAX(CASE WHEN v = 1 THEN sx END) AS sx1,
                    MAX(CASE WHEN v = 1 THEN sy END) AS sy1,
                    MAX(CASE WHEN v = 1 THEN sxy END) AS sxy1,
                    MAX(CASE WHEN v = 1 THEN sxx END) AS sxx1,
                    MAX(CASE WHEN v = 1 THEN syy END) AS syy1
                  FROM mo),
            c AS (SELECT n0, n1, sx0, sy0, sx1, sy1,
                    CAST(n0 + n1 AS DOUBLE) AS n,
                    sx0 + sx1 AS sx, sy0 + sy1 AS sy,
                    sxy0 + sxy1 AS sxy, sxx0 + sxx1 AS sxx,
                    syy0 + syy1 AS syy
                  FROM p)
         SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
                round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
                  AS theta,
                round((sy1 / n1 - sy0 / n0) / 100.0, 6) AS diff_raw_usd,
                round(((sy1 / n1 - sy0 / n0)
                  - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                    * (sx1 / n1 - sx0 / n0)) / 100.0, 6)
                  AS diff_cuped_usd,
                round((sxy - sx * sy / n) * (sxy - sx * sy / n)
                  / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
                  AS var_reduction
         FROM c""",

    "q_llm_fim_transform" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
                    CAST(('0x' || substr(md5('fim1:'
                      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                      AS u1
                 FROM documents WHERE length(text) >= 9),
            sp AS (SELECT doc_id, text, len,
                     u1 % (len // 3) + 1 AS s1,
                     len // 3 AS mlen
                   FROM d)
         SELECT doc_id, len, CAST(s1 AS BIGINT) AS s1,
                CAST(mlen AS BIGINT) AS mlen,
                CAST(('0x' || substr(md5(
                  '<PRE>' || substr(text, 1, s1)
                  || '<SUF>' || substr(text, s1 + mlen + 1,
                       len - s1 - mlen)
                  || '<MID>' || substr(text, s1 + 1, mlen)), 1, 15))
                  AS BIGINT) AS psm_h
         FROM sp ORDER BY doc_id"""
  )
}
