package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-9 additions, part 1: the technical-indicator trio (RSI,
  * stochastic %K, ATR) over the daily revenue series, resource-allocation
  * link prediction, product stickiness (DAU/MAU), session bounce rate,
  * linear multi-touch attribution, feature hashing, a bigram-LM document
  * perplexity proxy, and a deterministic per-group reservoir sample.
  *
  * Scale discipline, shared across the file: fact-table work shuffles
  * once to its natural grain (day / user / session / token); the
  * unpartitioned windows below ride CALENDAR-BOUNDED daily spines
  * (≤36.5k rows per century — constant-size tail stages at any corpus
  * size, same argument as q_ts_bollinger). Every graded cell is an exact
  * integer or ONE shared IEEE tail over exactly-agreed integers
  * (SURVEY §2.13 playbook; per-term quantities quantize to integers
  * BEFORE any order-dependent sum).
  */
object Extras38 {
  import Det._

  /** Daily revenue in exact cents — the shared spine of the three
    * technical indicators (one (date) shuffle over orders, then
    * dimension-sized window work). */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("y"))

  private val dailySql =
    """daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS y
                 FROM orders GROUP BY 1)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RELATIVE STRENGTH INDEX — 14-day RSI of daily revenue (the classic
    // simple-average form, not Wilder's recursive smoothing, which is
    // not expressible as a bounded window in either engine). Gains and
    // losses are EXACT cent sums over a 14-row frame; RSI is one shared
    // IEEE division at the end. Rows need 14 full diffs (rn ≥ 15).
    "q_ts_rsi" -> ((s, d) => {
      val ord = Window.orderBy(col("dt"))
      val w14 = Window.orderBy(col("dt")).rowsBetween(-13, Window.currentRow)
      dailyCents(s, d)
        .withColumn("diff", col("y") - lag(col("y"), 1).over(ord))
        .withColumn("rn", row_number().over(ord))
        .withColumn("gain",
          sum(when(col("diff") > 0, col("diff")).otherwise(0L)).over(w14))
        .withColumn("loss",
          sum(when(col("diff") < 0, -col("diff")).otherwise(0L)).over(w14))
        .where(col("rn") >= 15)
        .select(col("dt"), col("gain").as("gain_cents"),
          col("loss").as("loss_cents"),
          (lit(100.0) * col("gain").cast("double")
            / (col("gain") + col("loss")).cast("double")).as("rsi"))
        .orderBy("dt")
    }),

    // STOCHASTIC OSCILLATOR %K — where today's revenue sits inside the
    // trailing 14-day [low, high] band. Numerator and denominator are
    // exact cent differences; %K is the one IEEE tail. den > 0 guards
    // the degenerate all-equal window (impossible here, cheap anywhere).
    "q_ts_stochastic" -> ((s, d) => {
      val ord = Window.orderBy(col("dt"))
      val w14 = Window.orderBy(col("dt")).rowsBetween(-13, Window.currentRow)
      dailyCents(s, d)
        .withColumn("rn", row_number().over(ord))
        .withColumn("hi14", max(col("y")).over(w14))
        .withColumn("lo14", min(col("y")).over(w14))
        .where(col("rn") >= 14 && col("hi14") > col("lo14"))
        .select(col("dt"),
          (col("y") - col("lo14")).as("num_cents"),
          (col("hi14") - col("lo14")).as("den_cents"),
          (lit(100.0) * (col("y") - col("lo14")).cast("double")
            / (col("hi14") - col("lo14")).cast("double")).as("pct_k"))
        .orderBy("dt")
    }),

    // AVERAGE TRUE RANGE — 14-day ATR over the daily order-price OHLC.
    // High/low are per-day max/min order cents; "close" is the price of
    // the day's HIGHEST-NUMBERED order (max_by on the unique key — a
    // deterministic stand-in for time-of-day, which orders lack). True
    // range is the classic max(hi−lo, |hi−prevClose|, |lo−prevClose|),
    // all exact integers; the emitted ATR is sum/14.0, one IEEE division.
    "q_ts_atr" -> ((s, d) => {
      val ohlc = Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("dt"), col("o_orderkey"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
        .groupBy(col("dt"))
        .agg(max(col("cents")).as("hi"), min(col("cents")).as("lo"),
          max_by(col("cents"), col("o_orderkey")).as("close"))
      val ord = Window.orderBy(col("dt"))
      val w14 = Window.orderBy(col("dt")).rowsBetween(-13, Window.currentRow)
      ohlc
        .withColumn("pc", lag(col("close"), 1).over(ord))
        .withColumn("tr", greatest(col("hi") - col("lo"),
          abs(col("hi") - col("pc")), abs(col("lo") - col("pc"))))
        .withColumn("rn", row_number().over(ord))
        .withColumn("atr14_cents", sum(col("tr")).over(w14))
        .where(col("rn") >= 15)
        .select(col("dt"), col("tr").as("tr_cents"), col("atr14_cents"),
          (col("atr14_cents").cast("double") / 14.0).as("atr"))
        .orderBy("dt")
    }),

    // RESOURCE-ALLOCATION link-prediction index — RA(a,b) =
    // Σ_{z ∈ N(a)∩N(b)} 1/deg(z) over the shared co-occurrence graph
    // (Adamic-Adar's robust cousin; 1/deg replaces 1/log deg so the
    // per-term weight is an EXACT integer: pico-units 1e12 div deg —
    // no engine's ln() in the sum, hence order-free). Candidates come
    // only through shared neighbors (Σ deg² join, never |V|²), the
    // degree relation is vocabulary-sized and broadcasts.
    "q_graph_resource_alloc" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d)
      val deg = e.groupBy(col("dst").as("z")).agg(count(lit(1)).as("degz"))
      e.as("p").join(e.as("q"),
          col("p.dst") === col("q.dst") && col("p.src") < col("q.src"))
        .join(broadcast(deg), col("p.dst") === col("z"))
        .groupBy(col("p.src").as("a"), col("q.src").as("b"))
        .agg(count(lit(1)).as("n_common"),
          sum(expr("1000000000000 div degz")).as("ra_pico"))
        .select(col("a"), col("b"), col("n_common"), col("ra_pico"),
          (col("ra_pico").cast("double") / 1e12).as("ra"))
        .orderBy("a", "b")
    }),

    // STICKINESS — DAU / rolling-28-day MAU per day, THE product
    // engagement ratio. Both sides are (user, day)-grain dedups; MAU
    // uses the expand-dedup form (q_evt_mau_rolling): each active day
    // supports ≤28 report days — bounded row inflation, never a running
    // distinct. The ratio is one IEEE division of two exact counts.
    "q_evt_stickiness" -> ((s, d) => {
      val active = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = active.groupBy(col("day").as("dd"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val span = active.agg(max(col("day")).as("dmax"))
      val mau = active
        .select(col("user_id"), explode(sequence(col("day"),
          date_add(col("day"), 27), expr("interval 1 day"))).as("d"))
        .distinct()
        .crossJoin(broadcast(span))
        .where(col("d") <= col("dmax"))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("mau_28d"))
      mau.join(dau, col("d") === col("dd"))
        .select(col("d"), col("dau"), col("mau_28d"),
          (col("dau").cast("double") / col("mau_28d").cast("double"))
            .as("stickiness"))
        .orderBy("d")
    }),

    // BOUNCE RATE — share of 30-minute-gap sessions that contain exactly
    // one event, per session-start day. Reuses the sessionize recurrence
    // (per-user windows, one user shuffle), then a day-grain aggregate;
    // the rate is one IEEE division of exact counts.
    "q_evt_bounce_rate" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(to_date(col("ts"))).as("day"), count(lit(1)).as("n_ev"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .select(col("day"), col("n_sessions"), col("n_bounce"),
          (col("n_bounce").cast("double") / col("n_sessions").cast("double"))
            .as("bounce_rate"))
        .orderBy("day")
    }),

    // LINEAR MULTI-TOUCH ATTRIBUTION — the complement of q_evt_attribution
    // (last-touch): each user's journey up to their FIRST purchase splits
    // one unit of credit equally across the preceding touch events.
    // Per-touch credit is the EXACT integer 1e6 div n_touches
    // (micro-credits; integer division, so the per-channel sums are
    // order-free and engine-exact — the same quantize-before-sum rule as
    // the mix weights). Two user-grain aggregates plus one fact join.
    "q_evt_attribution_linear" -> ((s, d) => {
      val e = Tables.events(s, d)
      val firstBuy = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("fb"))
        .select(col("user_id"), col("fb.ts").as("bts"),
          col("fb.event_id").as("bid"))
      val touches = e.join(firstBuy, "user_id")
        .where(col("event_type") =!= "purchase"
          && (col("ts") < col("bts")
            || (col("ts") === col("bts") && col("event_id") < col("bid"))))
      val perUser = touches.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_touch"))
      touches.join(perUser, "user_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("user_id")).as("n_users"),
          sum(expr("1000000 div n_touch")).as("micro_credit"))
        .orderBy("event_type")
    }),

    // FEATURE HASHING — the hashing-trick bag-of-words vectorizer (the
    // fixed-width, vocabulary-free featurizer that scales to any corpus
    // because the feature space never grows): token → bucket =
    // md5long(w) mod 256, per-doc bucket counts. One explode + one
    // (doc, bucket) aggregate; output bounded to the first 50 docs.
    "q_llm_feature_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .where(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), pmod(md5long(col("w")), lit(256L)).as("bucket"))
        .agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "bucket")),

    // BIGRAM-LM PERPLEXITY PROXY — per-document cross-entropy against
    // the corpus bigram model: bits(doc) = Σ log2(c1(w1)/c2(w1,w2))
    // over its bigrams. Each term is 6-dp-quantized to integer
    // MICRO-BITS before the per-doc sum (the q_llm_entropy discipline —
    // float sums are order-dependent, integer sums are not); the
    // emitted bits/bigram is one shared IEEE tail. The count relations
    // are vocabulary-sized and broadcast onto the fact-side bigram
    // stream — the standard LM-scoring join shape at any corpus size.
    "q_llm_doc_ppl" -> ((s, d) => {
      val ws = split(col("text"), " ")
      val big = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(zip_with(
            slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val c2 = big.groupBy(col("w1").as("x1"), col("w2").as("x2"))
        .agg(count(lit(1)).as("c2"))
      val c1 = big.groupBy(col("w1").as("y1")).agg(count(lit(1)).as("c1"))
      big
        .join(broadcast(c2),
          col("w1") === col("x1") && col("w2") === col("x2"))
        .join(broadcast(c1), col("w1") === col("y1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(round(log2(col("c1").cast("double")
              / col("c2").cast("double")) * lit(1000000.0), 0)
            .cast("long")).as("micro_bits"))
        .select(col("doc_id"), col("n_bigrams"), col("micro_bits"),
          (col("micro_bits").cast("double") / lit(1000000.0)
            / col("n_bigrams").cast("double")).as("bits_per_bigram"))
        .orderBy("doc_id")
    }),

    // DETERMINISTIC PER-GROUP RESERVOIR — the k smallest portable-hash
    // values per event_type: a uniform fixed-size sample per group that
    // every engine and every rerun agrees on (classic reservoir sampling
    // is RNG- and arrival-order-dependent; hash-ordering is the
    // distributed, rerun-stable equivalent). rank-k per group is the
    // TopK-per-group window shape — at scale a per-partition pre-prune
    // (local top-k) feeds the final window, which AQE already applies.
    "q_scan_sample_reservoir" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("h"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          md5long(col("event_id").cast("string")).as("h"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 20)
        .select(col("event_type"), col("rk"), col("event_id"), col("h"))
        .orderBy("event_type", "rk")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_ts_rsi" ->
      s"""WITH $dailySql,
            x AS (SELECT dt, y, y - lag(y) OVER (ORDER BY dt) AS diff,
                    row_number() OVER (ORDER BY dt) AS rn
                  FROM daily),
            w AS (SELECT dt, rn,
                    CAST(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END)
                      OVER (ORDER BY dt
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS gain,
                    CAST(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END)
                      OVER (ORDER BY dt
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS loss
                  FROM x)
         SELECT dt, gain AS gain_cents, loss AS loss_cents,
                100.0 * CAST(gain AS DOUBLE)
                  / CAST(gain + loss AS DOUBLE) AS rsi
         FROM w WHERE rn >= 15 ORDER BY dt""",

    "q_ts_stochastic" ->
      s"""WITH $dailySql,
            w AS (SELECT dt, y, row_number() OVER (ORDER BY dt) AS rn,
                    MAX(y) OVER (ORDER BY dt
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hi14,
                    MIN(y) OVER (ORDER BY dt
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS lo14
                  FROM daily)
         SELECT dt, y - lo14 AS num_cents, hi14 - lo14 AS den_cents,
                100.0 * CAST(y - lo14 AS DOUBLE)
                  / CAST(hi14 - lo14 AS DOUBLE) AS pct_k
         FROM w WHERE rn >= 14 AND hi14 > lo14 ORDER BY dt""",

    "q_ts_atr" ->
      """WITH ohlc AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                    MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS hi,
                    MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS lo,
                    arg_max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT), o_orderkey) AS close
                 FROM orders GROUP BY 1),
            x AS (SELECT dt, hi, lo,
                    lag(close) OVER (ORDER BY dt) AS pc,
                    row_number() OVER (ORDER BY dt) AS rn
                  FROM ohlc),
            t AS (SELECT dt, rn,
                    greatest(hi - lo, abs(hi - pc), abs(lo - pc)) AS tr
                  FROM x),
            w AS (SELECT dt, rn, tr,
                    CAST(SUM(tr) OVER (ORDER BY dt
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS atr14_cents
                  FROM t)
         SELECT dt, tr AS tr_cents, atr14_cents,
                CAST(atr14_cents AS DOUBLE) / 14.0 AS atr
         FROM w WHERE rn >= 15 ORDER BY dt""",

    "q_graph_resource_alloc" ->
      s"""WITH ${Extras11.GraphSql},
            deg AS (SELECT dst AS z, COUNT(*) AS degz FROM e GROUP BY 1)
         SELECT p.src AS a, q.src AS b, COUNT(*) AS n_common,
                CAST(SUM(1000000000000 // degz) AS BIGINT) AS ra_pico,
                CAST(SUM(1000000000000 // degz) AS DOUBLE) / 1e12 AS ra
         FROM e p JOIN e q ON p.dst = q.dst AND p.src < q.src
         JOIN deg ON deg.z = p.dst
         GROUP BY 1, 2 ORDER BY a, b""",

    "q_evt_stickiness" ->
      """WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                      FROM events),
            dau AS (SELECT day AS dd, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                      AS dau
                    FROM active GROUP BY 1),
            span AS (SELECT MAX(day) AS dmax FROM active),
            expand AS (SELECT DISTINCT user_id,
                         day + CAST(g.i AS INTEGER) AS d
                       FROM active, generate_series(0, 27) g(i)),
            mau AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                      AS mau_28d
                    FROM expand, span WHERE d <= dmax GROUP BY d)
         SELECT m.d, dau.dau, m.mau_28d,
                CAST(dau.dau AS DOUBLE) / CAST(m.mau_28d AS DOUBLE)
                  AS stickiness
         FROM mau m JOIN dau ON dau.dd = m.d
         ORDER BY m.d""",

    "q_evt_bounce_rate" ->
      """WITH x AS (SELECT user_id, event_id, ts,
                      epoch_us(ts::TIMESTAMP)
                        - lag(epoch_us(ts::TIMESTAMP)) OVER
                            (PARTITION BY user_id
                             ORDER BY ts::TIMESTAMP, event_id) AS gap_us
                    FROM events),
            f AS (SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                                 THEN 1 ELSE 0 END AS new_s FROM x),
            g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS session_seq FROM f),
            ses AS (SELECT user_id, session_seq,
                      MIN(CAST(ts AS DATE)) AS day, COUNT(*) AS n_ev
                    FROM g GROUP BY 1, 2)
         SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
                CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounce,
                CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
         FROM ses GROUP BY day ORDER BY day""",

    "q_evt_attribution_linear" ->
      """WITH fb AS (SELECT user_id, MIN(ts) AS bts
                     FROM events WHERE event_type = 'purchase'
                     GROUP BY user_id),
            fbe AS (SELECT e.user_id, fb.bts, MIN(e.event_id) AS bid
                    FROM events e
                    JOIN fb ON e.user_id = fb.user_id AND e.ts = fb.bts
                    WHERE e.event_type = 'purchase'
                    GROUP BY e.user_id, fb.bts),
            touches AS (SELECT e.user_id, e.event_type
                        FROM events e JOIN fbe ON e.user_id = fbe.user_id
                        WHERE e.event_type <> 'purchase'
                          AND (e.ts < fbe.bts
                            OR (e.ts = fbe.bts AND e.event_id < fbe.bid))),
            pu AS (SELECT user_id, COUNT(*) AS n_touch
                   FROM touches GROUP BY user_id)
         SELECT t.event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
                CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS n_users,
                CAST(SUM(1000000 // n_touch) AS BIGINT) AS micro_credit
         FROM touches t JOIN pu ON pu.user_id = t.user_id
         GROUP BY 1 ORDER BY 1""",

    "q_llm_feature_hash" ->
      """SELECT doc_id,
                CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256
                  AS bucket,
                CAST(COUNT(*) AS BIGINT) AS tf
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents WHERE doc_id < 50) t
         GROUP BY 1, 2 ORDER BY doc_id, bucket""",

    "q_llm_doc_ppl" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
                     FROM documents),
            big AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
                    FROM (SELECT doc_id, w,
                            unnest(generate_series(1, len(w) - 1)) AS i
                          FROM ws) t),
            c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
            c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1)
         SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                CAST(SUM(CAST(round(log2(CAST(c1.c1 AS DOUBLE)
                       / CAST(c2.c2 AS DOUBLE)) * 1000000, 0) AS BIGINT))
                     AS BIGINT) AS micro_bits,
                CAST(SUM(CAST(round(log2(CAST(c1.c1 AS DOUBLE)
                       / CAST(c2.c2 AS DOUBLE)) * 1000000, 0) AS BIGINT))
                     AS DOUBLE) / 1000000.0 / COUNT(*) AS bits_per_bigram
         FROM big b
         JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
         JOIN c1 ON c1.w1 = b.w1
         GROUP BY b.doc_id ORDER BY b.doc_id""",

    "q_scan_sample_reservoir" ->
      """WITH h AS (SELECT event_type, event_id,
                      CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                        1, 15)) AS BIGINT) AS h
                    FROM events),
            r AS (SELECT event_type, event_id, h,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY h, event_id) AS rk
                  FROM h)
         SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, h
         FROM r WHERE rk <= 20 ORDER BY event_type, rk"""
  )
}
