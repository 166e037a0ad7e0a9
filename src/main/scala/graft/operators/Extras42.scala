package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-9 additions, part 5: Hurst rescaled-range analysis, permutation
  * entropy, corpus bigram entropy rate, domain-lexicon scoring,
  * embedding outlier audit, Bowley quartile skewness, and Adamic-Adar
  * link prediction.
  *
  * Determinism contract (SURVEY §2.13): aggregates fold exact integers;
  * per-row transcendental terms quantize to integer micro/nano units
  * BEFORE any order-dependent sum; emitted floats are single shared
  * IEEE tails (un-rounded where both engines share the exact op
  * sequence — the q_llm_centroid lesson).
  */
object Extras42 {
  import Det._

  /** Daily revenue in kilodollar units — integer `div` quantization so
    * squared sums stay deep inside BIGINT (cents² would overflow at the
    * graded scale already: (5e9)² > 2^63). */
  private def dailyK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(expr("SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) div 100000")
        .as("y"))

  private val dailyKSql =
    """daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) // 100000 AS y
                 FROM orders GROUP BY 1)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HURST RESCALED-RANGE — R/S statistic of daily revenue at window
    // sizes 16 and 64, and the implied Hurst exponent (H ≈ 0.5 for a
    // memoryless series, > 0.5 for trending). All window internals are
    // EXACT integers via the telescoping-cusum trick: the cumulative
    // deviation times m is m·cum_k − k·S_w, the variance numerator is
    // m·Σx² − S² (both BIGINT in kilodollar units), so each window's
    // R/S is one IEEE sqrt+division, micro-quantized before the
    // cross-window mean. Daily spine = calendar-bounded.
    "q_ts_hurst" -> ((s, d) => {
      val base = dailyK(s, d)
        .withColumn("rn", row_number().over(Window.orderBy(col("dt"))))
      def rs(m: Int): DataFrame = {
        val wid = expr(s"(rn - 1) div $m")
        val wcum = Window.partitionBy(col("wid")).orderBy(col("rn"))
        val wall = Window.partitionBy(col("wid"))
        base.withColumn("wid", wid)
          .withColumn("k", col("rn") - col("wid") * m)
          .withColumn("cum", sum(col("y")).over(wcum))
          .withColumn("sw", sum(col("y")).over(wall))
          .withColumn("ssq", sum(col("y") * col("y")).over(wall))
          .withColumn("cnt", count(lit(1)).over(wall))
          .where(col("cnt") === m)
          .withColumn("devn", col("cum") * m - col("k") * col("sw"))
          .groupBy(col("wid"))
          .agg(max(col("devn")).as("mx"), min(col("devn")).as("mn"),
            max(col("ssq")).as("ssq"), max(col("sw")).as("sw"))
          .where(col("ssq") * m > col("sw") * col("sw"))
          .select(round((col("mx") - col("mn")).cast("double")
            / sqrt((col("ssq") * m - col("sw") * col("sw")).cast("double"))
            * 1e6).cast("long").as("rs_micro"))
          .agg(count(lit(1)).as(s"n_win_$m"),
            sum(col("rs_micro")).as(s"rs_sum_$m"))
      }
      rs(16).crossJoin(broadcast(rs(64)))
        .withColumn("mean_rs_16",
          col("rs_sum_16").cast("double") / 1e6 / col("n_win_16"))
        .withColumn("mean_rs_64",
          col("rs_sum_64").cast("double") / 1e6 / col("n_win_64"))
        .select(col("n_win_16"), col("rs_sum_16"), col("n_win_64"),
          col("rs_sum_64"), r6(col("mean_rs_16")).as("rs16"),
          r6(col("mean_rs_64")).as("rs64"),
          r6((log2(col("mean_rs_64")) - log2(col("mean_rs_16"))) / 2.0)
            .as("hurst"))
    }),

    // PERMUTATION ENTROPY (order 3) — the distribution of up/down
    // patterns over consecutive daily-revenue triples, a
    // nonlinear-dynamics complexity measure. The pattern code folds
    // ties deterministically via three ≤ comparisons (8 classes); the
    // class relation is 8 rows, entropy terms quantize to nano-bits
    // before the order-free sum (q_llm_entropy discipline).
    "q_ts_perm_entropy" -> ((s, d) => {
      val ord = Window.orderBy(col("dt"))
      val pat = dailyK(s, d)
        .withColumn("y1", lag(col("y"), 1).over(ord))
        .withColumn("y2", lag(col("y"), 2).over(ord))
        .where(col("y2").isNotNull)
        .select((when(col("y2") <= col("y1"), 4).otherwise(0)
          + when(col("y1") <= col("y"), 2).otherwise(0)
          + when(col("y2") <= col("y"), 1).otherwise(0)).as("pattern"))
        .groupBy(col("pattern")).agg(count(lit(1)).as("cnt"))
      val tot = pat.agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_classes"))
      pat.crossJoin(broadcast(tot))
        .withColumn("t_nano", round(col("cnt").cast("double") / col("n")
          * log2(col("cnt").cast("double") / col("n")) * 1e9).cast("long"))
        .groupBy(col("n"), col("n_classes"))
        .agg(sum(col("t_nano")).as("sum_nano"))
        .select(col("n"), col("n_classes"), col("sum_nano"),
          r6(-col("sum_nano").cast("double") / 1e9).as("perm_entropy"))
    }),

    // BIGRAM ENTROPY RATE — corpus-level conditional entropy H(w₂|w₁)
    // = −(1/N)·Σ c₁₂·log₂(c₁₂/c₁): how predictable the next token is
    // (the redundancy signal behind LM-based quality filters). Both
    // count relations are vocabulary-bounded; each bigram's term is
    // micro-bit-quantized before the order-free sum. Bigram pairs are
    // a pure per-row zip projection — no self-join.
    "q_llm_bigram_entropy" -> ((s, d) => {
      val ws = split(col("text"), " ")
      val pairs = Tables.documents(s, d)
        .select(explode(zip_with(
          slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
          slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c12"))
      val uni = pairs.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      pairs.join(uni, "w1")
        .withColumn("t_micro", round(col("c12").cast("double")
          * log2(col("c12").cast("double") / col("c1").cast("double"))
          * 1e6).cast("long"))
        .agg(sum(col("c12")).as("n_bigrams"),
          count(lit(1)).as("n_types"),
          sum(col("t_micro")).as("sum_micro"))
        .select(col("n_bigrams"), col("n_types"), col("sum_micro"),
          r6(-col("sum_micro").cast("double") / 1e6
            / col("n_bigrams").cast("double")).as("cond_entropy"))
    }),

    // DOMAIN-LEXICON SCORE — per-source share of tokens drawn from a
    // fixed domain lexicon (the allowlist-scoring shape behind domain
    // classification and topicality filters). Hits and totals are
    // exact integer sums; the rate is one IEEE division. Embarrassingly
    // parallel: one explode + source aggregate.
    "q_llm_lexicon_score" -> ((s, d) => {
      val lex = Seq("table", "query", "join", "scan", "hash",
        "sort", "filter", "merge", "batch", "column")
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("w").isin(lex: _*), 1L).otherwise(0L)).as("hits"))
        .select(col("source"), col("n_tokens"), col("hits"),
          r6(col("hits").cast("double") / col("n_tokens").cast("double"))
            .as("lexicon_rate"))
        .orderBy("source")
    }),

    // EMBEDDING OUTLIER AUDIT — per label, the 5 vectors farthest from
    // their own label centroid (the mislabeled/noise sweep SemDeDup
    // pipelines run before clustering). Distance stays EXACT: with
    // components quantized to 1e4 units, n²·d² = Σᵢ(n·xᵢ − Sᵢ)² is a
    // BIGINT fold (≈6e15 at graded scale), ranking compares integers
    // only; the emitted d2 divides out n² in one shared IEEE chain
    // (un-rounded: identical op sequence both engines). Centroid
    // relation is labels×dim-sized — broadcast.
    "q_llm_embed_outlier" -> ((s, d) => {
      val comp = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(transform(col("embedding"),
            x => round(x.cast("double") * 1e4).cast("long"))))
        .select(col("vec_id"), col("label"),
          (col("pos") + 1).as("i"), col("col").as("x"))
      val cent = comp.groupBy(col("label").as("lbl"), col("i").as("ci"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("si"))
      val d2n2 = comp
        .join(broadcast(cent),
          col("label") === col("lbl") && col("i") === col("ci"))
        .withColumn("dev", col("n") * col("x") - col("si"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("dev") * col("dev")).as("d2n2"), max(col("n")).as("n"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("d2n2").desc, col("vec_id"))
      d2n2.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("label"), col("rnk"), col("vec_id"),
          (col("d2n2").cast("double")
            / (col("n") * col("n")).cast("double") / 1e8).as("d2"))
        .orderBy("label", "rnk")
    }),

    // BOWLEY QUARTILE SKEWNESS — (Q3 + Q1 − 2·Q2)/(Q3 − Q1) of order
    // totals per priority, on EXACT discrete (type-1) quartiles: the
    // k-th smallest cent value at k = ⌈q·n⌉ selected by row_number
    // with a unique tie-break, so both engines pick the identical
    // cell; the skew ratio is the one IEEE tail.
    "q_agg_bowley" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("prio"))
        .orderBy(col("cents"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("prio"))))
        .groupBy(col("prio"), col("n"))
        .agg(max(when(col("rn") === ceil(col("n") * 0.25), col("cents")))
          .as("q1"),
          max(when(col("rn") === ceil(col("n") * 0.5), col("cents")))
            .as("q2"),
          max(when(col("rn") === ceil(col("n") * 0.75), col("cents")))
            .as("q3"))
        .select(col("prio"), col("n"), col("q1"), col("q2"), col("q3"),
          r6((col("q3") + col("q1") - col("q2") * 2).cast("double")
            / (col("q3") - col("q1")).cast("double")).as("bowley"))
        .orderBy("prio")
    }),

    // ADAMIC-ADAR — Σ_{z∈N(a)∩N(b)} 1/ln(deg z), the log-damped
    // sibling of q_graph_resource_alloc. Every common neighbor has
    // deg ≥ 2 so ln(deg) ≥ ln 2 > 0; the per-z weight is quantized to
    // pico-units ONCE in the degree relation (vocabulary-sized,
    // broadcast), making the pair sum an order-free BIGINT fold.
    // Candidates arrive only through shared neighbors (Σ deg² join,
    // never |V|²).
    "q_graph_adamic_adar" -> ((s, d) => {
      val e = Extras11.symmetricEdges(s, d)
      val deg = e.groupBy(col("dst").as("z")).agg(count(lit(1)).as("degz"))
        .withColumn("w_pico", round(lit(1e12) / log(col("degz"))).cast("long"))
      // Round 17 (the two_hop lesson, §2.5): Σdeg²-output expansion on a
      // byte-sized input — explicit core-parallelism repartitions on the
      // shared join key and on the downstream pair aggregate's keys keep
      // both the expansion and the merge off single-core AQE reads.
      val p = s.sparkContext.defaultParallelism
      val eR = e.repartition(p, col("dst"))
      eR.as("p").join(eR.as("q"),
          col("p.dst") === col("q.dst") && col("p.src") < col("q.src"))
        .join(broadcast(deg), col("p.dst") === col("z"))
        .select(col("p.src").as("a"), col("q.src").as("b"), col("w_pico"))
        .repartition(p, col("a"), col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_common"), sum(col("w_pico")).as("aa_pico"))
        .select(col("a"), col("b"), col("n_common"), col("aa_pico"),
          (col("aa_pico").cast("double") / 1e12).as("aa"))
        .orderBy("a", "b")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_ts_hurst" ->
      s"""WITH $dailyKSql,
            base AS (SELECT y, row_number() OVER (ORDER BY dt) AS rn
                     FROM daily),
            rs16 AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_win_16,
                     CAST(SUM(rs_micro) AS BIGINT) AS rs_sum_16
              FROM (
                SELECT CAST(round(CAST(MAX(devn) - MIN(devn) AS DOUBLE)
                         / sqrt(CAST(MAX(ssq) * 16
                                - MAX(sw) * MAX(sw) AS DOUBLE)) * 1e6)
                       AS BIGINT) AS rs_micro
                FROM (
                  SELECT wid, cum * 16 - k * sw AS devn, ssq, sw FROM (
                    SELECT (rn - 1) // 16 AS wid,
                           rn - ((rn - 1) // 16) * 16 AS k, y, rn,
                           SUM(y) OVER (PARTITION BY (rn - 1) // 16
                             ORDER BY rn) AS cum,
                           SUM(y) OVER (PARTITION BY (rn - 1) // 16) AS sw,
                           SUM(y * y) OVER (PARTITION BY (rn - 1) // 16)
                             AS ssq,
                           COUNT(*) OVER (PARTITION BY (rn - 1) // 16)
                             AS cnt
                    FROM base) t
                  WHERE cnt = 16)
                GROUP BY wid
                HAVING MAX(ssq) * 16 > MAX(sw) * MAX(sw))),
            rs64 AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_win_64,
                     CAST(SUM(rs_micro) AS BIGINT) AS rs_sum_64
              FROM (
                SELECT CAST(round(CAST(MAX(devn) - MIN(devn) AS DOUBLE)
                         / sqrt(CAST(MAX(ssq) * 64
                                - MAX(sw) * MAX(sw) AS DOUBLE)) * 1e6)
                       AS BIGINT) AS rs_micro
                FROM (
                  SELECT wid, cum * 64 - k * sw AS devn, ssq, sw FROM (
                    SELECT (rn - 1) // 64 AS wid,
                           rn - ((rn - 1) // 64) * 64 AS k, y, rn,
                           SUM(y) OVER (PARTITION BY (rn - 1) // 64
                             ORDER BY rn) AS cum,
                           SUM(y) OVER (PARTITION BY (rn - 1) // 64) AS sw,
                           SUM(y * y) OVER (PARTITION BY (rn - 1) // 64)
                             AS ssq,
                           COUNT(*) OVER (PARTITION BY (rn - 1) // 64)
                             AS cnt
                    FROM base) t
                  WHERE cnt = 64)
                GROUP BY wid
                HAVING MAX(ssq) * 64 > MAX(sw) * MAX(sw)))
         SELECT n_win_16, rs_sum_16, n_win_64, rs_sum_64,
                round(CAST(rs_sum_16 AS DOUBLE) / 1e6 / n_win_16, 6)
                  AS rs16,
                round(CAST(rs_sum_64 AS DOUBLE) / 1e6 / n_win_64, 6)
                  AS rs64,
                round((log2(CAST(rs_sum_64 AS DOUBLE) / 1e6 / n_win_64)
                       - log2(CAST(rs_sum_16 AS DOUBLE) / 1e6 / n_win_16))
                      / 2.0, 6) AS hurst
         FROM rs16, rs64""",

    "q_ts_perm_entropy" ->
      s"""WITH $dailyKSql,
            lagd AS (SELECT y,
                       lag(y, 1) OVER (ORDER BY dt) AS y1,
                       lag(y, 2) OVER (ORDER BY dt) AS y2
                     FROM daily),
            pat AS (SELECT (CASE WHEN y2 <= y1 THEN 4 ELSE 0 END
                            + CASE WHEN y1 <= y THEN 2 ELSE 0 END
                            + CASE WHEN y2 <= y THEN 1 ELSE 0 END)
                      AS pattern,
                      CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM lagd WHERE y2 IS NOT NULL GROUP BY 1),
            tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                           CAST(COUNT(*) AS BIGINT) AS n_classes
                    FROM pat),
            t AS (SELECT n, n_classes,
                    CAST(round(CAST(cnt AS DOUBLE) / n
                      * log2(CAST(cnt AS DOUBLE) / n) * 1e9) AS BIGINT)
                      AS t_nano
                  FROM pat, tot)
         SELECT n, n_classes, CAST(SUM(t_nano) AS BIGINT) AS sum_nano,
                round(-CAST(SUM(t_nano) AS DOUBLE) / 1e9, 6)
                  AS perm_entropy
         FROM t GROUP BY n, n_classes""",

    "q_llm_bigram_entropy" ->
      """WITH pairs AS (
              SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
              FROM (SELECT ws[i] AS w1, ws[i + 1] AS w2
                    FROM (SELECT ws,
                            unnest(generate_series(1, len(ws) - 1)) AS i
                          FROM (SELECT string_split(text, ' ') AS ws
                                FROM documents) t0) t)
              GROUP BY 1, 2),
            uni AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
                    FROM pairs GROUP BY 1),
            t AS (SELECT c12,
                    CAST(round(CAST(c12 AS DOUBLE)
                      * log2(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))
                      * 1e6) AS BIGINT) AS t_micro
                  FROM pairs JOIN uni USING (w1))
         SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams,
                CAST(COUNT(*) AS BIGINT) AS n_types,
                CAST(SUM(t_micro) AS BIGINT) AS sum_micro,
                round(-CAST(SUM(t_micro) AS DOUBLE) / 1e6
                  / CAST(SUM(c12) AS DOUBLE), 6) AS cond_entropy
         FROM t""",

    "q_llm_lexicon_score" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                    FROM documents)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN w IN ('table','query','join','scan',
                  'hash','sort','filter','merge','batch','column')
                  THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                round(CAST(SUM(CASE WHEN w IN ('table','query','join',
                  'scan','hash','sort','filter','merge','batch','column')
                  THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS lexicon_rate
         FROM toks GROUP BY source ORDER BY source""",

    "q_llm_embed_outlier" ->
      """WITH comp AS (
              SELECT vec_id, label, CAST(i AS BIGINT) AS i, qe[i] AS x
              FROM (SELECT vec_id, label, qe,
                      unnest(generate_series(1, len(qe))) AS i
                    FROM (SELECT vec_id, label,
                            list_transform(embedding, v ->
                              CAST(round(CAST(v AS DOUBLE) * 10000)
                                AS BIGINT)) AS qe
                          FROM embeddings) q0) q),
            cent AS (SELECT label AS lbl, i AS ci,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS si
                     FROM comp GROUP BY 1, 2),
            d2 AS (SELECT vec_id, label,
                     CAST(SUM((n * x - si) * (n * x - si)) AS BIGINT)
                       AS d2n2,
                     MAX(n) AS n
                   FROM comp JOIN cent
                     ON comp.label = cent.lbl AND comp.i = cent.ci
                   GROUP BY 1, 2),
            rnk AS (SELECT label, vec_id, d2n2, n,
                      row_number() OVER (PARTITION BY label
                        ORDER BY d2n2 DESC, vec_id) AS rnk
                    FROM d2)
         SELECT CAST(label AS INT) AS label, CAST(rnk AS INT) AS rnk,
                vec_id,
                CAST(d2n2 AS DOUBLE) / CAST(n * n AS DOUBLE) / 1e8 AS d2
         FROM rnk WHERE rnk <= 5 ORDER BY label, rnk""",

    "q_agg_bowley" ->
      """WITH o AS (SELECT o_orderpriority AS prio, o_orderkey,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS cents
                 FROM orders),
            r AS (SELECT prio, cents,
                    row_number() OVER (PARTITION BY prio
                      ORDER BY cents, o_orderkey) AS rn,
                    COUNT(*) OVER (PARTITION BY prio) AS n
                  FROM o),
            g AS (SELECT prio, CAST(n AS BIGINT) AS n,
                    MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
                        THEN cents END) AS q1,
                    MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                        THEN cents END) AS q2,
                    MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
                        THEN cents END) AS q3
                  FROM r GROUP BY prio, n)
         SELECT prio, n, q1, q2, q3,
                round(CAST(q3 + q1 - q2 * 2 AS DOUBLE)
                  / CAST(q3 - q1 AS DOUBLE), 6) AS bowley
         FROM g ORDER BY prio""",

    "q_graph_adamic_adar" ->
      s"""WITH ${Extras11.GraphSql},
            deg AS (SELECT dst AS z, COUNT(*) AS degz,
                      CAST(round(1e12 / ln(COUNT(*))) AS BIGINT) AS w_pico
                    FROM e GROUP BY 1)
         SELECT p.src AS a, q.src AS b, COUNT(*) AS n_common,
                CAST(SUM(w_pico) AS BIGINT) AS aa_pico,
                CAST(SUM(w_pico) AS DOUBLE) / 1e12 AS aa
         FROM e p JOIN e q ON p.dst = q.dst AND p.src < q.src
         JOIN deg ON deg.z = p.dst
         GROUP BY 1, 2 ORDER BY a, b"""
  )
}
