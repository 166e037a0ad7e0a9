package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Det, Tables}

/** Round-11 additions, part 11: the round-12 candidate list claimed
  * early — Dixon's Q outlier ratio on the nation-revenue sample, the
  * Wald–Wolfowitz runs test on up/down moves (the sibling of the
  * above/below-median q_ts_runs_test), a fixed-round 4-truss peel on
  * the shared co-occurrence graph (q_graph_edge_support is round 0 of
  * exactly this), per-source Zipf slope as a micro-quantized log-log
  * OLS, and base64/hex codec accounting over the document corpus.
  *
  * Determinism contract (SURVEY §2.13): revenue cents, run counts,
  * edge counts, token counts and byte/char lengths are exact integers;
  * every log term is micro-quantized (round(ln·1e9) → BIGINT) before
  * any cross-row sum; OLS moment products run in DECIMAL(38,0) /
  * HUGEINT; each emitted real is one shared IEEE chain.
  */
object Extras85 {
  import Det._

  private val Big = DecimalType(38, 0)

  /** One 4-truss peel round: recompute per-edge triangle support
    * within the current undirected (a<b) edge set, keep support ≥ 2.
    * Join-shaped exactly like q_graph_edge_support — bounded by Σdeg²
    * of the current (shrinking) set.
    */
  private def peelRound(und: DataFrame): DataFrame = {
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e2.b") === col("e3.b") && col("e1.a") === col("e3.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val sup = tri.select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("y").as("a"), col("z").as("b")),
        struct(col("x").as("a"), col("z").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    und.join(sup, Seq("a", "b"))
      .where(col("support") >= 2)
      .select(col("a"), col("b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DIXON'S Q — the small-sample outlier ratio on the 25-value
    // per-nation revenue sample: Q_high = gap to the runner-up over
    // the range, Q_low symmetric. Order statistics via two
    // deterministic rank passes ((cents, name) ties); all gaps exact
    // cents, each Q one IEEE division.
    "q_agg_dixon_q" -> ((s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long"))
          .as("cents"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("cents"))
      val ranked = rev
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cents"), col("nation"))))
        .withColumn("rd", row_number().over(
          Window.orderBy(col("cents").desc, col("nation").desc)))
      ranked.agg(
          count(lit(1)).as("n_sample"),
          min(when(col("rn") === 1, col("cents"))).as("x1"),
          min(when(col("rn") === 2, col("cents"))).as("x2"),
          min(when(col("rd") === 2, col("cents"))).as("xn1"),
          min(when(col("rd") === 1, col("cents"))).as("xn"),
          min(when(col("rd") === 1, col("nation"))).as("suspect_high"))
        .select(col("n_sample"), col("x1").as("low_cents"),
          col("xn").as("high_cents"), col("suspect_high"),
          r6((col("x2") - col("x1")).cast("double")
            / (col("xn") - col("x1")).cast("double")).as("q_low"),
          r6((col("xn") - col("xn1")).cast("double")
            / (col("xn") - col("x1")).cast("double")).as("q_high"))
    }),

    // RUNS TEST ON UP/DOWN MOVES — the difference-sign sibling of
    // q_ts_runs_test: daily revenue first differences (zeros
    // dropped), runs of consecutive same-sign moves, and the
    // Wald–Wolfowitz up/down z with E[R] = (2n−1)/3 and
    // Var[R] = (16n−29)/90. Counts exact; z one IEEE chain.
    "q_ts_runs_updown" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("y"))
      val ord = Window.orderBy(col("dt"))
      val mv = daily
        .withColumn("diff", col("y") - lag(col("y"), 1).over(ord))
        .where(col("diff").isNotNull && col("diff") =!= 0)
        .withColumn("up", (col("diff") > 0).cast("int"))
      val ord2 = Window.orderBy(col("dt"))
      val agg = mv
        .withColumn("chg",
          when(lag(col("up"), 1).over(ord2).isNull
            || lag(col("up"), 1).over(ord2) =!= col("up"), 1L)
            .otherwise(0L))
        .agg(count(lit(1)).as("n_moves"),
          sum(col("up").cast("long")).as("n_up"),
          sum(col("chg")).as("n_runs"))
      agg.select(col("n_moves"), col("n_up"), col("n_runs"),
        r6((col("n_runs").cast("double")
          - (lit(2.0) * col("n_moves").cast("double") - 1.0) / 3.0)
          / sqrt((lit(16.0) * col("n_moves").cast("double") - 29.0)
            / 90.0)).as("z_updown"))
    }),

    // 4-TRUSS PEEL — three fixed peel rounds on the shared
    // co-occurrence graph (q_graph_edge_support is round 0's support
    // profile): each round drops edges in < 2 triangles, support
    // recomputed on the survivors. Fixed round count keeps both
    // engines on the same plan (no convergence read); the spec
    // verifies the peel has actually reached its fixed point on the
    // testdata. Each survivor set is a Fixpoint round, so lineage
    // stays one round deep.
    "q_graph_ktruss" -> ((s, d) => {
      Fixpoint.rounds(Extras11.undirectedEdges(s, d), 3)(peelRound)
        .zipWithIndex.map { case (edges, r) =>
          edges.agg(count(lit(1)).as("n_edges"))
            .select(lit(r.toLong).as("peel_round"), col("n_edges"))
        }.reduce(_ unionByName _).orderBy("peel_round")
    }),

    // PER-SOURCE ZIPF SLOPE — the log-log OLS over each source's top
    // 50 token ranks (global q_llm_zipf reports shares; this fits the
    // exponent per corpus source). Ranks come from the two-phase
    // salted top-k (local top-50 per (source, salt), re-rank bounded
    // candidates — the q_scan_sample_pergroup discipline, so no
    // full-vocab funnel through #sources partitions). ln terms
    // micro-quantized to 1e-9 before summing; moment products in
    // DECIMAL(38,0).
    "q_llm_zipf_source" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
        .withColumn("salt", pmod(md5long(col("w")), lit(32L)))
      val wLocal = Window.partitionBy(col("source"), col("salt"))
        .orderBy(col("n").desc, col("w"))
      val cand = counts
        .withColumn("lrn", row_number().over(wLocal))
        .where(col("lrn") <= 50)
      val wGlobal = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("w"))
      val top = cand
        .withColumn("rank", row_number().over(wGlobal))
        .where(col("rank") <= 50)
        .select(col("source"),
          round(log(col("rank").cast("double")) * 1e9).cast("long")
            .as("xi"),
          round(log(col("n").cast("double")) * 1e9).cast("long")
            .as("yi"))
      top.groupBy(col("source"))
        .agg(count(lit(1)).as("n_ranks"),
          sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
          sum(col("xi").cast(Big) * col("yi").cast(Big)).as("sxy"),
          sum(col("xi").cast(Big) * col("xi").cast(Big)).as("sxx"))
        .select(col("source"), col("n_ranks"),
          r6((col("n_ranks").cast(Big) * col("sxy")
            - col("sx").cast(Big) * col("sy").cast(Big)).cast("double")
            / (col("n_ranks").cast(Big) * col("sxx")
              - col("sx").cast(Big) * col("sx").cast(Big))
              .cast("double")).as("zipf_slope"))
        .orderBy("source")
    }),

    // BASE64 / HEX CODEC ACCOUNTING — the wire-size audit a blob
    // pipeline runs before shipping payloads: per source, exact UTF-8
    // byte totals, base64 and hex character totals, the round-trip
    // decode check, and the measured base64 expansion ratio (→ 4/3 as
    // payloads grow). Pure per-row codecs + exact integer sums; the
    // ratio is one IEEE division.
    "q_fn_base64" -> ((s, d) => {
      // Spark's base64 emits MIME-chunked output (CRLF every 76
      // chars); strip to the RFC-4648 canonical form DuckDB emits.
      val enc = Tables.documents(s, d)
        .select(col("source"), col("text"),
          octet_length(col("text")).cast("long").as("nbytes"),
          translate(base64(col("text").cast("binary")), "\r\n", "")
            .as("b64"),
          hex(col("text").cast("binary")).as("hx"))
      enc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nbytes")).as("text_bytes"),
          sum(length(col("b64")).cast("long")).as("b64_chars"),
          sum(length(col("hx")).cast("long")).as("hex_chars"),
          sum((unbase64(col("b64")).cast("string") === col("text"))
            .cast("long")).as("n_roundtrip_ok"))
        .select(col("source"), col("n_docs"), col("text_bytes"),
          col("b64_chars"), col("hex_chars"), col("n_roundtrip_ok"),
          r6(col("b64_chars").cast("double")
            / col("text_bytes").cast("double")).as("b64_expansion"))
        .orderBy("source")
    })
  )

  /** One unrolled truss peel round in oracle SQL; survivor sets are
    * MATERIALIZED (a DuckDB CTE referenced N times is re-evaluated N
    * times — §2.13; three rounds would compound). */
  private def trussRoundSql(i: Int): String = {
    val prev = if (i == 1) "undm" else s"und${i - 1}"
    s"""tri$i AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM $prev e1
                  JOIN $prev e2 ON e1.b = e2.a
                  JOIN $prev e3 ON e2.b = e3.b AND e1.a = e3.a),
        sup$i AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support
                  FROM (SELECT x AS a, y AS b FROM tri$i
                        UNION ALL SELECT y, z FROM tri$i
                        UNION ALL SELECT x, z FROM tri$i)
                  GROUP BY 1, 2),
        und$i AS MATERIALIZED (
          SELECT u.a, u.b FROM $prev u
          JOIN sup$i s ON s.a = u.a AND s.b = u.b
          WHERE s.support >= 2)"""
  }

  val oracle: Map[String, String] = Map(

    "q_agg_dixon_q" ->
      """WITH rev AS (SELECT n.n_name AS nation,
                    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                      * 100 AS BIGINT)) AS BIGINT) AS cents
                 FROM orders o
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 JOIN nation n ON c.c_nationkey = n.n_nationkey
                 GROUP BY 1),
            rk AS (SELECT nation, cents,
                     row_number() OVER (ORDER BY cents, nation) AS rn,
                     row_number() OVER (ORDER BY cents DESC, nation DESC)
                       AS rd
                   FROM rev),
            a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
                    MIN(CASE WHEN rn = 1 THEN cents END) AS x1,
                    MIN(CASE WHEN rn = 2 THEN cents END) AS x2,
                    MIN(CASE WHEN rd = 2 THEN cents END) AS xn1,
                    MIN(CASE WHEN rd = 1 THEN cents END) AS xn,
                    MIN(CASE WHEN rd = 1 THEN nation END) AS suspect_high
                  FROM rk)
         SELECT n_sample, x1 AS low_cents, xn AS high_cents,
                suspect_high,
                round(CAST(x2 - x1 AS DOUBLE)
                  / CAST(xn - x1 AS DOUBLE), 6) AS q_low,
                round(CAST(xn - xn1 AS DOUBLE)
                  / CAST(xn - x1 AS DOUBLE), 6) AS q_high
         FROM a""",

    "q_ts_runs_updown" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS y
                 FROM orders GROUP BY 1),
            mv AS (SELECT dt, y - lag(y) OVER (ORDER BY dt) AS diff
                   FROM daily),
            up AS (SELECT dt,
                     CASE WHEN diff > 0 THEN 1 ELSE 0 END AS up
                   FROM mv WHERE diff IS NOT NULL AND diff <> 0),
            chg AS (SELECT up,
                      CASE WHEN lag(up) OVER (ORDER BY dt) IS NULL
                             OR lag(up) OVER (ORDER BY dt) <> up
                           THEN 1 ELSE 0 END AS chg
                    FROM up),
            a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_moves,
                    CAST(SUM(up) AS BIGINT) AS n_up,
                    CAST(SUM(chg) AS BIGINT) AS n_runs
                  FROM chg)
         SELECT n_moves, n_up, n_runs,
                round((CAST(n_runs AS DOUBLE)
                    - (2.0 * CAST(n_moves AS DOUBLE) - 1.0) / 3.0)
                  / sqrt((16.0 * CAST(n_moves AS DOUBLE) - 29.0)
                    / 90.0), 6) AS z_updown
         FROM a""",

    "q_graph_ktruss" ->
      s"""WITH ${Extras11.GraphSql},
            undm AS MATERIALIZED (SELECT a, b FROM und),
            ${trussRoundSql(1)},
            ${trussRoundSql(2)},
            ${trussRoundSql(3)}
         SELECT CAST(0 AS BIGINT) AS peel_round,
                CAST(COUNT(*) AS BIGINT) AS n_edges FROM undm
         UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT) FROM und1
         UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT) FROM und2
         UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT) FROM und3
         ORDER BY peel_round""",

    "q_llm_zipf_source" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
                 FROM documents),
            c AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
                  FROM tok GROUP BY 1, 2),
            rk AS (SELECT source, n,
                     CAST(row_number() OVER (PARTITION BY source
                       ORDER BY n DESC, w) AS BIGINT) AS rank
                   FROM c),
            t AS (SELECT source,
                    CAST(round(ln(CAST(rank AS DOUBLE)) * 1e9) AS BIGINT)
                      AS xi,
                    CAST(round(ln(CAST(n AS DOUBLE)) * 1e9) AS BIGINT)
                      AS yi
                  FROM rk WHERE rank <= 50),
            m AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ranks,
                    CAST(SUM(xi) AS BIGINT) AS sx,
                    CAST(SUM(yi) AS BIGINT) AS sy,
                    SUM(CAST(xi AS HUGEINT) * CAST(yi AS HUGEINT)) AS sxy,
                    SUM(CAST(xi AS HUGEINT) * CAST(xi AS HUGEINT)) AS sxx
                  FROM t GROUP BY 1)
         SELECT source, n_ranks,
                round(CAST(CAST(n_ranks AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)
                    AS DOUBLE)
                  / CAST(CAST(n_ranks AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                    AS DOUBLE), 6) AS zipf_slope
         FROM m ORDER BY source""",

    "q_fn_base64" ->
      """WITH enc AS (SELECT source, text,
                    CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
                    base64(encode(text)) AS b64,
                    hex(encode(text)) AS hx
                 FROM documents),
            a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(nbytes) AS BIGINT) AS text_bytes,
                    CAST(SUM(length(b64)) AS BIGINT) AS b64_chars,
                    CAST(SUM(length(hx)) AS BIGINT) AS hex_chars,
                    CAST(SUM(CASE WHEN decode(from_base64(b64)) = text
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
                  FROM enc GROUP BY 1)
         SELECT source, n_docs, text_bytes, b64_chars, hex_chars,
                n_roundtrip_ok,
                round(CAST(b64_chars AS DOUBLE)
                  / CAST(text_bytes AS DOUBLE), 6) AS b64_expansion
         FROM a ORDER BY source"""
  )
}
