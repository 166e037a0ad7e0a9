package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, Tables}

/** Round-7 additions, part 5: sequence mining (top event paths), rolling
  * regression slope, IQR outlier detection, rolling median, and BPE
  * merge learning — the remaining everyday analytics shapes plus the
  * tokenizer-training kernel the LLM-pipeline mandate sketches.
  */
object Extras15 {
  import Det._

  /** The shared BPE learn loop: vocabulary-collapsed (w, seq, wc) symbol
    * sequences, 3 greedy merge rounds (top pair pinned n DESC, p1, p2;
    * non-overlapping left-to-right replace — the scan rule both engines'
    * literal replace() implements). Returns the merge-rule table and the
    * final vocabulary frame. One bounded 1-row driver read per round
    * (the Components convergence-scalar pattern). */
  private def bpeLearn(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var seqs = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), concat(lit(" "),
        trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" ")).as("seq"),
        col("wc"))
      .duckCkpt()
    val steps = (1 to 3).map { step =>
      val top = seqs
        .select(split(trim(col("seq")), " ").as("t"), col("wc"))
        .select(explode(expr(
          """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
             (x, y) -> struct(x AS p1, y AS p2))""")).as("b"), col("wc"))
        .groupBy(col("b.p1").as("p1"), col("b.p2").as("p2"))
        .agg(sum(col("wc")).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("p1"), col("p2"))
        .limit(1).head()
      val (p1, p2, n) = (top.getString(0), top.getString(1), top.getLong(2))
      // symbols are alphanumeric by fixture construction; guard the
      // literal injection into the replace() expression anyway
      require((p1 + p2).forall(_.isLetterOrDigit),
        s"non-alphanumeric BPE symbol: '$p1' '$p2'")
      seqs = seqs.select(col("w"),
        expr(s"replace(seq, ' $p1 $p2 ', ' $p1$p2 ')").as("seq"),
        col("wc")).duckCkpt()
      (step, p1, p2, n)
    }
    (steps, seqs)
  }

  /** One BPE round as DuckDB CTEs: weighted bigram counts over the
    * space-joined symbol sequences, deterministic top pair
    * (n DESC, p1, p2), non-overlapping left-to-right merge. */
  private def bpeStepsSql(n: Int): String =
    (1 to n).map { i =>
      val prev = s"s${i - 1}"
      s"""b$i AS (SELECT ws[i] AS p1, ws[i + 1] AS p2, wc
             FROM (SELECT string_split(trim(seq), ' ') AS ws, wc
                   FROM $prev),
                  unnest(generate_series(1, len(ws) - 1)) t(i)),
         c$i AS (SELECT p1, p2, CAST(SUM(wc) AS BIGINT) AS n_pairs
                 FROM b$i GROUP BY 1, 2),
         t$i AS (SELECT * FROM c$i ORDER BY n_pairs DESC, p1, p2 LIMIT 1),
         s$i AS (SELECT w, replace(seq, ' ' || p1 || ' ' || p2 || ' ',
                                   ' ' || p1 || p2 || ' ') AS seq, wc
                 FROM $prev CROSS JOIN t$i)"""
    }.mkString(",\n")

  /** Session-lifetime parquet-sink staging dirs, one per fixture dir:
    * the file sink's checkpoint makes re-runs no-ops (offsets already
    * committed — the exactly-once property itself), so reusing the dir
    * across invocations is both correct and the anti-accumulation fix
    * the q_stream_live_resume cleanup taught. */
  private val sinkDirs =
    new scala.collection.concurrent.TrieMap[String, java.nio.file.Path]()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ELEVENTH live streaming key — the PARQUET FILE SINK (every other
    // live key uses the memory sink; a production pipeline lands on
    // files): watermarked tumbling counts in APPEND mode, exactly-once
    // via the sink checkpoint + _spark_metadata commit log. Append only
    // emits windows FINALIZED by the watermark, so the trailing windows
    // within 10 minutes of max(ts) are deliberately held back — the
    // oracle states the same cutoff (w_end <= max_ts − 10 min).
    // Re-invocations reuse the checkpoint: AvailableNow finds no new
    // offsets, writes nothing, and the readback returns the committed
    // result — idempotence as a graded property.
    "q_stream_live_filesink" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = sinkDirs.getOrElseUpdate(d,
        java.nio.file.Files.createTempDirectory("graft_filesink"))
      val out = staging.resolve("out").toString
      val chk = staging.resolve("chk").toString
      graft.streaming.StreamOps.withCappedState(s) {
        val q = graft.streaming.StreamOps
          .tumblingWithWatermark(
            graft.streaming.StreamOps.eventsFileStream(s, d))
          .select(tsUs(col("ws")).as("ws_us"), col("event_type"), col("n"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out).orderBy("ws_us", "event_type")
    }),

    // EVENT PATH MINING — counts of each length-3 event-type path per
    // user stream (the sequence-mining view funnels are built from).
    // Two lead() taps over ONE (user_id) exchange (same-spec windows
    // share the sort), then a bounded 5³ aggregate. The (ts, event_id)
    // tiebreak keeps paths a total order in both engines.
    "q_evt_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("t1"),
          col("ts"), col("event_id"))
        .withColumn("t2", lead(col("t1"), 1).over(w))
        .withColumn("t3", lead(col("t1"), 2).over(w))
        .where(col("t3").isNotNull)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("t1", "t2", "t3")
    }),

    // ROLLING REGRESSION SLOPE — 30-day rolling trend of the daily
    // revenue series: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with x the
    // day index and y exact-decimal revenue. Every windowed sum is
    // EXACT (integer x, decimal y, decimal x·y); the slope is one
    // shared IEEE tail formula, round 6. Calendar-bounded
    // single-partition window (the q_ts_acf argument); emitted only for
    // full 30-row frames so no partial-window edge semantics are in
    // play.
    "q_win_slope" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum(dec(col("o_totalprice"))).cast(Det.D2).as("y"))
      val seq = daily.select(col("dt"), col("y"),
        row_number().over(Window.orderBy("dt")).cast("long").as("x"))
      val w = Window.orderBy("dt").rowsBetween(-29, 0)
      seq.select(col("dt"),
          count(lit(1)).over(w).as("n"),
          sum(col("x")).over(w).cast("double").as("sx"),
          sum(col("y")).over(w).cast("double").as("sy"),
          sum(col("x") * col("y")).over(w).cast("double").as("sxy"),
          sum(col("x") * col("x")).over(w).cast("double").as("sxx"))
        .where(col("n") === 30)
        .select(col("dt"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("slope30"))
        .orderBy("dt")
    }),

    // ROLLING MEDIAN — 25-day windowed median of the daily revenue
    // series. Spark has NO percentile-over-window executor, so this is
    // the composition path (SURVEY §7.3 preference (a)): collect_list
    // over the ROWS frame → array_sort → middle element — exact because
    // the values are 2-dp decimals and 25 is odd (no interpolation).
    // Checked against DuckDB's NATIVE windowed median() executor — two
    // different implementations, one hash (the q_win_exclude/q_agg_mad
    // pattern). Full frames only; the 25-element sort per row is O(k
    // log k) on a calendar-bounded series — constant work at any data
    // volume.
    "q_win_median_rolling" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum(dec(col("o_totalprice"))).cast(Det.D2).as("v"))
      val w = Window.orderBy("dt").rowsBetween(-24, 0)
      daily.select(col("dt"),
          count(lit(1)).over(w).as("n"),
          element_at(array_sort(collect_list(col("v")).over(w)), 13)
            .as("med"))
        .where(col("n") === 25)
        .select(col("dt"), col("med").cast("double").as("med25"))
        .orderBy("dt")
    }),

    // BPE MERGE LEARNING — the first 3 merge rules of byte-pair encoding
    // over the corpus vocabulary: characters as initial symbols, each
    // round picks the highest-frequency adjacent pair (ties pinned
    // n DESC, p1, p2) and merges every NON-OVERLAPPING left-to-right
    // occurrence (both engines' literal replace() shares that exact
    // scan rule — asserted equal by the oracle hash). The corpus
    // collapses to the VOCABULARY first (one row per distinct word +
    // count), so each round's pair count and merge run over ~|vocab|
    // rows no matter the data volume — the reason real BPE trainers are
    // feasible at 100 TB. Per round: one bounded aggregate, one 1-row
    // driver read (the Components convergence-scalar pattern), one
    // projection; sequences re-checkpoint each round so lineage stays
    // constant.
    "q_llm_bpe_merges" -> ((s, d) => {
      val steps = bpeLearn(s, d)._1
      import s.implicits._
      steps.toDF("step", "p1", "p2", "n_pairs").orderBy("step")
    }),

    // BPE APPLY — tokenize the corpus with the 3 learned merge rules:
    // the vocabulary (one row per distinct word) carries its merged
    // symbol sequence; documents re-explode to words and broadcast-join
    // the tiny vocab, then one doc_id aggregate yields pre/post symbol
    // counts — the tokens-per-doc accounting a training pipeline packs
    // batches by. All integers, fully exact.
    "q_llm_bpe_apply" -> ((s, d) => {
      val vocab = bpeLearn(s, d)._2
        .select(col("w"),
          size(split(trim(col("seq")), " ")).cast("long").as("n_sym"),
          length(col("w")).cast("long").as("n_chr"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .join(broadcast(vocab), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_chr")).as("n_chars"),
          sum(col("n_sym")).as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),

    // IQR OUTLIER DETECTION — Tukey fences per group: quartiles via the
    // interpolated percentile both engines define identically
    // (q_agg_percentile precedent; quartiles of integer-valued
    // quantities are 0.25-grained ⇒ binary-exact), bounds q1−1.5·IQR /
    // q3+1.5·IQR (exact binary arithmetic), outliers counted per
    // return flag. Quartile relation is group-sized and broadcast back
    // onto the scan — two passes, both shuffling only on the group key.
    "q_ts_outlier_iqr" -> ((s, d) => {
      val q = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("q1"),
          expr("percentile(l_quantity, 0.75)").as("q3"))
        .select(col("l_returnflag"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      Tables.lineitem(s, d).join(broadcast(q), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < col("lo")
            || col("l_quantity") > col("hi"), 1L).otherwise(0L))
            .as("n_outliers"),
          min(col("lo")).as("lo"), min(col("hi")).as("hi"))
        .orderBy("l_returnflag")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_evt_paths" ->
      """WITH x AS (SELECT user_id, event_type AS t1,
                lead(event_type, 1) OVER (PARTITION BY user_id
                  ORDER BY ts::TIMESTAMP, event_id) AS t2,
                lead(event_type, 2) OVER (PARTITION BY user_id
                  ORDER BY ts::TIMESTAMP, event_id) AS t3
              FROM events)
         SELECT t1, t2, t3, COUNT(*) AS n,
                COUNT(DISTINCT user_id) AS n_users
         FROM x WHERE t3 IS NOT NULL
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q_win_slope" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                -- (19,2) forces DuckDB's int128 decimal path (the
                -- q_ts_acf lesson): int64 multiply overflows at sf0.1
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(19,2)) AS y
              FROM orders GROUP BY 1),
            seq AS (SELECT dt, y,
                CAST(row_number() OVER (ORDER BY dt) AS BIGINT) AS x
              FROM daily),
            s AS (SELECT dt,
                COUNT(*) OVER w AS n,
                CAST(SUM(x) OVER w AS DOUBLE) AS sx,
                CAST(SUM(y) OVER w AS DOUBLE) AS sy,
                CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
                CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx
              FROM seq
              WINDOW w AS (ORDER BY dt
                ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
         SELECT dt, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                  AS slope30
         FROM s WHERE n = 30 ORDER BY dt""",
    "q_stream_live_filesink" ->
      """WITH b AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS ws,
                event_type, COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            m AS (SELECT max(ts::TIMESTAMP) AS mx FROM events)
         SELECT epoch_us(ws) AS ws_us, event_type, n
         FROM b CROSS JOIN m
         WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
         ORDER BY ws_us, event_type""",
    "q_llm_bpe_merges" ->
      s"""WITH w0 AS (SELECT w, COUNT(*) AS wc
               FROM (SELECT unnest(string_split(text, ' ')) AS w
                     FROM documents) GROUP BY 1),
            s0 AS (SELECT w,
                     ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g'))
                     || ' ' AS seq, wc FROM w0),
            ${bpeStepsSql(3)}
         SELECT step, p1, p2, n_pairs FROM (
           SELECT 1 AS step, p1, p2, n_pairs FROM t1
           UNION ALL SELECT 2, p1, p2, n_pairs FROM t2
           UNION ALL SELECT 3, p1, p2, n_pairs FROM t3)
         ORDER BY step""",
    "q_llm_bpe_apply" ->
      s"""WITH w0 AS (SELECT w, COUNT(*) AS wc
               FROM (SELECT unnest(string_split(text, ' ')) AS w
                     FROM documents) GROUP BY 1),
            s0 AS (SELECT w,
                     ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g'))
                     || ' ' AS seq, wc FROM w0),
            ${bpeStepsSql(3)},
            vocab AS (SELECT w,
                CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_sym,
                CAST(length(w) AS BIGINT) AS n_chr
              FROM s3),
            dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents)
         SELECT doc_id, COUNT(*) AS n_words,
                CAST(SUM(n_chr) AS BIGINT) AS n_chars,
                CAST(SUM(n_sym) AS BIGINT) AS n_tokens_bpe
         FROM dw JOIN vocab USING (w)
         GROUP BY 1 ORDER BY doc_id""",
    "q_win_median_rolling" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS v
              FROM orders GROUP BY 1),
            m AS (SELECT dt,
                COUNT(*) OVER w AS n,
                median(v) OVER w AS med
              FROM daily
              WINDOW w AS (ORDER BY dt
                ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
         SELECT dt, CAST(med AS DOUBLE) AS med25
         FROM m WHERE n = 25 ORDER BY dt""",
    "q_ts_outlier_iqr" ->
      """WITH q AS (SELECT l_returnflag,
                quantile_cont(l_quantity, 0.25) AS q1,
                quantile_cont(l_quantity, 0.75) AS q3
              FROM lineitem GROUP BY 1),
            b AS (SELECT l_returnflag,
                q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
              FROM q)
         SELECT l.l_returnflag, COUNT(*) AS n,
                CAST(SUM(CASE WHEN l.l_quantity < b.lo
                              OR l.l_quantity > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                MIN(b.lo) AS lo, MIN(b.hi) AS hi
         FROM lineitem l JOIN b USING (l_returnflag)
         GROUP BY 1 ORDER BY 1"""
  )
}
