package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Det, FixtureCache, Tables}

/** Round-6 operator additions: graded checkpoint-resume (the reference
  * store's resume-from-offset semantic, previously spec-only), a
  * mergeable exact quantile sketch, the xpath scalar family, and a
  * Hilbert-curve layout beside Z-order.
  */
object Extras9 {
  import Det._

  /** Hilbert curve order (bits per dimension): 256×256 grid. The index
    * itself is the codegen'd HilbertIndex expression (an unrolled Column
    * formula duplicates each round's subtrees into the next — tree size
    * exponential in the order; measured minutes of driver-side analysis
    * at order 8). */
  private val HilbertOrder = 8
  private val HilbertSide = 1L << HilbertOrder

  /** The same rounds as DuckDB SQL: r0..r7 chained CTEs over (x, y, d),
    * original coords carried as (x0, y0) for the span aggregate. */
  private def hilbertRoundsSql(from: String): (String, String) = {
    val rounds = Iterator.iterate(HilbertSide >> 1)(_ >> 1)
      .takeWhile(_ > 0).zipWithIndex.map { case (s, i) =>
        val prev = if (i == 0) from else s"r${i - 1}"
        s"""r$i AS (
           SELECT o_orderkey, x0, y0,
             CASE WHEN ry = 0
                  THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END)
                  ELSE x END AS x,
             CASE WHEN ry = 0
                  THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END)
                  ELSE y END AS y,
             d + ${s * s} * xor(3 * rx, ry) AS d
           FROM (SELECT *,
                   CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
                 FROM $prev))"""
      }.toSeq
    (rounds.mkString(",\n"), s"r${rounds.size - 1}")
  }

  /** Unique memory-sink names per invocation (memory sink tables live for
    * the session; a fixed name would collide across invocations). */
  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def nextSink(prefix: String): String =
    s"${prefix}_${sinkSeq.incrementAndGet()}"

  /** The events table split into two single-FILE parquet halves by
    * event_id parity — the "already ingested" half and the "arrives after
    * the restart" half. Built once per testdata snapshot (FixtureCache);
    * the per-invocation staging below only hardlinks these files. */
  private[operators] def eventsSplit(s: SparkSession, d: String): Path = {
    val dir = FixtureCache.ensure("events_split2", Seq(s"$d/events.parquet"),
      "split by event_id % 2, single file each, ts as µs v1") { dest =>
      val ev = Tables.events(s, d) // ns→µs conversion happens here, once
      Files.createDirectories(Paths.get(dest))
      for ((tag, par) <- Seq("a" -> 0, "b" -> 1)) {
        val tmp = s"$dest/build_$tag"
        ev.where(pmod(col("event_id"), lit(2)) === par)
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part written under $tmp"))
        Files.move(part.toPath, Paths.get(s"$dest/$tag.parquet"))
      }
    }
    Paths.get(dir)
  }

  /** Hardlink (fall back to copy) src into dir. */
  private def stage(src: Path, dir: Path): Unit = {
    val dst = dir.resolve(src.getFileName)
    try Files.createLink(dst, src)
    catch { case _: Exception => Files.copy(src, dst) }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CHECKPOINT-RESUME — the reference store's core semantic (append,
    // then resume reading from a durable offset) in the graded set. Run 1
    // streams half the events (AvailableNow) into a per-event_type
    // aggregate and stops; half B is then added to the source dir and the
    // SAME query restarts from the SAME checkpoint. The file-stream source
    // resumes from its recorded offset (half A is never re-read — the spec
    // asserts run 2's input row count is exactly |B|), the state store
    // recovers run 1's partial aggregates, and the complete-mode output
    // equals the batch aggregate over A ∪ B. Any offset-replay bug (reread
    // or skip) doubles or loses counts and fails the oracle hash.
    // Counts and exact-cents sums are integers — order- and
    // batch-split-free, so the hash is deterministic however the two runs
    // shard the files.
    "q_stream_live_resume" -> ((s, d) => {
      val split = eventsSplit(s, d)
      val staging = Files.createTempDirectory("graft_resume")
      val in = Files.createDirectories(staging.resolve("in"))
      val chk = staging.resolve("chk").toString
      val schema = s.read.parquet(s"$split/a.parquet").schema
      def agg: DataFrame = s.readStream.schema(schema).parquet(in.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast(D2) * 100).cast("long")).as("total_cents"))
      def runOnce(name: String): Unit = {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(name)
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      graft.streaming.StreamOps.withCappedState(s) {
        val sink1 = nextSink("resume_run1")
        val sink2 = nextSink("resume_run2")
        try {
          stage(split.resolve("a.parquet"), in)
          runOnce(sink1)
          stage(split.resolve("b.parquet"), in)
          runOnce(sink2)
          // Materialize the per-event_type aggregate (bounded: one row per
          // type) so the memory-sink views and the per-invocation staging
          // dir can be dropped before returning — repeated verify/bench
          // cycles in one JVM otherwise accumulate catalog entries and
          // /tmp/graft_resume* dirs without bound.
          val out = s.table(sink2).orderBy("event_type")
          val rows = java.util.Arrays.asList(out.collect(): _*)
          s.createDataFrame(rows, out.schema)
        } finally {
          s.catalog.dropTempView(sink1)
          s.catalog.dropTempView(sink2)
          import scala.jdk.CollectionConverters._
          Files.walk(staging).iterator().asScala.toSeq.reverse
            .foreach(p => { val _ = Files.deleteIfExists(p) })
        }
      }
    }),

    // MERGEABLE EXACT QUANTILE SKETCH — the deterministic sibling of
    // percentile_approx (which is rows-only ✘-oracle because its survey
    // internals are engine-specific). The sketch is a fixed-width integer
    // histogram over exact cents: 16 per-shard bucket-count maps are the
    // mergeable summaries (merge = plain integer SUM — associative,
    // commutative, order-free, the KLL/t-digest role with zero float
    // state), a cumulative scan over the ~1.1k-bucket merged relation
    // answers any quantile with error bounded by the bucket width
    // (49 cents), and the probe never touches the raw data again. The
    // exact quantile rides along from a cents-granularity CDF — also a
    // bounded relation (distinct 2-dp values of a bounded measure), so
    // nothing here scans-and-sorts raw rows: at 100 TB both CDFs are
    // tiny aggregates and the quantile probe is a broadcast join.
    // All arithmetic is integer (rank = ceil via (n*q+999999) div 1e6),
    // so the hash match is exact by construction.
    "q_agg_quantile_sketch" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        (col("value").cast(D2) * 100).cast("long").as("cents"))
      // (1) per-shard sketches — the mergeable artifact
      val perShard = ev.groupBy(
          pmod(md5long(col("event_id").cast("string")), lit(16L)).as("shard"),
          expr("cents div 50").as("b"))
        .agg(count(lit(1)).as("n"))
      // (2) merge = integer sum per bucket; (3) bucket CDF (tiny relation)
      val cdf = perShard.groupBy(col("b")).agg(sum(col("n")).as("n"))
        .withColumn("cum", sum(col("n")).over(Window.orderBy("b")))
        .select(col("b"), col("cum"))
      val centsCdf = ev.groupBy(col("cents")).agg(count(lit(1)).as("n"))
        .withColumn("cum", sum(col("n")).over(Window.orderBy("cents")))
        .select(col("cents"), col("cum"))
      // n_total from the bucket-CDF relation, NOT a third scan of the
      // raw events (round-15: the probe spine is derived data; the raw
      // table is read exactly twice — sketch build + exact CDF)
      val probes = perShard.agg(sum(col("n")).as("n_total"))
        .select(col("n_total"), explode(array(
          lit(10000L), lit(250000L), lit(500000L),
          lit(750000L), lit(900000L), lit(990000L))).as("q_ppm"))
        .withColumn("rnk",
          expr("(n_total * q_ppm + 999999) div 1000000"))
      val est = probes.join(broadcast(cdf), col("cum") >= col("rnk"))
        .groupBy(col("q_ppm"), col("n_total"), col("rnk"))
        .agg(min(col("b")).as("b_est"))
      val exact = probes.join(broadcast(centsCdf), col("cum") >= col("rnk"))
        .groupBy(col("q_ppm"))
        .agg(min(col("cents")).as("exact_cents"))
      est.join(exact, Seq("q_ppm"))
        .select(col("q_ppm"), col("n_total"), col("exact_cents"),
          (col("b_est") * 50).as("est_lo_cents"),
          (col("b_est") * 50 + 49).as("est_hi_cents"))
        .orderBy("q_ppm")
    }),

    // xpath scalar family — typed XPath extraction over an XML column
    // (xpath_string / xpath_int / xpath_double / xpath_boolean / xpath →
    // array), completing the XML surface next to q_fn_xml's from_xml.
    // The document is synthesized from base columns, so the oracle can
    // STATE the expected scalars directly from the raw table: the check
    // proves the synth→parse→extract round trip recovers every value
    // exactly. Balance is stringified through DECIMAL(18,2) (both engines
    // then parse the identical digits to the same nearest double). Pure
    // per-row projection — no shuffle, codegen end to end.
    "q_fn_xpath" -> ((s, d) => {
      val xml = concat(
        lit("<r><n>"), col("c_name"), lit("</n><k>"), col("c_nationkey"),
        lit("</k><b>"), col("c_acctbal").cast(D2), lit("</b><t>"),
        col("c_mktsegment"), lit("</t><t>"), col("c_nationkey"),
        lit("</t></r>"))
      Tables.customer(s, d)
        .select(col("c_custkey"), xml.as("x"))
        .select(col("c_custkey"),
          xpath_string(col("x"), lit("/r/n/text()")).as("name_s"),
          xpath_int(col("x"), lit("/r/k/text()")).as("nk"),
          xpath_double(col("x"), lit("/r/b/text()")).as("bal"),
          xpath_boolean(col("x"), lit("/r/b")).as("has_b"),
          size(xpath(col("x"), lit("/r/t/text()"))).as("n_t"),
          concat_ws("|", xpath(col("x"), lit("/r/t/text()"))).as("tags"))
        .orderBy("c_custkey")
    }),

    // HILBERT-CURVE LAYOUT beside q_layout_zorder: same contract (bucket
    // rows by a space-filling index over (custkey, totalprice), prove
    // both dimensions stay range-bounded within every bucket), but the
    // Hilbert walk never jumps across the plane, so bucket spans — the
    // min/max file stats a lakehouse skips files by — are tighter than
    // Z-order's (Extras9Spec measures both curves on the same grid and
    // asserts it). Index math is an unrolled integer recurrence per row;
    // the only shuffle is the final stats aggregate.
    "q_layout_hilbert" -> ((s, d) => {
      val x = pmod(col("o_custkey"), lit(HilbertSide))
      val y = pmod(floor(col("o_totalprice")).cast("long"), lit(HilbertSide))
      Tables.orders(s, d)
        .select(col("o_orderkey"), x.as("x"), y.as("y"),
          graft.functions.HilbertIndex.hilbert(x, y, HilbertOrder).as("hval"))
        .groupBy(expr("hval div 1024").as("hbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy("hbucket")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_stream_live_resume" ->
      """SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                     AS BIGINT) AS total_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_agg_quantile_sketch" ->
      """WITH ev AS (
           SELECT event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events),
         shards AS (
           SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 16 AS shard,
                  cents // 50 AS b, COUNT(*) AS n
           FROM ev GROUP BY 1, 2),
         merged AS (SELECT b, CAST(SUM(n) AS BIGINT) AS n FROM shards GROUP BY 1),
         cdf AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum FROM merged),
         ccdf AS (SELECT cents, SUM(n) OVER (ORDER BY cents) AS cum
                  FROM (SELECT cents, COUNT(*) AS n FROM ev GROUP BY 1)),
         tot AS (SELECT COUNT(*) AS n_total FROM ev),
         pr AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm, n_total,
                       (n_total * q_ppm + 999999) // 1000000 AS rnk
                FROM (SELECT unnest([10000, 250000, 500000,
                                     750000, 900000, 990000]) AS q_ppm)
                CROSS JOIN tot),
         est AS (SELECT pr.q_ppm, pr.n_total, MIN(cdf.b) AS b_est
                 FROM pr JOIN cdf ON cdf.cum >= pr.rnk GROUP BY 1, 2),
         ex AS (SELECT pr.q_ppm, MIN(ccdf.cents) AS exact_cents
                FROM pr JOIN ccdf ON ccdf.cum >= pr.rnk GROUP BY 1)
       SELECT est.q_ppm, CAST(est.n_total AS BIGINT) AS n_total,
              ex.exact_cents,
              est.b_est * 50 AS est_lo_cents,
              est.b_est * 50 + 49 AS est_hi_cents
       FROM est JOIN ex ON est.q_ppm = ex.q_ppm
       ORDER BY est.q_ppm""",
    // Stated-scalar oracle: the XML is synthesized from these base
    // columns, so extraction must recover exactly these values.
    "q_fn_xpath" ->
      """SELECT c_custkey,
                c_name AS name_s,
                CAST(c_nationkey AS INT) AS nk,
                CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal,
                TRUE AS has_b,
                CAST(2 AS INT) AS n_t,
                c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR) AS tags
         FROM customer ORDER BY c_custkey""",
    "q_layout_hilbert" -> {
      val (rounds, last) = hilbertRoundsSql("pts")
      s"""WITH pts AS (
           SELECT o_orderkey,
                  CAST(o_custkey % $HilbertSide AS BIGINT) AS x0,
                  CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % $HilbertSide
                       AS BIGINT) AS y0,
                  CAST(o_custkey % $HilbertSide AS BIGINT) AS x,
                  CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % $HilbertSide
                       AS BIGINT) AS y,
                  CAST(0 AS BIGINT) AS d
           FROM orders),
         $rounds
         SELECT d // 1024 AS hbucket, COUNT(*) AS n,
                MIN(x0) AS min_x, MAX(x0) AS max_x,
                MIN(y0) AS min_y, MAX(y0) AS max_y
         FROM $last
         GROUP BY 1 ORDER BY 1"""
    }
  )
}
