package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (`SparkEntry.queries(k)(spark, dir)` then `.count()`, as
  * `graft.Bench` does) and observes it only through Spark's public listener
  * APIs (see [[Tracer]]). It writes raw measurements as JSON; `run.py`
  * turns them into metrics and checks the results against DuckDB.
  *
  * {{{
  * Harness prepare --data D --keys F
  * Harness run --data D --passes F --warm N --trace 0|1 --out O
  * }}}
  *
  * `prepare` reads one key per line; `--passes` holds one timed pass per
  * line, its keys in order separated by spaces.
  */
object Harness {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, sys.error(s"perfbench: missing --$k"))
    val code = args.headOption match {
      case Some("prepare") => prepare(opt); 0
      case Some("run") => run(opt)
      case other => System.err.println(s"perfbench: unknown mode $other"); 2
    }
    // Streaming queries and Spark's own pools leave non-daemon threads.
    sys.exit(code)
  }

  /** Bench's session recipe, verbatim. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's host-load sentinel: a fixed in-memory aggregate. */
  def calibOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(4000000L).selectExpr("sum(id % 1048576)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Every key a run is asked for must be a registered key. */
  def checkKeys(keys: Seq[String]): Unit = {
    val known = SparkEntry.orderedKeys.toSet
    val missing = keys.distinct.filterNot(known)
    if (missing.nonEmpty)
      sys.error(s"perfbench: keys not in SparkEntry.orderedKeys: " +
        missing.mkString(", "))
  }

  /** One-time ingest for a checkout: every key the benchmark runs, run
    * once, so that every FixtureCache layout they read is built before any
    * run (graft.Bench's prewarm, for the benchmark's keys). */
  def prepare(opt: String => String): Unit = {
    val keys = readLines(opt("keys"))
    checkKeys(keys)
    val spark = session()
    for (k <- keys) {
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, opt("data")).count()
      System.err.println(
        f"[perfbench] prewarm $k ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }

  def readLines(f: String): Seq[String] =
    Files.readAllLines(Paths.get(f)).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(_.nonEmpty)

  /** Bytes this process passed to write(2) and friends (`wchar`). */
  def wchar(): Long = procField("/proc/self/io", "wchar:")

  /** Peak resident set size in kB (`VmHWM`). */
  def peakRssKb(): Long = procField("/proc/self/status", "VmHWM:")

  private def procField(file: String, field: String): Long =
    try {
      Files.readAllLines(Paths.get(file)).toArray(Array.empty[String])
        .find(_.startsWith(field))
        .map(_.drop(field.length).trim.split("\\s+")(0).toLong).getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  def run(opt: String => String): Int = {
    val processStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val dir = opt("data")
    val passes = readLines(opt("passes")).map(_.split(" ").toSeq)
    val keys = passes.flatten.distinct.sorted
    val traced = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    checkKeys(keys)
    val spark = session()
    val sessionS = (System.currentTimeMillis() - processStartMs) / 1e3

    // Untimed pass, in sorted order whatever the seed: each key once, its
    // result written for the DuckDB compare exactly as graft.Verify writes
    // it. The first execution of a key pays its codegen; this is also where
    // any FixtureCache layout a key reads is ensured, and where each
    // streaming key's input rows are counted.
    val rowsIn = new Tracer.InputRows
    spark.streams.addListener(rowsIn)
    val check = ArrayBuffer.empty[Map[String, Any]]
    val t1 = System.nanoTime()
    for (k <- keys) {
      rowsIn.reset()
      val c0 = System.nanoTime()
      val err = try {
        SparkEntry.queries(k)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("check").resolve(k).toString)
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      check += Map[String, Any]("key" -> k, "s" -> (System.nanoTime() - c0) / 1e9,
        "error" -> err.orNull, "input_rows" -> rowsIn.settled())
    }
    spark.streams.removeListener(rowsIn)
    // `--warm` more untimed passes, for keys whose second execution is
    // still warming up. Failures are counted by the other passes.
    for (_ <- 1 to opt("warm").toInt; k <- keys)
      try SparkEntry.queries(k)(spark, dir).count() catch { case _: Throwable => () }
    val checkS = (System.nanoTime() - t1) / 1e9
    val setupS = (System.currentTimeMillis() - processStartMs) / 1e3

    // Timed loop: the passes back to back. With tracing on, every second
    // pass is traced (each order is given twice), so the run measures its
    // own tracing overhead on the same keys.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    // Epoch milliseconds with sub-millisecond resolution, on the time base
    // of the epoch-millisecond stamps Spark puts on listener events.
    val baseMs = System.currentTimeMillis().toDouble
    val baseNs = System.nanoTime()
    val queryMap = SparkEntry.queries
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val wchar0 = wchar()
    for ((order, pass) <- passes.zipWithIndex) {
      val tracing = traced && pass % 2 == 1
      if (tracing) tracer.foreach(_.start())
      for (k <- order) {
        val s0 = System.nanoTime()
        val start = baseMs + (s0 - baseNs) / 1e6
        var built = s0
        val ok = try {
          val df: DataFrame = queryMap(k)(spark, dir)
          built = System.nanoTime()
          df.count()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $k FAILED: ${e.getMessage}")
          false
        }
        val s1 = System.nanoTime()
        samples += Map[String, Any]("id" -> samples.size, "key" -> k, "pass" -> pass,
          "traced" -> tracing, "start_ms" -> start,
          "built_ms" -> (start + (built - s0) / 1e6),
          "end_ms" -> (start + (s1 - s0) / 1e6), "s" -> (s1 - s0) / 1e9,
          "ok" -> ok)
      }
      if (tracing) tracer.foreach(_.stop())
    }
    val wcharBytes = wchar() - wchar0
    // Bench's sentinel: warmed three times, then taken three times.
    Seq.fill(3)(calibOnce(spark))
    val calib = Seq.fill(3)(calibOnce(spark))
    val trace = tracer.map(_.spans()).getOrElse(Map.empty)

    val result = Map[String, Any](
      "context" -> Map[String, Any](
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.runtime.version")),
      "setup_s" -> setupS,
      "setup_parts" -> Map[String, Any]("session_s" -> sessionS, "check_s" -> checkS),
      "calib_s" -> calib,
      "check" -> check.toSeq,
      "oracle" -> keys.map(k => k -> SparkEntry.oracleSql.get(k)).toMap,
      "samples" -> samples.toSeq,
      "wchar_bytes" -> wcharBytes,
      "peak_rss_kb" -> peakRssKb(),
      "trace" -> trace)
    Files.writeString(out.resolve("result.json"), json.writeValueAsString(result))
    spark.stop()
    0
  }
}
