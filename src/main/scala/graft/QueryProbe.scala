package graft

import org.apache.spark.sql.SparkSession

/** Focused bench-condition probe (round-11 verdict item 2): times
  * individual graded keys in EXACTLY the Bench session (same master,
  * shuffle partitions, AQE coalesce setting, warmups) so a driver-run
  * anomaly can be reproduced or attributed. Keys before `--` run
  * untimed (JVM/session state conditioning — e.g. the heavy keys that
  * precede the suspect in a full bench run); keys after `--` are
  * timed individually, and the LAST timed key also prints its
  * formatted plan.
  *
  * Run: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.QueryProbe [warm keys...] -- <timed keys...>"
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B lever (round 16): comma-separated k=v session-conf overrides,
    // e.g. SPARK_GRAFT_PROBE_CONF=spark.sql.adaptive.coalescePartitions.parallelismFirst=true
    // — lets a probe isolate a conf hypothesis without touching Bench.
    // (round-16 ADVICE: a token without '=' used to MatchError; fail with
    // the offending token instead. Conf VALUES may not contain commas —
    // the separator — which no Spark conf this probe A/Bs needs.)
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(',').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v)
        case _ => sys.error(
          s"SPARK_GRAFT_PROBE_CONF entry '$kv' is not k=v")
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sep = args.indexOf("--")
    val (warm, timed) =
      if (sep < 0) (Array.empty[String], args)
      else (args.take(sep), args.drop(sep + 1))
    for (k <- warm) {
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, sfDir).count()
      println(f"[probe] warm  $k ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    for ((k, i) <- timed.zipWithIndex) {
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, sfDir).count()
      println(f"[probe] timed $k ${(System.nanoTime() - t0) / 1e9}%.3f s")
      if (i == timed.length - 1 && sys.env.contains("SPARK_GRAFT_PROBE_PLAN"))
        SparkEntry.queries(k)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
