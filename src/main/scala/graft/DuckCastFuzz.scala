package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType

/** Spark half of the round-close DuckCast fuzz gate (round-15 verdict
  * item 5; closing-gate leg 5). tools/duckcast_fuzz.py generates ~10k
  * seeded random decimals (both storage classes, both signs, s = 0..6,
  * including the upper == −1 hugeint band), this main casts each one to
  * double on a session carrying the REAL DuckCast optimizer rule (a file
  * scan, so nothing is folded natively before the rule runs) and emits
  * the raw IEEE bit pattern per case; the python side then
  * compares bit-for-bit against DuckDB's own cast. Exit contract: the
  * python wrapper fails non-zero on ANY bit mismatch, so a duckdb
  * upgrade (or a twin regression) cannot drift silently past a round
  * close. Driver-side collect is bounded by the generated case count.
  *
  * Usage: runMain graft.DuckCastFuzz <cases.csv> <out.csv>
  *   cases.csv columns: id, p, s, v   (v = exact decimal literal)
  *   out.csv columns:   id, bits      (doubleToRawLongBits of the twin)
  */
object DuckCastFuzz {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: DuckCastFuzz <cases.csv> <out.csv>")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    DuckCast.install(spark)
    val df = spark.read.option("header", "true").csv(args(0))
    val groups = df.select("p", "s").distinct().collect()
      .map(r => (r.getString(0).toInt, r.getString(1).toInt))
    val res = groups.map { case (p, s) =>
      val dt = DecimalType(p, s)
      df.where(col("p") === p && col("s") === s)
        .select(col("id"), col("v").cast(dt).cast("double").as("d"))
    }.reduce(_ unionByName _)
    val rows = res.collect() // tool main: bounded by the case file size
    val w = new java.io.PrintWriter(args(1))
    try {
      w.println("id,bits")
      rows.foreach { r =>
        val bits =
          if (r.isNullAt(1)) "null"
          else java.lang.Double.doubleToRawLongBits(r.getDouble(1)).toString
        w.println(s"${r.getString(0)},$bits")
      }
    } finally w.close()
    println(s"[duckcast-fuzz] wrote ${rows.length} twin results to ${args(1)}")
    spark.stop()
  }
}
