package graft

import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Pins graft.DuckCast's emission twin to DUCKDB-COMPUTED constants
  * (each expected double below is the literal output of
  * `SELECT CAST(CAST(... AS DECIMAL(p,s)) AS DOUBLE)` in duckdb 1.x;
  * the model was additionally fuzz-validated on 240k+ random values —
  * DuckCast.scala scaladoc). Covers: sub-2^53 (twin == native cast),
  * 2^53+1 (first inexact), >2^64 both signs (the limb path, where the
  * naive models disagree with DuckDB), the upper==-1 special case,
  * a 36-digit hugeint, scaled decimal(38,4) both signs, and int64-
  * storage decimal(18,s) both signs — then the optimizer rule that
  * applies the twin, at every boundary where rows materialize. */
class DuckCastSpec extends QuerySuiteBase {

  // (unscaled-value string, scale, precision, duckdb double)
  private val cases: Seq[(String, Int, Int, Double)] = Seq(
    ("92233720368547758", 0, 38, 9.223372036854776e+16),
    ("9007199254740993", 0, 38, 9007199254740992.0),
    ("29492801096498034064", 0, 38, 2.9492801096498037e+19),
    ("-29492801096498034064", 0, 38, -2.9492801096498033e+19),
    ("-62732000679864428", 0, 38, -6.2732000679864424e+16),
    ("646040157072047817590359375624573390", 0, 38, 6.460401570720478e+35),
    ("5978102397715941016746", 4, 38, 5.978102397715941e+17),
    ("-5978102397715941016747", 4, 38, -5.978102397715941e+17),
    ("12345678901234567", 2, 18, 123456789012345.69),
    ("-9876543210987654", 4, 18, -987654321098.7654)
  )

  test("duckTwin equals DuckDB's cast on pinned boundary values") {
    cases.foreach { case (u, s, p, expect) =>
      val v = new java.math.BigDecimal(new java.math.BigInteger(u), s)
      val df = spark.range(1).select(
        lit(v).cast(DecimalType(p, s)).as("x"))
      val expr = DuckCast.duckTwin(
        ColumnBridge.expression(col("x")), DecimalType(p, s))
      val got = df.select(ColumnBridge.column(expr).as("d"))
        .head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(expect),
        s"u=$u s=$s p=$p got=$got expect=$expect")
    }
  }

  /** Spark's native decimal→double cast, evaluated directly (no
    * optimizer, so no twin). */
  private def nativeCast(v: java.math.BigDecimal, t: DecimalType): Double =
    Cast(Literal(Decimal(v), t), DoubleType).eval().asInstanceOf[Double]

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def bareCasts(p: LogicalPlan): Int = {
    var bare = 0
    p.foreachWithSubqueries(op => op.expressions.foreach(_.foreach {
      case Cast(c, DoubleType, _, _) if c.dataType.isInstanceOf[DecimalType] =>
        bare += 1
      case _ => ()
    }))
    bare
  }

  test("the rule leaves sub-2^53 emissions bit-identical to native cast") {
    DuckCast.install(spark)
    // one column per twin path: hugeint unscaled, hugeint scaled, int64
    val types = Seq(DecimalType(38, 0), DecimalType(38, 4), DecimalType(18, 6))
    val df = spark.range(1, 1000).select(
      (col("id") * col("id") * 37).cast(types(0)).as("x0"),
      (col("id") / 7).cast(types(1)).as("x1"),
      (col("id") / 7).cast(types(2)).as("x2"))
    val twinned = df.select(df.columns.toSeq.map(col) ++
      df.columns.toSeq.map(c => col(c).cast("double")): _*)
    assert(bareCasts(twinned.queryExecution.optimizedPlan) == 0)
    twinned.collect().foreach { r =>
      types.indices.foreach { i =>
        assert(bits(r.getDouble(i + 3)) ==
          bits(nativeCast(r.getDecimal(i), types(i))), s"row $r column $i")
      }
    }
  }

  test("the rule fires on a graded key's decimal casts") {
    // a key from the round-15 decimal sweep (grubbs sat at 4.7e24): its
    // analyzed plan carries decimal->double casts, and the optimizer
    // must leave none of them bare
    val df = SparkEntry.queries("q_agg_grubbs")(spark, sf)
    assert(bareCasts(df.queryExecution.analyzed) > 0,
      "probe key lost its decimal emissions")
    val left = bareCasts(df.queryExecution.optimizedPlan)
    assert(left == 0, s"$left bare decimal->double casts survived the rule")
  }

  test("every materialization boundary emits DuckDB's double") {
    import graft.operators._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    DuckCast.install(spark)
    val t = DecimalType(38, 0)
    val v = new java.math.BigDecimal("29492801096498034064")
    val duck = 2.9492801096498037e+19
    assert(bits(nativeCast(v, t)) != bits(duck),
      "pinned value no longer separates the native cast from DuckDB's")
    // A parquet round trip: a literal or a local relation would be cast
    // natively by ConstantFolding / ConvertToLocalRelation before any
    // user rule runs.
    val dir = java.nio.file.Files.createTempDirectory("graft-duckcast")
    val path = dir.resolve("x").toString
    spark.range(1).select(lit(v).cast(t).as("x")).write.parquet(path)
    val src = spark.read.parquet(path)
    def asDouble(df: DataFrame) = df.select(col("x").cast("double").as("d"))
    def one(df: DataFrame): Double = {
      val rows = df.collect()
      assert(rows.length == 1)
      rows.head.getDouble(0)
    }
    def stream = asDouble(spark.readStream.schema(src.schema).parquet(path))

    val got = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    got("final frame") = one(asDouble(src))
    got("duckCkpt") = one(asDouble(src).duckCkpt())
    got("duckCkptLazy") = one(asDouble(src).duckCkptLazy())
    spark.sparkContext.setCheckpointDir(dir.resolve("chk").toString)
    try got("checkpoint()") = one(asDouble(src).checkpoint())
    finally spark.sparkContext.setCheckpointDir(null)
    got("runToMemory") = one(streaming.StreamOps.runToMemory(
      stream.agg(max(col("d")).as("d")), "duckcast_boundary"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Double]
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches ++= b.collect().map(_.getDouble(0)); ()
      }
      .option("checkpointLocation", dir.resolve("feb").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.length == 1)
    got("foreachBatch") = batches.head

    val wrong = got.filter { case (_, d) => bits(d) != bits(duck) }
    assert(wrong.isEmpty, s"native double at: $wrong (DuckDB: $duck)")
  }
}
