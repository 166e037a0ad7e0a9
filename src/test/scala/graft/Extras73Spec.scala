package graft

class Extras73Spec extends QuerySuiteBase {
  Seq("q_stream_live_kmv", "q_llm_contamination_13gram", "q_evt_cuped",
    "q_llm_fim_transform").foreach(checkDeclared(_))

  test("streaming kmv: estimate within 50% of exact distinct users per type") {
    val rows = q("q_stream_live_kmv").collect()
    import org.apache.spark.sql.functions._
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (et, est) = (r.getString(0), r.getDouble(3))
      val truth = exact(et).toDouble
      assert(math.abs(est - truth) <= 0.5 * truth + 1.0,
        s"$et est $est vs $truth")
    }
  }

  test("13-gram contamination: hits only from train buckets; counts positive") {
    val rows = q("q_llm_contamination_13gram").collect()
    rows.foreach(r => assert(r.getLong(1) > 0))
  }

  test("13-gram kernel: a null-text document contributes no grams") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-nulltext")
    val docs = Tables.documents(spark, sf)
    val nextId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    docs.unionByName(docs.limit(1).withColumn("doc_id", lit(nextId))
        .withColumn("text", lit(null).cast("string")))
      .write.parquet(s"$dir/documents.parquet")
    def hits(d: String) = operators.Extras73
      .contamination13(spark, d, benchIdCap = Long.MaxValue).collect().toSeq
    assert(hits(dir.toString) == hits(sf))
  }

  test("cuped: variance reduction in [0,1]; adjusted diff finite") {
    val r = q("q_evt_cuped").head()
    val vr = r.getDouble(5)
    assert(vr >= 0.0 && vr <= 1.0)
    assert(!r.getDouble(4).isNaN)
  }

  test("fim: split geometry valid (prefix+middle inside the doc)") {
    q("q_llm_fim_transform").collect().foreach { r =>
      val (len, s1, mlen) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(s1 >= 1 && mlen >= 3 && s1 + mlen <= len)
    }
  }
}
