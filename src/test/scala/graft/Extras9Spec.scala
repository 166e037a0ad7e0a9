package graft

import org.apache.spark.sql.functions._

class Extras9Spec extends QuerySuiteBase {
  Seq("q_stream_live_resume", "q_agg_quantile_sketch",
    "q_fn_xpath", "q_layout_hilbert").foreach(checkDeclared(_))

  test("hilbert walk is a bijection and never jumps (unit-step curve)") {
    import graft.functions.HilbertIndex.walk
    val order = 8
    val n = 1 << (2 * order)
    val side = 1 << order
    // invert xy→d by filling an array; duplicates/holes fail loudly
    val cell = Array.fill(n)(-1)
    for (x <- 0 until side; y <- 0 until side) {
      val d = walk(x, y, order).toInt
      assert(cell(d) == -1, s"d=$d hit twice — not a bijection")
      cell(d) = x * side + y
    }
    // the defining locality property (Z-order does NOT have it):
    // consecutive curve positions are always grid NEIGHBORS
    for (d <- 1 until n) {
      val (x0, y0) = (cell(d - 1) / side, cell(d - 1) % side)
      val (x1, y1) = (cell(d) / side, cell(d) % side)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"jump at d=$d: ($x0,$y0)→($x1,$y1)")
    }
  }

  test("hilbert buckets span tighter than z-order at unaligned widths") {
    import graft.functions.HilbertIndex.hilbert
    // At power-of-4 widths both curves' buckets are aligned 2^k×2^k tiles
    // (identical spans by construction); the locality advantage shows at
    // any OTHER width — the general case for real file-size-based layout
    // targets, which size splits by bytes, not by 4^k cell counts.
    def spread(c: org.apache.spark.sql.Column) = {
      val v0 = c.bitwiseAND(lit(0xFFFFL))
      val v1 = v0.bitwiseOR(shiftleft(v0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val v2 = v1.bitwiseOR(shiftleft(v1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val v3 = v2.bitwiseOR(shiftleft(v2, 2)).bitwiseAND(lit(0x33333333L))
      v3.bitwiseOR(shiftleft(v3, 1)).bitwiseAND(lit(0x55555555L))
    }
    val pts = Tables.orders(spark, sf)
      .select(pmod(col("o_custkey"), lit(256L)).as("x"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(256L)).as("y"))
      .select(col("x"), col("y"),
        hilbert(col("x"), col("y"), 8).as("h"),
        spread(col("x")).bitwiseOR(shiftleft(spread(col("y")), 1)).as("z"))
    def avgSpan(idx: String): Double = pts
      .groupBy(expr(s"$idx div 1000"))
      .agg((max(col("x")) - min(col("x"))
        + max(col("y")) - min(col("y"))).as("span"))
      .agg(avg(col("span"))).head().getDouble(0)
    val (h, z) = (avgSpan("h"), avgSpan("z"))
    assert(h < z, s"hilbert avg span $h should beat z-order $z at width 1000")
  }

  test("components kernel: reliable-checkpoint mode labels = local mode") {
    import spark.implicits._
    // A path (chain), a triangle with a tail, and two singleton-free
    // islands — pointer jumping must collapse the long chain in O(log n).
    val edges = (
      (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq ++ // chain 1..40
        Seq((100L, 101L), (101L, 102L), (102L, 100L), (102L, 103L),
          (200L, 201L))).toDF("a", "b")
    val local = operators.Components.minLabel(edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-chk")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val reliable = operators.Components.minLabel(edges)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(reliable == local,
        "reliable checkpoint() mode diverged from localCheckpoint mode")
      assert(local.filter(_._1 <= 40L).forall(_._2 == 1L))
      assert(local.filter(t => t._1 >= 100L && t._1 <= 103L)
        .forall(_._2 == 100L))
      // reliable mode must actually have written checkpoint data
      val wrote = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "checkpoint dir empty — reliable mode never engaged")
    } finally {
      // unset so later suites in this JVM keep the localCheckpoint path
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  /** `run` with a reliable checkpoint dir set, and the files it wrote. */
  private def reliably[T](run: => T): (T, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-chk")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val out = run
      (out, java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count())
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("closure kernel: reliable-checkpoint mode = local mode") {
    import spark.implicits._
    // a 30-node cycle (closes in ~log2(30) doubling rounds) plus a tail
    val edges = ((1L to 30L).map(i => (i, i % 30 + 1)) ++
      Seq((30L, 31L), (31L, 32L))).toDF("src", "dst")
    def closure = operators.Extras138.transitiveClosure(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = closure
    val (reliable, wrote) = reliably(closure)
    assert(reliable == local)
    assert(local.size == 30 * 32 + 1)
    assert(wrote > 0, "checkpoint dir empty — reliable mode never engaged")
  }

  test("fixed-round peel: reliable-checkpoint mode = local mode") {
    import spark.implicits._
    // a 5-clique with a pendant path: three ≥2 peels drop three path nodes
    val und = (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)) ++
      Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    val arcs = (und ++ und.map(_.swap)).toDF("src", "dst")
    def peeled = operators.Extras17.kcore(arcs, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = peeled
    val (reliable, wrote) = reliably(peeled)
    assert(reliable == local)
    assert(local.size == 2 * (10 + 1))
    assert(wrote > 0, "checkpoint dir empty — reliable mode never engaged")
  }

  test("quantile sketch: exact quantile always inside the bucket bound") {
    q("q_agg_quantile_sketch").collect().foreach { r =>
      val (exact, lo, hi) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(exact >= lo && exact <= hi,
        s"exact $exact outside sketch bucket [$lo,$hi] — the sketch's " +
          "error guarantee (bucket width) is broken")
    }
  }

  test("quantile sketch summaries merge associatively (any shard grouping)") {
    import Det._
    val ev = Tables.events(spark, sf).select(col("event_id"),
      (col("value").cast(Det.D2) * 100).cast("long").as("cents"))
    val perShard = ev.groupBy(
        pmod(md5long(col("event_id").cast("string")), lit(16L)).as("shard"),
        expr("cents div 50").as("b"))
      .agg(count(lit(1)).as("n"))
    // merge all 16 at once vs merge two halves then merge the partials —
    // identical histograms (integer sums are associative/commutative).
    val all = perShard.groupBy("b").agg(sum("n").as("n"))
    val halves = perShard
      .groupBy(expr("shard div 8").as("half"), col("b"))
      .agg(sum(col("n")).as("n"))
      .groupBy("b").agg(sum("n").as("n"))
    assert(fingerprint(all.orderBy("b")) == fingerprint(halves.orderBy("b")))
  }

  test("checkpoint resume equals the batch aggregate (exactly-once)") {
    val live = q("q_stream_live_resume")
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast(Det.D2) * 100).cast("long")).as("total_cents"))
      .orderBy("event_type")
    assert(fingerprint(live) == fingerprint(batch),
      "resumed stream diverged from batch over the full file set — " +
        "offsets were re-read or skipped across the restart")
  }

  test("run 2 resumes from the recorded offset: half A is never re-read") {
    import org.apache.spark.sql.streaming.Trigger
    // Replicate the two-phase harness with progress captured, so the
    // exactly-once proof is structural (input row counts), not only
    // result-level: run 2's cumulative input must be exactly |B|.
    val split = Tables.events(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume-spec")
    val in = java.nio.file.Files.createDirectories(tmp.resolve("in"))
    val chk = tmp.resolve("chk").toString
    def writeHalf(par: Int, name: String): Long = {
      val half = split.where(pmod(col("event_id"), lit(2)) === par)
      half.coalesce(1).write.parquet(s"$tmp/build_$name")
      val part = new java.io.File(s"$tmp/build_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, in.resolve(s"$name.parquet"))
      half.count()
    }
    val schema = split.schema
    def runOnce(sink: String): Long = {
      val q = spark.readStream.schema(schema).parquet(in.toString)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(sink)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    val nA = writeHalf(0, "a")
    val inputsRun1 = runOnce("resume_spec_run1")
    val nB = writeHalf(1, "b")
    val inputsRun2 = runOnce("resume_spec_run2")
    assert(inputsRun1 == nA, s"run 1 read $inputsRun1 rows, |A| = $nA")
    assert(inputsRun2 == nB,
      s"run 2 read $inputsRun2 rows, |B| = $nB — offset replay re-read A")
    assert(spark.table("resume_spec_run2")
      .agg(sum(col("n"))).head().getLong(0) == nA + nB)
  }
}
