package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Extras14
import graft.streaming.{Event, LocalCheckpointFileManager, StreamOps}

/** Exactly-once across a restart for the stateful live shapes: a query
  * that streams file 1 of 2 into a checkpoint, stops, and restarts from
  * that checkpoint after file 2 lands ends in the same state as one run
  * over both files — the file source resumes at its recorded offset and
  * the state store rebuilds the last committed version (D-Streams'
  * deterministic replay). A checkpoint begun under Spark's default
  * checkpoint file manager resumes under the one StreamOps.withCappedState
  * pins. */
class CrashRestartSpec extends QuerySuiteBase {

  /** The events table split by event_id parity into two parquet files. */
  private lazy val halves: Seq[JPath] = {
    val root = Files.createTempDirectory("graft-crash-src")
    for (par <- Seq(0, 1)) yield {
      val out = root.resolve(s"h$par").toString
      Tables.events(spark, sf).where(pmod(col("event_id"), lit(2)) === par)
        .coalesce(1).write.parquet(out)
      Files.list(root.resolve(s"h$par")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
  }

  /** The stateful shapes, each an update-mode stream over Events keyed
    * by user_id. */
  private val shapes: Seq[(String, Dataset[Event] => DataFrame)] = Seq(
    "runningPerUserCents" -> (StreamOps.runningPerUserCents(_).toDF()),
    "runningMax" -> (StreamOps.runningMax(_).toDF("user_id", "vmax")),
    "cdc latest-record fold" -> (ds => Extras14.latestPerUser(ds.toDF()).toDF()))

  /** Each user's state as last emitted: the row of the latest batch. A
    * state lost or replayed across the restart shows here, whatever the
    * fold (a max or a latest-record fold hides a lost state behind a
    * collapse over all rows). */
  private def finalState(updates: DataFrame): Seq[Row] =
    updates.withColumn("rank", row_number().over(
        Window.partitionBy("user_id").orderBy(col("batch").desc)))
      .where(col("rank") === 1).drop("rank", "batch")
      .orderBy("user_id").collect().toSeq

  /** One AvailableNow run of `shape` over the files in `in`, checkpointed
    * at `chk`, under withCappedState (with Spark's default checkpoint file
    * manager when `sparkManager`); returns the run's update-mode output
    * with each row's batch id. The memory sink cannot recover an
    * update-mode query, so each batch is collected through foreachBatch. */
  private def runOnce(shape: Dataset[Event] => DataFrame, in: JPath,
      chk: JPath,
      sparkManager: Boolean = false): DataFrame = {
    import spark.implicits._
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val collect: (DataFrame, Long) => Unit =
      (batch, id) =>
        rows.addAll(batch.withColumn("batch", lit(id)).collect().toSeq.asJava)
    val out = StreamOps.withCappedState(spark) {
      if (sparkManager) spark.conf.unset(LocalCheckpointFileManager.ClassKey)
      val events = spark.readStream.schema(
        spark.read.parquet(halves.head.toString).schema)
        .parquet(in.toString).as[Event]
      val out = shape(events)
      out.writeStream.outputMode("update").foreachBatch(collect)
        .option("checkpointLocation", chk.toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      out
    }
    spark.createDataFrame(rows.asScala.toSeq.asJava,
      out.schema.add("batch", "long", nullable = false))
  }

  private def stage(file: JPath, in: JPath): Unit = {
    val _ = Files.copy(file, in.resolve(file.getFileName))
  }

  /** The final state of one run over both files, that of a run over file
    * 1 restarted from its checkpoint over file 2, and that checkpoint. */
  private def bothWays(shape: Dataset[Event] => DataFrame,
      sparkManagerFirst: Boolean) = {
    val once = Files.createTempDirectory("graft-crash-once")
    val onceIn = Files.createDirectories(once.resolve("in"))
    halves.foreach(stage(_, onceIn))
    val single = finalState(runOnce(shape, onceIn, once.resolve("chk")))

    val restarted = Files.createTempDirectory("graft-crash-restart")
    val in = Files.createDirectories(restarted.resolve("in"))
    val chk = restarted.resolve("chk")
    stage(halves.head, in)
    val run1 = runOnce(shape, in, chk, sparkManager = sparkManagerFirst)
    stage(halves(1), in)
    val run2 = runOnce(shape, in, chk)
    (single, finalState(run1.union(run2)), chk)
  }

  for ((name, shape) <- shapes) {
    test(s"$name: a restart from the checkpoint equals one run") {
      val (single, restarted, _) = bothWays(shape, sparkManagerFirst = false)
      assert(single.nonEmpty)
      assert(restarted == single)
    }

    test(s"$name: a checkpoint from Spark's default manager resumes") {
      val (single, restarted, chk) = bothWays(shape, sparkManagerFirst = true)
      assert(restarted == single)
      // Batch 0's offset log went through Spark's FileContext manager
      // (which leaves Hadoop's .crc sidecar), batch 1's through the pinned
      // one (which does not).
      assert(Files.exists(chk.resolve("offsets/.0.crc")))
      assert(Files.exists(chk.resolve("offsets/1")))
      assert(!Files.exists(chk.resolve("offsets/.1.crc")))
    }
  }
}
