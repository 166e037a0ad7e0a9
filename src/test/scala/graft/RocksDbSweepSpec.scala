package graft

import graft.streaming.{LocalCheckpointFileManager, StreamOps}

/** Round-6 provider sweep: every graded live-streaming query runs under
  * the RocksDB state store provider (set centrally by
  * StreamOps.withCappedState — the provider a 100 TB cluster would run),
  * and results are provider-invariant: re-running under the default heap
  * provider yields identical fingerprints.
  *
  * q_stream_live_tws is exempt from the heap leg: transformWithState
  * REQUIRES RocksDB (STATE_STORE_INVALID_PROVIDER otherwise) — it is
  * asserted RocksDB-only instead.
  */
class RocksDbSweepSpec extends QuerySuiteBase {

  // Derived from SparkEntry (the ContractSpec lesson: a static copy of a
  // key family drifts) — every declared live key sweeps both providers
  // automatically; only the RocksDB-required transformWithState key is
  // carved out.
  private val sweepKeys = SparkEntry.queries.keys.toSeq.sorted
    .filter(_.startsWith("q_stream_live_"))
    .filterNot(_ == "q_stream_live_tws")

  test("live runners pin the RocksDB provider for the run, then restore") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val manager = LocalCheckpointFileManager.ClassKey
    val before = spark.conf.getOption(key)
    val changelogBefore = spark.conf.getOption(changelog)
    val managerBefore = spark.conf.getOption(manager)
    StreamOps.withCappedState(spark) {
      assert(spark.conf.get(key).contains("RocksDBStateStoreProvider"),
        "withCappedState must pin the RocksDB provider")
      assert(spark.conf.get(changelog) == "true",
        "withCappedState must commit RocksDB state as changelogs")
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt <= 8)
      assert(spark.conf.get(manager) ==
        classOf[LocalCheckpointFileManager].getName,
        "withCappedState must write checkpoint files without process spawns")
    }
    assert(spark.conf.getOption(key) == before, "provider conf leaked")
    assert(spark.conf.getOption(changelog) == changelogBefore,
      "changelog conf leaked")
    assert(spark.conf.getOption(manager) == managerBefore,
      "checkpoint manager conf leaked")
  }

  for (k <- sweepKeys)
    test(s"$k: RocksDB and heap providers produce identical results") {
      val rocks = fingerprint(q(k)) // default path = RocksDB
      val prop = "graft.stateStoreProvider"
      System.setProperty(prop,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      try {
        val heap = fingerprint(q(k))
        assert(rocks == heap,
          s"$k diverged across state store providers: $rocks vs $heap")
      } finally System.clearProperty(prop)
    }

  test("q_stream_live_tws runs RocksDB regardless of the session default") {
    // transformWithState requires RocksDB; runToMemoryUpdate pins it
    // through withCappedState.
    assert(fingerprint(q("q_stream_live_tws"))._1 > 0)
  }
}
