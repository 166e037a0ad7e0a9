package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family registers its declared queries (and, where
  * SQL-expressible, the equivalent DuckDB oracle SQL) in its own object
  * under graft.operators; this object only aggregates them.
  */
object SparkEntry {
  import graft.operators._

  /** Exposed (not private) so ContractSpec iterates this single source of
    * truth — a new ExtrasN family added here is automatically covered by
    * the key-uniqueness test, which drifted three rounds in a row when it
    * kept its own static copy of this list. */
  val families: Seq[(Map[String, (SparkSession, String) => DataFrame],
                     Map[String, String])] = Seq(
    (Scans.queries, Scans.oracle),
    (Aggregates.queries, Aggregates.oracle),
    (Joins.queries, Joins.oracle),
    (Windows.queries, Windows.oracle),
    (SetOps.queries, SetOps.oracle),
    (ScalarFns.queries, ScalarFns.oracle),
    (EventOps.queries, EventOps.oracle),
    (LlmOps.queries, LlmOps.oracle),
    (LlmSketches.queries, LlmSketches.oracle),
    (Misc.queries, Misc.oracle),
    (Multimodal.queries, Multimodal.oracle),
    (Extras.queries, Extras.oracle),
    (Extras2.queries, Extras2.oracle),
    (Extras3.queries, Extras3.oracle),
    (Extras4.queries, Extras4.oracle),
    (Extras5.queries, Extras5.oracle),
    (Extras6.queries, Extras6.oracle),
    (Extras7.queries, Extras7.oracle),
    (Extras8.queries, Extras8.oracle),
    (Extras9.queries, Extras9.oracle),
    (Extras10.queries, Extras10.oracle),
    (Extras11.queries, Extras11.oracle),
    (Extras12.queries, Extras12.oracle),
    (Extras13.queries, Extras13.oracle),
    (Extras14.queries, Extras14.oracle),
    (Extras15.queries, Extras15.oracle),
    (Extras16.queries, Extras16.oracle),
    (Extras17.queries, Extras17.oracle),
    (Extras18.queries, Extras18.oracle),
    (Extras19.queries, Extras19.oracle),
    (Extras20.queries, Extras20.oracle),
    (Extras21.queries, Extras21.oracle),
    (Extras22.queries, Extras22.oracle),
    (Extras23.queries, Extras23.oracle),
    (Extras24.queries, Extras24.oracle),
    (Extras25.queries, Extras25.oracle),
    (Extras26.queries, Extras26.oracle),
    (Extras27.queries, Extras27.oracle),
    (Extras28.queries, Extras28.oracle),
    (Extras29.queries, Extras29.oracle),
    (Extras30.queries, Extras30.oracle),
    (Extras31.queries, Extras31.oracle),
    (Extras32.queries, Extras32.oracle),
    (Extras33.queries, Extras33.oracle),
    (Extras34.queries, Extras34.oracle),
    (Extras35.queries, Extras35.oracle),
    (Extras36.queries, Extras36.oracle),
    (Extras37.queries, Extras37.oracle),
    (Extras38.queries, Extras38.oracle),
    (Extras39.queries, Extras39.oracle),
    (Extras40.queries, Extras40.oracle),
    (Extras41.queries, Extras41.oracle),
    (Extras42.queries, Extras42.oracle),
    (Extras43.queries, Extras43.oracle),
    (Extras44.queries, Extras44.oracle),
    (Extras45.queries, Extras45.oracle),
    (Extras46.queries, Extras46.oracle),
    (Extras47.queries, Extras47.oracle),
    (Extras48.queries, Extras48.oracle),
    (Extras49.queries, Extras49.oracle),
    (Extras50.queries, Extras50.oracle),
    (Extras51.queries, Extras51.oracle),
    (Extras52.queries, Extras52.oracle),
    (Extras53.queries, Extras53.oracle),
    (Extras54.queries, Extras54.oracle),
    (Extras55.queries, Extras55.oracle),
    (Extras56.queries, Extras56.oracle),
    (Extras57.queries, Extras57.oracle),
    (Extras58.queries, Extras58.oracle),
    (Extras59.queries, Extras59.oracle),
    (Extras60.queries, Extras60.oracle),
    (Extras61.queries, Extras61.oracle),
    (Extras62.queries, Extras62.oracle),
    (Extras63.queries, Extras63.oracle),
    (Extras64.queries, Extras64.oracle),
    (Extras65.queries, Extras65.oracle),
    (Extras66.queries, Extras66.oracle),
    (Extras67.queries, Extras67.oracle),
    (Extras68.queries, Extras68.oracle),
    (Extras69.queries, Extras69.oracle),
    (Extras70.queries, Extras70.oracle),
    (Extras71.queries, Extras71.oracle),
    (Extras72.queries, Extras72.oracle),
    (Extras73.queries, Extras73.oracle),
    (Extras74.queries, Extras74.oracle),
    (Extras75.queries, Extras75.oracle),
    (Extras76.queries, Extras76.oracle),
    (Extras77.queries, Extras77.oracle),
    (Extras78.queries, Extras78.oracle),
    (Extras79.queries, Extras79.oracle),
    (Extras80.queries, Extras80.oracle),
    (Extras81.queries, Extras81.oracle),
    (Extras82.queries, Extras82.oracle),
    (Extras83.queries, Extras83.oracle),
    (Extras84.queries, Extras84.oracle),
    (Extras85.queries, Extras85.oracle),
    (Extras86.queries, Extras86.oracle),
    (Extras87.queries, Extras87.oracle),
    (Extras88.queries, Extras88.oracle),
    (Extras89.queries, Extras89.oracle),
    (Extras90.queries, Extras90.oracle),
    (Extras91.queries, Extras91.oracle),
    (Extras92.queries, Extras92.oracle),
    (Extras93.queries, Extras93.oracle),
    (Extras94.queries, Extras94.oracle),
    (Extras95.queries, Extras95.oracle),
    (Extras96.queries, Extras96.oracle),
    (Extras97.queries, Extras97.oracle),
    (Extras98.queries, Extras98.oracle),
    (Extras99.queries, Extras99.oracle),
    (Extras100.queries, Extras100.oracle),
    (Extras101.queries, Extras101.oracle),
    (Extras102.queries, Extras102.oracle),
    (Extras103.queries, Extras103.oracle),
    (Extras104.queries, Extras104.oracle),
    (Extras105.queries, Extras105.oracle),
    (Extras106.queries, Extras106.oracle),
    (Extras107.queries, Extras107.oracle),
    (Extras108.queries, Extras108.oracle),
    (Extras109.queries, Extras109.oracle),
    (Extras110.queries, Extras110.oracle),
    (Extras111.queries, Extras111.oracle),
    (Extras112.queries, Extras112.oracle),
    (Extras113.queries, Extras113.oracle),
    (Extras114.queries, Extras114.oracle),
    (Extras115.queries, Extras115.oracle),
    (Extras116.queries, Extras116.oracle),
    (Extras117.queries, Extras117.oracle),
    (Extras118.queries, Extras118.oracle),
    (Extras119.queries, Extras119.oracle),
    (Extras120.queries, Extras120.oracle),
    (Extras121.queries, Extras121.oracle),
    (Extras122.queries, Extras122.oracle),
    (Extras123.queries, Extras123.oracle),
    (Extras124.queries, Extras124.oracle),
    (Extras125.queries, Extras125.oracle),
    (Extras126.queries, Extras126.oracle),
    (Extras127.queries, Extras127.oracle),
    (Extras128.queries, Extras128.oracle),
    (Extras129.queries, Extras129.oracle),
    (Extras130.queries, Extras130.oracle),
    (Extras131.queries, Extras131.oracle),
    (Extras132.queries, Extras132.oracle),
    (Extras133.queries, Extras133.oracle),
    (Extras134.queries, Extras134.oracle),
    (Extras135.queries, Extras135.oracle),
    (Extras136.queries, Extras136.oracle),
    (Extras137.queries, Extras137.oracle),
    (Extras138.queries, Extras138.oracle),
    (Extras139.queries, Extras139.oracle),
    (Extras140.queries, Extras140.oracle),
    (Extras141.queries, Extras141.oracle),
    (Extras142.queries, Extras142.oracle),
    (Extras143.queries, Extras143.oracle),
    (Extras144.queries, Extras144.oracle),
    (Extras145.queries, Extras145.oracle),
    (Extras146.queries, Extras146.oracle),
    (Extras147.queries, Extras147.oracle),
    (Extras148.queries, Extras148.oracle),
    (Extras149.queries, Extras149.oracle),
    (Extras150.queries, Extras150.oracle),
    (Extras151.queries, Extras151.oracle),
    (Extras152.queries, Extras152.oracle),
    (Extras153.queries, Extras153.oracle),
    (Extras154.queries, Extras154.oracle),
    (Extras155.queries, Extras155.oracle),
    (Extras156.queries, Extras156.oracle),
    (Extras157.queries, Extras157.oracle),
    (Extras158.queries, Extras158.oracle),
    (Extras159.queries, Extras159.oracle),
    (Extras160.queries, Extras160.oracle),
    (Extras161.queries, Extras161.oracle),
    (Extras162.queries, Extras162.oracle)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.q1(spark, "/root/testdata/sf0.001")

  /** THE bench/probe iteration order (round-15 verdict item 1). The
    * merged `queries` map is a HashMap, so iterating IT reshuffles the
    * whole bench sequence whenever ANY key is added — the proven
    * mechanism behind r14's quantile_sketch ghost (cold codegen/JIT
    * re-charged to different graded samples every round the surface
    * grew). This order is structural instead: families in declared
    * registration order, keys within a family sorted — independent of
    * any Map implementation. Adding a family APPENDS its block; adding
    * a key to an existing family inserts at one alphabetical slot, so
    * every other key keeps its exact predecessor context (only the
    * inserted key's immediate successor sees one new predecessor).
    * Bench iterates THIS; a QueryProbe run reproduces a key's bench
    * context by passing its predecessors here as warm keys
    * (ContractSpec pins the append/shift-stability property). */
  val orderedKeys: Seq[String] =
    families.iterator.flatMap(_._1.keys.toSeq.sorted).toSeq

  /** One entry per implemented operator from SURVEY.md §2. Each
    * function first installs DuckCast's optimizer rule on its session
    * (idempotent), so every decimal→double emission the key plans —
    * final frame, checkpoints, streaming micro-batches — carries
    * DuckDB's exact conversion at ANY magnitude (see DuckCast). It then
    * builds the key's frame in one Fixpoint scope, which releases the
    * checkpoints the frame no longer reads. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.iterator.map(_._1).reduce(_ ++ _).map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => {
        DuckCast.install(s)
        Fixpoint.scoped(f(s, d))
      })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.iterator.map(_._2).reduce(_ ++ _)
}
