package graft

import org.apache.spark.sql.SparkSession

/** How the engine's sessions are built: one policy for every main
  * ([[Bench]], [[Verify]], the CLI, the ETL soak) and the test session.
  * Callers add only what is theirs — an app name, or the CLI's `[spark]`
  * pass-through options — and call `getOrCreate()`.
  */
object GraftSession {

  /** A builder carrying the engine's session settings:
    *  - [[graft.plans.GraftExtensions]], the native Catalyst functions;
    *  - `shufflePartitions` shuffle partitions;
    *  - UTC session time zone, which the oracle's timestamps assume;
    *  - `nanosAsLong`, so a TIMESTAMP(NANOS) `events.ts` reads as raw
    *    longs for `Tables.normalizedTs` to convert;
    *  - no UI;
    *  - a 2000-entry compiled-class cache. The default 100 entries thrash
    *    under the generated DQD/Achilles batteries, which alone produce
    *    several hundred distinct codegen classes, and composite queries
    *    re-compile mid-bench (etl_two_stage 27.8 s in the full run vs
    *    13.4 s standalone).
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
}
