package graft

import org.apache.spark.sql.SparkSession

/** How the engine's sessions are built: one policy for every main
  * ([[Bench]], [[Verify]], the CLI, the ETL soak) and the test session.
  * Callers add only what is theirs — an app name, or the CLI's `[spark]`
  * pass-through options — and call `getOrCreate()`.
  *
  * Also the one place a session's execution mode changes: [[forInput]]
  * picks compiled or interpreted execution for a command from its input
  * size.
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

  /** Input rows below which a command runs interpreted (see [[forInput]]).
    * From a crossover sweep of cold runs (3 per mode and size, 4-core
    * VM): `--run-etl` → `--data-quality` → `--achilles` over derived
    * person + visit tables was faster interpreted at 1.6k, 16.5k, 165k
    * and 330k rows (28.5 vs 32.9 s) and slower at 825k (40.4 vs 39.2 s),
    * 1.65M and 4.95M (129 vs 85 s); `FolderEtl.run` alone stayed faster
    * interpreted up to 1.06M. The largest size where interpreted was not
    * slower for every command, 330k, rounded down.
    */
  val InterpretedRowCutoff: Long = 300000L

  /** A clone of `s` that executes every plan interpreted: no whole-stage
    * codegen, and projections, predicates and orderings from the
    * interpreted factories. The clone keeps `s`'s runtime conf, temp
    * views, functions and `QueryExecutionListener`s (`newSession()` would
    * drop the last two, so a listener on `s` would miss the command);
    * `s`'s own conf is never changed, so concurrent users of `s` are
    * unaffected.
    */
  def interpreted(s: SparkSession): SparkSession = {
    val c = org.apache.spark.sql.GraftExpressionBridge.cloneSession(s)
    c.conf.set("spark.sql.codegen.wholeStage", "false")
    c.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    c
  }

  /** The session a command over `rows` input rows builds its frames on:
    * `s` itself at or above [[InterpretedRowCutoff]], else an
    * [[interpreted]] clone. A cold command over small inputs spends more
    * time generating, compiling and JIT-compiling code than running it.
    */
  def forInput(s: SparkSession, rows: Long): SparkSession =
    if (rows >= InterpretedRowCutoff) s else interpreted(s)
}
