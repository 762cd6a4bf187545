package graft.streaming

import graft.io.{AtomicWrite, ParquetFooters, Zones}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Beyond-parity streaming surface. The reference is strictly batch
  * (SURVEY.md §2.9 — no watermarks/windows/state anywhere in
  * `/root/reference/src/`); its incremental story is idempotent re-runs.
  * These operators extend the same semantics to a Structured Streaming
  * ingest of the raw zone: the transformations are plain DataFrame ops, so
  * they bind to `spark.readStream` sources unchanged, and state size is
  * bounded by the watermark (late data past it is dropped, state evicted).
  *
  * It is also the one streaming HARNESS: every Structured Streaming query
  * in the engine states its batch logic and leaves staging, checkpoints
  * and triggers to the functions at the end of this object.
  */
object StreamingOps {

  /** Windowed event counts with event-time watermarking — the streaming
    * analogue of the DQD per-run aggregates. Works on batch DataFrames too
    * (watermark is a no-op there), which is how the spec cross-checks it.
    */
  def windowedEventCounts(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(typeCol))
      .count()
      .select(col("w.start").as("window_start"), col(typeCol), col("count").as("n_events"))

  /** Event-time sessionization on a stream: Spark's native `session_window`
    * merges events within `gap` of each other per user — the streaming
    * counterpart of the batch running-sum sessionizer (EventQueries
    * .eventSessionize), with state bounded by the watermark. Declarative
    * (no custom `mapGroupsWithState`) because the built-in operator already
    * expresses the semantics.
    */
  def sessionCounts(
      events: DataFrame,
      tsCol: String,
      userCol: String,
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("s"), col(userCol))
      .count()
      .select(
        col("s.start").as("session_start"),
        col(userCol),
        col("count").as("n_events"))

  /** Streaming exact dedup: first occurrence of each key wins; state for a
    * key is dropped once the watermark passes it, so memory is bounded —
    * the streaming analogue of the A6/J4 append-only semantics.
    */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String], watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Accumulated per-user state carried across micro-batches by
    * [[runningUserStats]]: exact counters only (timestamps as epoch
    * micros, the distinct type set bounded by |event types|) — no
    * floating-point accumulation, so the emitted stats are
    * batch-replayable bit-for-bit.
    */
  final case class UserRunningState(
      n: Long, firstUs: Long, lastUs: Long, types: Set[String])

  /** Arbitrary stateful streaming via `flatMapGroupsWithState` — the
    * custom-state API the built-in windowed/session operators can't
    * express (e.g. monotone per-user counters that survive across
    * windows). Each micro-batch folds its rows into the per-user state
    * and emits the updated running stats (Update mode), so after an
    * AvailableNow drain the sink holds each user's totals.
    *
    * State is exact by construction: counts, min/max epoch-micros, and a
    * distinct-type set bounded by the (small) event-type vocabulary. A
    * production deployment with unbounded keys would add a
    * `GroupStateTimeout` eviction policy; the semantics here are the
    * demo-scale NoTimeout variant.
    */
  def runningUserStats(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String): DataFrame = {
    val s = events.sparkSession
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import s.implicits._
    val typed = events
      .select(col(userCol).cast("long").as("_1"),
        unix_micros(col(tsCol)).as("_2"), col(typeCol).as("_3"))
      .as[(Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UserRunningState, (Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) { (uid, rows, state) =>
          var st = state.getOption.getOrElse(
            UserRunningState(0L, Long.MaxValue, Long.MinValue, Set.empty))
          rows.foreach { case (_, us, tpe) =>
            st = UserRunningState(st.n + 1,
              math.min(st.firstUs, us), math.max(st.lastUs, us), st.types + tpe)
          }
          state.update(st)
          Iterator((uid, st.n, st.firstUs, st.lastUs, st.types.size.toLong))
      }
      .toDF("user_id", "n_events", "__f", "__l", "n_event_types")
      .select(col("user_id"), col("n_events"),
        timestamp_micros(col("__f")).as("first_ts"),
        timestamp_micros(col("__l")).as("last_ts"),
        col("n_event_types"))
  }

  /** One micro-batch of the fold — exposed so the spec can drive the
    * LITERAL production body through explicit MemoryStream batches.
    */
  def foldBatch(
      zones: Zones,
      table: String,
      keyCols: Seq[String],
      structCol: Column)(batch: DataFrame): Unit = {
    val s = batch.sparkSession
    val agg = batch.groupBy(keyCols.map(col): _*).agg(structCol.as("__m"))
    val cur =
      if (zones.listTables(s, "work").contains(table)) zones.read(s, "work", table)
      else agg.limit(0)
    zones.write(
      cur.unionByName(agg)
        .groupBy(keyCols.map(col): _*).agg(max(col("__m")).as("__m")),
      "work", table)
  }

  /** Streaming upsert sink: run `stream` to completion, folding every
    * micro-batch into the zone table `table` — per key, the MAX of
    * `structCol` (an associative, commutative fold, so the stored state
    * is independent of how the trigger splits the source into batches,
    * and re-running is idempotent). The streaming counterpart of the
    * batch MERGE (J8): each batch rewrites a key-cardinality-bounded
    * dimension table via the atomic-replace write; fact-sized streams
    * append, they don't fold.
    */
  def upsertFold(
      stream: DataFrame,
      zones: Zones,
      table: String,
      keyCols: Seq[String],
      structCol: Column,
      checkpointDir: String): Unit = {
    drainEach(stream, checkpointDir)((batch, _) =>
      foldBatch(zones, table, keyCols, structCol)(batch))
  }

  /** Stream-STREAM inner join with an event-time range bound: each left
    * event pairs with right events for the same key whose timestamp lands
    * in [left_ts, left_ts + within]. Both sides carry watermarks and the
    * join condition carries the time bound, so Spark can evict join state
    * once the watermark passes a row's reach — the state-bounded shape
    * Structured Streaming requires for unbounded stream-stream joins.
    * Inner-join matches emit eagerly (no watermark wait), so AvailableNow
    * drains the complete pair set. Works identically on batch frames
    * (watermarks no-op), which is how the spec and the DuckDB oracle
    * cross-check it.
    */
  /** `bucketMicros` must be >= the `within` span: a right event inside
    * [left_ts, left_ts + within] then lands in the left event's own time
    * bucket or the next one, so replicating the LEFT side into those two
    * buckets and adding bucket equality to the join key preserves the
    * pair set EXACTLY (each right event's bucket is unique — no pair can
    * match twice) while bounding per-task join state: without the bucket,
    * a hot key's state scan is quadratic in its row count — the sf1 soak
    * measured 208 s / 80x skew for one user carrying 13% of a 1M-event
    * stream, vs 2.9 s / 1.1x bucketed. The same remedy as the batch
    * bucketed as-of join, applied to streaming state.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsLeft: String,
      tsRight: String,
      within: String = "1 hour",
      watermark: String = "1 hour",
      bucketMicros: Long = 3600000000L): DataFrame = {
    // Enforce the documented invariant instead of trusting the caller:
    // with bucket < within, a right event landing two-or-more buckets
    // ahead of its left partner would silently drop. Widen the bucket to
    // cover the span — bucketing is correctness-preserving for any
    // bucket >= within, so this never changes the pair set.
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(within))
    require(iv.months == 0, s"calendar-length 'within' span not supported: $within")
    val withinMicros = iv.days * 86400000000L + iv.microseconds
    require(withinMicros > 0, s"non-positive 'within' span: $within")
    val bucket = math.max(bucketMicros, withinMicros)
    val l = left
      .withColumn("__lb0", floor(unix_micros(col(tsLeft)) / bucket))
      .withColumn("__b", explode(array(col("__lb0"), col("__lb0") + 1)))
      .drop("__lb0")
      .withWatermark(tsLeft, watermark)
    val r = right.withColumnRenamed(keyCol, "__rk")
      .withColumn("__rb", floor(unix_micros(col(tsRight)) / bucket))
      .withWatermark(tsRight, watermark)
    l.join(r,
      col(keyCol) === col("__rk") &&
        col("__b") === col("__rb") &&
        col(tsRight) >= col(tsLeft) &&
        col(tsRight) <= col(tsLeft) + expr(s"INTERVAL $within"))
      .drop("__rk", "__b", "__rb")
  }

  // ---- The harness: scratch dirs, sources and AvailableNow drains ----

  /** A fresh scratch directory `<Zones.defaultRoot>/<name>_<pathKey(d)>`
    * (absolute; deleted, not created): a checkpoint or a staged source
    * keyed by dataset, so runs over two datasets in one JVM never clobber
    * each other. A query clears its checkpoint together with the state
    * it folds into — a stale checkpoint beside cleaned state replays
    * nothing.
    */
  def scratchDir(s: SparkSession, name: String, d: String): String =
    freshDir(s, s"${name}_${Zones.pathKey(d)}")

  private def freshDir(s: SparkSession, leaf: String): String = {
    val p = new Path(new java.io.File(s"${Zones.defaultRoot}/$leaf").getAbsolutePath)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }

  /** Stage `parts` as the source dir `scratchDir(s, name, d)`, one
    * single-file parquet per `(fileName, part)`, for [[stagedStream]]:
    * each part is written to `__tmp_<fileName>`, its one part file
    * promoted into the dir ([[graft.io.AtomicWrite.promote]]) and the tmp
    * dir deleted. The files get STRICTLY
    * increasing mtimes in `parts` order (t0, t0 + 60 s, ...), set
    * explicitly: the file source orders by modification time, and
    * back-to-back writes on a coarse-mtime filesystem can tie and process
    * in the wrong order. Returns the dir.
    */
  def stageFiles(s: SparkSession, name: String, d: String,
      parts: Seq[(String, DataFrame)]): String = {
    val dir = scratchDir(s, name, d)
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case ((fileName, part), i) =>
      val tmp = new Path(dir, s"__tmp_$fileName")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val fs = tmp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val f = fs.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dst = new Path(dir, fileName)
      fs.delete(AtomicWrite.promote(fs, f, dst), true)
      fs.delete(tmp, true)
      fs.setTimes(dst, t0 + i * 60000L, -1)
    }
    dir
  }

  /** A stream over a [[stageFiles]] dir: one staged file per micro-batch,
    * so batch ids follow the staging order.
    */
  def stagedStream(s: SparkSession, dir: String, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** A file-source stream of the dataset table `$d/<table>.parquet`.
    * Streaming sources need a fixed schema: it comes from the table's own
    * footer ([[ParquetFooters]]: one driver-side probe, no data read, no
    * job), never from an assumed encoding — callers normalize columns
    * (`ts` via `Tables.normalizedTs`, ids cast to long) as the batch
    * loader does.
    * An engine-written table is a DIRECTORY of part files and streams
    * directly: a symlink to it lists ZERO files (the file source treats
    * the symlinked subdir as a partition dir with no leaves; the sf1 soak
    * silently streamed an empty source until this branch existed). A
    * single FILE, the testdata layout, is staged as a symlink in
    * the fresh dir `scratchDir(s, stageName, d)` (the source only accepts
    * directories; no data copied).
    */
  def tableStream(s: SparkSession, d: String, table: String, stageName: String): DataFrame = {
    val file = java.nio.file.Paths.get(s"$d/$table.parquet").toAbsolutePath
    val onDisk = ParquetFooters.read(s, file.toString).schema
    val src =
      if (java.nio.file.Files.isDirectory(file)) file.toString
      else {
        val dir = java.nio.file.Paths.get(scratchDir(s, stageName, d))
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.createSymbolicLink(dir.resolve(file.getFileName), file)
        dir.toString
      }
    s.readStream.schema(onDisk).parquet(src)
  }

  /** Run `stream` to completion (AvailableNow), handing `body` each
    * micro-batch and its id. The query is stopped whatever happens, and
    * its failure propagates. `ckpt` is the caller's [[scratchDir]].
    */
  def drainEach(stream: DataFrame, ckpt: String)(body: (DataFrame, Long) => Unit): Unit =
    runToEnd(stream.writeStream.foreachBatch(body), ckpt)

  /** Drain `df` into the memory sink `sink` (output `mode`, fresh
    * checkpoint `stream_ckpt_<sink>`) and return the resulting table.
    *
    * State-store sizing: each stateful operator runs ONE state-store
    * instance per shuffle partition per micro-batch, pinned into the
    * checkpoint at first start from the session's
    * `spark.sql.shuffle.partitions`. The drain never changes that conf:
    * the session is shared with concurrent batch queries.
    */
  def drainToTable(df: DataFrame, sink: String, mode: String): DataFrame = {
    val s = df.sparkSession
    runToEnd(df.writeStream.format("memory").queryName(sink).outputMode(mode),
      freshDir(s, s"stream_ckpt_$sink"))
    s.table(sink)
  }

  private def runToEnd(w: DataStreamWriter[Row], ckpt: String): Unit = {
    val q = w.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  private val LastBatch = "__last_batch"

  /** Fold micro-batch `batchId` into the zone table `work/<table>` through
    * `merge(stored, batch)` (`stored` is None on the first batch) — safe
    * under foreachBatch's AT-LEAST-ONCE delivery: after a failure or
    * restart the same id can re-execute, and an unconditional merge would
    * count it twice. The last applied id rides IN the table (a constant
    * `__last_batch` column), so the skip decision and the merged state
    * commit in ONE atomic staging-then-swap write — no separate meta
    * table to drift. The state must be bounded (it is rewritten, as one
    * file, per batch); read it with [[guardedState]].
    */
  def guardedFold(zones: Zones, table: String, batch: DataFrame, batchId: Long)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val s = batch.sparkSession
    val stored =
      if (zones.listTables(s, "work").contains(table)) Some(zones.read(s, "work", table))
      else None
    val lastApplied = stored.map(
      _.agg(coalesce(max(col(LastBatch)), lit(-1L))).head.getLong(0)).getOrElse(-1L)
    // the zone write is staging-then-swap, so reading the prior table
    // while writing the next is safe
    if (batchId > lastApplied)
      zones.write(merge(stored.map(_.drop(LastBatch)), batch)
        .withColumn(LastBatch, lit(batchId)).coalesce(1), "work", table)
  }

  /** The state a [[guardedFold]] stored in `work/<table>`. */
  def guardedState(s: SparkSession, zones: Zones, table: String): DataFrame =
    zones.read(s, "work", table).drop(LastBatch)
}
