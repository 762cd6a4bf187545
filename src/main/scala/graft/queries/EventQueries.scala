package graft.queries

import graft.Tables
import graft.operators._
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage-2 event-step queries (U4/J12/W4), the §2.8 scalar-function suite,
  * DQD/Achilles-style statistics (P4/A7/A9), top-k reports (O3), and the
  * time-series extensions (sessionization, JSON props) over the `events`
  * stream table.
  */
object EventQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Pairing of synthetic event types to CDM tables, used to exercise the
    * vendored discriminator CASE map (J12).
    */
  private val eventTableOf = Map(
    "click" -> "person", "view" -> "visit_occurrence", "purchase" -> "drug_exposure",
    "signup" -> "measurement", "error" -> "observation")

  /** U4: data-dependent discovery of referenced event tables — the DISTINCT
    * result is collected (bounded by |CDM tables|) and shapes the plan,
    * exactly like `bigquery/etl.py:523-535`.
    */
  val eventDiscoverTables: Q = (s, d) => {
    val discovered = EventOps.discoverEventTables(t(s, d, "events"), Seq("event_type"))
    import s.implicits._
    discovered.toDF("event_table").orderBy("event_table")
  }

  /** J12 CASE map: stamp the discriminator concept-id of the referenced
    * table (constants vendored from apply_event_columns.sql.jinja:48-135).
    */
  val eventCaseMap: Q = (s, d) => {
    val refTable = eventTableOf.toSeq.sortBy(_._1).foldLeft(lit(null).cast("string")) {
      case (acc, (evt, tbl)) => when(col("event_type") === evt, lit(tbl)).otherwise(acc)
    }
    t(s, d, "events")
      .withColumn("ref_table", refTable)
      .withColumn("field_concept_id", EventOps.tableConceptCase(col("ref_table")))
      .select(col("event_id"), col("ref_table"), col("field_concept_id"))
      .orderBy("event_id")
  }

  /** W4: event re-keying — PK collisions keep rank 1, overflow rows get
    * `max(pk) + ROW_NUMBER()`.
    */
  val eventRekey: Q = (s, d) => {
    val src = t(s, d, "events")
      .select(col("user_id").as("pk"), col("event_type"), col("event_id"))
    // coalesce to 0: MAX over an empty table is NULL (Swap.maxId shape)
    val maxPk = src.agg(coalesce(max(col("pk")), lit(0L))).head().getLong(0)
    EventOps.rekeyCollisions(src, "pk", Seq("event_type", "event_id"), maxPk)
      .orderBy("event_id")
  }

  /** §2.8 scalar-function suite: coalesce/concat/cast/substring/when/lower/
    * date round-trips — one row per order, byte-identical to the oracle.
    */
  val scalarSuite: Q = (s, d) =>
    t(s, d, "orders").select(
      col("o_orderkey"),
      lower(col("o_orderpriority")).as("prio_lower"),
      substring(col("o_orderpriority"), 1, 1).as("prio_code"),
      concat(col("o_orderstatus"), lit("_"), col("o_orderkey").cast("string")).as("status_key"),
      when(col("o_totalprice") > 200000, lit("big")).otherwise(lit("small")).as("size_band"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
      to_date(date_format(col("o_orderdate"), "yyyyMMdd"), "yyyyMMdd").as("order_date_rt"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_norm"))
      .orderBy("o_orderkey")

  /** P5: fact_relationship requires its polymorphic event columns non-null
    * — the event step filters them (`{omop_table}_apply_event_columns.sql.jinja:155-164`),
    * expressed as `na.drop` over the event columns.
    */
  val eventFactNonnull: Q = (s, d) =>
    // filter BEFORE the projection: `na.drop` over a CASE-wrapped column
    // defeats parquet pushdown (the scan read every row); a plain
    // `value >= 0` predicate reaches the scan as a PushedFilter
    t(s, d, "events")
      .filter(col("value") >= 0 && col("user_id").isNotNull)
      .select(
        col("event_id"),
        col("user_id").as("fact_id_1"),
        floor(col("value") * 100).cast("long").as("fact_id_2"))
      .orderBy("event_id")

  /** O3: newest-first bounded report (the "last 15 DQD runs" shape). */
  val topkRecentEvents: Q = (s, d) =>
    t(s, d, "events")
      .select(col("event_id"), col("ts"), col("event_type"))
      .orderBy(desc("ts"), desc("event_id"))
      .limit(15)

  /** A9: Achilles-style descriptive statistics per stratum with small-cell
    * suppression (counts <= 5 suppressed, `achilles.py:27`).
    *
    * The median is *exact* but computed via per-group rank windows (the two
    * middle ranks averaged — `quantile_cont(0.5)` semantics), not the
    * `percentile` aggregate: `percentile` buffers every group value in
    * executor memory (OOM at 100x), while `WindowExec` sort-spills to disk
    * and the partitionBy keeps the window parallel across groups.
    */
  val achillesStats: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
    val wAll = Window.partitionBy(col("o_orderstatus"))
    val isMedianRow =
      col("__rn") === floor((col("__n") + 1) / 2) || col("__rn") === floor((col("__n") + 2) / 2)
    // one pass: the rank window partitions by the same key the aggregate
    // groups on, so Catalyst reuses a single shuffle for both
    t(s, d, "orders")
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_custkey"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("stratum_count"),
        countDistinct(col("o_custkey")).as("n_customers"),
        // integer-domain rhu mean at 2 dp (SimOps.meanOfQuantUnits) — no
        // decimal->double cast or engine round() in the mean path
        graft.ops.SimOps.meanOfQuantUnits(
          sum(graft.ops.SimOps.quantUnits(col("o_totalprice"), 1e6)),
          count(lit(1)) * lit(10000L), 1e2).as("avg_value"),
        round(min(col("o_totalprice")), 2).as("min_value"),
        round(max(col("o_totalprice")), 2).as("max_value"),
        round(avg(when(isMedianRow, col("o_totalprice"))), 4).as("median_value"))
      .filter(col("stratum_count") > 5)
      .orderBy("o_orderstatus")
  }

  /** A9 breadth: a config-driven battery of Achilles-style analyses, each
    * producing the standard `achilles_results` row shape
    * `(analysis_id, stratum_1, count_value)` and merged with UNION ALL
    * exactly like `achilles.py:465-505`; counts <= 5 suppressed
    * (`small_cell_count`, `achilles.py:27`).
    */
  val achillesBattery: Q = (s, d) => {
    val orders = t(s, d, "orders")
    val analyses: Seq[DataFrame] = Seq(
      // 1: total record count (the "number of persons" shape)
      t(s, d, "customer").agg(count(lit(1)).as("count_value"))
        .select(lit(1L).as("analysis_id"), lit("ALL").as("stratum_1"), col("count_value")),
      // 2: records by status stratum
      orders.groupBy(col("o_orderstatus").as("stratum_1"))
        .agg(count(lit(1)).as("count_value"))
        .select(lit(2L).as("analysis_id"), col("stratum_1"), col("count_value")),
      // 3: records by year stratum
      orders.groupBy(year(col("o_orderdate")).cast("string").as("stratum_1"))
        .agg(count(lit(1)).as("count_value"))
        .select(lit(3L).as("analysis_id"), col("stratum_1"), col("count_value")),
      // 4: records by returnflag stratum
      t(s, d, "lineitem").groupBy(col("l_returnflag").as("stratum_1"))
        .agg(count(lit(1)).as("count_value"))
        .select(lit(4L).as("analysis_id"), col("stratum_1"), col("count_value")),
      // 5: distinct entities per priority stratum
      orders.groupBy(col("o_orderpriority").as("stratum_1"))
        .agg(countDistinct(col("o_custkey")).as("count_value"))
        .select(lit(5L).as("analysis_id"), col("stratum_1"), col("count_value")))
    analyses.reduce(_ unionByName _)
      .filter(col("count_value") > 5)
      .orderBy("analysis_id", "stratum_1")
  }

  /** A9 dist: the `achilles_results_dist` row shape — count/min/max/avg/
    * stdev plus the full quantile set (p10/p25/median/p75/p90) per stratum,
    * merged with UNION ALL like the reference's dist scratch-table merge
    * (`achilles.py:507-561`; row shape from
    * `merge_achilles_tables.sql` fieldNames for detail_type 'dist').
    *
    * Every quantile is EXACT with `quantile_cont` interpolation semantics,
    * computed from ONE rank window per analysis: the window partitions by
    * the same stratum the aggregate groups on (single shuffle, sort-spills
    * to disk, parallel across strata — no `percentile` heap buffering), and
    * each quantile picks its two bracketing ranks out of the same pass.
    * Counts <= 5 suppressed (`small_cell_count`, `achilles.py:27`).
    */
  val achillesDist: Q = (s, d) => {
    def dist(df: DataFrame, id: Long, stratum: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      graft.operators.AchillesGen.distAgg(
        df.select(lit(id).as("analysis_id"), stratum.cast("string").as("stratum_1"),
          value.cast("double").as("__v"))
          .filter(col("__v").isNotNull),
        Seq("analysis_id", "stratum_1"))
    dist(t(s, d, "orders"), 101L, col("o_orderstatus"), col("o_totalprice"))
      .unionByName(dist(t(s, d, "lineitem"), 102L, col("l_returnflag"), col("l_extendedprice")))
      .unionByName(dist(t(s, d, "events"), 103L, col("event_type"), col("value")))
      .orderBy("analysis_id", "stratum_1")
  }

  /** P4-shaped DQD check battery: each check = (violated, denominator, pct,
    * threshold status), unioned into one result table
    * (`data_quality.py:219-347` semantics).
    */
  def dqdCheckResults(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events")
    val lineitem = t(s, d, "lineitem")
    def check(df: DataFrame, name: String, category: String, violated: org.apache.spark.sql.Column) =
      df.agg(
        count(when(violated, 1)).as("num_violated_rows"),
        count(lit(1)).as("num_denominator_rows"))
        .select(
          lit(name).as("check_name"),
          lit(category).as("category"),
          col("num_violated_rows"),
          col("num_denominator_rows"),
          // micro-quantized pct: the presentation AND the FAIL threshold
          // both read the quantized LONG, so a ratio 1 ulp from the 5%
          // boundary can never split the two engines (r10 sweep)
          graft.ops.SimOps.quantMicro(
            col("num_violated_rows").cast("double") / col("num_denominator_rows"))
            .as("__pm"))
    check(events, "plausible_value_nonneg", "Plausibility", col("value") < 0)
      .unionByName(check(events, "completeness_props", "Completeness", col("props").isNull))
      .unionByName(check(lineitem, "plausible_discount_range", "Plausibility", col("l_discount") > 0.5))
      .withColumn("pct_violated", col("__pm").cast("double") / lit(1e6))
      .withColumn("status", when(col("__pm") > 50000, lit("FAIL")).otherwise(lit("PASS")))
      .drop("__pm")
  }

  val dqdChecks: Q = (s, d) => dqdCheckResults(s, d).orderBy("check_name")

  /** A7: DQD result summarizer — pass/fail counts by category. */
  val dqdSummary: Q = (s, d) =>
    dqdCheckResults(s, d)
      .groupBy(col("category"))
      .agg(
        count(lit(1)).as("n_checks"),
        count(when(col("status") === "FAIL", 1)).as("n_failed"))
      .orderBy("category")

  /** Time-series extension: JSON property extraction from the event props
    * column (codegen'd get_json_object, no UDF).
    */
  val eventPropsExtract: Q = (s, d) =>
    t(s, d, "events")
      .select(
        col("event_id"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .orderBy("event_id")

  /** Time-series extension: sessionization — a new session starts after a
    * 30-minute gap per user; session ids via running sum (the batch
    * formulation of the streaming `mapGroupsWithState` session window).
    */
  val eventSessionize: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // microsecond arithmetic on both sides: unix_timestamp() would truncate
    // to seconds while DuckDB's epoch keeps fractions — epoch_us is exact
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    t(s, d, "events")
      .withColumn("new_session", when(gap.isNull || gap > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("session_seq"))
      .orderBy("event_id")
  }

  /** Beyond-parity aggregation: exact distinct-agg per group. */
  val aggCountDistinct: Q = (s, d) =>
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"), count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** Beyond-parity aggregation: ROLLUP over two dimensions. */
  // exact order-independent sums at double speed (see ExactAgg): long-scaled
  // per-partition partials, decimal only in the tiny final combine; the
  // rollup/cube runs over the partials (sums distribute over both levels)
  private def orderPartials(s: SparkSession, d: String) = {
    import graft.functions.ExactAgg.scaled6
    t(s, d, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"),
        spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("p_cnt"), sum(scaled6(col("o_totalprice"))).as("p_total"))
  }

  val aggRollup: Q = (s, d) =>
    orderPartials(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("p_cnt")).as("cnt"),
        graft.functions.ExactAgg.exactSum6(col("p_total"), 2).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** CUBE grouping sets — the all-combinations sibling of [[aggRollup]]
    * (every subset of the two dimensions, not just prefixes).
    */
  val aggCube: Q = (s, d) =>
    orderPartials(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("p_cnt")).as("cnt"),
        graft.functions.ExactAgg.exactSum6(col("p_total"), 2).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Flagship TPC-H Q1 shape. Money/discount sums are exact and
    * order-independent (so parallel summation can never flip a rounding
    * against the single-threaded oracle) WITHOUT per-row decimal work:
    * rows scale to long partials inside whole-stage codegen, and only the
    * |groups|×|partitions| partial rows combine through DECIMAL — see
    * [[graft.functions.ExactAgg]]. This recovers the r4 plain-double speed
    * the r5 decimal(38,6) hardening lost (0.64 s → 1.66 s, verdict #1).
    */
  val q1PricingSummary: Q = (s, d) => {
    import graft.functions.ExactAgg._
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"), spark_partition_id().as("__pid"))
      .agg(
        sum(scaled6(col("l_quantity"))).as("p_qty"),
        sum(scaled6(col("l_extendedprice"))).as("p_base"),
        sum(scaled6(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("p_disc_price"),
        sum(scaled6(col("l_discount"))).as("p_disc"),
        count(lit(1)).as("p_cnt"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum6(col("p_qty"), 2).as("sum_qty"),
        exactSum6(col("p_base"), 2).as("sum_base_price"),
        exactSum6(col("p_disc_price"), 2).as("sum_disc_price"),
        // integer-domain mean (SimOps.meanOfQuantUnits over the exact micro
        // partial sum) — never decimal->double->divide->round (r10 sweep)
        graft.ops.SimOps.meanOfQuantUnits(
          sum(col("p_disc").cast("decimal(38,0)")), sum(col("p_cnt")), 1e6)
          .as("avg_disc"),
        sum(col("p_cnt")).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** The events table as a file-source stream
    * ([[StreamingOps.tableStream]]) with the SAME per-encoding ts
    * conversion `Tables.load` applies, taken from the table's footer.
    * Round 7 hardcoded the long-nanos schema here and the generator
    * switched to naive micros: every timestamp silently shrank 1000x and
    * all four streaming queries lost their oracle — the footer probe makes
    * the stream source drift-proof the same way the batch loader is.
    */
  private[graft] def eventsStream(s: SparkSession, d: String, stageName: String): DataFrame = {
    val raw = StreamingOps.tableStream(s, d, "events", stageName)
    raw.withColumn("ts", Tables.normalizedTs(s, raw.schema("ts").dataType, "ts"))
  }

  /** The streaming extension run as a REAL StreamingQuery, oracle-checked:
    * a parquet file-source stream of the events table (the AvailableNow
    * trigger processes everything then stops), windowed event counts with a
    * watermark, memory sink, and the final table compared against the
    * batch oracle — the stream/batch-equivalence contract Structured
    * Streaming promises, certified by the same DuckDB gate as every batch
    * operator. State stays bounded by the watermark on a live stream; the
    * tumbling window aligns to epoch hours, so the oracle is a plain
    * date_trunc aggregation.
    */
  val streamWindowedCounts: Q = (s, d) => {
    val stream = eventsStream(s, d, "stream_src_events")
    val counts = StreamingOps.windowedEventCounts(stream, "ts", "event_type")
    StreamingOps.drainToTable(counts, "stream_windowed_counts_sink", "complete")
      .orderBy("window_start", "event_type")
  }

  /** Streaming exact dedup run as a real StreamingQuery (same AvailableNow
    * + memory-sink harness as [[streamWindowedCounts]]): first occurrence
    * of each (user, type, ts) wins, state bounded by the watermark on a
    * live stream. Oracle: SELECT DISTINCT — the batch meaning of the same
    * operator.
    */
  val streamDedup: Q = (s, d) => {
    val deduped = StreamingOps
      .streamingDedup(eventsStream(s, d, "stream_src_events_dedup"), "ts",
        Seq("user_id", "event_type"))
      .select("user_id", "event_type", "ts")
    StreamingOps.drainToTable(deduped, "stream_dedup_sink", "append")
      .orderBy("user_id", "event_type", "ts")
  }

  /** Event-time sessionization as a real StreamingQuery (native
    * `session_window`, same AvailableNow + memory-sink harness). Oracle:
    * the batch island-detection rewrite of the same gap semantics —
    * session_window merges an event that lands strictly inside
    * [prev, prev + gap), so a gap of exactly 30 minutes starts a new
    * session on both sides.
    */
  val streamSessionize: Q = (s, d) => {
    val sessions = StreamingOps.sessionCounts(
      eventsStream(s, d, "stream_src_events_sess"), "ts", "user_id")
    StreamingOps.drainToTable(sessions, "stream_sessionize_sink", "complete")
      .orderBy("user_id", "session_start")
  }

  /** Arbitrary stateful streaming (`flatMapGroupsWithState`): per-user
    * running totals folded across micro-batches (StreamingOps
    * .runningUserStats) — the custom-state API the declarative operators
    * can't express. Oracle: stream/batch equivalence — the Update-mode
    * memory sink appends one row per (micro-batch, touched user), so the
    * drain is reduced to each user's FINAL state (n_events is strictly
    * monotone per update, so max-by-struct picks it) before comparing to
    * the batch GROUP BY replay. The reduction makes the gate independent
    * of how AvailableNow splits the source into batches (all accumulators
    * exact: counts, epoch-micros min/max, a bounded distinct-type set).
    */
  val streamRunningStats: Q = (s, d) => {
    val stats = StreamingOps.runningUserStats(
      eventsStream(s, d, "stream_src_events_rs"), "ts", "user_id", "event_type")
    StreamingOps.drainToTable(stats, "stream_running_stats_sink", "update")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("first_ts"), col("last_ts"),
        col("n_event_types"))).as("__fin"))
      .select(col("user_id"), col("__fin.n_events").as("n_events"),
        col("__fin.first_ts").as("first_ts"), col("__fin.last_ts").as("last_ts"),
        col("__fin.n_event_types").as("n_event_types"))
      .orderBy("user_id")
  }

  /** As-of join: each event picks the user's most recent order at-or-before
    * the event time (payload: order key + price) — the
    * latest-observation-per-event lookup. The right side pre-dedups to one
    * row per (customer, order date) so the match is deterministic; the
    * oracle replays it with DuckDB's native `ASOF LEFT JOIN`.
    */
  /** Shuffle-free co-located join over BUCKETED tables
    * ([[graft.io.Zones.writeBucketed]]): orders and lineitem land on disk
    * pre-shuffled into the same 8 buckets of the order key, so the join
    * plans with ZERO exchanges on either side — the layout a 100 TB
    * pipeline gives a join it repeats on a stable key. Written once per
    * (session, dataset); results identical to the plain join (the oracle
    * joins the raw tables).
    */
  /** Current bucketed-store generation (vacuumed from this constant, r17). */
  private[graft] val BktStoreGen = "bkt1"
  private val bucketedStore = graft.io.Stored.perDataset[(String, String)]
  val joinBucketedColocated: Q = (s, d) => {
    val (ot, lt) = bucketedStore((s, d)) {
      val z = graft.io.Zones.forPurpose(s"${BktStoreGen}_${graft.io.Zones.pathKey(d)}")
      // (r21) the two bucketed stores are independent writes — concurrent
      // jobs (guide §2.6) instead of two serial job tails
      var ot: String = null; var lt: String = null
      graft.io.Jobs.concurrently(Seq(
        () => ot = z.writeBucketed(t(s, d, "orders"), "o_orderkey", 8, "work", "orders"),
        () => lt = z.writeBucketed(
          t(s, d, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
          "o_orderkey", 8, "work", "lineitem")))
      (ot, lt)
    }
    s.table(ot).join(s.table(lt), "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("o_orderpriority")
  }

  val joinAsof: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
    val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val orders = t(s, d, "orders")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_orderkey").as("asof_orderkey"), col("o_totalprice").as("asof_price"))
    graft.ops.JoinOps.asofJoin(ev, "user_id", "ts", orders, "o_custkey", "o_orderdate")
      .orderBy("event_id")
  }

  /** [[joinAsof]] through the hot-key-proof bucketed plan
    * ([[graft.ops.JoinOps.asofJoinBucketed]]): same inputs, same oracle —
    * the shared SQL pins the two implementations to identical results.
    * Times convert to epoch micros first (the bucketed variant requires
    * integral time, like the interval join); width = 30 days.
    */
  val joinAsofBucketed: Q = (s, d) => {
    val ev = t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("ts_us", unix_micros(col("ts")))
    val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val orders = t(s, d, "orders")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("date_us"),
        col("o_orderkey").as("asof_orderkey"), col("o_totalprice").as("asof_price"))
    graft.ops.JoinOps
      .asofJoinBucketed(ev, "user_id", "ts_us", orders, "o_custkey", "date_us",
        bucketWidth = 30L * 86400L * 1000000L)
      .drop("ts_us")
      .orderBy("event_id")
  }

  /** Interval (range) join with NO equi-key: events against overlapping
    * 3-day activity windows anchored at each distinct event day, bucketed
    * so the plan is an equi-join on bucket ids (never a
    * BroadcastNestedLoopJoin). Aggregated per window — the windowed
    * activity rollup a monitoring pipeline computes.
    */
  val joinRange: Q = (s, d) => {
    val epochDay = (c: org.apache.spark.sql.Column) =>
      datediff(to_date(c), to_date(lit("1970-01-01"))).cast("long")
    val windows = t(s, d, "events")
      .select(to_date(col("ts")).as("window_start")).distinct()
      .withColumn("__s", epochDay(col("window_start")))
      .withColumn("__e", col("__s") + lit(3L))
    val points = t(s, d, "events")
      .select(col("event_id"), col("user_id"), epochDay(col("ts")).as("__p"))
    graft.ops.JoinOps.intervalJoin(points, "__p", windows, "__s", "__e", bucketWidth = 2L)
      .groupBy(col("window_start"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("window_start")
  }

  // The merged Achilles battery materializes ONCE per (session, dataset)
  // into the achilles zone (the reference's own scratch->final flow) and
  // every consumer — the canonical merge report, the counts view, the
  // pairs view — reads the stored table. Same run-once-store-report-many
  // pattern as the DQD battery (r5 lesson).
  private val storedAchilles = new graft.io.Stored.Table(
    graft.io.Stored.Zone("achilles", "achilles"), "achilles_results",
    (s, d) => graft.operators.AchillesGen.mergedResults(
      graft.model.TpchModel.modelWithEvents, tb => t(s, d, tb)))

  /** Stream-STREAM join run as a real StreamingQuery: purchases landing
    * within one hour of a click by the same user, both sides file-source
    * streams of the events table with watermarks, the time bound in the
    * join condition (state-evictable), append-mode memory sink. Oracle:
    * the batch self-join — the stream/batch-equivalence contract for the
    * one streaming join shape the other stream queries don't cover.
    */
  val streamJoinWithin: Q = (s, d) => {
    val clicks = eventsStream(s, d, "stream_src_events_jl")
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = eventsStream(s, d, "stream_src_events_jr")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val joined = StreamingOps.streamStreamJoin(
      clicks, purchases, "user_id", "click_ts", "purchase_ts")
    StreamingOps.drainToTable(joined, "stream_join_within_sink", "append")
      .orderBy("user_id", "click_ts", "purchase_ts")
  }

  /** Time-series resampling with forward fill: each user's events land on
    * an hourly grid from their first to last event, carrying the last
    * observed value across empty hours — the gap-filling shape every
    * time-series feature pipeline needs (and the ASOF-join's grid-side
    * dual). Grid size is O(users x span-hours) — independent of event
    * count, bounded by the calendar; the fill is one per-user window, no
    * global sort. The hour's representative value is max(struct(ts,
    * event_id, value)) — latest event wins, id-tie-broken, so both
    * engines pick the identical row.
    */
  val eventResampleHourly: Q = (s, d) => {
    val ev = t(s, d, "events")
    val b = ev.groupBy("user_id").agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = b.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val obs = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("__m"))
      .select(col("user_id"), col("hour"), col("__m.value").as("__v"))
    val w = Window.partitionBy("user_id").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "hour"), "left")
      .withColumn("is_observed", col("__v").isNotNull)
      .withColumn("filled_value", last(col("__v"), ignoreNulls = true).over(w))
      .select("user_id", "hour", "filled_value", "is_observed")
      .orderBy("user_id", "hour")
  }

  /** Ordered conversion funnel: first click, first view strictly after
    * it, first purchase strictly after that — per user, then the three
    * stage counts. Each stage is one aggregate + one user-keyed join; no
    * windows, no sequence scan.
    */
  val eventFunnelConversion: Q = (s, d) => {
    val ev = t(s, d, "events")
    val c = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val v = ev.filter(col("event_type") === "view").join(c, "user_id")
      .filter(col("ts") > col("t1")).groupBy("user_id").agg(min("ts").as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(v, "user_id")
      .filter(col("ts") > col("t2")).groupBy("user_id").agg(min("ts").as("t3"))
    c.agg(count(lit(1)).as("n_clicked"))
      .crossJoin(v.agg(count(lit(1)).as("n_viewed_after")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_after")))
  }

  /** Weekly retention cohorts: users bucketed by the week of their first
    * event, counted in each later week they were active. Monday-based
    * week truncation on both engines; the offset division is exact (both
    * ends week-truncated).
    */
  val eventRetentionCohorts: Q = (s, d) => {
    val ev = t(s, d, "events")
    val firsts = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
    ev.join(firsts, "user_id")
      .select(col("user_id"),
        to_date(date_trunc("week", col("first_ts"))).as("cohort_week"),
        (datediff(to_date(date_trunc("week", col("ts"))),
          to_date(date_trunc("week", col("first_ts")))) / 7).cast("long").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** HLL merge-invariance, hash-gated: the union of the per-type sketches
    * (max register per bucket — no second pass over the data) must equal
    * the sketch computed directly over everything. Both rows ride the
    * same oracle, so the property is certified cross-engine.
    */
  val aggHllUnion: Q = (s, d) => {
    import graft.ops.SketchOps
    val ev = t(s, d, "events")
    val perType = SketchOps.hllRegisters(ev, Seq("event_type"), col("event_id"), p = 7)
    val merged = SketchOps.hllFinish(SketchOps.hllMergeGroups(perType), Seq.empty, p = 7)
      .withColumn("source", lit("merged"))
    val direct = SketchOps.hllFinish(
      SketchOps.hllRegisters(ev, Seq.empty, col("event_id"), p = 7), Seq.empty, p = 7)
      .withColumn("source", lit("direct"))
    merged.unionByName(direct)
      .select("source", "n_buckets", "scaled_sum", "est_milli")
      .orderBy("source")
  }

  /** Streaming ETL into the warehouse zone: a `foreachBatch` sink folds
    * each micro-batch into a keyed work-zone table via the atomic-replace
    * write — the streaming counterpart of the batch MERGE (J8), closing
    * the loop from stream source to stored zone table (the other stream
    * queries sink to memory). Per-key state = max(struct(ts, event_id,
    * value)) — associative and commutative, so the final stored state is
    * identical however AvailableNow splits the source into batches, and
    * re-running is idempotent. The fold rewrites a KEY-CARDINALITY-bounded
    * table per batch (users x types here) — the right shape for dimension
    * state; fact-sized streams append, they don't fold.
    */
  val streamUpsertZone: Q = (s, d) => {
    val zones = graft.io.Zones.forPurpose(s"streamup_${graft.io.Zones.pathKey(d)}")
    // fresh state + checkpoint as a pair: a stale checkpoint beside a
    // cleaned table would replay NOTHING and leave the state empty
    zones.drop(s, "work", "stream_state")
    val ckpt = StreamingOps.scratchDir(s, "stream_ckpt_upsert", d)
    StreamingOps.upsertFold(
      eventsStream(s, d, "stream_src_events_up"), zones, "stream_state",
      Seq("user_id", "event_type"),
      max(struct(col("ts"), col("event_id"), col("value"))), ckpt)
    zones.read(s, "work", "stream_state")
      .select(col("user_id"), col("event_type"),
        col("__m.ts").as("last_ts"), col("__m.event_id").as("last_event_id"),
        col("__m.value").as("last_value"))
      .orderBy("user_id", "event_type")
  }

  /** CONTINUOUS data quality: the DQD battery + run-history store driven
    * from a STREAM — INCREMENTALLY. The events table is staged as two
    * deterministic files (even event ids, then odd), streamed with
    * `maxFilesPerTrigger = 1` so each file is one micro-batch. Each batch
    * computes the battery COUNT PARTIALS over the BATCH ONLY
    * ([[graft.operators.DqdChecks.fieldLevelCounts]]) and merges them into
    * the stored per-check counts ([[graft.operators.DqdChecks
    * .mergeBatteryCounts]], one bounded row per check) — the r9 shape that
    * rewrote and re-scanned the WHOLE accumulated table per batch
    * (O(corpus) per batch, O(n^2) across a stream) is gone; per-batch work
    * is O(batch) for every slice-decomposable check. The one distinct-
    * aggregate check (isPrimaryKey) re-derives from a keyed count state
    * table (event_id, cnt) — the same state Structured Streaming's
    * dropDuplicates would hold; its per-batch merge is a narrow
    * groupBy-sum over O(distinct keys) two-column rows, the classic
    * streaming-state compaction. The shaping is the SAME
    * [[graft.operators.DqdChecks.shapeBattery]] the full battery uses, so
    * the incremental and full contracts cannot fork; each merged battery
    * is recorded as a run ([[graft.operators.DqdChecks.recordRun]]) — run
    * history shows quality metrics EVOLVING with coverage. The oracle
    * replays run 1 over the even-id prefix and run 2 over the full table,
    * certifying merge == rescan.
    */
  private val streamDqdModel: graft.model.CdmModel = graft.model.CdmModel(fields = Seq(
    graft.model.CdmField("events", "event_id", "int64", false, true, None, "CDM"),
    graft.model.CdmField("events", "user_id", "int64", false, false, None, "CDM"),
    graft.model.CdmField("events", "event_type", "string", false, false, None, "CDM"),
    graft.model.CdmField("events", "value", "float64", false, false, None, "CDM")))

  val streamDqdRuns: Q = (s, d) => {
    val zones = graft.io.Zones.forPurpose(s"streamdqd_${graft.io.Zones.pathKey(d)}")
    // fresh incremental state + run history + checkpoint as a set
    Seq("work" -> "counts", "work" -> "pk_state", "dqd" -> "dqd_runs",
      "dqd" -> "dqd_results_run_1", "dqd" -> "dqd_results_run_2")
      .foreach { case (z, tb) => zones.drop(s, z, tb) }
    val ckpt = StreamingOps.scratchDir(s, "stream_ckpt_dqd", d)
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val src = stageParity(s, "stream_src_dqd", d, ev)
    // threshold lookup is metadata-only — built once, reused per batch
    val thrDf = graft.operators.DqdChecks.batteryThresholds(streamDqdModel, _ => ev)
    StreamingOps.drainEach(StreamingOps.stagedStream(s, src, ev.schema), ckpt) { (batch, _) =>
      graft.operators.DqdChecks.incrementalBatch(s, zones, streamDqdModel, thrDf, batch)
    }
    graft.operators.DqdChecks.lastRuns(s, zones).drop("run_timestamp")
  }

  /** The events model the streaming ACHILLES battery generates from —
    * streamDqdModel plus the ts axis, so the generated families include
    * the by-year and by-month series (all sum-decomposable).
    */
  private val streamAchModel: graft.model.CdmModel = graft.model.CdmModel(fields = Seq(
    graft.model.CdmField("events", "event_id", "int64", false, true, None, "CDM"),
    graft.model.CdmField("events", "user_id", "int64", false, false, None, "CDM"),
    graft.model.CdmField("events", "event_type", "string", false, false, None, "CDM"),
    graft.model.CdmField("events", "value", "float64", false, false, None, "CDM"),
    graft.model.CdmField("events", "ts", "datetime", false, false, None, "CDM")))

  /** CONTINUOUS Achilles: the generated count battery maintained
    * incrementally over a stream of fact batches — the Achilles sibling of
    * [[streamDqdRuns]], and the operational shape a 100 TB store actually
    * wants (nightly appends update `achilles_results` without rescanning
    * history). Each micro-batch computes the UNSUPPRESSED sum-family
    * partials over the batch alone ([[graft.operators.AchillesGen
    * .partialCounts]] — per-batch cost O(batch), never O(corpus)) and
    * merges them into a stored partials table by a bounded groupBy-sum on
    * the report key; small-cell suppression applies only at READ (a
    * stratum crossing the threshold across batches must not be lost). The
    * oracle is the FULL-SCAN sum-family battery over the same model:
    * stream merge == rescan, row for row.
    */
  val streamAchillesCounts: Q = (s, d) => {
    val zones = graft.io.Zones.forPurpose(s"streamach_${graft.io.Zones.pathKey(d)}")
    zones.drop(s, "work", "ach_partials")
    val ckpt = StreamingOps.scratchDir(s, "stream_ckpt_ach", d)
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value", "ts")
    StreamingOps.drainEach(
      StreamingOps.stagedStream(s, stageParity(s, "stream_src_ach", d, ev), ev.schema),
      ckpt)(achCountsFold(zones))
    StreamingOps.guardedState(s, zones, "ach_partials")
      .filter(col("count_value") > 5)
      .coalesce(1)
      .sortWithinPartitions("analysis_id", "stratum_1")
  }

  /** Stage the events as two files, even event ids then odd; a NULL
    * event_id lands in exactly one of them (arithmetic parity would drop
    * it from both).
    */
  private def stageParity(s: SparkSession, name: String, d: String, ev: DataFrame): String = {
    val par = coalesce(pmod(col("event_id"), lit(2)), lit(0))
    StreamingOps.stageFiles(s, name, d, Seq(
      "batch0.parquet" -> ev.filter(par === 0), "batch1.parquet" -> ev.filter(par =!= 0)))
  }

  /** One micro-batch of [[streamAchillesCounts]]: the batch's unsuppressed
    * sum-family partials merged into the stored ones by a bounded
    * groupBy-sum on the report key, replay-guarded.
    */
  private[graft] def achCountsFold(zones: graft.io.Zones)(batch: DataFrame, id: Long): Unit =
    StreamingOps.guardedFold(zones, "ach_partials", batch, id) { (stored, b) =>
      val part = AchillesGen.partialCounts(streamAchModel, _ => b)
      stored.fold(part)(p => AchillesGen.mergePartialCounts(Seq(p, part), -1L))
    }

  /** CONTINUOUS Achilles, DIST tier — [[streamAchillesCounts]]'s twin for
    * the distribution families: each micro-batch computes the mergeable
    * VALUE-HISTOGRAM partials over the batch alone
    * ([[graft.operators.AchillesGen.distValueCounts]]) and merges them
    * into a stored histogram table by one bounded groupBy-sum on
    * (analysis, stratum, value); the single dist aggregation (exact
    * decimal moments + order-statistic quantiles) runs only at READ over
    * the merged histogram — per-batch cost O(batch), and the report is
    * EXACTLY the full-scan dist battery (the oracle), because histogram
    * merge is a sum and the aggregation is a function of the histogram.
    * Idempotent under foreachBatch replay via the same in-table
    * __last_batch protocol as the counts tier.
    */
  val streamAchillesDist: Q = (s, d) => {
    val zones = graft.io.Zones.forPurpose(s"streamachd_${graft.io.Zones.pathKey(d)}")
    zones.drop(s, "work", "ach_dist_partials")
    val ckpt = StreamingOps.scratchDir(s, "stream_ckpt_achd", d)
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value", "ts")
    StreamingOps.drainEach(
      StreamingOps.stagedStream(s, stageParity(s, "stream_src_achd", d, ev), ev.schema),
      ckpt)(achDistFold(zones))
    AchillesGen.mergeDistPartials(Seq(
      StreamingOps.guardedState(s, zones, "ach_dist_partials")))
  }

  /** One micro-batch of [[streamAchillesDist]], replay-guarded. Histogram
    * merge IS the sum — the dist aggregation stays at read so a value's
    * count can keep accumulating across batches.
    */
  private[graft] def achDistFold(zones: graft.io.Zones)(batch: DataFrame, id: Long): Unit =
    StreamingOps.guardedFold(zones, "ach_dist_partials", batch, id) { (stored, b) =>
      val part = AchillesGen.distValueCounts(streamAchModel, _ => b)
      stored.fold(part)(p => p.unionByName(part)
        .groupBy(col("analysis_id"), col("stratum_1"), col("__v"))
        .agg(sum(col("__cnt")).as("__cnt")))
    }

  /** Count-Min heavy hitters beside their ground truth: exact top-10
    * users by event count, each with its CMS point estimate (min over
    * depth salted counters — never underestimates; the d x w counter
    * matrix is mergeable integer state, broadcast at lookup).
    */
  val aggCmsTopusers: Q = (s, d) => {
    val ev = t(s, d, "events")
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc).limit(10)
    val counters = graft.ops.SketchOps.cmsCounters(ev, col("user_id"))
    graft.ops.SketchOps.cmsEstimate(counters, exact, "user_id")
      .join(exact, "user_id")
      .select("user_id", "n_exact", "n_cms")
      .orderBy(col("n_exact").desc, col("user_id").asc)
  }

  /** CMS merge-invariance (the HLL-union twin): counter matrices over
    * disjoint halves of the stream SUM into exactly the full-scan matrix
    * (integer counters, commutative), so the store-counters-merge-on-read
    * production shape yields bit-identical estimates. Gated by the SAME
    * full-scan oracle as agg_cms_topusers.
    */
  val aggCmsUnion: Q = (s, d) => {
    val ev = t(s, d, "events")
    val h = pmod(hash(col("event_id")), lit(2))
    val merged = graft.ops.SketchOps.cmsCounters(ev.filter(h === 0), col("user_id"))
      .unionByName(graft.ops.SketchOps.cmsCounters(ev.filter(h =!= 0), col("user_id")))
      .groupBy("dpt", "slot").agg(sum(col("cnt")).as("cnt"))
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc).limit(10)
    graft.ops.SketchOps.cmsEstimate(merged, exact, "user_id")
      .join(exact, "user_id")
      .select("user_id", "n_exact", "n_cms")
      .orderBy(col("n_exact").desc, col("user_id").asc)
  }

  val defs: Seq[(String, Q)] = Seq(
    "agg_cms_union" -> aggCmsUnion,
    "q1_pricing_summary" -> q1PricingSummary,
    "stream_windowed_counts" -> streamWindowedCounts,
    "stream_dedup" -> streamDedup,
    "stream_sessionize" -> streamSessionize,
    "stream_running_stats" -> streamRunningStats,
    "stream_join_within" -> streamJoinWithin,
    "stream_upsert_zone" -> streamUpsertZone,
    "stream_dqd_runs" -> streamDqdRuns,
    "stream_achilles_counts" -> streamAchillesCounts,
    "stream_achilles_dist" -> streamAchillesDist,
    "event_discover_tables" -> eventDiscoverTables,
    "event_case_map" -> eventCaseMap,
    "event_rekey" -> eventRekey,
    "event_fact_nonnull" -> eventFactNonnull,
    "scalar_suite" -> scalarSuite,
    "topk_recent_events" -> topkRecentEvents,
    "achilles_stats" -> achillesStats,
    "achilles_battery" -> achillesBattery,
    "achilles_dist" -> achillesDist,
    // INCREMENTAL Achilles: the sum-decomposable count families computed
    // as two unsuppressed partial batteries over disjoint hash-halves of
    // every table, merged + suppressed after the sum — hash-gated against
    // the FULL-scan oracle, so "absorb a batch without rescanning
    // history" is proven equal to the rescan, not just plausible
    "achilles_incremental" -> ((s, d) => {
      val model = graft.model.TpchModel.modelWithEvents
      def half(keep: Int): String => org.apache.spark.sql.DataFrame = tb => {
        val df = t(s, d, tb)
        val h = pmod(hash(col(df.columns.head)), lit(2))
        if (keep == 0) df.filter(h === 0) else df.filter(h =!= 0)
      }
      graft.operators.AchillesGen.mergePartialCounts(Seq(
        graft.operators.AchillesGen.partialCounts(model, half(0)),
        graft.operators.AchillesGen.partialCounts(model, half(1))))
    }),
    // the dist-family incremental twin: partial value HISTOGRAMS over the
    // same hash-halves merge by summing, then ONE dist aggregation —
    // hash-gated against the full-scan dist oracle (mergeable summaries,
    // proven equal to the rescan)
    "achilles_incremental_dist" -> ((s, d) => {
      val model = graft.model.TpchModel.modelWithEvents
      def half(keep: Int): String => org.apache.spark.sql.DataFrame = tb => {
        val df = t(s, d, tb)
        val h = pmod(hash(col(df.columns.head)), lit(2))
        if (keep == 0) df.filter(h === 0) else df.filter(h =!= 0)
      }
      graft.operators.AchillesGen.mergeDistPartials(Seq(
        graft.operators.AchillesGen.distValueCounts(model, half(0)),
        graft.operators.AchillesGen.distValueCounts(model, half(1))))
    }),
    "achilles_generated" -> ((s, d) =>
      // counts derive from the STORED merged results (generated count ids
      // sit below the pair sub-base; pairs start at GeneratedBase+4000) —
      // run once, report many
      storedAchilles(s, d).filter(col("analysis_id") < graft.operators.AchillesGen.GeneratedBase + 4000L)
        .select("analysis_id", "stratum_1", "count_value")
        .orderBy("analysis_id", "stratum_1")),
    "achilles_dist_generated" -> ((s, d) =>
      graft.operators.AchillesGen.distResults(graft.model.TpchModel.modelWithEvents, tb => t(s, d, tb))),
    "achilles_fk_dist" -> ((s, d) =>
      graft.operators.AchillesGen.fkDistResults(graft.model.TpchModel.modelWithEvents, tb => t(s, d, tb))),
    "achilles_pairs" -> ((s, d) =>
      storedAchilles(s, d).filter(col("analysis_id") >= graft.operators.AchillesGen.GeneratedBase + 4000L)
        .select("analysis_id", "stratum_1", "stratum_2", "count_value")
        .orderBy("analysis_id", "stratum_1", "stratum_2")),
    // the scratch->final merge (`achilles.py:507-561`): every family lands
    // in the canonical 5-strata achilles_results shape, stored into the
    // achilles zone via the atomic-replace protocol, report reads the table
    "achilles_merge_results" -> ((s, d) =>
      storedAchilles(s, d).orderBy("analysis_id", "stratum_1", "stratum_2")),
    "achilles_span_dist" -> ((s, d) =>
      graft.operators.AchillesGen.spanDistResults(graft.model.TpchModel.modelWithEvents, tb => t(s, d, tb))),
    // the populated achilles_analysis catalog (literal OHDSI core ids) —
    // pinned by a hand-written literal oracle, like cdm_levels
    "achilles_analysis_catalog" -> ((s, _) =>
      graft.operators.OhdsiAchilles.analysisCatalog(s)),
    "dqd_checks" -> dqdChecks,
    "dqd_summary" -> dqdSummary,
    "event_props_extract" -> eventPropsExtract,
    "event_sessionize" -> eventSessionize,
    "join_asof" -> joinAsof,
    "join_bucketed_colocated" -> joinBucketedColocated,
    "join_asof_bucketed" -> joinAsofBucketed,
    "join_range" -> joinRange,
    "agg_count_distinct" -> aggCountDistinct,
    // the sketch beside its ground truth (the sim_*_recall pattern): the
    // event-key dimension is the one test-data dimension with enough
    // cardinality to sit in the raw estimator's operating regime at the
    // driver's scales (the user dimension would need the linear-counting
    // branch, deliberately omitted — no portable ln)
    "agg_hll_distinct" -> ((s, d) => {
      val ev = t(s, d, "events")
      val sk = graft.ops.SketchOps.hllDistinct(ev, Seq("event_type"), col("event_id"), p = 7)
      val ex = ev.groupBy("event_type").agg(countDistinct("event_id").as("n_exact"))
      sk.join(ex, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("n_buckets"),
          col("scaled_sum"), col("est_milli"))
        .orderBy("event_type")
    }),
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "event_resample_hourly" -> eventResampleHourly,
    "event_funnel_conversion" -> eventFunnelConversion,
    "event_retention_cohorts" -> eventRetentionCohorts,
    "agg_hll_union" -> aggHllUnion,
    "agg_cms_topusers" -> aggCmsTopusers)

  /** One run's overview replay over a filtered events subset: the CTE
    * shadows the base view for the generated battery SQL; its own body
    * reaches the real table through the explicit `main.` schema (DuckDB
    * rejects an unqualified same-name reference inside the CTE).
    */
  private def streamDqdOverviewSql(whereSql: String): String = {
    val battery = graft.operators.DqdChecks.oracleSql(streamDqdModel)
    val ov = graft.operators.DqdChecks.overviewOracleSql(battery)
    require(ov.startsWith("WITH battery AS ("), "overview oracle shape changed")
    s"WITH events AS (SELECT event_id, user_id, event_type, value FROM main.events$whereSql)," +
      "\nbattery AS (" + ov.stripPrefix("WITH battery AS (")
  }

  private val streamDqdRunsOracle: String =
    s"""SELECT CAST(2 AS BIGINT) AS run_id, o2.* FROM (
       |${streamDqdOverviewSql("")}
       |) o2
       |UNION ALL
       |SELECT CAST(1 AS BIGINT) AS run_id, o1.* FROM (
       |${streamDqdOverviewSql(" WHERE COALESCE(event_id % 2, 0) = 0")}
       |) o1
       |ORDER BY run_id DESC""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "stream_dqd_runs" -> streamDqdRunsOracle,
    // stream merge == rescan: the full-scan sum-family battery over the
    // same generated model
    "stream_achilles_counts" ->
      graft.operators.AchillesGen.sumFamilyOracleSql(streamAchModel),
    // stream merge == rescan for the dist tier too: the oracle is the
    // FULL-SCAN dist battery over the same events model
    "stream_achilles_dist" ->
      graft.operators.AchillesGen.distOracleSql(streamAchModel),
    "join_bucketed_colocated" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "achilles_analysis_catalog" ->
      """SELECT CAST(analysis_id AS BIGINT) AS analysis_id, analysis_name,
        |  stratum_1_name, stratum_2_name, stratum_3_name, stratum_4_name,
        |  CAST(distribution AS BIGINT) AS distribution
        |FROM (VALUES
        |(0, 'Source name', NULL, NULL, NULL, NULL, 0),
        |(1, 'Number of persons', NULL, NULL, NULL, NULL, 0),
        |(2, 'Number of persons by gender', 'gender_concept_id', NULL, NULL, NULL, 0),
        |(3, 'Number of persons by year of birth', 'year_of_birth', NULL, NULL, NULL, 0),
        |(4, 'Number of persons by race', 'race_concept_id', NULL, NULL, NULL, 0),
        |(5, 'Number of persons by ethnicity', 'ethnicity_concept_id', NULL, NULL, NULL, 0),
        |(7, 'Number of persons with invalid provider_id', NULL, NULL, NULL, NULL, 0),
        |(8, 'Number of persons with invalid location_id', NULL, NULL, NULL, NULL, 0),
        |(9, 'Number of persons with invalid care_site_id', NULL, NULL, NULL, NULL, 0),
        |(10, 'Number of all persons by year of birth and by gender', 'year_of_birth', 'gender_concept_id', NULL, NULL, 0),
        |(12, 'Number of persons by race and ethnicity', 'race_concept_id', 'ethnicity_concept_id', NULL, NULL, 0),
        |(101, 'Number of persons by age, with age at first observation period', 'age', NULL, NULL, NULL, 0),
        |(102, 'Number of persons by gender by age, with age at first observation period', 'gender_concept_id', 'age', NULL, NULL, 0),
        |(103, 'Distribution of age at first observation period', NULL, NULL, NULL, NULL, 1),
        |(104, 'Distribution of age at first observation period by gender', 'gender_concept_id', NULL, NULL, NULL, 1),
        |(105, 'Length of observation (days) of first observation period', NULL, NULL, NULL, NULL, 1),
        |(106, 'Length of observation (days) of first observation period, by gender', 'gender_concept_id', NULL, NULL, NULL, 1),
        |(107, 'Length of observation (days) of first observation period, by age decile', 'age_decile', NULL, NULL, NULL, 1),
        |(108, 'Number of persons by length of first observation period, in 30d increments', 'length_30d', NULL, NULL, NULL, 0),
        |(109, 'Number of persons with continuous observation in each year', 'calendar_year', NULL, NULL, NULL, 0),
        |(110, 'Number of persons with continuous observation in each month', 'calendar_month', NULL, NULL, NULL, 0),
        |(111, 'Number of persons by observation period start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(112, 'Number of persons by observation period end month', 'calendar_month', NULL, NULL, NULL, 0),
        |(113, 'Number of persons by number of observation periods', 'num_periods', NULL, NULL, NULL, 0),
        |(114, 'Number of persons with observation period before year-of-birth', NULL, NULL, NULL, NULL, 0),
        |(115, 'Number of persons with observation period end < observation period start', NULL, NULL, NULL, NULL, 0),
        |(116, 'Number of persons with at least one day of observation in each year, by gender and age decile', 'calendar_year', 'gender_concept_id', 'age_decile', NULL, 0),
        |(117, 'Number of persons with observation period during each month', 'calendar_month', NULL, NULL, NULL, 0),
        |(118, 'Number of observation period records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(119, 'Number of observation periods by period type concept', 'period_type_concept_id', NULL, NULL, NULL, 0),
        |(200, 'Number of persons with at least one visit occurrence, by visit_concept_id', 'visit_concept_id', NULL, NULL, NULL, 0),
        |(201, 'Number of visit occurrence records, by visit_concept_id', 'visit_concept_id', NULL, NULL, NULL, 0),
        |(202, 'Number of persons by visit occurrence start month, by visit_concept_id', 'visit_concept_id', 'calendar_month', NULL, NULL, 0),
        |(203, 'Number of distinct visit occurrence concepts per person', NULL, NULL, NULL, NULL, 1),
        |(204, 'Number of persons with at least one visit occurrence, by visit_concept_id by calendar year by gender by age decile', 'visit_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(205, 'Number of visit occurrence records, by visit_concept_id by visit_type_concept_id', 'visit_concept_id', 'visit_type_concept_id', NULL, NULL, 0),
        |(206, 'Distribution of age at first visit occurrence, by visit_concept_id', 'visit_concept_id', NULL, NULL, NULL, 1),
        |(207, 'Number of visit occurrence records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(208, 'Number of visit occurrence records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(209, 'Number of visit occurrence records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(210, 'Number of visit records with invalid care_site_id', NULL, NULL, NULL, NULL, 0),
        |(211, 'Distribution of length of stay, by visit_concept_id', 'visit_concept_id', NULL, NULL, NULL, 1),
        |(212, 'Number of persons with at least one visit occurrence, by calendar year by gender by age decile', 'calendar_year', 'gender_concept_id', 'age_decile', NULL, 0),
        |(220, 'Number of visit occurrence records by visit occurrence start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(291, 'Number of total persons that have at least x visit occurrences', 'visit_occurrence_count', NULL, NULL, NULL, 0),
        |(293, 'Distribution of number of visit occurrence records per person', NULL, NULL, NULL, NULL, 1),
        |(294, 'Distribution of days between first and last visit occurrence per person', NULL, NULL, NULL, NULL, 1),
        |(300, 'Number of providers', NULL, NULL, NULL, NULL, 0),
        |(301, 'Number of providers by specialty', 'specialty_concept_id', NULL, NULL, NULL, 0),
        |(400, 'Number of persons with at least one condition occurrence, by condition_concept_id', 'condition_concept_id', NULL, NULL, NULL, 0),
        |(401, 'Number of condition occurrence records, by condition_concept_id', 'condition_concept_id', NULL, NULL, NULL, 0),
        |(402, 'Number of persons by condition occurrence start month, by condition_concept_id', 'condition_concept_id', 'calendar_month', NULL, NULL, 0),
        |(403, 'Number of distinct condition occurrence concepts per person', NULL, NULL, NULL, NULL, 1),
        |(404, 'Number of persons with at least one condition occurrence, by condition_concept_id by calendar year by gender by age decile', 'condition_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(405, 'Number of condition occurrence records, by condition_concept_id by condition_type_concept_id', 'condition_concept_id', 'condition_type_concept_id', NULL, NULL, 0),
        |(406, 'Distribution of age at first condition occurrence, by condition_concept_id', 'condition_concept_id', NULL, NULL, NULL, 1),
        |(407, 'Number of condition occurrence records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(408, 'Number of condition occurrence records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(409, 'Number of condition occurrence records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(420, 'Number of condition occurrence records by condition occurrence start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(491, 'Number of total persons that have at least x condition occurrences', 'condition_occurrence_count', NULL, NULL, NULL, 0),
        |(493, 'Distribution of number of condition occurrence records per person', NULL, NULL, NULL, NULL, 1),
        |(494, 'Distribution of days between first and last condition occurrence per person', NULL, NULL, NULL, NULL, 1),
        |(500, 'Number of persons with at least one death, by cause_concept_id', 'cause_concept_id', NULL, NULL, NULL, 0),
        |(501, 'Number of death records, by cause_concept_id', 'cause_concept_id', NULL, NULL, NULL, 0),
        |(502, 'Number of persons by death start month, by cause_concept_id', 'cause_concept_id', 'calendar_month', NULL, NULL, 0),
        |(504, 'Distribution of age at death', NULL, NULL, NULL, NULL, 1),
        |(505, 'Number of death records, by death_type_concept_id', 'death_type_concept_id', NULL, NULL, NULL, 0),
        |(506, 'Distribution of age at death, by gender', 'gender_concept_id', NULL, NULL, NULL, 1),
        |(509, 'Number of death records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(510, 'Number of death records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(511, 'Distribution of time from death to last condition', NULL, NULL, NULL, NULL, 1),
        |(512, 'Distribution of time from death to last drug', NULL, NULL, NULL, NULL, 1),
        |(513, 'Distribution of time from death to last visit', NULL, NULL, NULL, NULL, 1),
        |(514, 'Distribution of time from death to last procedure', NULL, NULL, NULL, NULL, 1),
        |(600, 'Number of persons with at least one procedure occurrence, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 0),
        |(601, 'Number of procedure occurrence records, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 0),
        |(602, 'Number of persons by procedure occurrence start month, by procedure_concept_id', 'procedure_concept_id', 'calendar_month', NULL, NULL, 0),
        |(603, 'Number of distinct procedure occurrence concepts per person', NULL, NULL, NULL, NULL, 1),
        |(604, 'Number of persons with at least one procedure occurrence, by procedure_concept_id by calendar year by gender by age decile', 'procedure_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(605, 'Number of procedure occurrence records, by procedure_concept_id by procedure_type_concept_id', 'procedure_concept_id', 'procedure_type_concept_id', NULL, NULL, 0),
        |(606, 'Distribution of age at first procedure occurrence, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 1),
        |(607, 'Number of procedure occurrence records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(608, 'Number of procedure occurrence records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(620, 'Number of procedure occurrence records by procedure occurrence start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(691, 'Number of total persons that have at least x procedure occurrences', 'procedure_occurrence_count', NULL, NULL, NULL, 0),
        |(693, 'Distribution of number of procedure occurrence records per person', NULL, NULL, NULL, NULL, 1),
        |(694, 'Distribution of days between first and last procedure occurrence per person', NULL, NULL, NULL, NULL, 1),
        |(700, 'Number of persons with at least one drug exposure, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 0),
        |(701, 'Number of drug exposure records, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 0),
        |(702, 'Number of persons by drug exposure start month, by drug_concept_id', 'drug_concept_id', 'calendar_month', NULL, NULL, 0),
        |(703, 'Number of distinct drug exposure concepts per person', NULL, NULL, NULL, NULL, 1),
        |(704, 'Number of persons with at least one drug exposure, by drug_concept_id by calendar year by gender by age decile', 'drug_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(705, 'Number of drug exposure records, by drug_concept_id by drug_type_concept_id', 'drug_concept_id', 'drug_type_concept_id', NULL, NULL, 0),
        |(706, 'Distribution of age at first drug exposure, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(707, 'Number of drug exposure records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(708, 'Number of drug exposure records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(709, 'Number of drug exposure records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(715, 'Distribution of days_supply by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(716, 'Distribution of refills by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(717, 'Distribution of quantity by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(720, 'Number of drug exposure records by drug exposure start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(791, 'Number of total persons that have at least x drug exposures', 'drug_exposure_count', NULL, NULL, NULL, 0),
        |(793, 'Distribution of number of drug exposure records per person', NULL, NULL, NULL, NULL, 1),
        |(794, 'Distribution of days between first and last drug exposure per person', NULL, NULL, NULL, NULL, 1),
        |(800, 'Number of persons with at least one observation, by observation_concept_id', 'observation_concept_id', NULL, NULL, NULL, 0),
        |(801, 'Number of observation records, by observation_concept_id', 'observation_concept_id', NULL, NULL, NULL, 0),
        |(802, 'Number of persons by observation start month, by observation_concept_id', 'observation_concept_id', 'calendar_month', NULL, NULL, 0),
        |(803, 'Number of distinct observation concepts per person', NULL, NULL, NULL, NULL, 1),
        |(804, 'Number of persons with at least one observation, by observation_concept_id by calendar year by gender by age decile', 'observation_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(805, 'Number of observation records, by observation_concept_id by observation_type_concept_id', 'observation_concept_id', 'observation_type_concept_id', NULL, NULL, 0),
        |(806, 'Distribution of age at first observation, by observation_concept_id', 'observation_concept_id', NULL, NULL, NULL, 1),
        |(807, 'Number of observation records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(808, 'Number of observation records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(814, 'Number of observation records with no value (numeric or concept)', NULL, NULL, NULL, NULL, 0),
        |(815, 'Distribution of numeric values, by observation_concept_id and unit_concept_id', 'observation_concept_id', 'unit_concept_id', NULL, NULL, 1),
        |(820, 'Number of observation records by observation start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(891, 'Number of total persons that have at least x observations', 'observation_count', NULL, NULL, NULL, 0),
        |(893, 'Distribution of number of observation records per person', NULL, NULL, NULL, NULL, 1),
        |(894, 'Distribution of days between first and last observation per person', NULL, NULL, NULL, NULL, 1),
        |(900, 'Number of persons with at least one drug era, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 0),
        |(901, 'Number of drug era records, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 0),
        |(902, 'Number of persons by drug era start month, by drug_concept_id', 'drug_concept_id', 'calendar_month', NULL, NULL, 0),
        |(903, 'Number of distinct drug era concepts per person', NULL, NULL, NULL, NULL, 1),
        |(904, 'Number of persons with at least one drug era, by drug_concept_id by calendar year by gender by age decile', 'drug_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(906, 'Distribution of age at first drug era, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(907, 'Distribution of drug era length, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(908, 'Number of drug era records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(909, 'Number of drug era records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(910, 'Number of drug era records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(920, 'Number of drug era records by drug era start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(991, 'Number of total persons that have at least x drug eras', 'drug_era_count', NULL, NULL, NULL, 0),
        |(993, 'Distribution of number of drug era records per person', NULL, NULL, NULL, NULL, 1),
        |(994, 'Distribution of days between first and last drug era per person', NULL, NULL, NULL, NULL, 1),
        |(1000, 'Number of persons with at least one condition era, by condition_concept_id', 'condition_concept_id', NULL, NULL, NULL, 0),
        |(1001, 'Number of condition era records, by condition_concept_id', 'condition_concept_id', NULL, NULL, NULL, 0),
        |(1002, 'Number of persons by condition era start month, by condition_concept_id', 'condition_concept_id', 'calendar_month', NULL, NULL, 0),
        |(1003, 'Number of distinct condition era concepts per person', NULL, NULL, NULL, NULL, 1),
        |(1004, 'Number of persons with at least one condition era, by condition_concept_id by calendar year by gender by age decile', 'condition_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(1006, 'Distribution of age at first condition era, by condition_concept_id', 'condition_concept_id', NULL, NULL, NULL, 1),
        |(1007, 'Distribution of condition era length, by condition_concept_id', 'condition_concept_id', NULL, NULL, NULL, 1),
        |(1008, 'Number of condition era records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(1009, 'Number of condition era records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(1010, 'Number of condition era records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(1020, 'Number of condition era records by condition era start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(1091, 'Number of total persons that have at least x condition eras', 'condition_era_count', NULL, NULL, NULL, 0),
        |(1093, 'Distribution of number of condition era records per person', NULL, NULL, NULL, NULL, 1),
        |(1094, 'Distribution of days between first and last condition era per person', NULL, NULL, NULL, NULL, 1),
        |(1100, 'Number of persons by location 3-digit zip', 'zip3', NULL, NULL, NULL, 0),
        |(1101, 'Number of persons by location state', 'state', NULL, NULL, NULL, 0),
        |(1102, 'Number of care sites by location 3-digit zip', 'zip3', NULL, NULL, NULL, 0),
        |(1103, 'Number of care sites by location state', 'state', NULL, NULL, NULL, 0),
        |(1200, 'Number of persons by place of service', 'place_of_service_concept_id', NULL, NULL, NULL, 0),
        |(1201, 'Number of visits by place of service', 'place_of_service_concept_id', NULL, NULL, NULL, 0),
        |(1202, 'Number of care sites by place of service', 'place_of_service_concept_id', NULL, NULL, NULL, 0),
        |(1300, 'Number of persons with at least one dose era, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 0),
        |(1301, 'Number of dose era records, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 0),
        |(1302, 'Number of persons by dose era start month, by drug_concept_id', 'drug_concept_id', 'calendar_month', NULL, NULL, 0),
        |(1303, 'Number of distinct dose era concepts per person', NULL, NULL, NULL, NULL, 1),
        |(1304, 'Number of persons with at least one dose era, by drug_concept_id by calendar year by gender by age decile', 'drug_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(1306, 'Distribution of age at first dose era, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1307, 'Distribution of dose era length, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1308, 'Number of dose era records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(1309, 'Number of dose era records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(1310, 'Number of dose era records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(1320, 'Number of dose era records by dose era start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(1391, 'Number of total persons that have at least x dose eras', 'dose_era_count', NULL, NULL, NULL, 0),
        |(1393, 'Distribution of number of dose era records per person', NULL, NULL, NULL, NULL, 1),
        |(1394, 'Distribution of days between first and last dose era per person', NULL, NULL, NULL, NULL, 1),
        |(1400, 'Number of persons with at least one payer plan period, by payer_source_value', 'payer_source_value', NULL, NULL, NULL, 0),
        |(1401, 'Number of payer plan period records, by payer_source_value', 'payer_source_value', NULL, NULL, NULL, 0),
        |(1402, 'Number of persons by payer plan period start month, by payer_source_value', 'payer_source_value', 'calendar_month', NULL, NULL, 0),
        |(1403, 'Number of distinct payer plan period values (payer_source_value) per person', NULL, NULL, NULL, NULL, 1),
        |(1406, 'Length of payer plan (days) of first payer plan period by gender', 'gender_concept_id', NULL, NULL, NULL, 1),
        |(1407, 'Length of payer plan (days) of first payer plan period by age decile', 'age_decile', NULL, NULL, NULL, 1),
        |(1408, 'Number of persons by length of first payer plan period, in 30d increments', 'length_30d', NULL, NULL, NULL, 0),
        |(1409, 'Number of persons with continuous payer coverage in each year', 'calendar_year', NULL, NULL, NULL, 0),
        |(1410, 'Number of persons with continuous payer coverage in each month', 'calendar_month', NULL, NULL, NULL, 0),
        |(1411, 'Number of persons by payer plan period start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(1412, 'Number of persons by payer plan period end month', 'calendar_month', NULL, NULL, NULL, 0),
        |(1413, 'Number of persons by number of payer plan periods', 'num_periods', NULL, NULL, NULL, 0),
        |(1414, 'Number of persons with payer plan period before year-of-birth', NULL, NULL, NULL, NULL, 0),
        |(1415, 'Number of persons with payer plan period end < payer plan period start', NULL, NULL, NULL, NULL, 0),
        |(1417, 'Number of persons with payer coverage during each month', 'calendar_month', NULL, NULL, NULL, 0),
        |(1418, 'Number of payer plan period records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(1500, 'Number of drug cost records with invalid drug exposure id', NULL, NULL, NULL, NULL, 0),
        |(1501, 'Number of drug cost records with invalid payer plan period id', NULL, NULL, NULL, NULL, 0),
        |(1502, 'Distribution of paid copay, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1503, 'Distribution of paid coinsurance, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1504, 'Distribution of paid toward deductible, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1505, 'Distribution of paid by payer, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1506, 'Distribution of paid by patient, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1507, 'Distribution of total paid, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1509, 'Distribution of ingredient cost paid, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1510, 'Distribution of dispensing fee paid, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1511, 'Distribution of amount allowed, by drug_concept_id', 'drug_concept_id', NULL, NULL, NULL, 1),
        |(1600, 'Number of procedure cost records with invalid procedure occurrence id', NULL, NULL, NULL, NULL, 0),
        |(1601, 'Number of procedure cost records with invalid payer plan period id', NULL, NULL, NULL, NULL, 0),
        |(1602, 'Distribution of paid copay, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 1),
        |(1603, 'Distribution of paid coinsurance, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 1),
        |(1604, 'Distribution of paid toward deductible, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 1),
        |(1605, 'Distribution of paid by payer, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 1),
        |(1606, 'Distribution of paid by patient, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 1),
        |(1607, 'Distribution of total paid, by procedure_concept_id', 'procedure_concept_id', NULL, NULL, NULL, 1),
        |(1610, 'Number of procedure cost records by revenue code', 'revenue_code_concept_id', NULL, NULL, NULL, 0),
        |(1700, 'Number of records by cohort_definition_id', 'cohort_definition_id', NULL, NULL, NULL, 0),
        |(1701, 'Number of distinct subjects by cohort_definition_id', 'cohort_definition_id', NULL, NULL, NULL, 0),
        |(1800, 'Number of persons with at least one measurement, by measurement_concept_id', 'measurement_concept_id', NULL, NULL, NULL, 0),
        |(1801, 'Number of measurement records, by measurement_concept_id', 'measurement_concept_id', NULL, NULL, NULL, 0),
        |(1802, 'Number of persons by measurement start month, by measurement_concept_id', 'measurement_concept_id', 'calendar_month', NULL, NULL, 0),
        |(1803, 'Number of distinct measurement concepts per person', NULL, NULL, NULL, NULL, 1),
        |(1804, 'Number of persons with at least one measurement, by measurement_concept_id by calendar year by gender by age decile', 'measurement_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(1805, 'Number of measurement records, by measurement_concept_id by measurement_type_concept_id', 'measurement_concept_id', 'measurement_type_concept_id', NULL, NULL, 0),
        |(1806, 'Distribution of age at first measurement, by measurement_concept_id', 'measurement_concept_id', NULL, NULL, NULL, 1),
        |(1807, 'Number of measurement records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(1808, 'Number of measurement records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(1814, 'Number of measurement records with no value (numeric or concept)', NULL, NULL, NULL, NULL, 0),
        |(1815, 'Distribution of numeric values, by measurement_concept_id and unit_concept_id', 'measurement_concept_id', 'unit_concept_id', NULL, NULL, 1),
        |(1816, 'Distribution of low range, by measurement_concept_id and unit_concept_id', 'measurement_concept_id', 'unit_concept_id', NULL, NULL, 1),
        |(1817, 'Distribution of high range, by measurement_concept_id and unit_concept_id', 'measurement_concept_id', 'unit_concept_id', NULL, NULL, 1),
        |(1818, 'Number of measurement records with a value below the normal range', NULL, NULL, NULL, NULL, 0),
        |(1819, 'Number of measurement records with a value above the normal range', NULL, NULL, NULL, NULL, 0),
        |(1820, 'Number of measurement records by measurement start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(1821, 'Number of measurement records with no numeric value', NULL, NULL, NULL, NULL, 0),
        |(1891, 'Number of total persons that have at least x measurements', 'measurement_count', NULL, NULL, NULL, 0),
        |(1893, 'Distribution of number of measurement records per person', NULL, NULL, NULL, NULL, 1),
        |(1894, 'Distribution of days between first and last measurement per person', NULL, NULL, NULL, NULL, 1),
        |(2000, 'Number of persons with at least 1 Dx and 1 Rx', NULL, NULL, NULL, NULL, 0),
        |(2001, 'Number of persons with at least 1 Dx and 1 Proc', NULL, NULL, NULL, NULL, 0),
        |(2002, 'Number of persons with at least 1 Mx and 1 Dx and 1 Rx', NULL, NULL, NULL, NULL, 0),
        |(2003, 'Number of persons with at least 1 Mx and 1 Rx', NULL, NULL, NULL, NULL, 0),
        |(2004, 'Number of distinct patients that overlap between specific domains', 'domain_bitmask', NULL, NULL, NULL, 0),
        |(2100, 'Number of persons with at least one device exposure, by device_concept_id', 'device_concept_id', NULL, NULL, NULL, 0),
        |(2101, 'Number of device exposure records, by device_concept_id', 'device_concept_id', NULL, NULL, NULL, 0),
        |(2102, 'Number of persons by device exposure start month, by device_concept_id', 'device_concept_id', 'calendar_month', NULL, NULL, 0),
        |(2103, 'Number of distinct device exposure concepts per person', NULL, NULL, NULL, NULL, 1),
        |(2104, 'Number of persons with at least one device exposure, by device_concept_id by calendar year by gender by age decile', 'device_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(2105, 'Number of device exposure records, by device_concept_id by device_type_concept_id', 'device_concept_id', 'device_type_concept_id', NULL, NULL, 0),
        |(2106, 'Distribution of age at first device exposure, by device_concept_id', 'device_concept_id', NULL, NULL, NULL, 1),
        |(2107, 'Number of device exposure records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(2108, 'Number of device exposure records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(2109, 'Number of device exposure records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(2120, 'Number of device exposure records by device exposure start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(2191, 'Number of total persons that have at least x device exposures', 'device_exposure_count', NULL, NULL, NULL, 0),
        |(2193, 'Distribution of number of device exposure records per person', NULL, NULL, NULL, NULL, 1),
        |(2194, 'Distribution of days between first and last device exposure per person', NULL, NULL, NULL, NULL, 1),
        |(2200, 'Number of persons with at least one note, by note_type_concept_id', 'note_type_concept_id', NULL, NULL, NULL, 0),
        |(2201, 'Number of note records, by note_type_concept_id', 'note_type_concept_id', NULL, NULL, NULL, 0),
        |(2202, 'Number of persons by note start month, by note_type_concept_id', 'note_type_concept_id', 'calendar_month', NULL, NULL, 0),
        |(2203, 'Number of distinct note concepts per person', NULL, NULL, NULL, NULL, 1),
        |(2204, 'Number of persons with at least one note, by note_type_concept_id by calendar year by gender by age decile', 'note_type_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(2206, 'Distribution of age at first note, by note_type_concept_id', 'note_type_concept_id', NULL, NULL, NULL, 1),
        |(2207, 'Number of note records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(2208, 'Number of note records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(2220, 'Number of note records by note start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(2291, 'Number of total persons that have at least x notes', 'note_count', NULL, NULL, NULL, 0),
        |(2293, 'Distribution of number of note records per person', NULL, NULL, NULL, NULL, 1),
        |(2294, 'Distribution of days between first and last note per person', NULL, NULL, NULL, NULL, 1),
        |(2400, 'Number of persons with at least one specimen, by specimen_concept_id', 'specimen_concept_id', NULL, NULL, NULL, 0),
        |(2401, 'Number of specimen records, by specimen_concept_id', 'specimen_concept_id', NULL, NULL, NULL, 0),
        |(2402, 'Number of persons by specimen start month, by specimen_concept_id', 'specimen_concept_id', 'calendar_month', NULL, NULL, 0),
        |(2403, 'Number of distinct specimen concepts per person', NULL, NULL, NULL, NULL, 1),
        |(2404, 'Number of persons with at least one specimen, by specimen_concept_id by calendar year by gender by age decile', 'specimen_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(2405, 'Number of specimen records, by specimen_concept_id by specimen_type_concept_id', 'specimen_concept_id', 'specimen_type_concept_id', NULL, NULL, 0),
        |(2406, 'Distribution of age at first specimen, by specimen_concept_id', 'specimen_concept_id', NULL, NULL, NULL, 1),
        |(2407, 'Number of specimen records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(2408, 'Number of specimen records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(2420, 'Number of specimen records by specimen start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(2491, 'Number of total persons that have at least x specimens', 'specimen_count', NULL, NULL, NULL, 0),
        |(2493, 'Distribution of number of specimen records per person', NULL, NULL, NULL, NULL, 1),
        |(2494, 'Distribution of days between first and last specimen per person', NULL, NULL, NULL, NULL, 1),
        |(2500, 'Number of persons with at least one visit detail, by visit_detail_concept_id', 'visit_detail_concept_id', NULL, NULL, NULL, 0),
        |(2501, 'Number of visit detail records, by visit_detail_concept_id', 'visit_detail_concept_id', NULL, NULL, NULL, 0),
        |(2502, 'Number of persons by visit detail start month, by visit_detail_concept_id', 'visit_detail_concept_id', 'calendar_month', NULL, NULL, 0),
        |(2503, 'Number of distinct visit detail concepts per person', NULL, NULL, NULL, NULL, 1),
        |(2504, 'Number of persons with at least one visit detail, by visit_detail_concept_id by calendar year by gender by age decile', 'visit_detail_concept_id', 'calendar_year', 'gender_concept_id', 'age_decile', 0),
        |(2505, 'Number of visit detail records, by visit_detail_concept_id by visit_detail_type_concept_id', 'visit_detail_concept_id', 'visit_detail_type_concept_id', NULL, NULL, 0),
        |(2506, 'Distribution of age at first visit detail, by visit_detail_concept_id', 'visit_detail_concept_id', NULL, NULL, NULL, 1),
        |(2507, 'Number of visit detail records with invalid person_id', NULL, NULL, NULL, NULL, 0),
        |(2508, 'Number of visit detail records outside valid observation period', NULL, NULL, NULL, NULL, 0),
        |(2509, 'Number of visit detail records with end date < start date', NULL, NULL, NULL, NULL, 0),
        |(2510, 'Number of visit detail records with invalid care_site_id', NULL, NULL, NULL, NULL, 0),
        |(2511, 'Distribution of visit detail length of stay, by visit_detail_concept_id', 'visit_detail_concept_id', NULL, NULL, NULL, 1),
        |(2512, 'Number of persons with at least one visit detail, by calendar year by gender by age decile', 'calendar_year', 'gender_concept_id', 'age_decile', NULL, 0),
        |(2520, 'Number of visit detail records by visit detail start month', 'calendar_month', NULL, NULL, NULL, 0),
        |(2591, 'Number of total persons that have at least x visit details', 'visit_detail_count', NULL, NULL, NULL, 0),
        |(2593, 'Distribution of number of visit detail records per person', NULL, NULL, NULL, NULL, 1),
        |(2594, 'Distribution of days between first and last visit detail per person', NULL, NULL, NULL, NULL, 1)
        |) AS t(analysis_id, analysis_name, stratum_1_name, stratum_2_name,
        |       stratum_3_name, stratum_4_name, distribution)
        |ORDER BY analysis_id""".stripMargin,
    "stream_windowed_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, ts
        |FROM events ORDER BY user_id, event_type, ts""".stripMargin,
    "stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g
        |)
        |SELECT min(ts) AS session_start, user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_running_stats" ->
      """SELECT user_id, count(*) AS n_events, min(ts) AS first_ts,
        |  max(ts) AS last_ts, count(DISTINCT event_type) AS n_event_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_upsert_zone" ->
      """WITH m AS (
        |  SELECT user_id, event_type,
        |    max({'ts': ts, 'eid': event_id, 'v': value}) AS s
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, event_type, s.ts AS last_ts,
        |  CAST(s.eid AS BIGINT) AS last_event_id, s.v AS last_value
        |FROM m ORDER BY user_id, event_type""".stripMargin,
    "stream_join_within" ->
      """SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
        |  p.value AS purchase_value
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,
    "join_asof" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS rn
        |  FROM orders
        |), od AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM o WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, e.ts,
        |  od.o_orderkey AS asof_orderkey, od.o_totalprice AS asof_price
        |FROM events e ASOF LEFT JOIN od
        |  ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    // identical oracle to join_asof: the bucketed plan must produce the
    // SAME rows — the shared SQL pins the remedy to the reference result
    "join_asof_bucketed" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS rn
        |  FROM orders
        |), od AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM o WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, e.ts,
        |  od.o_orderkey AS asof_orderkey, od.o_totalprice AS asof_price
        |FROM events e ASOF LEFT JOIN od
        |  ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "join_range" ->
      """WITH w AS (SELECT DISTINCT CAST(ts AS DATE) AS window_start FROM events)
        |SELECT w.window_start, count(*) AS n_events,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN w
        |  ON CAST(e.ts AS DATE) >= w.window_start
        |  AND CAST(e.ts AS DATE) < w.window_start + INTERVAL 3 DAY
        |GROUP BY w.window_start
        |ORDER BY w.window_start""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sq AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sbp AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sdp AS DOUBLE), 2) AS sum_disc_price,
        |  CAST((a - (((a % b) + b) % b)) // b AS DOUBLE) / 1e6 AS avg_disc,
        |  count_order
        |FROM (
        |  SELECT l_returnflag, l_linestatus,
        |    sum(CAST(l_quantity AS DECIMAL(38,6))) AS sq,
        |    sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS sbp,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS sdp,
        |    2 * sum(CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT)) + count(*) AS a,
        |    2 * count(*) AS b,
        |    count(*) AS count_order
        |  FROM lineitem GROUP BY 1, 2
        |) ORDER BY 1, 2""".stripMargin,
    "event_discover_tables" ->
      "SELECT DISTINCT event_type AS event_table FROM events ORDER BY event_table",
    "event_case_map" ->
      """SELECT event_id,
        |  CASE event_type WHEN 'click' THEN 'person' WHEN 'view' THEN 'visit_occurrence'
        |    WHEN 'purchase' THEN 'drug_exposure' WHEN 'signup' THEN 'measurement'
        |    WHEN 'error' THEN 'observation' END AS ref_table,
        |  CAST(CASE event_type WHEN 'click' THEN 1147026 WHEN 'view' THEN 1147070
        |    WHEN 'purchase' THEN 1147094 WHEN 'signup' THEN 1147138
        |    WHEN 'error' THEN 1147165 END AS BIGINT) AS field_concept_id
        |FROM events ORDER BY event_id""".stripMargin,
    "event_rekey" ->
      """WITH src AS (SELECT user_id AS pk, event_type, event_id FROM events),
        |mx AS (SELECT MAX(pk) AS m FROM src),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY event_type, event_id) AS rn FROM src)
        |SELECT pk, event_type, event_id FROM ranked WHERE rn = 1
        |UNION ALL
        |SELECT (SELECT m FROM mx) + row_number() OVER (ORDER BY pk, event_type, event_id) AS pk,
        |  event_type, event_id
        |FROM ranked WHERE rn > 1
        |ORDER BY event_id""".stripMargin,
    "event_fact_nonnull" ->
      """SELECT event_id, user_id AS fact_id_1, CAST(floor(value * 100) AS BIGINT) AS fact_id_2
        |FROM events WHERE value >= 0 ORDER BY event_id""".stripMargin,
    "scalar_suite" ->
      """SELECT o_orderkey,
        |  lower(o_orderpriority) AS prio_lower,
        |  substr(o_orderpriority, 1, 1) AS prio_code,
        |  o_orderstatus || '_' || CAST(o_orderkey AS VARCHAR) AS status_key,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_band,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS order_date_rt,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_norm
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "topk_recent_events" ->
      "SELECT event_id, ts, event_type FROM events ORDER BY ts DESC, event_id DESC LIMIT 15",
    "achilles_stats" ->
      """SELECT o_orderstatus,
        |  count(*) AS stratum_count,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  CAST(((2 * sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) + count(*) * 10000)
        |    - ((((2 * sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) + count(*) * 10000)
        |        % (2 * count(*) * 10000)) + (2 * count(*) * 10000)) % (2 * count(*) * 10000)))
        |    // (2 * count(*) * 10000) AS DOUBLE) / 1e2 AS avg_value,
        |  round(min(o_totalprice), 2) AS min_value,
        |  round(max(o_totalprice), 2) AS max_value,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_value
        |FROM orders GROUP BY 1 HAVING count(*) > 5 ORDER BY 1""".stripMargin,
    "achilles_battery" ->
      """WITH results AS (
        |  SELECT CAST(1 AS BIGINT) AS analysis_id, 'ALL' AS stratum_1,
        |    count(*) AS count_value FROM customer
        |  UNION ALL
        |  SELECT 2, o_orderstatus, count(*) FROM orders GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 3, CAST(year(o_orderdate) AS VARCHAR), count(*) FROM orders GROUP BY 2
        |  UNION ALL
        |  SELECT 4, l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 5, o_orderpriority, count(DISTINCT o_custkey) FROM orders GROUP BY o_orderpriority
        |)
        |SELECT * FROM results WHERE count_value > 5
        |ORDER BY analysis_id, stratum_1""".stripMargin,
    "achilles_incremental" ->
      graft.operators.AchillesGen.sumFamilyOracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_incremental_dist" ->
      graft.operators.AchillesGen.distOracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_generated" ->
      graft.operators.AchillesGen.oracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_dist_generated" ->
      graft.operators.AchillesGen.distOracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_fk_dist" ->
      graft.operators.AchillesGen.fkDistOracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_pairs" ->
      graft.operators.AchillesGen.pairOracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_merge_results" ->
      graft.operators.AchillesGen.mergedOracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_span_dist" ->
      graft.operators.AchillesGen.spanDistOracleSql(graft.model.TpchModel.modelWithEvents),
    "achilles_dist" ->
      s"""WITH d AS (
        |  SELECT CAST(101 AS BIGINT) AS analysis_id, o_orderstatus AS stratum_1,
        |    o_totalprice AS v FROM orders
        |  UNION ALL
        |  SELECT 102, l_returnflag, l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 103, event_type, value FROM events
        |)
        |SELECT analysis_id, stratum_1, count(*) AS count_value,
        |  round(min(v), 4) AS min_value, round(max(v), 4) AS max_value,
        |  ${graft.operators.AchillesGen.MomentsSql}
        |  round(quantile_cont(v, 0.1), 4) AS p10_value,
        |  round(quantile_cont(v, 0.25), 4) AS p25_value,
        |  round(quantile_cont(v, 0.5), 4) AS median_value,
        |  round(quantile_cont(v, 0.75), 4) AS p75_value,
        |  round(quantile_cont(v, 0.9), 4) AS p90_value
        |FROM d WHERE v IS NOT NULL
        |GROUP BY 1, 2 HAVING count(*) > 5
        |ORDER BY 1, 2""".stripMargin,
    "dqd_checks" ->
      """WITH checks AS (
        |  SELECT 'plausible_value_nonneg' AS check_name, 'Plausibility' AS category,
        |    count(*) FILTER (WHERE value < 0) AS num_violated_rows, count(*) AS num_denominator_rows
        |  FROM events
        |  UNION ALL
        |  SELECT 'completeness_props', 'Completeness',
        |    count(*) FILTER (WHERE props IS NULL), count(*) FROM events
        |  UNION ALL
        |  SELECT 'plausible_discount_range', 'Plausibility',
        |    count(*) FILTER (WHERE l_discount > 0.5), count(*) FROM lineitem
        |)
        |SELECT check_name, category, num_violated_rows, num_denominator_rows,
        |  floor(CAST(num_violated_rows AS DOUBLE) / num_denominator_rows * 1e6 + 0.5) / 1e6
        |    AS pct_violated,
        |  CASE WHEN floor(CAST(num_violated_rows AS DOUBLE) / num_denominator_rows * 1e6 + 0.5) > 50000
        |    THEN 'FAIL' ELSE 'PASS' END AS status
        |FROM checks ORDER BY check_name""".stripMargin,
    "dqd_summary" ->
      """WITH checks AS (
        |  SELECT 'plausible_value_nonneg' AS check_name, 'Plausibility' AS category,
        |    count(*) FILTER (WHERE value < 0) AS num_violated_rows, count(*) AS num_denominator_rows
        |  FROM events
        |  UNION ALL
        |  SELECT 'completeness_props', 'Completeness',
        |    count(*) FILTER (WHERE props IS NULL), count(*) FROM events
        |  UNION ALL
        |  SELECT 'plausible_discount_range', 'Plausibility',
        |    count(*) FILTER (WHERE l_discount > 0.5), count(*) FROM lineitem
        |)
        |SELECT category, count(*) AS n_checks,
        |  count(*) FILTER (WHERE floor(CAST(num_violated_rows AS DOUBLE) / num_denominator_rows * 1e6 + 0.5) > 50000) AS n_failed
        |FROM checks GROUP BY category ORDER BY category""".stripMargin,
    "event_props_extract" ->
      """SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "event_sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT event_id, user_id,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM g ORDER BY event_id""".stripMargin,
    "agg_count_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // generated from the SAME p/ladder/constant the Spark sketch uses
    "agg_hll_distinct" ->
      s"""WITH sk AS (
         |${graft.ops.SketchOps.hllSql(Seq("event_type"), "event_id", "events", p = 7)}
         |), ex AS (
         |  SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY 1
         |)
         |SELECT event_type, n_exact, n_buckets, scaled_sum, est_milli
         |FROM sk JOIN ex USING (event_type) ORDER BY event_type""".stripMargin,
    "event_resample_hourly" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |    date_trunc('hour', max(ts)) AS h1
        |  FROM events GROUP BY 1
        |), grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM b
        |), obs AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour,
        |    max({'ts': ts, 'event_id': event_id, 'v': value}) AS m
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT g.user_id, g.hour,
        |  last_value(m.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |  m.v IS NOT NULL AS is_observed
        |FROM grid g LEFT JOIN obs m USING (user_id, hour)
        |ORDER BY user_id, hour""".stripMargin,
    "event_funnel_conversion" ->
      """WITH c AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'click' GROUP BY 1
        |), v AS (
        |  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN c USING (user_id)
        |  WHERE event_type = 'view' AND ts > t1 GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN v USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked,
        |  (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed_after,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased_after""".stripMargin,
    "event_retention_cohorts" ->
      """WITH f AS (
        |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
        |)
        |SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
        |  CAST(datediff('day', CAST(date_trunc('week', first_ts) AS DATE),
        |    CAST(date_trunc('week', ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM events JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // generated from the same registers/finish templates the Spark side
    // composes: union of per-type sketches == direct sketch, both rows
    "agg_hll_union" -> {
      import graft.ops.SketchOps
      val regs = SketchOps.hllRegistersSql(Seq("event_type"), "event_id", "events", p = 7)
      val direct = SketchOps.hllFinishSql(Seq.empty,
        s"(\n${SketchOps.hllRegistersSql(Seq.empty, "event_id", "events", p = 7)}\n)", p = 7)
      val merged = SketchOps.hllFinishSql(Seq.empty, "mg", p = 7)
      s"""WITH regs AS (
         |$regs
         |), mg AS (
         |  SELECT b, max(mj) AS mj FROM regs GROUP BY b
         |)
         |SELECT * FROM (
         |SELECT 'merged' AS source, * FROM (
         |$merged
         |)
         |UNION ALL
         |SELECT 'direct' AS source, * FROM (
         |$direct
         |)
         |) ORDER BY source""".stripMargin
    },
    // generated from the same shape constants and hash the Spark sketch uses
    // merged counters == full-scan counters, so the union query shares
    // the full-scan oracle verbatim
    "agg_cms_union" ->
      s"""WITH ${graft.ops.SketchOps.cmsSql("user_id", "events",
            "SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact FROM events " +
              "GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 10", "user_id")}
         |SELECT user_id, n_exact, n_cms FROM items JOIN est USING (user_id)
         |ORDER BY n_exact DESC, user_id""".stripMargin,
    "agg_cms_topusers" ->
      s"""WITH ${graft.ops.SketchOps.cmsSql("user_id", "events",
            "SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact FROM events " +
              "GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 10", "user_id")}
         |SELECT user_id, n_exact, n_cms FROM items JOIN est USING (user_id)
         |ORDER BY n_exact DESC, user_id""".stripMargin,
    "agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
}
