package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Structured Streaming extension: windowed counts + dedup run through a
  * real MemoryStream -> memory-sink pipeline, not just batch mode.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowedEventCounts aggregates event-time windows over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = StreamingOps.windowedEventCounts(
      input.toDF().toDF("ts", "event_type"), "ts", "event_type", windowLen = "30 minutes")
    val q = counts.writeStream
      .format("memory").queryName("wec").outputMode("complete").start()
    input.addData((ts(1), "click"), (ts(2), "click"), (ts(5), "view"), (ts(40), "click"))
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT event_type, n_events FROM wec ORDER BY window_start, event_type")
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("click", 2L), ("view", 1L), ("click", 1L)))
  }

  test("sessionCounts merges events within the gap into one session per user") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = StreamingOps.sessionCounts(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id", gap = "30 minutes")
    val q = sessions.writeStream
      .format("memory").queryName("sess").outputMode("complete").start()
    // user 1: 10:01 + 10:02 merge; 10:50 starts a fresh session. user 2: one.
    input.addData((ts(1), 1L), (ts(2), 1L), (ts(50), 1L), (ts(5), 2L))
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT user_id, n_events FROM sess ORDER BY session_start, user_id")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 1L), (1L, 1L)))
  }

  test("runningUserStats folds flatMapGroupsWithState across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val stats = StreamingOps.runningUserStats(
      input.toDF().toDF("ts", "user_id", "event_type"), "ts", "user_id", "event_type")
    val q = stats.writeStream.format("memory").queryName("rus").outputMode("update").start()
    input.addData((ts(1), 1L, "click"), (ts(2), 1L, "view"), (ts(1), 2L, "click"))
    q.processAllAvailable()
    input.addData((ts(5), 1L, "click")) // state for user 1 must carry over
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT user_id, n_events, n_event_types FROM rus")
      .as[(Long, Long, Long)].collect()
    assert(rows.filter(_._1 == 1L).map(_._2).max == 3L) // 2 in batch 1, 3 after batch 2
    assert(rows.filter(_._1 == 1L).map(_._3).max == 2L) // click + view
    assert(rows.filter(_._1 == 2L).map(_._2).max == 1L)
    val fin = spark.sql(
      "SELECT first_ts, last_ts FROM rus WHERE user_id = 1 AND n_events = 3")
      .as[(Timestamp, Timestamp)].head()
    assert(fin._1 == ts(1) && fin._2 == ts(5)) // min survives, max advances
  }

  test("the Update-sink reduction recovers exactly the final state per user under multi-batch") {
    // The memory sink holds one row per (batch, touched user) — user 1 is
    // deliberately updated in TWO batches so it appears as both n=2 and n=3.
    // The reduction streamRunningStats applies (max-by-struct on the
    // strictly monotone n_events) must collapse that to the final state
    // regardless of how the source split into batches.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val stats = StreamingOps.runningUserStats(
      input.toDF().toDF("ts", "user_id", "event_type"), "ts", "user_id", "event_type")
    val q = stats.writeStream.format("memory").queryName("rus_mb").outputMode("update").start()
    input.addData((ts(1), 1L, "click"), (ts(2), 1L, "view"), (ts(1), 2L, "click"))
    q.processAllAvailable()
    input.addData((ts(5), 1L, "click"))
    q.processAllAvailable(); q.stop()
    assert(spark.table("rus_mb").filter($"user_id" === 1L).count() == 2L) // the hazard is real
    import org.apache.spark.sql.functions._
    val reduced = spark.table("rus_mb")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("first_ts"), col("last_ts"),
        col("n_event_types"))).as("__fin"))
      .select(col("user_id"), col("__fin.n_events").as("n_events"),
        col("__fin.first_ts").as("first_ts"), col("__fin.last_ts").as("last_ts"),
        col("__fin.n_event_types").as("n_event_types"))
    val rows = reduced.as[(Long, Long, Timestamp, Timestamp, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 3L, ts(1), ts(5), 2L),
      (2L, 1L, ts(1), ts(1), 1L)))
  }

  test("streamingDedup keeps one row per key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val deduped = StreamingOps.streamingDedup(
      input.toDF().toDF("ts", "k"), "ts", Seq("k"))
    val q = deduped.writeStream
      .format("memory").queryName("sdd").outputMode("append").start()
    input.addData((ts(1), 1L), (ts(1), 1L), (ts(2), 2L))
    q.processAllAvailable()
    input.addData((ts(1), 1L), (ts(3), 3L)) // duplicate of an in-state key
    q.processAllAvailable(); q.stop()
    val ks = spark.sql("SELECT k FROM sdd").as[Long].collect().sorted.toSeq
    assert(ks == Seq(1L, 2L, 3L))
  }

  test("upsertFold accumulates per-key state across micro-batches") {
    import org.apache.spark.sql.functions.{col, max, struct}
    implicit val sqlCtx = spark.sqlContext
    val zones = graft.io.Zones(
      java.nio.file.Files.createTempDirectory("upsert_fold").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toString
    val input = MemoryStream[(Long, Timestamp, Double)]
    val stream = input.toDF().toDF("k", "ts", "v")
    // the LITERAL production fold, driven by explicit micro-batches
    val fold = StreamingOps.foldBatch(zones, "st", Seq("k"),
      max(struct(col("ts"), col("v")))) _
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) => fold(batch) }
      .option("checkpointLocation", ckpt).start()
    input.addData((1L, ts(1), 10.0), (2L, ts(2), 20.0))
    q.processAllAvailable()
    // batch 2: key 1 advances (later ts wins), key 2 regresses (earlier
    // ts must NOT overwrite), key 3 is new
    input.addData((1L, ts(5), 11.0), (2L, ts(1), 19.0), (3L, ts(3), 30.0))
    q.processAllAvailable(); q.stop()
    val got = zones.read(spark, "work", "st")
      .select(col("k"), col("__m.ts").as("t"), col("__m.v").as("v"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, ts(5), 11.0), (2L, ts(2), 20.0), (3L, ts(3), 30.0)))
  }

  test("streamStreamJoin pairs right events within the left event's hour") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = StreamingOps.streamStreamJoin(
      clicks.toDF().toDF("user_id", "click_ts"),
      buys.toDF().toDF("user_id", "purchase_ts"),
      "user_id", "click_ts", "purchase_ts")
    val q = joined.writeStream
      .format("memory").queryName("ssj").outputMode("append").start()
    // user 1: click 10:01 -> purchase 10:30 (in), 11:02 (out: > 1h);
    // user 2: purchase 10:05 with no prior click (purchase BEFORE the
    // 10:10 click is out — the bound is one-sided); matches arrive across
    // micro-batches, exercising buffered join state
    clicks.addData((1L, ts(1)), (2L, ts(10)))
    q.processAllAvailable()
    buys.addData((1L, ts(30)), (2L, ts(5)))
    q.processAllAvailable()
    buys.addData((1L, Timestamp.valueOf("2026-01-01 11:02:00")))
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT user_id, purchase_ts FROM ssj ORDER BY 1, 2")
      .as[(Long, Timestamp)].collect().toSeq
    assert(out == Seq((1L, ts(30))))
  }

  test("staged parts drain as one micro-batch each, in staging order") {
    import org.apache.spark.sql.functions.lit
    val d = java.nio.file.Files.createTempDirectory("stage_key").toString
    // names deliberately out of alphabetical order: the pinned mtimes,
    // not the names, order the batches
    val parts = Seq("c.parquet", "a.parquet", "b.parquet").zipWithIndex.map {
      case (name, i) => name -> spark.range(i * 10L, i * 10L + 10L).toDF("id")
        .withColumn("part", lit(i))
    }
    val dir = StreamingOps.stageFiles(spark, "spec_stage_src", d, parts)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Int], Long)]()
    StreamingOps.drainEach(
      StreamingOps.stagedStream(spark, dir, parts.head._2.schema),
      StreamingOps.scratchDir(spark, "spec_stage_ckpt", d)) { (batch, id) =>
      seen.add((id, batch.select("part").distinct().as[Int].collect().toSeq, batch.count()))
    }
    assert(seen.toArray.toSeq == Seq((0L, Seq(0), 10L), (1L, Seq(1), 10L), (2L, Seq(2), 10L)))
    val left = new java.io.File(dir).list().toSeq
    assert(!left.exists(_.startsWith("__tmp_")), s"staging tmp dirs left behind: $left")
    assert(left.filter(_.endsWith(".parquet")).sorted == Seq("a.parquet", "b.parquet", "c.parquet"))
  }

  test("the Achilles folds skip a replayed batch id") {
    import org.apache.spark.sql.functions._
    val zones = graft.io.Zones(
      java.nio.file.Files.createTempDirectory("ach_replay").toString)
    val ev = spark.range(0, 40).select(
      col("id").as("event_id"), (col("id") % 3).as("user_id"),
      when(col("id") % 2 === 0, "click").otherwise("view").as("event_type"),
      (col("id") % 5).cast("double").as("value"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 86400000000L).as("ts"))
    def rows(table: String, sumCol: String) = {
      val st = StreamingOps.guardedState(spark, zones, table)
      (st.collect().map(_.toString).sorted.toSeq,
        st.agg(sum(col(sumCol))).head.getLong(0))
    }
    for ((fold, table, sumCol) <- Seq(
        (graft.queries.EventQueries.achCountsFold(zones) _, "ach_partials", "count_value"),
        (graft.queries.EventQueries.achDistFold(zones) _, "ach_dist_partials", "__cnt"))) {
      fold(ev, 0L)
      val once = rows(table, sumCol)
      assert(once._2 > 0L, s"$table: empty fold")
      fold(ev, 0L) // at-least-once redelivery of batch 0
      assert(rows(table, sumCol) == once, s"$table: a replayed batch was merged again")
      fold(ev, 1L) // a new batch id does merge
      assert(rows(table, sumCol)._2 == 2 * once._2, s"$table: batch 1 not merged")
    }
  }
}
