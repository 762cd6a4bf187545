package graft.queries

import graft.SparkSpec
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** The empty-source drift fixture (round-8's streaming sibling of
  * TsEncodingSpec): an ENGINE-WRITTEN events dataset is a directory of
  * part files, and staging a symlink to it lists zero files — the sf1
  * streaming soaks silently timed an empty source until `eventsStream`
  * learned to stream directories directly. This pins both layouts: the
  * stream must drain the SAME row count the batch reader sees, whatever
  * shape `events.parquet` takes on disk — and the directory layout for
  * `documents`, whose source kept staging a symlink after events was
  * fixed (every source is now `StreamingOps.tableStream`).
  */
class StreamDirSourceSpec extends SparkSpec {

  private def fixture(n: Int) =
    spark.range(0, n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 60000000L).as("ts"),
      (col("id") % 7).as("user_id"),
      lit("click").as("event_type"),
      col("id").cast("double").as("value"),
      lit("{}").as("props"))

  test("eventsStream drains a directory-shaped events dataset completely") {
    val dir = java.nio.file.Files.createTempDirectory("evdir").toString
    fixture(100).repartition(4).write.parquet(s"$dir/events.parquet")
    val drained = StreamingOps.drainToTable(
      EventQueries.eventsStream(spark, dir, "spec_ev_dir"),
      "spec_dir_sink", "append")
    assert(drained.count() === 100L,
      "directory-shaped events dataset not fully drained by the stream source")
    assert(spark.read.parquet(s"$dir/events.parquet").count() === 100L)
  }

  test("state-store partitioning follows the session's shuffle partitions") {
    // state-store instances per stateful operator = shuffle partitions at
    // FIRST start, pinned into the checkpoint; the drain takes the session
    // default (the bench contract — no local[32]-only tuning) and leaves
    // the shared session's conf alone
    val dir = java.nio.file.Files.createTempDirectory("evknob").toString
    fixture(60).repartition(2).write.parquet(s"$dir/events.parquet")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val stateDir = new java.io.File(
      s"${graft.io.Zones.defaultRoot}/stream_ckpt_spec_knob_default_sink/state/0")
    StreamingOps.drainToTable(
      StreamingOps.windowedEventCounts(
        EventQueries.eventsStream(spark, dir, "spec_ev_knob_a"), "ts", "event_type"),
      "spec_knob_default_sink", "complete")
    val stateDirs = Option(stateDir.listFiles())
      .map(_.count(f => f.isDirectory && f.getName.forall(_.isDigit))).getOrElse(0)
    assert(stateDirs === before.toInt,
      "default state partitioning must follow the session conf")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("eventsStream drains a single-file events dataset completely") {
    val dir = java.nio.file.Files.createTempDirectory("evfile").toString
    // a single parquet FILE, the driver-testdata layout
    val staging = java.nio.file.Files.createTempDirectory("evtmp").toString
    fixture(50).coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val drained = StreamingOps.drainToTable(
      EventQueries.eventsStream(spark, dir, "spec_ev_file"),
      "spec_file_sink", "append")
    assert(drained.count() === 50L,
      "single-file events dataset not fully drained by the stream source")
  }

  test("docsStream drains a directory-shaped documents dataset completely") {
    val dir = java.nio.file.Files.createTempDirectory("docdir").toString
    spark.range(0, 80).select(
      col("id").cast("int").as("doc_id"),
      concat(lit("doc "), col("id").cast("string")).as("text"))
      .repartition(4).write.parquet(s"$dir/documents.parquet")
    val drained = StreamingOps.drainToTable(
      LlmQueries.docsStream(spark, dir, "spec_docs_dir"), "spec_docs_dir_sink", "append")
    assert(drained.count() === 80L,
      "directory-shaped documents dataset not fully drained by the stream source")
    assert(drained.schema("doc_id").dataType === org.apache.spark.sql.types.LongType)
  }
}
