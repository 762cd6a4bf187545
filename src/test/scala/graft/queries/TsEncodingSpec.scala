package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Encoding-drift regression fixture (round-8 verdict item #2).
  *
  * The driver's test-data generator has shipped `events.ts` in three parquet
  * encodings across rounds — INT64 TIMESTAMP(NANOS) (surfaced as raw longs
  * under `nanosAsLong`), naive TIMESTAMP(MICROS) (Spark 4 reads it as
  * TIMESTAMP_NTZ), and UTC-adjusted TIMESTAMP(MICROS) (plain TimestampType).
  * Round 7 lost six queries when the encoding flipped under a loader that
  * handled only two of the three. This fixture writes the SAME events in all
  * three encodings and asserts that both ingest paths — `Tables.load` (batch)
  * and `EventQueries.eventsStream` (Structured Streaming file source) — yield
  * identical frames, so generator-side drift fails here in CI, never in a
  * scored round.
  */
class TsEncodingSpec extends SparkSpec {

  private def writeFixtures(): Map[String, String] = {
    val s = spark
    import s.implicits._
    val base = Seq(
      // (event_id, epoch_micros, user_id, event_type, value, props)
      (1L, 1700000000000000L, 10L, "click", 1.5, """{"k":1}"""),
      (2L, 1700000000500000L, 10L, "view", 2.5, """{"k":2}"""),
      (3L, 1700003600000123L, 11L, "purchase", 3.5, """{"k":3}"""),
      (4L, 1700007200250000L, 11L, "click", 4.5, """{"k":4}"""),
      (5L, 1700010800000000L, 12L, "error", 5.5, """{"k":5}"""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")

    val root = java.nio.file.Files
      .createTempDirectory("graft_ts_encodings").toString
    def dirFor(enc: String): String = {
      val d = s"$root/$enc"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      d
    }
    // The driver's testdata stores each table as a single parquet FILE
    // (pyarrow layout); Spark writes a directory. The stream source stages a
    // symlink to the path, which only resolves for the single-file layout —
    // so flatten each written directory to `<dir>/events.parquet` the way the
    // real testdata looks.
    def flatten(dir: String): Unit = {
      val p = java.nio.file.Paths.get(s"$dir/events.parquet")
      val part = java.nio.file.Files.list(p).filter(f =>
        f.getFileName.toString.startsWith("part-")).findFirst.get
      val tmp = java.nio.file.Paths.get(s"$dir/__single.parquet")
      java.nio.file.Files.move(part, tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      java.nio.file.Files.move(tmp, p)
    }

    // (a) raw INT64 nanos — what a TIMESTAMP(NANOS) file surfaces as under
    // spark.sql.legacy.parquet.nanosAsLong=true (Spark cannot write NANOS
    // itself, so the fixture writes the post-read long column directly;
    // the loader sees the identical LongType schema either way).
    val nanosDir = dirFor("nanos")
    base.select(col("event_id"), (col("us") * 1000L).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    flatten(nanosDir)

    // (b) naive micros — TIMESTAMP_NTZ on read (today's generator encoding)
    val ntzDir = dirFor("ntz")
    base.select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    flatten(ntzDir)

    // (c) UTC-adjusted micros — plain TimestampType (the pre-round-4 encoding)
    val ltzDir = dirFor("ltz")
    base.select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$ltzDir/events.parquet")
    flatten(ltzDir)

    Map("nanos" -> nanosDir, "ntz" -> ntzDir, "ltz" -> ltzDir)
  }

  private lazy val dirs = writeFixtures()

  private def collectSorted(df: DataFrame): Seq[Row] =
    df.orderBy("event_id").collect().toSeq

  test("Tables.load yields the identical frame for all three ts encodings") {
    val frames = dirs.map { case (enc, d) =>
      val df = Tables.load(spark, d, "events")
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"encoding $enc must normalize to TimestampType")
      enc -> collectSorted(df)
    }
    val (refEnc, ref) = frames.head
    for ((enc, rows) <- frames.tail)
      assert(rows == ref, s"batch load of $enc differs from $refEnc")
  }

  test("eventsStream yields the identical frame for all three ts encodings") {
    val frames = dirs.map { case (enc, d) =>
      val out = graft.streaming.StreamingOps.drainToTable(
        EventQueries.eventsStream(spark, d, s"ts_enc_stream_$enc"),
        s"ts_enc_sink_$enc", "append")
      assert(out.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"stream encoding $enc must normalize to TimestampType")
      enc -> collectSorted(out)
    }
    val (refEnc, ref) = frames.head
    for ((enc, rows) <- frames.tail)
      assert(rows == ref, s"stream read of $enc differs from $refEnc")
  }

  test("stream and batch agree row-for-row on the NTZ encoding") {
    val batch = collectSorted(Tables.load(spark, dirs("ntz"), "events"))
    val streamed = collectSorted(graft.streaming.StreamingOps.drainToTable(
      EventQueries.eventsStream(spark, dirs("ntz"), "ts_enc_stream_xcheck"),
      "ts_enc_sink_xcheck", "append"))
    assert(streamed == batch)
  }

  test("a long ts column is rejected without the nanosAsLong conf") {
    val prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val err = intercept[IllegalArgumentException] {
        Tables.normalizedTs(spark, org.apache.spark.sql.types.LongType, "ts")
      }
      assert(err.getMessage.contains("nanosAsLong"))
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
  }
}
