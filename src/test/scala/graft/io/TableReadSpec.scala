package graft.io

import graft.{SparkSpec, Tables}
import graft.etl.FolderEtl
import graft.model.TpchModel
import graft.operators.Swap
import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Table reads take their schema from a parquet footer on the driver
  * ([[ParquetFooters]]): no Spark job runs, and schema and rows equal a
  * schema-inferring `spark.read.parquet`, whose errors and partition
  * discovery the fallback keeps.
  */
class TableReadSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_table_read_$tag").toString

  /** Spark jobs `body` starts on this thread. A fence job of its own group
    * drains the listener queue: once it is seen, so is every earlier job.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"table-read-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "table read")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(fence) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(fence), "listener fence not delivered")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** Schema and rows of the footer read equal those of an inferring read. */
  private def assertParity(s: SparkSession, path: String): Unit = {
    val footer = ParquetFooters.read(s, path)
    val inferred = s.read.parquet(path)
    assert(footer.schema === inferred.schema, path)
    assert(footer.collect().toSeq === inferred.collect().toSeq, path)
  }

  private def condition(e: Throwable): Option[String] = e match {
    case t: org.apache.spark.SparkThrowable => Option(t.getCondition)
    case _ => None
  }

  private def rootCause(e: Throwable): Throwable =
    Option(e.getCause).filter(_ ne e).fold(e)(rootCause)

  private def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prior = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prior.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  test("zones.read, Tables.load and tableStream's probe run no Spark job") {
    val zones = Zones(tmp("jobs"))
    zones.write(spark.range(0, 100, 1, 3).toDF("id"), "work", "t")
    assert(jobsOf(zones.read(spark, "work", "t")) === 0)
    // a fresh dataset dir, so Tables' per-(session, dir) memo is cold
    val d = tmp("dataset")
    Seq("region", "events").foreach(t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$d/$t.parquet")))
    assert(jobsOf(Tables.load(spark, d, "region")) === 0)
    assert(jobsOf(Tables.load(spark, d, "events")) === 0)
    assert(jobsOf(StreamingOps.tableStream(spark, d, "events", "stream_src_tableread")) === 0)
    // the reads still read: a counting action is a job
    assert(jobsOf(zones.read(spark, "work", "t").count()) > 0)
  }

  test("every testdata table reads as inferred, with nanosAsLong on and off") {
    val s = spark.newSession()
    for (nanos <- Seq("true", "false"); t <- Tables.all) withConf(s,
        "spark.sql.legacy.parquet.nanosAsLong", nanos) {
      assertParity(s, s"$sf/$t.parquet")
    }
  }

  test("hand-written TIMESTAMP(NANOS), INT96 and plain binary columns convert as inferred") {
    import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int96 legacy_ts;
        |  optional binary raw;
        |}""".stripMargin)
    val file = s"${tmp("nanos")}/t.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong)
        .append("ts", 1700000000000000000L + i)
        .append("legacy_ts", new NanoTime(2460000 + i, 1000L * i))
        .append("raw", Binary.fromString(s"r$i")))
    } finally w.close()
    val s = spark.newSession()
    withConf(s, "spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(ParquetFooters.read(s, file).schema("ts").dataType.typeName === "long")
      for (asString <- Seq("true", "false"))
        withConf(s, "spark.sql.parquet.binaryAsString", asString)(assertParity(s, file))
    }
    // without the conf the NANOS column has no Spark type: the same error
    withConf(s, "spark.sql.legacy.parquet.nanosAsLong", "false") {
      assert(ParquetFooters.schema(s, file).isEmpty)
      val viaFooter = intercept[Exception](ParquetFooters.read(s, file).collect())
      val inferred = intercept[Exception](s.read.parquet(file).collect())
      assert(viaFooter.getClass === inferred.getClass)
      assert(condition(viaFooter) === condition(inferred))
      assert(rootCause(viaFooter).getMessage === rootCause(inferred).getMessage)
    }
  }

  test("an engine-written table of every column kind, an empty write, summary files and _SUCCESS / .crc files") {
    val zones = Zones(tmp("kinds"))
    val kinds = spark.range(0, 50, 1, 4).select(
      col("id"),
      (col("id") / 7).cast("decimal(12,3)").as("dec"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
      timestamp_micros(col("id") * 1000003L).as("ts"),
      timestamp_micros(col("id")).cast("timestamp_ntz").as("ts_ntz"),
      col("id").cast("string").cast("binary").as("bin"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"), col("id")).as("m"),
      struct(col("id").as("a"), col("id").cast("string").as("b")).as("st"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id")).as("nullable"))
    zones.write(kinds, "work", "kinds")
    zones.write(kinds.limit(0), "work", "empty")
    val path = zones.tablePath("work", "kinds")
    val names = new java.io.File(path).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      names.mkString(", "))
    assertParity(spark, path)
    assertParity(spark, zones.tablePath("work", "empty"))
    assert(ParquetFooters.schema(spark, zones.tablePath("work", "empty")).map(_.fieldNames.toSeq)
      === Some(kinds.columns.toSeq))
    // summary files: inference reads `_common_metadata` first
    val summarized = zones.tablePath("work", "summarized")
    kinds.write.option("parquet.summary.metadata.level", "ALL").parquet(summarized)
    assert(new java.io.File(summarized).list().toSet.contains("_common_metadata"))
    assertParity(spark, summarized)
  }

  test("a missing path fails as inference does; a partitioned directory falls back to it") {
    val root = tmp("fallback")
    val missing = s"$root/missing"
    val viaFooter = intercept[org.apache.spark.sql.AnalysisException](ParquetFooters.read(spark, missing))
    val inferred = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(missing))
    assert(viaFooter.getClass === inferred.getClass)
    assert(viaFooter.getCondition === "PATH_NOT_FOUND")
    assert(inferred.getCondition === "PATH_NOT_FOUND")

    val parted = s"$root/parted"
    spark.range(0, 20, 1, 2).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(parted)
    assert(ParquetFooters.schema(spark, parted).isEmpty)
    assert(ParquetFooters.read(spark, parted).schema.fieldNames.toSeq === Seq("id", "p"))
    assertParity(spark, parted)
  }

  test("a first-run PK swap numbers keys as the merge into an empty swap did; a re-run appends unseen keys") {
    val zones = Zones(tmp("swap"))
    val folder = Files.createTempDirectory("graft_table_read_folder")
    Files.createDirectories(folder.resolve("nation"))
    Files.writeString(folder.resolve("nation/load.sql.jinja"),
      "SELECT n_nationkey, n_name, n_regionkey FROM {{project_raw}}_nation")
    val nation = Tables.load(spark, sf, "nation")
    val swap = () => zones.read(spark, "work", "nation_id_swap").orderBy("x").collect().toSeq

    zones.write(nation, "raw", "nation")
    FolderEtl.run(spark, TpchModel.model, zones, folder)
    val cands = nation.select(col("n_nationkey").as("x")).distinct()
    val first = swap()
    assert(first === Swap.mergeAppend(cands.limit(0).withColumn("y", lit(0L)), cands, Seq("x"))
      .orderBy("x").collect().toSeq)
    assert(first.map(_.getLong(1)) === (1L to first.size.toLong))

    val unseen = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 1000L)
    zones.write(nation.unionByName(unseen), "raw", "nation")
    FolderEtl.run(spark, TpchModel.model, zones, folder)
    val n = first.size.toLong
    assert(swap() === first ++ Seq(Row(1000L, n + 1), Row(1001L, n + 2), Row(1002L, n + 3)))
  }
}
