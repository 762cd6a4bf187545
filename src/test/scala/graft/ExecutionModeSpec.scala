package graft

import graft.cli.GraftCli
import graft.etl.{EtlFlags, FolderEtl}
import graft.io.Zones
import graft.queries.OhdsiCdmQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

/** The execution-mode switch ([[GraftSession.forInput]]) is a pure
  * performance change: the gate picks the session, the interpreted clone
  * evaluates every engine function and every CLI command to the same rows,
  * and the caller's session is left as it was.
  */
class ExecutionModeSpec extends SparkSpec {

  private val cutoff = GraftSession.InterpretedRowCutoff

  private def wholeStage(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  private def codegenConf(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter(_._1.startsWith("spark.sql.codegen.")) ++
      Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
        .map(k => k -> s.conf.getOption(k).getOrElse("<unset>"))

  /** Counts successful executions on `s` (and on clones made after it). */
  private final class Counter extends QueryExecutionListener {
    val n = new AtomicInteger
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { n.incrementAndGet(); () }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Listener events arrive asynchronously: wait up to 10 s for `p`. */
  private def eventually(p: => Boolean): Boolean = {
    val end = System.nanoTime() + 10000000000L
    while (!p && System.nanoTime() < end) Thread.sleep(50)
    p
  }

  test("at the cutoff and above the caller's session comes back; below it an interpreted clone") {
    assert(GraftSession.forInput(spark, cutoff) eq spark)
    assert(GraftSession.forInput(spark, cutoff + 1) eq spark)
    assert(GraftSession.forInput(spark, Long.MaxValue) eq spark)
    val small = GraftSession.forInput(spark, cutoff - 1)
    assert(small ne spark)
    assert(GraftSession.forInput(spark, 0L) ne spark)
    val q = (s: SparkSession) => s.range(100).selectExpr("id * 2 AS x").filter("x > 10")
    assert(wholeStage(q(spark)), "the caller's plan should be compiled")
    assert(!wholeStage(q(small)), q(small).queryExecution.executedPlan.toString)
    assert(q(small).collect().toSeq === q(spark).collect().toSeq)
  }

  test("the interpreted clone keeps the caller's views and listeners, not its codegen") {
    val before = codegenConf(spark)
    val counter = new Counter
    spark.listenerManager.register(counter)
    try {
      spark.range(5).createOrReplaceTempView("exec_mode_view")
      val clone = GraftSession.interpreted(spark)
      assert(clone.table("exec_mode_view").count() === 5L)
      assert(eventually(counter.n.get >= 1), "the caller's listener missed the clone's execution")
      assert(clone.conf.get("spark.sql.codegen.wholeStage") === "false")
      assert(clone.conf.get("spark.sql.codegen.factoryMode") === "NO_CODEGEN")
      assert(codegenConf(spark) === before)
    } finally {
      spark.listenerManager.unregister(counter)
      spark.catalog.dropTempView("exec_mode_view")
    }
  }

  test("every GraftExtensions function evaluates identically compiled and interpreted") {
    import graft.functions.{BloomHandle, BloomMightContain}
    val bits = Array.tabulate(16)(i => 0x5a5a5a5a5a5aL * (i + 1))
    BloomMightContain.register("exec_mode_bloom", BloomHandle(spark.sparkContext.broadcast(bits), 3))
    try {
      val q = (s: SparkSession) => s.range(0, 40).select(
        col("id"),
        concat(lit("w"), (col("id") % 7).cast("string"), lit(" x y z "),
          col("id").cast("string")).as("text"),
        array((col("id") % 5).cast("double"), lit(1.5), col("id").cast("double")).as("a"),
        array(lit(2.0), (col("id") % 3).cast("double"), lit(-0.5)).as("b"))
        .withColumn("tokens", split(col("text"), " "))
        .selectExpr("id",
          "rolling_hash(text) AS rh",
          "word_shingles(tokens) AS ws3",
          "word_shingles(tokens, 2) AS ws2",
          "winnow_hashes(word_shingles(tokens, 2)) AS wh4",
          "winnow_hashes(word_shingles(tokens, 2), 2) AS wh2",
          "vec_dot(a, b) AS vd",
          "vec_l2sq(a, b) AS vl",
          "vec_qdot(a, b) AS vq",
          "bloom_might_contain(text, 'exec_mode_bloom') AS bm")
      val interp = GraftSession.interpreted(spark)
      assert(wholeStage(q(spark)))
      assert(!wholeStage(q(interp)))
      val compiled = q(spark).orderBy("id").collect().toSeq
      assert(compiled.size === 40)
      assert(q(interp).orderBy("id").collect().toSeq === compiled)
    } finally BloomMightContain.release("exec_mode_bloom")
  }

  test("a listener on the caller counts the CDM 5.4 battery's execution") {
    val counter = new Counter
    spark.listenerManager.register(counter)
    try {
      val report = graft.queries.LifecycleQueries.dqdCdm54Battery(spark, "/root/testdata/sf0.001")
      assert(report.sparkSession eq spark, "the report comes back on the caller's session")
      assert(eventually(counter.n.get >= 1), "the battery's collect ran unseen by the caller")
    } finally spark.listenerManager.unregister(counter)
  }

  // ---- the CLI commands over one small fixture ----

  private val sfDir = "/root/testdata/sf0.001"
  private val tables = Seq("person", "visit_occurrence")
  private lazy val cliModel = {
    val m = OhdsiCdmQueries.derivedModel
    m.copy(fields = m.fields.filter(f => tables.contains(f.table)).map(f =>
      if (f.name == "person_id" && f.table != "person") f.copy(fkTable = Some("person")) else f))
  }

  /** Stage the derived person + visit tables raw and write one passthrough
    * load per table, the way the benchmark's CLI pipeline does.
    */
  private def fixture(tag: String): (Zones, Path) = {
    val zones = Zones(Files.createTempDirectory(s"graft_mode_$tag").toString)
    val folder = Files.createTempDirectory(s"graft_mode_folder_$tag")
    tables.foreach { tb =>
      zones.write(OhdsiCdmQueries.derive(spark, sfDir)(tb), "raw", tb)
      val p = folder.resolve(s"$tb/load.sql.jinja")
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"SELECT ${cliModel.columns(tb).mkString(", ")} FROM {{project_raw}}_$tb")
    }
    (zones, folder)
  }

  test("run-etl, data-quality and achilles store identical rows compiled and interpreted") {
    def pipeline(s: SparkSession, tag: String): Zones = {
      val (zones, folder) = fixture(tag)
      FolderEtl.runOn(s, cliModel, zones, folder, EtlFlags(), 9)
      GraftCli.dataQualityOn(s, zones, cliModel, null, None, None)
      assert(GraftCli.achillesOn(s, zones, cliModel) > 0L)
      zones
    }
    val compiled = pipeline(spark, "compiled")
    val interpreted = pipeline(GraftSession.interpreted(spark), "interpreted")
    // run history rows carry the wall-clock run time; everything else is data
    val stored = Seq("work", "omop", "dqd", "achilles").flatMap(z =>
      compiled.listTables(spark, z).filterNot(_ == "dqd_runs").map(z -> _))
    assert(Seq("dqd_results", "achilles_results", "person", "visit_occurrence")
      .forall(stored.map(_._2).contains), stored)
    stored.foreach { case (zone, tb) =>
      assert(interpreted.listTables(spark, zone).contains(tb), s"$zone.$tb missing interpreted")
      def rows(z: Zones) = {
        val df = z.read(spark, zone, tb)
        df.select(df.schema.fields.filterNot(_.dataType == TimestampType).map(f => col(f.name)): _*)
      }
      val (a, b) = (rows(compiled), rows(interpreted))
      assert(a.count() === b.count(), s"$zone.$tb row count")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$zone.$tb rows differ")
    }
  }

  test("the CLI commands leave the caller's codegen settings unchanged") {
    val before = codegenConf(spark)
    val (zones, folder) = fixture("conf")
    val counts = GraftCli.runEtl(spark, zones, folder, EtlFlags(), cliModel)
    assert(codegenConf(spark) === before)
    GraftCli.dataQuality(spark, zones, cliModel).count()
    assert(codegenConf(spark) === before)
    val n = GraftCli.achilles(spark, zones, cliModel)
    assert(codegenConf(spark) === before)
    // the footer-probed counts the commands return are the stored rows
    tables.foreach(tb => assert(counts(tb) === zones.read(spark, "omop", tb).count()))
    assert(n === zones.read(spark, "achilles", "achilles_results").count())
  }
}
