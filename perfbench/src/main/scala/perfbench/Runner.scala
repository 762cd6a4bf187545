package perfbench

import graft.cli.GraftCli
import graft.etl.{EtlFlags, FolderEtl}
import graft.io.Zones
import graft.model.{CdmField, CdmModel, TpchModel}
import graft.queries.OhdsiCdmQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

/** One cold benchmark iteration in a fresh JVM: build the session, stage
  * the workload's inputs on the empty zones root (`-Dgraft.zones.root`) and
  * empty warehouse, time the calls into the engine's public entry points in
  * a fixed order (one caller, closed loop), then check the outputs outside
  * the timed region and write one record.
  *
  * Usage: `perfbench.Runner <workload> <dataDir> <workDir> <seed> <trace 0|1>
  * <launchEpochMicros>`. Writes `<workDir>/iteration.json`.
  */
object Runner {

  /** A timed call: its name and a thunk returning the rows it produced. */
  final case class Call(name: String, run: () => Long)

  /** A workload: set-up staging, the timed calls, and output checks that
    * return one message per mismatch.
    */
  trait Workload {
    def setup(): Unit
    def calls: Seq[Call]
    def check(): Seq[String]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, seedArg, traceArg, launchArg) = args
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val work = Paths.get(workDir).toAbsolutePath
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
    if (traced) builder
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .withExtensions(_.injectParser((_, parser) => new TimingParser(parser)))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val zones = Zones.forPurpose("bench")
    val w: Workload = workload match {
      case "etl_scale" => new EtlScale(spark, zones, work)
      case "cli_pipeline" => new CliPipeline(spark, dataDir, zones, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    w.setup()

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = osBean.getProcessCpuTime
    val firstMs = System.currentTimeMillis()
    // set-up runs from JVM launch: session, staging, fixture
    val setupS = (java.time.temporal.ChronoUnit.MICROS.between(
      java.time.Instant.EPOCH, java.time.Instant.now()) - launchArg.toLong) / 1e6
    val t0 = System.nanoTime()
    val results = w.calls.map { c =>
      spark.sparkContext.setJobDescription(c.name)
      val a = System.nanoTime()
      val (rows, err) =
        try (c.run(), None)
        catch { case e: Throwable =>
          (0L, Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))) }
      val b = System.nanoTime()
      // between calls, outside the timed window: drop cached blocks the
      // call left behind, as the engine's own bench harness does
      spark.catalog.clearCache()
      (c.name, (a - t0) / 1e9, (b - t0) / 1e9, rows, err)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val layers = tracer.map(_.stop(firstMs, System.currentTimeMillis())).getOrElse(Map.empty)

    val failures =
      if (results.exists(_._5.nonEmpty)) Seq.empty // a failed call is its own failure
      else try w.check() catch { case e: Throwable => Seq(s"check raised: $e") }
    // spans: one per call, children of the workload span, keyed by run id
    Files.writeString(work.resolve("iteration.json"), Json.obj(
      "setup_s" -> Json.num(setupS),
      "wall_s" -> Json.num(wallS),
      "cpu_s" -> Json.num(cpuS),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "calls" -> Json.arr(results.map { case (n, a, b, rows, err) =>
        Json.obj("name" -> Json.str(n), "parent" -> Json.str(workload),
          "run" -> Json.str(work.getFileName.toString), "start_s" -> Json.num(a),
          "end_s" -> Json.num(b), "s" -> Json.num(b - a), "rows" -> Json.num(rows),
          "error" -> err.map(Json.str).getOrElse("null"))
      }),
      "check_failures" -> Json.arr(failures.map(Json.str)),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)))
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def writeFile(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }
}

/** `etl_scale`: [[FolderEtl.run]] over key-shifted replicas of the source
  * tables, with a polymorphic event column so stage 2 rewrites a fact-sized
  * table — the FolderEtlSoak fixture. `gen.etl_raw` stages the raw zone
  * before the JVM starts; set-up writes the folder.
  */
final class EtlScale(spark: SparkSession, zones: Zones, work: Path)
    extends Runner.Workload {
  import Runner._
  private val folder = work.resolve("folder")
  private val model = {
    def f(t: String, n: String, dt: String, req: Boolean = true,
        pk: Boolean = false, fk: Option[String] = None) =
      CdmField(t, n, dt, req, pk, fk, "CDM")
    CdmModel(
      fields = TpchModel.model.fields ++ Seq(
        f("orders", "priority_concept_id", "int64", req = false, fk = Some("concept")),
        f("events", "event_id", "int64", pk = true),
        f("events", "user_id", "int64", fk = Some("customer")),
        f("events", "event_type", "string", req = false),
        f("events", "target_event_id", "string", req = false),
        f("events", "event_table", "string", req = false)),
      eventFields = Map("events" -> Map("target_event_id" -> "event_table")))
  }
  def setup(): Unit = {
    writeFile(folder.resolve("region/load.sql.jinja"),
      "SELECT r_regionkey, r_name FROM {{project_raw}}_region")
    writeFile(folder.resolve("nation/load.sql.jinja"),
      "SELECT n_nationkey, n_name, n_regionkey FROM {{project_raw}}_nation")
    writeFile(folder.resolve("customer/load.sql.jinja"),
      "SELECT c_custkey, c_name, c_nationkey FROM {{project_raw}}_customer")
    writeFile(folder.resolve("orders/load.sql.jinja"),
      """SELECT o_orderkey, o_custkey, o_orderpriority,
        |  o_orderpriority AS priority_concept_id
        |FROM {{project_raw}}_orders""".stripMargin)
    writeFile(folder.resolve("orders/priority_concept_id/map.csv"),
      """sourceCode,sourceName,mappingStatus,conceptId,conceptName,domainId
        |1-URGENT,urgent,APPROVED,101,Urgent,Observation
        |2-HIGH,high,SEMI-APPROVED,102,High,Observation
        |3-MEDIUM,medium,APPROVED,103,Medium,Observation""".stripMargin)
    writeFile(folder.resolve("events/load.sql.jinja"),
      """SELECT event_id, user_id, event_type,
        |  CAST(user_id AS STRING) AS target_event_id,
        |  'customer' AS event_table
        |FROM {{project_raw}}_events""".stripMargin)
  }

  def calls: Seq[Call] = Seq(Call("etl_run", () =>
    FolderEtl.run(spark, model, zones, folder).values.sum))

  def check(): Seq[String] = {
    val omop = (tb: String) => zones.read(spark, "omop", tb)
    val counts = zones.listTables(spark, "raw").sorted.flatMap { tb =>
      val (n, m) = (zones.read(spark, "raw", tb).count(), omop(tb).count())
      if (n != m) Some(s"omop.$tb rows $m != raw $n") else None
    }
    // stage 1 rewrote user_id through the customer swap and stage 2 rewrote
    // target_event_id from the same source key: they must be equal
    val mism = omop("events").filter(col("target_event_id") =!= col("user_id")).count()
    val cust = omop("customer").select(col("c_custkey").as("k"))
    val orphans = Seq("orders" -> "o_custkey", "events" -> "user_id").collect {
      case (tb, c) if omop(tb).join(cust, col(c) === col("k"), "left_anti").count() > 0 =>
        s"omop.$tb.$c has orphan customer ids"
    }
    counts ++ (if (mism > 0) Seq(s"$mism event re-key mismatches") else Nil) ++ orphans
  }
}

/** `cli_pipeline`: the user path `--run-etl` -> `--data-quality` ->
  * `--achilles` through [[GraftCli]]'s entry points, over the derived CDM
  * tables staged into the raw zone with one passthrough load per table.
  */
final class CliPipeline(spark: SparkSession, dataDir: String, zones: Zones, work: Path, seed: Long)
    extends Runner.Workload {
  import Runner._
  private val folder = work.resolve("folder")
  private val tables = CliPipeline.tables
  /** The derived model's tables, with person FKs declared so stage 1
    * rewrites them.
    */
  private val cliModel = {
    val m = OhdsiCdmQueries.derivedModel
    m.copy(fields = m.fields.filter(f => tables.contains(f.table)).map(f =>
      if (f.name == "person_id" && f.table != "person") f.copy(fkTable = Some("person")) else f))
  }
  /** The DQD rules the CDM 5.4 battery derives from its model, derived from
    * this one (the CLI's default rules name CDM 5.4 tables it lacks).
    */
  private val rules = {
    import graft.operators.DqdChecks._
    RuleSet(startEnd = startEndRules(cliModel), completeness = personCompletenessRules(cliModel),
      recordCompleteness = recordCompletenessRules(cliModel),
      domains = Seq(DomainRule("person", "gender_concept_id", Seq("8507", "8532"))))
  }
  private var etlCounts = Map.empty[String, Long]
  private var achillesRows = 0L

  def setup(): Unit = {
    val derive = OhdsiCdmQueries.derive(spark, dataDir) _
    // the table staging order is seeded
    new scala.util.Random(seed).shuffle(tables).foreach(tb =>
      zones.write(derive(tb), "raw", tb))
    tables.foreach(tb => writeFile(folder.resolve(s"$tb/load.sql.jinja"),
      s"SELECT ${cliModel.columns(tb).mkString(", ")} FROM {{project_raw}}_$tb"))
  }

  def calls: Seq[Call] = Seq(
    Call("run_etl", () => {
      etlCounts = GraftCli.runEtl(spark, zones, folder, EtlFlags(), cliModel)
      etlCounts.values.sum
    }),
    Call("data_quality", () => GraftCli.dataQuality(spark, zones, cliModel, rules).count()),
    Call("achilles", () => { achillesRows = GraftCli.achilles(spark, zones, cliModel); achillesRows }))

  def check(): Seq[String] = {
    val raw = (tb: String) => zones.read(spark, "raw", tb)
    val omop = (tb: String) => zones.read(spark, "omop", tb)
    val counts = tables.flatMap { tb =>
      val n = raw(tb).count()
      if (etlCounts.get(tb).contains(n)) None else Some(s"omop.$tb rows ${etlCounts.get(tb)} != raw $n")
    }
    // the derivation plants orphan person ids on purpose (the Achilles
    // invalid-person analyses count them); the ETL must neither add nor
    // drop any, so the omop orphan count equals the raw one
    def orphans(zone: String => DataFrame, tb: String): Long = zone(tb)
      .join(zone("person").select(col("person_id").as("__p")),
        col("person_id") === col("__p"), "left_anti").count()
    val orphanDiffs = tables.filter(tb => tb != "person" && cliModel.fks(tb).contains("person_id"))
      .flatMap { tb =>
        val (r, o) = (orphans(raw, tb), orphans(omop, tb))
        if (r == o) None else Some(s"omop.$tb orphan person_ids $o != raw $r")
      }
    val checks = graft.operators.DqdChecks.queryTexts(cliModel, rules).size.toLong
    val dqd = zones.read(spark, "dqd", "dqd_results").count()
    val achilles = zones.read(spark, "achilles", "achilles_results")
    val stored = achilles.count()
    val core = achilles.filter(col("analysis_id") < graft.operators.AchillesGen.GeneratedBase).count()
    writeOracleChecks()
    counts ++ orphanDiffs ++
      (if (dqd != checks) Seq(s"dqd_results rows $dqd != generated checks $checks") else Nil) ++
      (if (stored != achillesRows) Seq(s"achilles_results rows $stored != returned $achillesRows")
       else Nil) ++
      (if (core == 0) Seq("achilles_results holds no core (literal-id) analysis rows") else Nil)
  }

  /** The stored results that have a DuckDB rendering of their own, for the
    * caller to replay over the omop zone: the whole DQD battery and the
    * generated Achilles analyses (ids from `AchillesGen.GeneratedBase`).
    */
  private def writeOracleChecks(): Unit = {
    import graft.operators.{AchillesGen, DqdChecks}
    val dir = (zone: String, tb: String) =>
      s"'${Paths.get(zones.tablePath(zone, tb)).toAbsolutePath}/*.parquet'"
    val dqdCols = "check_id, check_name, check_level, category, cdm_table_name, cdm_field_name, " +
      "num_violated_rows, num_denominator_rows, pct_violated_rows, threshold_value, failed"
    writeFile(work.resolve("oracle_checks.json"), Json.obj(
      "views" -> Json.obj(tables.map(tb => tb -> Json.str(dir("omop", tb))): _*),
      "checks" -> Json.arr(Seq(
        Json.obj("name" -> Json.str("dqd_results"),
          "oracle" -> Json.str(DqdChecks.oracleSql(cliModel, rules)),
          "stored" -> Json.str(s"SELECT $dqdCols FROM ${dir("dqd", "dqd_results")}")),
        // the model has no timestamp column, so the merged battery holds no
        // year-paired analyses and equals the count battery `oracleSql`
        // renders; a paired row would show as an extra stored row
        Json.obj("name" -> Json.str("achilles_results (generated analyses)"),
          "oracle" -> Json.str(AchillesGen.oracleSql(cliModel)),
          "stored" -> Json.str("SELECT analysis_id, stratum_1, count_value FROM " +
            s"${dir("achilles", "achilles_results")} " +
            s"WHERE analysis_id >= ${AchillesGen.GeneratedBase}"))))))
  }
}

object CliPipeline {
  /** The derived CDM tables the pipeline loads: persons and their visits,
    * which enable the person and visit families of both batteries. Every
    * table costs several seconds of cold planning and codegen per battery,
    * so the set stays small enough for one cold run to fit the run budget.
    */
  val tables: Seq[String] =
    Seq("person", "visit_occurrence")
}

/** Just enough JSON writing for the iteration record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
