package graft.cli

import graft.SparkSpec
import graft.etl.EtlFlags
import graft.io.Zones
import graft.model.{Cdm54, CdmField, CdmModel}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** End-to-end integration of the CLI command surface against a temp zones
  * root + CDM folder layout — every reference command
  * (`/root/reference/src/riab/cli.py:454-657`) driven through its
  * [[GraftCli]] implementation.
  */
class GraftCliSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** TPC-H universe plus a concept (usagi-mapped) column on orders, so the
    * folder ETL exercises the usagi/custom-concept path.
    */
  private lazy val specModel: CdmModel = {
    def f(t: String, n: String, dt: String, req: Boolean = true,
        pk: Boolean = false, fk: Option[String] = None) =
      CdmField(t, n, dt, req, pk, fk, "CDM")
    CdmModel(fields = graft.model.TpchModel.model.fields :+
      f("orders", "priority_concept_id", "int64", req = false, fk = Some("concept")))
  }

  private def newZones(tag: String): Zones =
    Zones(Files.createTempDirectory(s"graft_cli_$tag").toString)

  private def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    ()
  }

  /** Scaffold the CDM folder with activated queries + usagi/custom CSVs. */
  private def scaffoldFolder(): Path = {
    val root = Files.createTempDirectory("graft_cli_folder")
    write(root.resolve("region/load.sql.jinja"),
      "SELECT r_regionkey, r_name FROM {{project_raw}}_region")
    write(root.resolve("nation/load.sql.jinja"),
      "SELECT n_nationkey, n_name, n_regionkey FROM {{project_raw}}_nation")
    write(root.resolve("customer/load.sql.jinja"),
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM {{project_raw}}_customer")
    // the concept column carries the SOURCE CODE at upload time (the
    // reference's merge joins it against usagi.sourceCode)
    write(root.resolve("orders/load.sql.jinja"),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |  o_orderpriority, o_orderpriority AS priority_concept_id
        |FROM {{project_raw}}_orders""".stripMargin)
    // deactivated sample must be skipped
    write(root.resolve("orders/example.sql._jinja"), "SELECT broken FROM nowhere")
    write(root.resolve("orders/priority_concept_id/mapping.csv"),
      """sourceCode,sourceName,mappingStatus,conceptId,conceptName,domainId
        |1-URGENT,urgent,APPROVED,101,Urgent,Observation
        |2-HIGH,high,SEMI-APPROVED,102,High,Observation
        |3-MEDIUM,medium,FLAGGED,103,Medium,Observation""".stripMargin)
    write(root.resolve("orders/priority_concept_id/custom/concepts.csv"),
      """concept_id,concept_name,domain_id,vocabulary_id,concept_class_id,standard_concept,concept_code,valid_start_date,valid_end_date,invalid_reason
        |0,Low priority,Observation,GRAFT,Clinical Finding,S,5-LOW,2020-01-15,2099-12-31,
        |0,Not urgent,Observation,GRAFT,Clinical Finding,S,4-NOT SPECIFIED,2020-01-15,2099-12-31,""".stripMargin)
    root
  }

  private def stageRaw(zones: Zones, tables: Seq[String]): Unit =
    tables.foreach(tb => zones.write(graft.Tables.load(spark, sfDir, tb), "raw", tb))

  test("parseArgs covers the reference's argument surface") {
    val a = GraftCli.parseArgs(Seq(
      "--config", "/tmp/riab.ini", "-r", "/tmp/cdm", "-t", "person", "-t", "note",
      "-q", "person/load.sql", "-se", "-sa", "-s", "-v"))
    assert(a.config.contains("/tmp/riab.ini"))
    assert(a.runEtl.contains("/tmp/cdm"))
    assert(a.tables === Seq("person", "note"))
    assert(a.onlyQueries === Seq("person/load.sql"))
    assert(a.skipEventFksStep && a.processSemiApprovedMappings
      && a.skipUsagiAndCustomConceptUpload && a.verbose)
    val flags = a.toFlags
    assert(flags.onlyTables.contains(Set("person", "note")))
    assert(flags.approvedStatuses === Seq("APPROVED", "SEMI-APPROVED"))

    // nargs="?" consts: bare --cleanup means "all", bare -r keeps ini path
    assert(GraftCli.parseArgs(Seq("-c")).cleanup.contains("all"))
    assert(GraftCli.parseArgs(Seq("-c", "person")).cleanup.contains("person"))
    assert(GraftCli.parseArgs(Seq("-r", "-dq")).runEtl.contains("") )
    assert(GraftCli.parseArgs(Seq("-dq", "--json", "/tmp/x.json")).jsonPath
      .contains("/tmp/x.json"))
    intercept[IllegalArgumentException](GraftCli.parseArgs(Seq("-c", "not_a_table")))
    intercept[IllegalArgumentException](GraftCli.parseArgs(Seq("--bogus")))
    // r17 warehouse retention
    val vac = GraftCli.parseArgs(Seq("--vacuum", "--dry-run"))
    assert(vac.vacuum && vac.dryRun)
    // r18 retention window
    val keep = GraftCli.parseArgs(Seq("--vacuum", "--keep", "2"))
    assert(keep.vacuum && keep.keepGens.contains(2))
    intercept[IllegalArgumentException](GraftCli.parseArgs(Seq("--vacuum", "--keep", "x")))
    intercept[IllegalArgumentException](GraftCli.parseArgs(Seq("--vacuum", "--keep", "-1")))
  }

  test("--port and --cohort-definition-id name themselves on a bad value") {
    for ((flag, v) <- Seq("--port" -> "x", "--port" -> "70000", "--port" -> "-1",
        "--cohort-definition-id" -> "x")) {
      val e = intercept[IllegalArgumentException](GraftCli.parseArgs(Seq(flag, v)))
      assert(e.getMessage.contains(flag) && e.getMessage.contains(v), s"$flag $v: ${e.getMessage}")
    }
    assert(GraftCli.parseArgs(Seq("--port", "65535")).port.contains(65535))
    assert(GraftCli.parseArgs(Seq("--port", "0")).port.contains(0))
    assert(GraftCli.parseArgs(Seq("--cohort-definition-id", "-7")).cohortDefinitionId.contains(-7L))
  }

  test("--dry-run / --keep without --vacuum die naming the flag pairing (ADVICE r17)") {
    // dispatch-level misuse: parses fine, then errors with the flag named
    for (argv <- Seq(Array("--dry-run"), Array("--keep", "1"))) {
      val e = intercept[IllegalArgumentException](GraftCli.main(argv))
      assert(e.getMessage.contains("--vacuum"), s"${argv.toSeq}: ${e.getMessage}")
      assert(e.getMessage.contains(argv.head), s"${argv.toSeq}: ${e.getMessage}")
    }
  }

  test("--vacuum retires superseded store generations; --dry-run only plans") {
    // build one superseded + one current generation of a registered family
    // in the live warehouse root, then drive the CLI command
    for (g <- Seq("bpe0", graft.queries.LlmQueries.BpeStoreGen)) {
      val z = graft.io.Zones.forPurpose(s"${g}_cli_vac_spec")
      z.write(spark.range(1).selectExpr("id AS x"), "work", "t")
    }
    val planned = GraftCli.vacuumStores(spark, dryRun = true)
    assert(planned.contains("bpe0_cli_vac_spec"), s"dry-run missed the stale dir: $planned")
    assert(graft.io.StoreVacuum.listPurposes(spark, graft.io.Zones.defaultRoot)
      .contains("bpe0_cli_vac_spec"), "dry-run must not delete")
    val dropped = GraftCli.vacuumStores(spark, dryRun = false)
    assert(dropped.contains("bpe0_cli_vac_spec"))
    val after = graft.io.StoreVacuum.listPurposes(spark, graft.io.Zones.defaultRoot)
    assert(!after.contains("bpe0_cli_vac_spec"))
    assert(after.contains(s"${graft.queries.LlmQueries.BpeStoreGen}_cli_vac_spec"),
      "the current generation must survive")
    // cleanup the current-gen fixture dir
    val p = new org.apache.hadoop.fs.Path(
      s"${graft.io.Zones.defaultRoot}/graft_zones_${graft.queries.LlmQueries.BpeStoreGen}_cli_vac_spec")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("--print-etl-flow renders the reference's dependency tree") {
    val tree = GraftCli.printEtlFlow()
    val lines = tree.linesIterator.toSeq
    assert(lines.size === 28)
    assert(lines.head === "└──vocabulary")
    assert(lines(1) === "  ├──cdm_source")
    assert(lines.last === "                └──note_nlp")
  }

  test("--create-db materializes the typed empty CDM + aux tables") {
    val zones = newZones("createdb")
    val created = GraftCli.createDb(spark, zones)
    assert(created.size === Cdm54.model.etlTables.size + 2)
    assert(zones.listTables(spark, "omop").contains("person"))
    val person = zones.read(spark, "omop", "person")
    assert(person.count() === 0L)
    // parquet read-back is always nullable -> compare names + types
    assert(person.schema.fields.map(f => (f.name, f.dataType)).toSeq
      === Cdm54.model.sparkSchema("person").fields.map(f => (f.name, f.dataType)).toSeq)
    assert(zones.read(spark, "dqd", "dqd_results").columns.contains("check_id"))
  }

  test("--test-db-connection probes the zone root") {
    val zones = newZones("probe")
    assert(GraftCli.testDbConnection(spark, zones))
    assert(!zones.listTables(spark, "work").contains("__connection_probe"))
  }

  test("--import-vocabularies extracts, stages and refills present members") {
    val zones = newZones("vocab")
    val dir = Files.createTempDirectory("graft_cli_zip")
    val zipPath = dir.resolve("athena.zip").toString
    val concept = Seq(
      Cdm54.model.columns("concept").mkString("\t"),
      Seq("1", "Test concept", "Observation", "GRAFT", "Clinical Finding", "S",
        "T-1", "20200115", "20991231", "").mkString("\t"))
    val vocab = Seq(
      Cdm54.model.columns("vocabulary").mkString("\t"),
      Seq("GRAFT", "Graft generated", "graft", "v1", "0").mkString("\t"))
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(dir.resolve("athena.zip")))
    try Seq("CONCEPT.csv" -> concept, "VOCABULARY.csv" -> vocab).foreach { case (n, lines) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(n))
      zos.write(lines.mkString("\n").getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()

    val imported = GraftCli.importVocabularies(spark, zones, zipPath)
    assert(imported === Seq("concept", "vocabulary"))
    assert(zones.read(spark, "omop", "concept").count() === 1L)
    val row = zones.read(spark, "omop", "concept").head()
    assert(row.getAs[Long]("concept_id") === 1L)
    assert(row.getAs[java.sql.Date]("valid_start_date").toString === "2020-01-15")
  }

  test("--run-etl drives the folder ETL end to end (swap, usagi, custom, lineage)") {
    val zones = newZones("runetl")
    val folder = scaffoldFolder()
    stageRaw(zones, Seq("region", "nation", "customer", "orders"))

    val results = GraftCli.runEtl(spark, zones, folder, EtlFlags(), specModel)
    assert(results.keySet === Set("region", "nation", "customer", "orders"))

    val rawOrders = graft.Tables.load(spark, sfDir, "orders")
    val omopOrders = zones.read(spark, "omop", "orders")
    assert(results("orders") === rawOrders.count())
    assert(omopOrders.count() === rawOrders.count())

    // PK swap: surrogates are dense 1..n
    assert(omopOrders.agg(min("o_orderkey"), max("o_orderkey")).head()
      === org.apache.spark.sql.Row(1L, rawOrders.select("o_orderkey").distinct().count()))
    // FK swap: every o_custkey points into the customer swap range (or 0)
    val nCust = zones.read(spark, "omop", "customer").count()
    assert(omopOrders.filter(col("o_custkey") > nCust || col("o_custkey") < 0L).count() === 0L)

    // usagi: APPROVED maps, SEMI-APPROVED does NOT under default flags,
    // unmapped codes fall to the 0 sentinel
    val byPrio = omopOrders.groupBy("o_orderpriority")
      .agg(min("priority_concept_id").as("lo"), max("priority_concept_id").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byPrio("1-URGENT") === (101L, 101L))
    assert(byPrio("2-HIGH") === (0L, 0L))
    assert(byPrio("3-MEDIUM") === (0L, 0L))

    // custom concepts staged with auto-numbered ids over the 2e9 floor
    val customs = zones.read(spark, "work", "orders__priority_concept_id_concept")
    assert(customs.count() === 2L)
    assert(customs.agg(min("concept_id")).head().getLong(0) >= 2000000000L)

    // the deactivated example query was skipped (it would have thrown)
    // lineage + version stamp from the full-run epilogue
    val lineage = zones.read(spark, "omop", "source_id_to_omop_id_map")
    assert(lineage.filter(col("omop_table") === "orders").count()
      === rawOrders.select("o_orderkey").distinct().count())
    assert(zones.read(spark, "omop", "metadata_riab").count() === 1L)

    // re-run appends nothing: swap ids stable (append-only mergeAppend)
    val before = zones.read(spark, "work", "orders_id_swap")
      .orderBy("x").collect().toSeq
    val again = GraftCli.runEtl(spark, zones, folder, EtlFlags(), specModel)
    assert(again("orders") === results("orders"))
    assert(zones.read(spark, "work", "orders_id_swap").orderBy("x").collect().toSeq === before)

    // --process-semi-approved-mappings widens the accepted statuses
    val semi = GraftCli.runEtl(
      spark, zones, folder, EtlFlags(processSemiApprovedMappings = true), specModel)
    assert(semi("orders") === results("orders"))
    val hi = zones.read(spark, "omop", "orders")
      .filter(col("o_orderpriority") === "2-HIGH")
      .agg(min("priority_concept_id"), max("priority_concept_id")).head()
    assert(hi === org.apache.spark.sql.Row(102L, 102L))

    // --table restriction reprocesses just orders
    val only = GraftCli.runEtl(
      spark, zones, folder, EtlFlags(onlyTables = Some(Set("orders"))), specModel)
    assert(only.keySet === Set("orders"))

    // --cleanup orders cascades to lineitem, keeps customer, clears work + map
    val cleaned = GraftCli.cleanup(spark, zones, "orders", model = specModel)
    assert(cleaned.toSet === Set("orders", "lineitem"))
    assert(zones.read(spark, "omop", "orders").count() === 0L)
    assert(zones.read(spark, "omop", "customer").count() > 0L)
    assert(!zones.listTables(spark, "work").exists(_.startsWith("orders")))
    assert(zones.read(spark, "omop", "source_id_to_omop_id_map")
      .filter(col("omop_table") === "orders").count() === 0L)
  }

  test("--run-etl stage 2 rewrites event columns; --only-query restricts uploads") {
    import graft.model.{CdmField, CdmModel}
    def f(t: String, n: String, dt: String, req: Boolean = true,
        pk: Boolean = false, fk: Option[String] = None) =
      CdmField(t, n, dt, req, pk, fk, "CDM")
    // a fact table with a polymorphic event FK discriminated by a sibling
    // table-name column (the reference's work-table convention)
    val m = CdmModel(
      fields = graft.model.TpchModel.model.fields ++ Seq(
        f("fact", "fact_id", "int64", pk = true),
        f("fact", "fact_event_id", "int64", req = false),
        f("fact", "fact_event_table", "string", req = false)),
      eventFields = Map("fact" -> Map("fact_event_id" -> "fact_event_table")))
    val zones = newZones("events")
    val folder = Files.createTempDirectory("graft_cli_events")
    stageRaw(zones, Seq("region", "nation", "customer", "orders"))
    write(folder.resolve("customer/load.sql.jinja"),
      "SELECT c_custkey, c_name, c_nationkey FROM {{project_raw}}_customer")
    // two activated queries for fact — the --only-query run keeps just one
    write(folder.resolve("fact/a_events.sql.jinja"),
      """SELECT o_orderkey AS fact_id, o_custkey AS fact_event_id,
        |  'customer' AS fact_event_table
        |FROM {{project_raw}}_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    write(folder.resolve("fact/b_more.sql.jinja"),
      """SELECT o_orderkey AS fact_id, o_custkey AS fact_event_id,
        |  'customer' AS fact_event_table
        |FROM {{project_raw}}_orders WHERE o_orderkey % 2 = 1""".stripMargin)

    val results = GraftCli.runEtl(spark, zones, folder, EtlFlags(), m)
    val nOrders = graft.Tables.load(spark, sfDir, "orders").count()
    assert(results("fact") === nOrders)
    // stage 2 rewrote fact_event_id through the customer swap: all values
    // land inside the surrogate range (no raw custkeys survive)
    val nCust = zones.read(spark, "omop", "customer").count()
    val fact = zones.read(spark, "omop", "fact")
    assert(fact.filter(col("fact_event_id") > nCust || col("fact_event_id") < 0L).count() === 0L)

    // --only-query: just the even-keys query feeds the upload
    val zones2 = newZones("onlyq")
    stageRaw(zones2, Seq("region", "nation", "customer", "orders"))
    val only = GraftCli.runEtl(spark, zones2, folder,
      EtlFlags(onlyQueries = Some(Seq("fact/a_events.sql.jinja"))), m)
    assert(only("fact") > 0L && only("fact") < nOrders)
    assert(zones2.read(spark, "work", "fact__upload")
      .filter(col("fact_id") % 2 === 1).count() === 0L)
  }

  test("--run-etl over the CDM 5.4 model: person + observation_period from raw EHR") {
    val zones = newZones("cdm54etl")
    val folder = Files.createTempDirectory("graft_cli_cdm54")
    // synthetic raw EHR source tables
    import spark.implicits._
    zones.write(
      Seq((101L, "M", 1980L), (102L, "F", 1990L), (103L, "M", 1975L),
        (104L, "X", 2000L), (105L, "F", 1985L), (106L, "M", 1995L))
        .toDF("patient_id", "gender", "yob"),
      "raw", "ehr_patients")
    zones.write(
      Seq((101L, "2010-01-01", "2012-01-01"), (102L, "2011-06-01", "2015-06-01"),
        (103L, "2009-01-01", "2020-01-01"))
        .toDF("pid", "start_d", "end_d"),
      "raw", "ehr_coverage")
    write(folder.resolve("person/load.sql.jinja"),
      """SELECT patient_id AS person_id, gender AS gender_concept_id,
        |  yob AS year_of_birth
        |FROM {{project_raw}}_ehr_patients""".stripMargin)
    write(folder.resolve("person/gender_concept_id/map.csv"),
      """sourceCode,sourceName,mappingStatus,conceptId,conceptName,domainId
        |M,male,APPROVED,8507,MALE,Gender
        |F,female,APPROVED,8532,FEMALE,Gender""".stripMargin)
    write(folder.resolve("observation_period/load.sql.jinja"),
      """SELECT pid AS observation_period_id, pid AS person_id,
        |  CAST(start_d AS DATE) AS observation_period_start_date,
        |  CAST(end_d AS DATE) AS observation_period_end_date
        |FROM {{project_raw}}_ehr_coverage""".stripMargin)

    val results = GraftCli.runEtl(spark, zones, folder, EtlFlags(), Cdm54.model)
    assert(results === Map("person" -> 6L, "observation_period" -> 3L))

    val person = zones.read(spark, "omop", "person")
    // usagi-mapped genders: M->8507, F->8532, unmapped X -> 0 sentinel
    assert(person.groupBy("gender_concept_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(8507L -> 3L, 8532L -> 2L, 0L -> 1L))
    // person_id swapped to dense surrogates 1..6
    assert(person.agg(min("person_id"), max("person_id")).head()
      === org.apache.spark.sql.Row(1L, 6L))
    // observation_period.person_id rewrote through person's swap (level
    // order guarantees the parent swap exists): all FKs land in 1..6
    val op = zones.read(spark, "omop", "observation_period")
    assert(op.filter(col("person_id") < 1L || col("person_id") > 6L).count() === 0L)
    // the raw source keys are traceable through the lineage map
    val lineage = zones.read(spark, "omop", "source_id_to_omop_id_map")
    assert(lineage.filter(col("omop_table") === "person").count() === 6L)
  }

  test("--data-quality's default rules follow the model: person + visit_occurrence") {
    import spark.implicits._
    val zones = newZones("dqdefault")
    // the CDM 5.4 person and visit tables, FKs kept only inside the subset
    val kept = Set("person", "visit_occurrence")
    val model = Cdm54.model.copy(fields = Cdm54.model.fields.collect {
      case f if kept(f.table) => f.copy(fkTable = f.fkTable.filter(kept + "concept"))
    })
    val people = Seq((1L, 8507L, 1980L), (2L, 8532L, 1990L))
      .toDF("person_id", "gender_concept_id", "year_of_birth")
    zones.write(people.select(model.sparkSchema("person").fields.toSeq.map(f =>
      (if (people.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)): _*), "omop", "person")
    val texts = graft.operators.DqdChecks.queryTexts(model,
      graft.queries.LifecycleQueries.cdmRules(model))
    val stored = GraftCli.dataQuality(spark, zones, model)
    val ids = stored.select("check_id").as[String].collect().toSeq
    assert(ids.sorted === texts.map(_._1).sorted)
    // the model-derived families are present, the CDM 5.4-only ones are not
    val names = stored.select("check_name").distinct().as[String].collect().toSet
    assert(Set("plausibleStartBeforeEnd", "measurePersonCompleteness", "fkDomain")
      .subsetOf(names), names)
    assert(!names.contains("plausibleGender"), names)
  }

  test("--cohort-definition-id restricts person-keyed tables before the checks") {
    import spark.implicits._
    val zones = newZones("dqcohort")
    val meas = Seq((1L, 10.0), (2L, 60.0), (3L, 70.0))
      .toDF("person_id", "value_as_number")
    val cohort = Seq((7L, 1L), (7L, 2L), (8L, 3L))
      .toDF("cohort_definition_id", "subject_id")
    zones.write(meas, "omop", "measurement")
    zones.write(cohort, "omop", "cohort")
    val model = CdmModel(fields = Seq(
      CdmField("measurement", "person_id", "int64", false, false, None, "CDM"),
      CdmField("measurement", "value_as_number", "float64", false, false, None, "CDM")))
    val rules = graft.operators.DqdChecks.RuleSet(
      bounds = Map(("measurement", "value_as_number") -> (None, Some(50.0))))
    def viol(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("check_name") === "plausibleValueHigh")
        .select("num_violated_rows").head().getLong(0)
    val all = viol(GraftCli.dataQuality(spark, zones, model, rules))
    assert(all === 2L) // 60 and 70 exceed the bound
    val scoped = viol(GraftCli.dataQuality(spark, zones, model, rules,
      cohortDefinitionId = Some(7L)))
    assert(scoped === 1L) // person 3 (value 70) is outside cohort 7
    // flag parses
    val args = GraftCli.parseArgs(Seq("--data-quality", "--cohort-definition-id", "7"))
    assert(args.dataQuality && args.cohortDefinitionId === Some(7L))
  }

  test("--data-quality stores the battery, exports JSON, dashboard serves it") {
    val zones = newZones("dq")
    val folder = scaffoldFolder()
    stageRaw(zones, Seq("region", "nation", "customer", "orders"))
    GraftCli.runEtl(spark, zones, folder, EtlFlags(), specModel)

    val jsonPath = Files.createTempDirectory("graft_cli_dq").resolve("dq.json")
    val stored = GraftCli.dataQuality(
      spark, zones, specModel,
      rules = graft.operators.DqdChecks.RuleSet(), jsonPath = Some(jsonPath))
    val n = stored.count()
    assert(n > 0L)
    assert(zones.listTables(spark, "dqd").contains("dqd_results"))
    // exported JSON parses and matches the stored rows
    val parsed = spark.read.option("multiLine", "true").json(jsonPath.toString)
    assert(parsed.count() === n)
    assert(parsed.columns.contains("checkid"))

    // the dashboard serves the stored rows on an ephemeral port
    val server = GraftCli.serveDashboard(spark, zones, 0)
    try {
      def get(p: String): String = {
        val url = java.net.URI.create(
          s"http://localhost:${server.getAddress.getPort}$p").toURL
        val in = url.openStream()
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val data = get("/data")
      assert(data.startsWith("[") && data.contains("\"checkid\""))
      assert(get("/overview").contains("\"count_total\""))
      assert(get("/").contains("Data quality results"))
      // the figure layer: a self-contained SVG with the category bars
      val fig = get("/figure")
      assert(fig.startsWith("<svg") && fig.contains("Plausibility")
        && fig.contains("of checks passed"), s"figure: ${fig.take(200)}")
      // run-history drill-down (the Dash app's run selector + show-query)
      val runs = get("/runs")
      assert(runs.contains("\"value\":1"), s"run listing missing run 1: $runs")
      assert(get("/run?id=1").contains("\"count_total\""))
      val rr = get("/run-results?id=1")
      assert(rr.contains("\"check_id\"") && rr.contains("\"query_text\""))
      // pick one check id from the stored rows and fetch its query text
      val cid = stored.select("check_id").head().getString(0)
      val qt = get(s"/query?run=1&checkid=${java.net.URLEncoder.encode(cid, "UTF-8")}")
      assert(qt.contains("SELECT"), s"query text for $cid: $qt")
      // the per-run figure refresh
      assert(get("/figure?id=1").startsWith("<svg"))
    } finally server.stop(0)
  }

  test("--achilles stores merged results over the omop zone") {
    val zones = newZones("ach")
    val folder = scaffoldFolder()
    stageRaw(zones, Seq("region", "nation", "customer", "orders"))
    GraftCli.runEtl(spark, zones, folder, EtlFlags(), specModel)

    val n = GraftCli.achilles(spark, zones, specModel)
    assert(n > 0L)
    val stored = zones.read(spark, "achilles", "achilles_results")
    assert(stored.columns.contains("analysis_id"))
    assert(stored.filter(col("count_value") <= 5).count() === 0L) // small-cell suppression
  }
}
