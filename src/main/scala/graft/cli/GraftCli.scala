package graft.cli

import graft.etl.{CdmFolders, EtlFlags, EtlRunner, FolderEtl, RiabConfig}
import graft.io.Zones
import graft.model.{Cdm54, CdmModel}
import graft.operators.{Cleanup, DqdChecks}
import graft.sources.CsvSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** The reference's CLI surface over the Spark engine — the command set of
  * `/root/reference/src/riab/cli.py:454-657` (`docs/cli.md:11-48`)
  * dispatched over the existing machinery: [[FolderEtl]] (`--run-etl` +
  * its `-t/-q/-se/-sa/-s` restriction flags), [[CdmFolders]]
  * (`--create-folders`), vocabulary zip import (`--import-vocabularies`),
  * level-cascade cleanup (`--cleanup [TABLE]
  * [--clear-auto-generated-custom-concept-ids]`), the generated DQD
  * battery (`--data-quality [--json PATH]`) with a minimal results server
  * (`--data-quality-dashboard [--port]`), the generated Achilles battery
  * (`--achilles`), DDL creation (`--create-db`), connection probe
  * (`--test-db-connection`), the dependency-tree print
  * (`--print-etl-flow`, `etl_base.py:220-230`), and warehouse retention
  * (`--vacuum [--keep N] [--dry-run]`, r17/r18 — retire superseded
  * run-once store generations via [[graft.io.StoreVacuum]], retaining
  * the N newest prior generations as a concurrent-reader grace window).
  *
  * Configuration comes from `riab.ini` through [[RiabConfig]]'s resolution
  * cascade (`--config` arg -> `RIAB_CONFIG` env -> `./riab.ini`), with
  * `[riab] db_engine=spark` selecting a `[spark]` section that carries the
  * `zones_root` the parquet zones live under.
  */
object GraftCli {

  /** Everything `cli.py` parses, in one value. */
  final case class CliArgs(
      config: Option[String] = None,
      verbose: Boolean = false,
      version: Boolean = false,
      createDb: Boolean = false,
      testDbConnection: Boolean = false,
      createFolders: Option[String] = None,
      importVocabularies: Option[String] = None,
      runEtl: Option[String] = None,
      cleanup: Option[String] = None,
      dataQuality: Boolean = false,
      cohortDefinitionId: Option[Long] = None,
      dataQualityDashboard: Boolean = false,
      achilles: Boolean = false,
      printEtlFlow: Boolean = false,
      tables: Seq[String] = Nil,
      onlyQueries: Seq[String] = Nil,
      skipEventFksStep: Boolean = false,
      processSemiApprovedMappings: Boolean = false,
      skipUsagiAndCustomConceptUpload: Boolean = false,
      clearAutoGeneratedCustomConceptIds: Boolean = false,
      jsonPath: Option[String] = None,
      port: Option[Int] = None,
      vacuum: Boolean = false,
      dryRun: Boolean = false,
      keepGens: Option[Int] = None) {

    def toFlags: EtlFlags = EtlFlags(
      onlyTables = Option(tables).filter(_.nonEmpty).map(_.toSet),
      onlyQueries = Option(onlyQueries).filter(_.nonEmpty),
      skipUsagiAndCustomConceptUpload = skipUsagiAndCustomConceptUpload,
      skipEventFksStep = skipEventFksStep,
      processSemiApprovedMappings = processSemiApprovedMappings)
  }

  /** `cli.py`'s valid `--cleanup` / `--table` choices: the ETL table set. */
  private def tableChoices: Seq[String] = Cdm54.model.etlTables

  /** Parse the reference's argument surface (long + short forms; `nargs="?"`
    * options consume the next token unless it looks like another option).
    */
  def parseArgs(argv: Seq[String]): CliArgs = {
    def optionalValue(rest: List[String]): (Option[String], List[String]) = rest match {
      case v :: tail if !v.startsWith("-") => (Some(v), tail)
      case _ => (None, rest)
    }
    // a flag's integer value in [lo, hi], refused with the flag named
    def number(flag: String, v: String, lo: Long, hi: Long): Long = {
      val n = v.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$flag: expected an integer, got '$v'"))
      require(n >= lo && n <= hi, s"$flag: expected an integer in $lo..$hi, got $n")
      n
    }
    @annotation.tailrec
    def go(rest: List[String], acc: CliArgs): CliArgs = rest match {
      case Nil => acc
      case ("-v" | "--verbose") :: t => go(t, acc.copy(verbose = true))
      case ("-V" | "--version") :: t => go(t, acc.copy(version = true))
      case "--config" :: v :: t => go(t, acc.copy(config = Some(v)))
      case ("-cd" | "--create-db") :: t => go(t, acc.copy(createDb = true))
      case ("-tdc" | "--test-db-connection") :: t => go(t, acc.copy(testDbConnection = true))
      case ("-cf" | "--create-folders") :: t =>
        val (v, t2) = optionalValue(t); go(t2, acc.copy(createFolders = v.orElse(Some(""))))
      case ("-i" | "--import-vocabularies") :: v :: t =>
        go(t, acc.copy(importVocabularies = Some(v)))
      case ("-r" | "--run-etl") :: t =>
        val (v, t2) = optionalValue(t); go(t2, acc.copy(runEtl = v.orElse(Some(""))))
      case ("-c" | "--cleanup") :: t =>
        // nargs="?" with const="all"
        val (v, t2) = optionalValue(t)
        val target = v.getOrElse("all")
        require(target == "all" || tableChoices.contains(target),
          s"--cleanup: invalid choice '$target'")
        go(t2, acc.copy(cleanup = Some(target)))
      case ("-dq" | "--data-quality") :: t => go(t, acc.copy(dataQuality = true))
      // the DataQuality API's optional cohort restriction
      // (`data_quality.py:49`), surfaced as a flag
      case "--cohort-definition-id" :: v :: t =>
        go(t, acc.copy(cohortDefinitionId = Some(number("--cohort-definition-id", v,
          Long.MinValue, Long.MaxValue))))
      case ("-dqd" | "--data-quality-dashboard") :: t =>
        go(t, acc.copy(dataQualityDashboard = true))
      case ("-ach" | "--achilles") :: t => go(t, acc.copy(achilles = true))
      case "--print-etl-flow" :: t => go(t, acc.copy(printEtlFlow = true))
      case ("-t" | "--table") :: v :: t =>
        require(tableChoices.contains(v), s"--table: invalid choice '$v'")
        go(t, acc.copy(tables = acc.tables :+ v))
      case ("-q" | "--only-query") :: v :: t => go(t, acc.copy(onlyQueries = acc.onlyQueries :+ v))
      case ("-se" | "--skip-event-fks-step") :: t => go(t, acc.copy(skipEventFksStep = true))
      case ("-sa" | "--process-semi-approved-mappings") :: t =>
        go(t, acc.copy(processSemiApprovedMappings = true))
      case ("-s" | "--skip-usagi-and-custom-concept-upload") :: t =>
        go(t, acc.copy(skipUsagiAndCustomConceptUpload = true))
      case "--clear-auto-generated-custom-concept-ids" :: t =>
        go(t, acc.copy(clearAutoGeneratedCustomConceptIds = true))
      case "--json" :: v :: t => go(t, acc.copy(jsonPath = Some(v)))
      case "--port" :: v :: t =>
        go(t, acc.copy(port = Some(number("--port", v, 0, 65535).toInt)))
      case "--vacuum" :: t => go(t, acc.copy(vacuum = true))
      case "--dry-run" :: t => go(t, acc.copy(dryRun = true))
      case "--keep" :: v :: t =>
        go(t, acc.copy(keepGens = Some(number("--keep", v, 0, Int.MaxValue).toInt)))
      case other :: _ =>
        throw new IllegalArgumentException(s"Unknown argument: $other")
    }
    go(argv.toList, CliArgs())
  }

  // ---------------------------------------------------------------- commands

  /** `--print-etl-flow`: the resolved FK dependency tree
    * (`etl_base.py:220-230`).
    */
  def printEtlFlow(model: CdmModel = Cdm54.model): String =
    model.printTree(model.etlTables)

  private def emptyTyped(s: SparkSession, model: CdmModel, tb: String): DataFrame =
    s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), model.sparkSchema(tb))

  /** `--create-db`: materialize every CDM table (empty, typed) plus the
    * auxiliary lineage-map and DQD-results DDL into their zones
    * (`create_omop_db.py` + `ddl/OMOPCDM_*_5.4_ddl.sql.jinja` semantics:
    * in a zone-on-parquet engine, writing the typed empty table IS the DDL).
    * Clustered layout comes from the model's clustering fields.
    */
  def createDb(s: SparkSession, zones: Zones, model: CdmModel = Cdm54.model): Seq[String] = {
    val cdm = model.etlTables.sorted.map { tb =>
      zones.writeClustered(
        emptyTyped(s, model, tb), model.clustering.getOrElse(tb, Seq.empty), "omop", tb)
      s"omop.$tb"
    }
    val auxTables = Seq(
      ("omop", "source_id_to_omop_id_map"),
      ("dqd", "dqd_results")).map { case (zone, tb) =>
      zones.writeClustered(
        emptyTyped(s, Cdm54.aux, tb), Cdm54.aux.clustering.getOrElse(tb, Seq.empty), zone, tb)
      s"$zone.$tb"
    }
    cdm ++ auxTables
  }

  /** `--test-db-connection`: write + read back a probe row
    * (`etl._test_db_connection` runs `SELECT 1`).
    */
  def testDbConnection(s: SparkSession, zones: Zones): Boolean = {
    import s.implicits._
    zones.write(Seq(1L).toDF("probe"), "work", "__connection_probe")
    val ok = zones.read(s, "work", "__connection_probe").count() == 1L
    zones.drop(s, "work", "__connection_probe")
    ok
  }

  /** The Athena vocabulary bundle's member tables
    * (`import_vocabularies.py:28-38`).
    */
  val VocabularyTables: Seq[String] = Seq(
    "concept", "concept_ancestor", "concept_class", "concept_relationship",
    "concept_synonym", "domain", "drug_strength", "relationship", "vocabulary")

  /** `--import-vocabularies ZIP`: extract (zip-slip guarded), stage each
    * present member typed + pre-sorted into the work zone, then refill the
    * omop copy (S4+S3+O1+D6 — `import_vocabularies.py:40-100`). Returns
    * the imported table names.
    */
  def importVocabularies(
      s: SparkSession, zones: Zones, zipPath: String, model: CdmModel = Cdm54.model): Seq[String] = {
    val extractDir = Files.createTempDirectory("graft_vocab_").toString
    val extracted = CsvSources.extractZip(zipPath, extractDir).map(f => f.toUpperCase -> f).toMap
    VocabularyTables.flatMap { tb =>
      extracted.get(s"${tb.toUpperCase}.CSV").map { file =>
        zones.drop(s, "work", tb)
        zones.write(CsvSources.readVocabulary(s, s"$extractDir/$file", tb, model), "work", tb)
        zones.refill(s, tb)
        tb
      }
    }
  }

  /** `--run-etl PATH`: the folder-driven ETL (see [[FolderEtl]]). */
  def runEtl(
      s: SparkSession,
      zones: Zones,
      folder: Path,
      flags: EtlFlags,
      model: CdmModel = Cdm54.model,
      maxParallelTables: Int = EtlRunner.MaxParallelTables): Map[String, Long] =
    FolderEtl.run(s, model, zones, folder, flags, maxParallelTables)

  /** `--cleanup [TABLE]`: level-cascade cleanup (`cleanup.py:32-96`) —
    * truncate the target and every table in later dependency levels,
    * drop their work tables (uploads, usagi/concept stages, swaps), remove
    * their lineage-map entries; `--clear-auto-generated-custom-concept-ids`
    * additionally drops RiaB-generated concepts (ids >= 2e9). Returns the
    * cleaned table set.
    */
  def cleanup(
      s: SparkSession,
      zones: Zones,
      target: String,
      clearCustomIds: Boolean = false,
      model: CdmModel = Cdm54.model): Seq[String] = {
    val scope =
      if (target == "all") model.etlTables
      else Cleanup.cascadeTables(model, model.etlTables, target)
    val omop = zones.listTables(s, "omop").toSet
    // truncate: atomic-replace with the empty typed table (schema survives)
    scope.filter(omop).foreach(tb => zones.write(emptyTyped(s, model, tb), "omop", tb))
    // drop the scope's work tables
    zones.listTables(s, "work")
      .filter(w => scope.exists(t => w == s"${t}_id_swap" || w.startsWith(s"${t}__")))
      .foreach(zones.drop(s, "work", _))
    // lineage-map entries of the cleaned tables disappear
    if (omop.contains("source_id_to_omop_id_map"))
      zones.write(
        Cleanup.removeMapEntries(
          zones.read(s, "omop", "source_id_to_omop_id_map"), "omop_table", scope),
        "omop", "source_id_to_omop_id_map")
    if (clearCustomIds && omop.contains("concept"))
      zones.write(
        Cleanup.removeCustomConcepts(zones.read(s, "omop", "concept"), "concept_id"),
        "omop", "concept")
    scope
  }

  /** `--data-quality [--json PATH]`: run the generated check battery over
    * the omop zone (absent tables evaluate as empty, like a fresh DB),
    * store the rows in the dqd zone (`data_quality.py:239-247`), export
    * the dashboard JSON when asked (`:391-421`). Returns the stored rows.
    * Without `rules` the battery runs the CDM rule catalog restricted to
    * `model` ([[graft.queries.LifecycleQueries.cdmRules]]). Every frame,
    * the returned one included, is built on [[omopSession]].
    */
  def dataQuality(
      caller: SparkSession,
      zones: Zones,
      model: CdmModel = Cdm54.model,
      rules: DqdChecks.RuleSet = null,
      jsonPath: Option[Path] = None,
      cohortDefinitionId: Option[Long] = None): DataFrame =
    dataQualityOn(omopSession(caller, zones, model), zones, model, rules, jsonPath,
      cohortDefinitionId)

  /** [[dataQuality]] with every frame built on `s` itself. */
  private[graft] def dataQualityOn(
      s: SparkSession,
      zones: Zones,
      model: CdmModel,
      rules: DqdChecks.RuleSet,
      jsonPath: Option[Path],
      cohortDefinitionId: Option[Long]): DataFrame = {
    val ruleSet = Option(rules).getOrElse(graft.queries.LifecycleQueries.cdmRules(model))
    val omop = zones.listTables(s, "omop").toSet
    val base: String => DataFrame = tb =>
      if (omop.contains(tb)) zones.read(s, "omop", tb) else emptyTyped(s, model, tb)
    // optional cohort restriction (`data_quality.py:49,268`): semi-join
    // every person-keyed table to the cohort's subjects before the checks
    val load = cohortDefinitionId match {
      case Some(id) => DqdChecks.cohortScoped(base, base("cohort"), id)
      case None => base
    }
    // every result row carries its rendered query text (the reference's
    // dqdashboard_results.query_text, served by the show-query drill-down)
    val texts = {
      import s.implicits._
      DqdChecks.queryTexts(model, ruleSet).toDF("check_id", "query_text")
    }
    zones.write(
      DqdChecks.fieldLevel(model, load, ruleSet)
        .join(broadcast(texts), Seq("check_id"), "left")
        .withColumn("run_timestamp", lit(null).cast("timestamp")),
      "dqd", "dqd_results")
    val stored = zones.read(s, "dqd", "dqd_results")
      .coalesce(1).sortWithinPartitions("check_id")
    // append to the run history (the dashboard's run-selection source)
    DqdChecks.recordRun(s, zones, stored,
      timestamp = Some(java.time.Instant.now().toString))
    jsonPath.foreach { p =>
      // bounded: one row per generated check
      val rows = jsonRows(stored).toJSON.collect().mkString("[\n", ",\n", "\n]")
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.writeString(p, rows)
    }
    stored
  }

  /** The `--json` / dashboard projection of the stored results
    * (`data_quality.py:391-421` row shape).
    */
  def jsonRows(stored: DataFrame): DataFrame =
    stored.select(
      lower(col("check_id")).as("checkid"),
      col("check_name"), col("check_level"), col("category"),
      col("cdm_table_name"), col("cdm_field_name"),
      col("num_violated_rows"), col("num_denominator_rows"),
      graft.ops.SimOps.roundUnits(col("num_violated_rows").cast("double") /
        greatest(col("num_denominator_rows"), lit(1L)), 1e4).as("pct_violated_rows"),
      col("threshold_value"), col("failed"),
      (lit(1L) - col("failed")).as("passed"))

  /** `--data-quality-dashboard [--port]`: a minimal results viewer over the
    * STORED dqd rows (`cli.py:283-300` serves the Ares UI; here: `/data`
    * returns the JSON rows, `/` a self-contained table view). Returns the
    * started server (caller stops it); port 0 picks an ephemeral port.
    */
  def serveDashboard(
      s: SparkSession, zones: Zones, port: Int): com.sun.net.httpserver.HttpServer = {
    require(zones.listTables(s, "dqd").contains("dqd_results"),
      "no stored data-quality results - run --data-quality first")
    val stored = zones.read(s, "dqd", "dqd_results")
    val json = jsonRows(stored.coalesce(1).sortWithinPartitions("check_id"))
      .toJSON.collect().mkString("[", ",", "]")
    // the run-level Overview headline (`data_quality.py:280-320`)
    val overview = DqdChecks.overview(stored.drop("run_timestamp"))
      .toJSON.collect().mkString("[", ",", "]")
    // ---- the figure layer: the reference renders plotly bar/indicator
    // figures per category (`data_quality_dashboard.py:47-285`); here the
    // SAME data draws as a dependency-free server-side SVG — grouped
    // total/failed bars per category under the percent-passed headline ----
    def overviewSvg(results: org.apache.spark.sql.DataFrame): String = {
      val row = DqdChecks.overview(results).head()
      def l(n: String) = row.getLong(row.fieldIndex(n))
      val pct = row.getDouble(row.fieldIndex("percent_passed"))
      val cats = Seq(
        ("Plausibility", l("count_total_plausibility"), l("count_failed_plausibility")),
        ("Conformance", l("count_total_conformance"), l("count_failed_conformance")),
        ("Completeness", l("count_total_completeness"), l("count_failed_completeness")))
      val maxT = math.max(1L, cats.map(_._2).max)
      val bars = cats.zipWithIndex.map { case ((name, total, failed), i) =>
        val x = 60 + i * 160
        val th = (total * 200 / maxT).toInt
        val fh = (failed * 200 / maxT).toInt
        s"""<rect x="$x" y="${240 - th}" width="60" height="$th" fill="#4c78a8"/>""" +
          s"""<rect x="${x + 64}" y="${240 - fh}" width="60" height="$fh" fill="#e45756"/>""" +
          s"""<text x="${x + 62}" y="258" text-anchor="middle" font-size="12">$name</text>""" +
          s"""<text x="${x + 30}" y="${234 - th}" text-anchor="middle" font-size="10">$total</text>""" +
          s"""<text x="${x + 94}" y="${234 - fh}" text-anchor="middle" font-size="10">$failed</text>"""
      }.mkString
      s"""<svg xmlns="http://www.w3.org/2000/svg" width="560" height="300">""" +
        s"""<text x="20" y="24" font-size="16">Data quality overview — $pct% of checks passed</text>""" +
        s"""<rect x="380" y="40" width="12" height="12" fill="#4c78a8"/>""" +
        s"""<text x="396" y="51" font-size="11">total</text>""" +
        s"""<rect x="440" y="40" width="12" height="12" fill="#e45756"/>""" +
        s"""<text x="456" y="51" font-size="11">failed</text>""" +
        bars + "</svg>"
    }
    val figSvg: String = overviewSvg(stored.drop("run_timestamp"))
    val html =
      """<!doctype html><html><head><title>graft data quality</title></head>
        |<body><h1>Data quality results</h1>
        |<img src="/figure" alt="overview figure"/>
        |<table border="1" id="t"></table>
        |<script>fetch('/data').then(r=>r.json()).then(rows=>{
        |  const t=document.getElementById('t');
        |  if(!rows.length)return;
        |  const cols=Object.keys(rows[0]);
        |  t.innerHTML='<tr>'+cols.map(c=>'<th>'+c+'</th>').join('')+'</tr>'+
        |    rows.map(r=>'<tr>'+cols.map(c=>'<td>'+r[c]+'</td>').join('')+'</tr>').join('');
        |});</script></body></html>""".stripMargin
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    // one responder: `f` maps the request's query string to a body and
    // content type, or to None for a JSON 404
    def dyn(f: String => Option[(String, String)]): com.sun.net.httpserver.HttpHandler =
      exchange => {
        val (code, body, ct) = f(exchange.getRequestURI.getQuery) match {
          case Some((b, c)) => (200, b, c)
          case None => (404, """{"error":"not found"}""", "application/json")
        }
        val bytes = body.getBytes("UTF-8")
        exchange.getResponseHeaders.set("Content-Type", ct)
        exchange.sendResponseHeaders(code, bytes.length.toLong)
        val os = exchange.getResponseBody
        try os.write(bytes) finally os.close()
      }
    def handler(body: String, contentType: String): com.sun.net.httpserver.HttpHandler =
      dyn(_ => Some((body, contentType)))
    server.createContext("/data", handler(json, "application/json"))
    server.createContext("/overview", handler(overview, "application/json"))
    server.createContext("/figure", handler(figSvg, "image/svg+xml"))
    server.createContext("/", handler(html, "text/html"))
    // ---- run-history drill-down (the Dash app's callbacks:
    // `data_quality_dashboard.py:358-367` show_query, run_selected; run
    // listing per `dqd/get_last_dqd_runs.sql.jinja` LIMIT 15) ----
    if (zones.listTables(s, "dqd").contains("dqd_runs")) {
      val runs = DqdChecks.lastRuns(s, zones, 15)
      // ONE EXECUTION of the runs table serves both the listing and the
      // per-run summaries, and ONE per run's (bounded) results serves
      // both the row JSON and the query-text lookup: the JSON rides the
      // same collected rows as the typed fields via to_json(struct(*)) —
      // startup really is #runs + 1 Spark jobs
      def esc(v: String): String =
        v.replace("\\", "\\\\").replace("\"", "\\\"")
      val runRowsCollected = runs
        .select(to_json(struct(col("*"))).as("__j"), col("run_id"), col("run_timestamp"))
        .collect()
      val runsJson = runRowsCollected.map { r =>
        val id = r.getLong(1)
        val ts = Option(r.getString(2)).getOrElse(s"run $id")
        s"""{"label":"${esc(ts)}","value":$id}"""
      }.mkString("[", ",", "]")
      val runSummaries: Map[Long, String] = runRowsCollected.map { r =>
        r.getLong(1) -> r.getString(0) }.toMap
      val runIds = runSummaries.keys.toSeq
      val perRun: Map[Long, (String, Map[String, String])] = runIds.map { id =>
        val stored = DqdChecks.runResults(s, zones, id)
        // a run recorded through the public recordRun API may predate the
        // query_text column (plain fieldLevel output, pre-upgrade store) —
        // serve it without drill-down instead of failing startup
        val hasQueryText = stored.columns.contains("query_text")
        val projected =
          if (hasQueryText)
            stored.select(to_json(struct(col("*"))).as("__j"),
              col("check_id"), col("query_text"))
          else
            stored.select(to_json(struct(col("*"))).as("__j"),
              col("check_id"), lit(null).cast("string").as("query_text"))
        val rows = projected.coalesce(1).sortWithinPartitions("check_id").collect()
        val json = rows.map(_.getString(0)).mkString("[", ",", "]")
        val texts = rows.flatMap { r =>
          if (r.isNullAt(2)) None else Some(r.getString(1) -> r.getString(2))
        }.toMap
        id -> ((json, texts))
      }.toMap
      val runRows: Map[Long, String] = perRun.view.mapValues(_._1).toMap
      val queryTexts: Map[(Long, String), String] = perRun.toSeq.flatMap {
        case (id, (_, texts)) => texts.map { case (cid, t) => (id, cid) -> t }
      }.toMap
      def param(q: String, name: String): Option[String] =
        Option(q).toSeq.flatMap(_.split("&")).collectFirst {
          case kv if kv.startsWith(s"$name=") =>
            java.net.URLDecoder.decode(kv.drop(name.length + 1), "UTF-8")
        }
      // non-numeric ids resolve to None -> 404, never an escaped exception
      def asId(v: String): Option[Long] = scala.util.Try(v.toLong).toOption
      server.createContext("/runs", handler(runsJson, "application/json"))
      server.createContext("/run", dyn(q =>
        param(q, "id").flatMap(asId).flatMap(runSummaries.get)
          .map((_, "application/json"))))
      server.createContext("/run-results", dyn(q =>
        param(q, "id").flatMap(asId).flatMap(runRows.get)
          .map((_, "application/json"))))
      server.createContext("/query", dyn(q =>
        (for {
          id <- param(q, "run").flatMap(asId)
          cid <- param(q, "checkid")
          text <- queryTexts.get((id, cid))
        } yield text).map((_, "text/plain"))))
      // per-run figure (the Dash run_selected callback's figure refresh):
      // /figure?id=N — one more bounded overview agg per stored run
      val runFigs: Map[Long, String] = runIds.map(id =>
        id -> overviewSvg(
          DqdChecks.runResults(s, zones, id).drop("run_timestamp"))).toMap
      server.removeContext("/figure")
      server.createContext("/figure", dyn(q =>
        param(q, "id") match {
          case None => Some((figSvg, "image/svg+xml"))
          case Some(v) => asId(v).flatMap(runFigs.get).map((_, "image/svg+xml"))
        }))
    }
    server.start()
    server
  }

  /** `--achilles`: run the generated descriptive-statistics batteries over
    * the omop zone and store the merged `achilles_results`
    * (`achilles.py:420-505`), the populated `achilles_analysis` catalog
    * (`:190-200`), and — when the model carries CDM core tables — the
    * LITERAL-id core battery rows ([[graft.operators.OhdsiAchilles]]), so
    * stored results are keyed the way downstream OHDSI tooling expects.
    * Returns the stored result-row count. Every frame is built on
    * [[omopSession]].
    */
  def achilles(caller: SparkSession, zones: Zones, model: CdmModel = Cdm54.model): Long =
    achillesOn(omopSession(caller, zones, model), zones, model)

  /** [[achilles]] with every frame built on `s` itself. */
  private[graft] def achillesOn(s: SparkSession, zones: Zones, model: CdmModel): Long = {
    import graft.operators.{AchillesGen, OhdsiAchilles}
    val omop = zones.listTables(s, "omop").toSet
    val load: String => DataFrame = tb =>
      if (omop.contains(tb)) zones.read(s, "omop", tb) else emptyTyped(s, model, tb)
    zones.write(OhdsiAchilles.analysisCatalog(s), "achilles", "achilles_analysis")
    val merged = AchillesGen.mergedResults(model, load)
    val all =
      if (!OhdsiAchilles.supports(model)) merged
      else {
        if (OhdsiAchilles.supportsDist(model))
          zones.write( // the literal-id dist family -> achilles_results_dist
            OhdsiAchilles.cdmCoreDistResults(model, load), "achilles", "achilles_results_dist")
        merged.unionByName(OhdsiAchilles.cdmCoreResults(model, load)
          .select(Seq(col("analysis_id"), col("stratum_1"), col("stratum_2"),
            col("stratum_3"), col("stratum_4"),
            lit(null).cast("string").as("stratum_5")) :+ col("count_value"): _*))
      }
    zones.write(all, "achilles", "achilles_results")
    // derived report consumers (published Achilles flow: heel rules and
    // the Atlas concept-count cache read the STORED results, never the
    // facts) — only where the literal-id batteries fired, since the rules
    // key on literal analysis ids
    if (OhdsiAchilles.supports(model) && OhdsiAchilles.supportsDist(model)) {
      val res = zones.read(s, "achilles", "achilles_results")
      val dist = zones.read(s, "achilles", "achilles_results_dist")
      zones.write(OhdsiAchilles.heelResults(s, res, dist),
        "achilles", "achilles_heel_results")
      zones.write(OhdsiAchilles.resultConceptCounts(s, res),
        "achilles", "achilles_result_concept_count")
    }
    zones.rows(s, "achilles", "achilles_results")
  }

  /** The session a battery over `model`'s omop tables runs on:
    * [[graft.GraftSession.forInput]] sized by their rows.
    */
  private def omopSession(s: SparkSession, zones: Zones, model: CdmModel): SparkSession =
    graft.GraftSession.forInput(s,
      zones.rows(s, "omop", model.tables, graft.GraftSession.InterpretedRowCutoff))

  // ------------------------------------------------------------------ main

  /** Build the session from the `[spark]` backend section: `master` and
    * `shuffle_partitions` knobs plus any `spark.*`-prefixed key passed
    * through verbatim — the analogue of the reference backends' connection
    * options in riab.ini.
    */
  private def session(config: RiabConfig): SparkSession = {
    val backend = config.backend
    val master = backend.getOrElse("master", sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
    val partitions = config.shufflePartitions(sys.env.get("SPARK_GRAFT_CPUS"))
    val builder = graft.GraftSession.builder(master, partitions.toString).appName("graft")
    backend.foreach { case (k, v) => if (k.startsWith("spark.")) builder.config(k, v) }
    builder.getOrCreate()
  }

  /** Dispatch in the reference's precedence order (`cli.py:95-325`). */
  /** `--vacuum [--keep N] [--dry-run]`: warehouse retention (r17) —
    * retire superseded generations of every registered versioned
    * run-once store family plus declared soak scratch
    * ([[graft.io.StoreVacuum]]), the operational sibling of `--cleanup`:
    * cleanup truncates CDM DATA, vacuum retires dead STORE directories.
    * Current generations (every per-dataset suffix) and unregistered
    * purposes are untouched by construction; `--keep N` (r18) retains
    * each family's N newest superseded generations as a grace window
    * for concurrent readers in other JVMs. Returns the retired (or,
    * dry-run, would-retire) purposes.
    */
  def vacuumStores(s: SparkSession, dryRun: Boolean, keepGens: Int = 0): Seq[String] = {
    val fams = graft.queries.LifecycleQueries.storeFamilies
    val eph = graft.queries.LifecycleQueries.ephemeralPurposes
    val root = Zones.defaultRoot
    if (dryRun)
      graft.io.StoreVacuum.plan(
        graft.io.StoreVacuum.listPurposes(s, root), fams, eph, keepGens)
    else graft.io.StoreVacuum.vacuum(s, root, fams, eph, keepGens)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toIndexedSeq)
    // ADVICE r17: a vacuum MODIFIER without --vacuum used to fall through
    // to the generic unknown-command error; name the misuse instead, and
    // before any config/session work (nothing else reads these flags)
    if ((args.dryRun || args.keepGens.isDefined) && !args.vacuum) {
      val flag = if (args.dryRun) "--dry-run" else "--keep"
      throw new IllegalArgumentException(
        s"$flag only modifies --vacuum — pass --vacuum $flag")
    }
    if (args.version) { println("graft (Rabbit-in-a-Blender on Spark) 0.1.0"); return }
    if (args.printEtlFlow) {
      // tree print needs no session/config (`cli.py:95-117` builds the ETL
      // object but only reads metadata)
      println("Resolved ETL tables foreign keys dependency graph:")
      print(printEtlFlow())
      return
    }
    val config = RiabConfig.resolve(args.config)
    require(config.dbEngine == "spark", s"unsupported db_engine '${config.dbEngine}'")
    val zones = Zones(config.zonesRoot)
    val s = session(config)
    try {
      val folder = args.runEtl.orElse(args.createFolders).filter(_.nonEmpty)
        .orElse(config.cdmFolderPath)
      if (args.createDb) {
        val created = createDb(s, zones)
        println(s"Created ${created.size} tables under ${config.zonesRoot}")
      } else if (args.testDbConnection) {
        require(testDbConnection(s, zones), "connection probe failed")
        println("Connection successful!")
      } else if (args.createFolders.isDefined) {
        val root = folder.getOrElse(throw new IllegalArgumentException(
          "--create-folders needs a PATH (arg or [riab] cdm_folder_path)"))
        val created = CdmFolders.create(Cdm54.model, Paths.get(root))
        println(s"Created ${created.size} files under $root")
      } else if (args.importVocabularies.isDefined) {
        val imported = importVocabularies(s, zones, args.importVocabularies.get)
        println(s"Imported vocabulary tables: ${imported.mkString(", ")}")
      } else if (args.runEtl.isDefined) {
        val root = folder.getOrElse(throw new IllegalArgumentException(
          "--run-etl needs a PATH (arg or [riab] cdm_folder_path)"))
        val results = runEtl(s, zones, Paths.get(root), args.toFlags,
          maxParallelTables = config.maxParallelTables)
        results.toSeq.sortBy(_._1).foreach { case (tb, n) => println(s"$tb: $n rows") }
      } else if (args.cleanup.isDefined) {
        val cleaned = cleanup(s, zones, args.cleanup.get, args.clearAutoGeneratedCustomConceptIds)
        println(s"Cleaned up: ${cleaned.mkString(", ")}")
      } else if (args.dataQuality) {
        val stored = dataQuality(s, zones, jsonPath = args.jsonPath.map(Paths.get(_)),
          cohortDefinitionId = args.cohortDefinitionId)
        val failed = stored.filter(col("failed") === 1L).count()
        println(s"Data quality: ${stored.count()} checks, $failed failed")
      } else if (args.dataQualityDashboard) {
        val server = serveDashboard(s, zones, args.port.getOrElse(8050))
        println(s"Data quality dashboard listening on port ${server.getAddress.getPort} (Ctrl-C to stop)")
        Thread.currentThread().join() // serve until interrupted
      } else if (args.achilles) {
        val n = achilles(s, zones)
        println(s"Achilles: $n result rows stored")
      } else if (args.vacuum) {
        val dropped = vacuumStores(s, args.dryRun, args.keepGens.getOrElse(0))
        val verb = if (args.dryRun) "Would retire" else "Retired"
        println(s"$verb ${dropped.size} superseded store dir(s)" +
          (if (dropped.nonEmpty) s": ${dropped.mkString(", ")}" else ""))
      } else {
        throw new IllegalArgumentException("Unknown ETL command!")
      }
    } finally s.stop()
  }
}
