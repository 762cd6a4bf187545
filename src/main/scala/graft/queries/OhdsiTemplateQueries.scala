package graft.queries

import graft.Tables
import graft.sources.OhdsiSql
import graft.sources.OhdsiSql.{BigQuery, Dialect, SqlServer}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Published RiaB `.sql.jinja` templates run VERBATIM through JinjaLite +
  * the SqlRender-subset bridge, each pinned row-for-row to the native
  * operator that implements the same step (the r14/r15 verbatim-template
  * discipline — proving a reference user's own template tree executes
  * unmodified on this engine).
  *
  * Every template is a resource under `graft/ohdsi/`, vendored unchanged
  * from the reference's `src/riab/etl/sql_server/templates/` and
  * `bigquery/templates/` trees (public RiaB content; provenance cited per
  * entry, and `TemplateCoverageSpec` maps each file to its reference
  * path), loaded and run by [[OhdsiSql.runTemplate]]. A dialect twin —
  * an `ohdsi_sql_X` entry and its `ohdsi_sql_bq_X` sibling over the same
  * fixture — is ONE function of the [[Dialect]], registered under both
  * names; each dialect keeps its own database names. The only
  * engine-side canonicalization allowed is row ORDER on the returned
  * frame (the driver's hash is order-sensitive and the templates leave
  * order unspecified — the ohdsi_benchmark_rows precedent).
  */
object OhdsiTemplateQueries {
  private type Q = (SparkSession, String) => DataFrame
  private[queries] def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Create-or-replace a managed catalog table under `db`, tolerating a
    * LOCATION left by a previous JVM whose in-memory catalog forgot the
    * entry (the r15 trap — drop table AND location before recreation).
    */
  private[queries] def stage(s: SparkSession, db: String, tb: String, df: DataFrame): Unit = {
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    s.sql(s"DROP TABLE IF EXISTS $db.$tb")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + s"/$db.db/$tb")
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    df.write.saveAsTable(s"$db.$tb")
  }

  private[queries] def dropDbs(s: SparkSession, dbs: String*): Unit =
    dbs.foreach(db => s.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))

  /** The custom-concept scalars most ETL templates share: the provider
    * specialty concept column and the ≥2e9 custom-concept floor.
    */
  private[queries] val CustomConcepts = Map(
    "omop_table" -> "provider",
    "concept_id_column" -> "specialty_concept_id",
    "min_custom_concept_id" -> "2000000000")
  private[queries] val ApprovedOnly = Map("process_semi_approved_mappings" -> "")

  // ---- D7 tombstoning: *_update_invalid_reason ---------------------------

  private val EtlStart = Map("etl_start" -> "DATE '1995-06-01'")

  /** Verbatim `etl/SOURCE_TO_CONCEPT_MAP_update_invalid_reason.sql.jinja`
    * (the D7 tombstoning template; natively `s2cm_tombstone` /
    * [[graft.operators.Cleanup.tombstoneStale]]). Exercises the r15 bridge
    * widenings: a pure-mutation script (no final SELECT), an UPDATE
    * against a THREE-part catalog-table name (write-back via the atomic
    * catalog replace; the BigQuery tree's aliased `UPDATE <t> T SET`),
    * and the `:etl_start` execute-time bind the reference passes at
    * `sql_server/etl.py:73-86` (`@etl_start` in GoogleSQL).
    */
  private def stcmInvalidate(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_omop", "graft_bq_si")
    stage(s, db, "source_to_concept_map", t(s, d, "orders").select(
      col("o_orderkey").as("source_code"),
      col("o_custkey").as("target_concept_id"),
      col("o_orderdate").cast("date").as("valid_start_date"),
      lit(null).cast("string").as("invalid_reason")))
    OhdsiSql.runTemplate(s, dl, dl.file("stcm_invalidate"), dl.omop(db), binds = EtlStart)
    s.table(s"$db.source_to_concept_map").orderBy("source_code")
  }

  /** Verbatim `etl/SOURCE_ID_TO_OMOP_ID_MAP_update_invalid_reason.sql.jinja`
    * — the sibling tombstoning template over the id map (same bind flow,
    * `sql_server/etl.py:87-100`).
    */
  private def mapInvalidate(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_omop_mi", "graft_bq_mi")
    stage(s, db, "source_id_to_omop_id_map", t(s, d, "orders").select(
      lit("provider").as("omop_table"),
      col("o_orderkey").as("omop_id"),
      col("o_orderdate").cast("date").as("valid_start_date"),
      lit(null).cast("string").as("invalid_reason")))
    OhdsiSql.runTemplate(s, dl, dl.file("map_invalidate"), dl.omop(db), binds = EtlStart)
    s.table(s"$db.source_id_to_omop_id_map").orderBy("omop_id")
  }

  // ---- A7 run history: get_dqd_run / get_last_dqd_runs ------------------

  /** The deterministic `dqdashboard_runs` fixture the two dashboard
    * templates read (the reference uploads one row per DQD run,
    * `data_quality.py:137-152` — uuid id, start/end timestamps,
    * humanized execution time, overview counts). Wall-clock fields are
    * derived from the run ordinal so the verbatim output hash-gates.
    */
  private def stageDqdRuns(s: SparkSession): Unit = {
    val runs = s.range(1, 21).select(
      format_string("run-%02d", col("id")).as("id"),
      expr("timestampadd(HOUR, CAST(id AS INT), TIMESTAMP '2026-01-01 00:00:00')")
        .as("startTimestamp"),
      expr("timestampadd(MINUTE, CAST(id * 60 + 10 AS INT), TIMESTAMP '2026-01-01 00:00:00')")
        .as("endTimestamp"),
      lit("10 minutes").as("executionTime"),
      lit(26L).as("checks_total"),
      (col("id") % 3).as("checks_failed"))
    stage(s, "graft_dqd", "dqdashboard_runs", runs)
  }

  private val RunId = Map("id" -> "'run-07'")

  /** Verbatim `dqd/get_dqd_run.sql.jinja` — the run-selector drill-down
    * (`select * ... where id = :id`, `@id` in GoogleSQL): exercises the
    * bind and, in SQL Server, the template's MIXED quoting (bracketed
    * catalog/schema, bare table).
    */
  private def getDqdRun(dl: Dialect): Q = (s, _) => {
    stageDqdRuns(s)
    OhdsiSql.runTemplate(s, dl, dl.file("get_dqd_run"), dl.dqd("graft_dqd"),
      binds = RunId).get
  }

  /** Verbatim `dqd/get_last_dqd_runs.sql.jinja` — the dashboard's
    * newest-first run list (natively `dqd_last_runs`, O3): SQL Server's
    * `select top 15 ... order by startTimestamp desc` (the bridge's TOP
    * rewrite lands the LIMIT after the ORDER BY, the T-SQL semantics);
    * BigQuery's `FORMAT_TIMESTAMP("%Y-%m-%d %T", ...)` label (the strftime
    * pre-pass mapping — its own oracle) over a bare LIMIT 15.
    */
  private def lastDqdRuns(dl: Dialect): Q = (s, _) => {
    stageDqdRuns(s)
    OhdsiSql.runTemplate(s, dl, dl.file("get_last_dqd_runs"), dl.dqd("graft_dqd")).get
  }

  /** Verbatim `dqd/get_dqd_run_results.sql.jinja` — the dashboard's
    * per-run drill-down (`where run_id = :id` bind).
    */
  private def dqdRunResults(dl: Dialect): Q = (s, _) => {
    stage(s, "graft_dqd", "dqdashboard_results", s.range(1, 27).select(
      when(col("id") % 2 === 0, lit("run-07")).otherwise(lit("run-08")).as("run_id"),
      format_string("check_%02d", col("id")).as("checkid"),
      (col("id") % 5 === 0).cast("long").as("failed"),
      (col("id") * 3).as("num_violated_rows")))
    OhdsiSql.runTemplate(s, dl, dl.file("get_dqd_run_results"), dl.dqd("graft_dqd"),
      binds = RunId).get.orderBy("checkid")
  }

  // ---- S12 listing: all_work_table_names ---------------------------------

  /** Three work tables of the reference's naming shapes (upload, usagi,
    * id swap) for the listing templates to find.
    */
  private def stageWorkTables(s: SparkSession, d: String, db: String): Unit = {
    val one = t(s, d, "nation").limit(1)
    Seq("person__upload__q1", "person__gender_concept_id_usagi", "person_id_swap")
      .foreach(stage(s, db, _, one))
  }

  /** Verbatim `cleanup/all_work_table_names.sql.jinja` (natively
    * `work_table_listing`, S12): SQL Server's `USE [catalog];` statement
    * and `sys.tables` / `schema_name()` catalog introspection, BigQuery's
    * `INFORMATION_SCHEMA.COLUMNS` listing (both snapshot-view mappings).
    * The listing db is DEDICATED to this query so the result never
    * depends on which sibling fixtures ran first in the session.
    */
  private def workTables(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_work_s12", "graft_bq_s12")
    dropDbs(s, db)
    stageWorkTables(s, d, db)
    // the bigquery listing names its location `dataset`, not `dataset_work`
    OhdsiSql.runTemplate(s, dl, dl.file("all_work_table_names"),
      dl.pick(dl.work(db), Map("dataset" -> db))).get
  }

  // ---- D5 cleanup ---------------------------------------------------------

  /** Verbatim
    * `cleanup/SOURCE_ID_TO_OMOP_ID_MAP_remove_ids_by_omop_table.sql.jinja`
    * (the targeted-cleanup DELETE the reference issues per cleaned table;
    * natively the `cleanup_cascade` family, D5): exercises the Jinja
    * `{% for %}`/`loop.last` membership list and a DELETE against a
    * three-part catalog name.
    */
  private def mapCleanup(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_omop", "graft_bq_mcl")
    stage(s, db, "source_id_to_omop_id_map", t(s, d, "orders").select(
      element_at(array(lit("person"), lit("provider"), lit("visit_occurrence")),
        (col("o_orderkey") % 3 + 1).cast("int")).as("omop_table"),
      col("o_orderkey").as("source_id"),
      (col("o_orderkey") * 10).as("omop_id")))
    OhdsiSql.runTemplate(s, dl, dl.file("map_remove_ids"), dl.omop(db),
      lists = Map("omop_tables" -> Seq("person", "provider")))
    s.table(s"$db.source_id_to_omop_id_map").orderBy("source_id")
  }

  /** Verbatim
    * `cleanup/SOURCE_TO_CONCEPT_MAP_remove_concepts_by_..._usagi_table.sql.jinja`
    * (natively J9 `merge_delete_anti`): the MERGE `WHEN MATCHED THEN
    * DELETE` clause — matched mappings are removed, the rest survive.
    */
  private def s2cmRemove(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_sr", "graft_omop_sr"), ("graft_bq_srw", "graft_bq_sro"))
    dropDbs(s, work, omop)
    stage(s, omop, "source_to_concept_map", t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("source_code"),
      (col("n_nationkey") + 100).cast("int").as("target_concept_id"),
      lit("keepable").as("source_code_description")))
    stage(s, work, "provider__specialty_concept_id_usagi",
      t(s, d, "nation").filter(col("n_nationkey") % 3 === 0).select(
        concat(lit("SRC_"), col("n_name")).as("sourceCode"),
        (col("n_nationkey") + 100).cast("int").as("conceptId")))
    OhdsiSql.runTemplate(s, dl, dl.file("s2cm_remove"),
      dl.omop(omop) ++ dl.work(work) ++ CustomConcepts)
    s.table(s"$omop.source_to_concept_map").orderBy("source_code")
  }

  /** Verbatim
    * `cleanup/CONCEPT_remove_custom_concepts_by_..._usagi_table.sql.jinja`
    * (natively P6): a FROM-less DELETE with two nested IN subqueries and
    * the ≥2e9 custom-concept floor.
    */
  private def conceptRemove(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_cr", "graft_omop_cr"), ("graft_bq_crw", "graft_bq_crr"))
    dropDbs(s, work, omop)
    val nat = t(s, d, "nation")
    stage(s, omop, "concept", nat.select(
      col("n_nationkey").cast("long").as("concept_id"),
      col("n_name").as("concept_name"))
      .unionByName(nat.select(
        (col("n_nationkey") + 2000000000L).as("concept_id"),
        concat(lit("CUSTOM_"), col("n_name")).as("concept_name"))))
    stage(s, work, "provider__specialty_concept_id_usagi",
      nat.filter(col("n_nationkey") % 2 === 0).select(
        concat(lit("SRC_"), col("n_name")).as("sourceCode"),
        (col("n_nationkey") + 2000000000L).as("conceptId")))
    stage(s, work, "provider__specialty_concept_id_concept",
      nat.select(concat(lit("SRC_"), col("n_name")).as("concept_code")))
    OhdsiSql.runTemplate(s, dl, dl.file("concept_remove_by_usagi"),
      dl.omop(omop) ++ dl.work(work) ++ CustomConcepts)
    s.table(s"$omop.concept").orderBy("concept_id")
  }

  /** Verbatim `cleanup/truncate.sql.jinja` (BOTH Jinja branches: plain
    * TRUNCATE, and the vocabulary DELETE that spares non-custom rows) +
    * `cleanup/CONCEPT_remove_custom_concepts.sql.jinja` (P6/D5/D6
    * natively) + the D6 refill's per-table truncation (SQL Server's
    * `vocabulary/vocabulary_table_truncate.sql.jinja`; the bigquery tree
    * has no such file and truncates with `truncate`). Gated on the
    * post-cleanup row counts.
    */
  private def vocabCleanup(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_omop_vc", "graft_bq_vc")
    dropDbs(s, db)
    val nat = t(s, d, "nation")
    stage(s, db, "provider",
      t(s, d, "orders").select(col("o_orderkey").as("provider_id")))
    stage(s, db, "vocabulary", nat.select(
      col("n_name").as("vocabulary_id"),
      col("n_nationkey").cast("long").as("vocabulary_concept_id"))
      .unionByName(nat.select(
        concat(lit("CUSTOM_"), col("n_name")).as("vocabulary_id"),
        (col("n_nationkey") + 2000000000L).as("vocabulary_concept_id"))))
    stage(s, db, "concept", nat.select(
      col("n_nationkey").cast("long").as("concept_id"),
      col("n_name").as("concept_name"))
      .unionByName(nat.select(
        (col("n_nationkey") + 2000000000L).as("concept_id"),
        concat(lit("CUSTOM_"), col("n_name")).as("concept_name"))))
    stage(s, db, "relationship",
      nat.select(col("n_name").as("relationship_id")))
    val base = dl.omop(db) + ("min_custom_concept_id" -> "2000000000")
    Seq("provider", "vocabulary").foreach { tb =>
      OhdsiSql.runTemplate(s, dl, dl.file("truncate"), base + ("table_name" -> tb))
    }
    OhdsiSql.runTemplate(s, dl, dl.file("concept_remove_custom"), base)
    val (refill, key) = dl.pick(("vocabulary_table_truncate", "vocabulary_table"),
      ("bq_truncate", "table_name"))
    OhdsiSql.runTemplate(s, dl, refill, base + (key -> "relationship"))
    Seq("concept", "provider", "relationship", "vocabulary").map { tb =>
      s.table(s"$db.$tb").agg(count(lit(1)).as("n_rows"))
        .select(lit(tb).as("table_name"), col("n_rows"))
    }.reduce(_ unionByName _).orderBy("table_name")
  }

  // ---- P6/W2: the custom-concept id flow (swap create+merge, CONCEPT
  // merge, custom validate) -------------------------------------------------

  /** The saturated work-side custom-concept fixture: one concept per
    * NATION row (25 at every SF — the table is constant in TPC-H), every
    * attribute MODULAR in the key so the violating subset is provably
    * under the validate template's un-ordered `TOP 100` (the r15
    * saturated-fixture rule). `%4==3` rows carry an unknown domain,
    * `%3==2` rows an unknown concept class.
    */
  private[queries] def workConceptFixture(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(
      col("n_name").as("concept_name"),
      element_at(array(lit("Condition"), lit("Procedure"), lit("Measurement"),
        lit("BadDomain")), (col("n_nationkey") % 4 + 1).cast("int")).as("domain_id"),
      element_at(array(lit("LOCAL"), lit("SNOMED")),
        (col("n_nationkey") % 2 + 1).cast("int")).as("vocabulary_id"),
      element_at(array(lit("Clinical Finding"), lit("Custom"), lit("Unknown Class")),
        (col("n_nationkey") % 3 + 1).cast("int")).as("concept_class_id"),
      when(col("n_nationkey") % 5 === 0, lit("S"))
        .when(col("n_nationkey") % 5 === 1, lit("C"))
        .otherwise(lit(null).cast("string")).as("standard_concept"),
      concat(lit("SRC_"), col("n_name")).as("concept_code"),
      date_add(lit(java.sql.Date.valueOf("2000-01-01")),
        col("n_nationkey").cast("int")).as("valid_start_date"),
      lit(java.sql.Date.valueOf("2099-12-31")).as("valid_end_date"),
      lit(null).cast("string").as("invalid_reason"))

  /** The work concept table as each tree's DDL shapes it: the bigquery
    * `concept_create` carries a leading `concept_id` column (the merge
    * and duplicate-check templates' star-except drops it).
    */
  private[queries] def workConceptTable(dl: Dialect, df: DataFrame): DataFrame =
    dl.pick(df, df.select((lit(0L).as("concept_id") +: df.columns.map(col)): _*))

  /** The second-batch codes (one per REGION row, 5 at every SF) the
    * sequential swap-merge run appends.
    */
  private def regionConceptFixture(s: SparkSession, d: String): DataFrame =
    t(s, d, "region").select(
      col("r_name").as("concept_name"),
      lit("Condition").as("domain_id"),
      lit("LOCAL").as("vocabulary_id"),
      lit("Custom").as("concept_class_id"),
      lit(null).cast("string").as("standard_concept"),
      concat(lit("SRCZ_"), col("r_name")).as("concept_code"),
      date_add(lit(java.sql.Date.valueOf("2000-01-01")),
        (col("r_regionkey") + 30).cast("int")).as("valid_start_date"),
      lit(java.sql.Date.valueOf("2099-12-31")).as("valid_end_date"),
      lit(null).cast("string").as("invalid_reason"))

  /** The published swap flow in `db` over its staged work concept table:
    * `etl/CONCEPT_ID_swap_create.sql.jinja` (SQL Server: `USE`, the
    * `sys.tables` existence probe, CREATE TABLE; BigQuery: `CLUSTER
    * BY`-suffixed guarded DDL) then `etl/CONCEPT_ID_swap_merge.sql.jinja`
    * — the rank-id assignment MERGE (natively `concept_rank_ids` / W2 and
    * the ≥2e9 custom-concept floor, P6). SQL Server's merge scopes a
    * leading `WITH cte_max` over the USING subquery with `INNER JOIN
    * cte_max on 1=1` and a WHEN NOT MATCHED-only clause; BigQuery's keeps
    * its cte INSIDE the USING subquery and inserts with `INSERT ROW`. The
    * templates' own `RANK() OVER (ORDER BY ...)` is a global window —
    * bounded by the batch's NEW codes, the published shape (the
    * achilles105 precedent).
    */
  private[queries] def swapFlow(s: SparkSession, dl: Dialect, db: String): Unit =
    Seq("concept_id_swap_create", "concept_id_swap_merge").foreach { f =>
      OhdsiSql.runTemplate(s, dl, dl.file(f), dl.work(db) ++ CustomConcepts)
    }

  /** Two sequential batches through the verbatim swap flow: batch 1
    * assigns ranks above the 2e9 floor (`cte_max` COALESCEs to
    * `min_custom_concept_id` on the empty table), batch 2 re-stages the
    * work table with five extra codes and re-runs the SAME merge — the
    * anti-join keeps batch-1 ids stable and the new codes rank above
    * `MAX(y)`, the id-growth semantics of the native `swap_append_anti`.
    * Both dialects pin to the same ids.
    */
  private def conceptSwap(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_work_cs1", "graft_bq_cs")
    dropDbs(s, db)
    stage(s, db, "provider__specialty_concept_id_concept", workConceptFixture(s, d))
    swapFlow(s, dl, db)
    stage(s, db, "provider__specialty_concept_id_concept",
      workConceptFixture(s, d).unionByName(regionConceptFixture(s, d)))
    swapFlow(s, dl, db)
    s.table(s"$db.concept_id_swap").orderBy("y")
  }

  /** The standard-concept seed of the OMOP concept table (ids 0..24 from
    * nation), plus ONE pre-existing custom row at the rank-1 id whose
    * stale attributes the verbatim MERGE must overwrite (exercising the
    * WHEN MATCHED branch).
    */
  private[queries] def conceptSeed(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(
      col("n_nationkey").cast("int").as("concept_id"),
      col("n_name").as("concept_name"),
      lit("Condition").as("domain_id"),
      lit("SNOMED").as("vocabulary_id"),
      lit("Clinical Finding").as("concept_class_id"),
      lit("S").as("standard_concept"),
      concat(lit("STD_"), col("n_name")).as("concept_code"),
      lit(java.sql.Date.valueOf("1990-01-01")).as("valid_start_date"),
      lit(java.sql.Date.valueOf("2099-12-31")).as("valid_end_date"),
      lit(null).cast("string").as("invalid_reason"))
      .unionByName(s.range(1).select(
        lit(2000000001).as("concept_id"),
        lit("stale name").as("concept_name"),
        lit("Condition").as("domain_id"),
        lit("LOCAL").as("vocabulary_id"),
        lit("Custom").as("concept_class_id"),
        lit(null).cast("string").as("standard_concept"),
        lit("stale_code").as("concept_code"),
        lit(java.sql.Date.valueOf("1990-01-01")).as("valid_start_date"),
        lit(java.sql.Date.valueOf("2099-12-31")).as("valid_end_date"),
        lit(null).cast("string").as("invalid_reason")))

  /** Verbatim `etl/CONCEPT_merge.sql.jinja` — the custom-concept upsert
    * into the OMOP concept table (natively the custom-concept pipeline,
    * §2.12-2): full WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT MERGE
    * whose USING joins the work concepts to their swap-assigned ids. The
    * shared flow's LAST verbatim step IS the CONCEPT merge — this entry
    * gates the merged concept table it produced.
    */
  val ohdsiSqlConceptMerge: Q = (s, d) => {
    val (_, omopDb) = sharedConceptFlow(s, d)
    s.table(s"$omopDb.concept").orderBy("concept_id")
  }

  /** Verbatim `etl/CONCEPT_custom_validate.sql.jinja` — the referential
    * check of uploaded custom concepts against the OMOP domain /
    * vocabulary / concept_class vocabularies (natively
    * `custom_concept_validate`, J6/A4): three LEFT OUTER JOINs with an
    * any-null WHERE; the `TOP 100` / bare `LIMIT 100` is a no-op on the
    * saturated fixture (12 violating rows at every SF).
    */
  private def customValidate(dl: Dialect): Q = (s, d) => {
    import s.implicits._
    val (work, omop) = dl.pick(("graft_work_cs3", "graft_omop_cs3"), ("graft_bq_cvw", "graft_bq_cvo"))
    dropDbs(s, work, omop)
    stage(s, work, "provider__specialty_concept_id_concept", workConceptFixture(s, d))
    stage(s, omop, "domain",
      Seq("Condition", "Procedure", "Measurement").toDF("domain_id"))
    stage(s, omop, "vocabulary",
      Seq("LOCAL", "SNOMED").toDF("vocabulary_id"))
    stage(s, omop, "concept_class",
      Seq("Clinical Finding", "Custom").toDF("concept_class_id"))
    OhdsiSql.runTemplate(s, dl, dl.file("custom_validate"),
      dl.work(work) ++ dl.omop(omop) ++ CustomConcepts).get
      .orderBy("concept_code")
  }

  /** Verbatim `etl/CONCEPT_custom_validate_duplicates.sql.jinja`
    * (natively A4): concept codes whose DISTINCT attribute rows collide —
    * the fixture plants one code with two names (the BigQuery template
    * reaches the attributes through a qualified star-except).
    */
  private def validateDups(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_work_vd", "graft_bq_vd")
    dropDbs(s, db)
    val rank1Code = workConceptFixture(s, d)
      .agg(min(col("concept_code"))).head().getString(0)
    // plant ONE duplicate: the rank-1 code appears again with a second name
    val dupRow = workConceptFixture(s, d)
      .filter(col("concept_code") === rank1Code)
      .withColumn("concept_name", lit("conflicting name"))
    stage(s, db, "provider__specialty_concept_id_concept",
      workConceptTable(dl, workConceptFixture(s, d).unionByName(dupRow)))
    swapFlow(s, dl, db)
    OhdsiSql.runTemplate(s, dl, dl.file("custom_validate_duplicates"),
      dl.work(db) ++ CustomConcepts).get.orderBy("concept_code")
  }

  // ---- the usagi -> concept -> map chain (published ETL sequence) --------

  /** The usagi fixture (camelCase Usagi CSV shape): even nation keys are
    * APPROVED mappings, odd keys FLAGGED; all conceptIds start unassigned
    * (-1) — the verbatim update template injects the swap-assigned ids.
    */
  private def usagiFixture(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      concat(lit("name "), col("n_name")).as("sourceName"),
      lit(-1).as("conceptId"),
      when(col("n_nationkey") % 2 === 0, lit("APPROVED")).otherwise(lit("FLAGGED"))
        .as("mappingStatus"))

  /** Per-JVM run-once memo for the shared flow: four entries read the
    * SAME staged chain (the alphabetically-first consumer owns the build
    * each run — the r14 run-once discipline; each entry's own mutations
    * target tables no sibling reads).
    */
  private val flowMemo = new graft.io.Stored.Once[String, (String, String)]

  private[queries] def sharedConceptFlow(s: SparkSession, d: String): (String, String) =
    // the staged databases are KEYED BY DATASET: with two datasets
    // interleaved in one JVM, a fixed db name would let dataset A's memo
    // hit read dataset B's re-staged rows (r15 ADVICE)
    flowMemo(d)(stageConceptFlow(s, d, s"csh_${graft.io.Zones.pathKey(d)}"))

  /** Stage + run the published SQL Server custom-concept sequence
    * VERBATIM in a dedicated db pair: work concept upload -> swap
    * create+merge -> usagi id injection
    * (`etl/{omop_table}__{concept_id_column}_usagi_update_custom_concepts
    * .sql.jinja` — natively J10 `update_from_join`: an UPDATE..FROM under
    * a leading CTE whose ON carries the mapping-status restriction,
    * against a three-part catalog target) -> OMOP concept upsert
    * (`CONCEPT_merge`). Every step is the reference's own template text;
    * each caller gets isolated state so the suite is order-independent.
    */
  private def stageConceptFlow(s: SparkSession, d: String, tag: String): (String, String) = {
    val (workDb, omopDb) = (s"graft_work_$tag", s"graft_omop_$tag")
    dropDbs(s, workDb, omopDb)
    stage(s, workDb, "provider__specialty_concept_id_concept", workConceptFixture(s, d))
    swapFlow(s, SqlServer, workDb)
    stage(s, workDb, "provider__specialty_concept_id_usagi", usagiFixture(s, d))
    val vars = SqlServer.work(workDb) ++ SqlServer.omop(omopDb) ++ CustomConcepts ++ ApprovedOnly
    OhdsiSql.runTemplate(s, SqlServer, "usagi_update", vars)
    stage(s, omopDb, "concept", conceptSeed(s, d))
    OhdsiSql.runTemplate(s, SqlServer, "concept_merge", vars)
    (workDb, omopDb)
  }

  val ohdsiSqlUsagiUpdate: Q = (s, d) => {
    val (workDb, _) = sharedConceptFlow(s, d)
    s.table(s"$workDb.provider__specialty_concept_id_usagi").orderBy("sourceCode")
  }

  /** Verbatim `etl/SOURCE_TO_CONCEPT_MAP_merge.sql.jinja` (natively J8
    * `merge_upsert` / the s2cm flow) over the shared verbatim concept
    * chain: full two-clause MERGE (BigQuery: `INSERT ROW`) whose USING
    * joins the id-injected usagi rows to the merged concept table. The
    * template stamps `GETDATE()` / `CURRENT_DATE()` into
    * `valid_start_date` — wall-clock, so that single column is dropped
    * from the gated shape (the dqd_last_runs precedent); everything else
    * hash-gates.
    */
  private def stcmMerge(dl: Dialect): Q = (s, d) => {
    val (workDb, omopDb) = sharedConceptFlow(s, d)
    // pre-seed one stale mapping at the rank-1 custom id so the verbatim
    // MERGE exercises its WHEN MATCHED branch. The seed's key must be the
    // rank-1 code COMPUTED from the data (this universe's nation names
    // are synthetic NATION_*, not TPC-H canon — the r15 fixture lesson)
    val rank1Code = workConceptFixture(s, d)
      .agg(min(col("concept_code"))).head().getString(0)
    stage(s, omopDb, "source_to_concept_map", s.range(1).select(
      lit(rank1Code).as("source_code"),
      lit(99).as("source_concept_id"),
      lit("OLDVOCAB").as("source_vocabulary_id"),
      lit("stale desc").as("source_code_description"),
      lit(2000000001).as("target_concept_id"),
      lit("OLDVOCAB").as("target_vocabulary_id"),
      lit(java.sql.Date.valueOf("1990-01-01")).as("valid_start_date"),
      lit(java.sql.Date.valueOf("1990-01-01")).as("valid_end_date"),
      lit("D").as("invalid_reason")))
    OhdsiSql.runTemplate(s, dl, dl.file("stcm_merge"),
      dl.work(workDb) ++ dl.omop(omopDb) ++ CustomConcepts ++ ApprovedOnly)
    s.table(s"$omopDb.source_to_concept_map")
      .drop("valid_start_date").orderBy("source_code")
  }

  /** Verbatim `etl/SOURCE_ID_TO_OMOP_ID_MAP_merge.sql.jinja` (natively
    * `source_id_map_merge`, §2.12-4): the pk-swap rows upserted into the
    * id map. Same wall-clock column-drop canonicalization as the s2cm
    * merge.
    */
  private def mapMerge(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_cs6", "graft_omop_cs6"), ("graft_bq_mmw", "graft_bq_mmo"))
    dropDbs(s, work, omop)
    stage(s, work, "provider_id_swap", t(s, d, "nation").select(
      concat(lit("PRV_"), col("n_name")).as("x"),
      (col("n_nationkey") + 1).cast("int").as("y"),
      lit("q1").as("source")))
    // pre-seed one stale map row at omop_id 1 (the WHEN MATCHED branch)
    stage(s, omop, "source_id_to_omop_id_map", s.range(1).select(
      lit("provider").as("omop_table"),
      lit(1).as("omop_id"),
      lit("old_source").as("source"),
      lit("stale_x").as("source_id"),
      lit(java.sql.Date.valueOf("1990-01-01")).as("valid_start_date"),
      lit(java.sql.Date.valueOf("1990-01-01")).as("valid_end_date"),
      lit("D").as("invalid_reason")))
    OhdsiSql.runTemplate(s, dl, dl.file("map_merge"), dl.omop(omop) ++ dl.work(work) ++
      Map("omop_table" -> "provider", "primary_key_column" -> "provider_id"))
    s.table(s"$omop.source_id_to_omop_id_map")
      .drop("valid_start_date").orderBy("omop_id")
  }

  /** Verbatim
    * `etl/{omop_table}__{concept_id_column}_usagi_non_standard.sql.jinja`
    * (natively `usagi_nonstandard`, J7): approved mappings whose target
    * concept is NOT a standard concept — an inner join with a
    * cast-in-the-ON and the `<> 'S'` three-valued filter (NULL
    * standard_concept rows drop, the template's own semantics).
    */
  val ohdsiSqlUsagiNonStd: Q = (s, d) => {
    val (workDb, omopDb) = sharedConceptFlow(s, d)
    OhdsiSql.runTemplate(s, SqlServer, "usagi_non_standard",
      SqlServer.work(workDb) ++ SqlServer.omop(omopDb) ++ CustomConcepts ++ ApprovedOnly)
      .get.orderBy("sourceCode")
  }

  // ---- the usagi checks over the saturated usagi fixture -----------------

  /** The shared usagi/concept fixture of the two verbatim check
    * templates below: every column is MODULAR in c_custkey and the usagi
    * table is the DISTINCT of the projection, so the table holds at most
    * lcm(24,7,6,4) = 168 rows at ANY scale factor — the templates' own
    * un-ordered `TOP 100` is then provably a no-op, which is what makes
    * their verbatim output hash-gateable.
    */
  private def stageUsagiFixture(s: SparkSession, d: String): Unit = {
    stage(s, "graft_work", "provider__specialty_concept_id_usagi",
      t(s, d, "customer").select(
        concat(lit("S"), (col("c_custkey") % 24).cast("string")).as("sourceCode"),
        // % 7, COPRIME to the 24 of sourceCode: a modulus dividing 24
        // would make the name functional of the code class and no
        // duplicate could ever form; 24 (not 30) keeps the saturated
        // domain-violation set at 84 rows — inside the template's own
        // un-ordered TOP 100 (this synthetic universe's nations take
        // round-robin regions, so 3 of the 5 joinable concepts are
        // outside the allowed-domain set)
        concat(lit("n"), (col("c_custkey") % 7).cast("string")).as("sourceName"),
        (col("c_custkey") % 6).as("conceptId"),
        when(col("c_custkey") % 4 =!= 0, "APPROVED").otherwise("FLAGGED")
          .as("mappingStatus")).distinct())
    stage(s, "graft_omop", "concept",
      t(s, d, "nation").select(
        col("n_nationkey").as("concept_id"),
        concat(lit("V"), col("n_regionkey").cast("string")).as("vocabulary_id"),
        col("n_name").as("domain_id")))
  }

  private def usagiCheckVars(dl: Dialect): Map[String, String] =
    dl.work("graft_work") ++ dl.omop("graft_omop") ++ CustomConcepts ++ ApprovedOnly

  /** The reference's SOURCE_TO_CONCEPT_MAP duplicate check, VERBATIM
    * (`etl/SOURCE_TO_CONCEPT_MAP_check_for_duplicates.sql.jinja` — the A3
    * operator's published SQL): the s2cm projection with its wall-clock
    * stamp (constant per query, so DISTINCT multiplicity and the output
    * are deterministic — the stamp itself never reaches the output), the
    * APPROVED-only conditional branch, grouped HAVING > 1; SQL Server's
    * `TOP 100`, BigQuery's bare trailing LIMIT.
    */
  private def s2cmDups(dl: Dialect): Q = (s, d) => {
    stageUsagiFixture(s, d)
    OhdsiSql.runTemplate(s, dl, dl.file("s2cm_dups"), usagiCheckVars(dl)).get
      .orderBy("source_code", "target_concept_id")
  }

  /** The reference's usagi domain check, VERBATIM
    * (`etl/{omop_table}__{concept_id_column}_usagi_fk_domain_check
    * .sql.jinja` — the J7 operator's published SQL): the Jinja loop over
    * the allowed domains with `loop.first` comma control, the
    * `cast(u.conceptId as integer)` join with the concept-0 guard, the
    * APPROVED-only branch. The allowed set is fetched driver-side from
    * the concept dimension exactly like the reference's `_get_fk_domains`
    * (`etl_base.py:323-347`).
    */
  val ohdsiSqlUsagiDomainCheck: Q = (s, d) => {
    stageUsagiFixture(s, d)
    val allowed = t(s, d, "nation").filter(col("n_regionkey") < 2)
      .select(lower(col("n_name"))).orderBy("lower(n_name)")
      .collect().map(_.getString(0)).toSeq
    OhdsiSql.runTemplate(s, SqlServer, "usagi_fk_domain_check", usagiCheckVars(SqlServer),
      lists = Map("domains" -> allowed)).get
      .orderBy("sourceCode", "sourceName", "conceptId")
  }

  /** The reference's upload duplicate-row check template, VERBATIM
    * (`etl/{omop_work_table}_merge_check_for_duplicate_rows.sql.jinja` —
    * the A2 operator's own published SQL): Jinja loop over the upload
    * tables with `loop.first` separators, the per-omop-table elif chain,
    * the `not column in events.values()` membership guard (the r15
    * JinjaLite widening), three-part names, `SELECT TOP` (BigQuery: a
    * bare trailing LIMIT and a double-quoted separator) with
    * `STRING_AGG` + HAVING. Two provider uploads (u2 ⊂ u1 by modulus, so
    * the duplicate set is the u2 key set — 41 groups at sf0.01, safely
    * inside the template's own TOP 100). The returned frame canonicalizes
    * ONLY what the published SQL leaves engine-unspecified: STRING_AGG's
    * aggregation order (sorted rejoin) and the row order / count column
    * name — the benchmark-rows precedent for pinning an unhashable facet.
    */
  private def dupRows(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_work", "graft_bq_dr")
    val orders = t(s, d, "orders")
    def upload(m: Long) = orders.filter(col("o_orderkey") % m === 0)
      .select(col("o_orderkey").as("provider_id"),
        (col("o_custkey") % 5).as("specialty_concept_id"))
    stage(s, db, "provider__upload__u1", upload(97L))
    stage(s, db, "provider__upload__u2", upload(1455L))
    val raw = OhdsiSql.runTemplate(s, dl, dl.file("dup_rows"),
      dl.work(db) ++ Map("omop_table" -> "provider", "primary_key_column" -> "provider_id"),
      lists = Map(
        "upload_tables" -> Seq("u1", "u2"),
        "concept_id_columns" -> Seq("specialty_concept_id"),
        "events" -> Seq.empty)).get
    raw.select(
      concat_ws(", ", array_sort(split(col("upload_tables"), ",\\s*")))
        .as("upload_tables"),
      col("provider_id"), col("specialty_concept_id"),
      col(raw.columns.last).as("cnt"))
      .orderBy("provider_id", "specialty_concept_id")
  }

  // ---- the pk-swap flow (W1/§2.12-4): {primary_key_column}_swap_create
  // + _swap_merge --------------------------------------------------------

  /** The provider pk-swap scalars and lists: one specialty concept column
    * mapped through its usagi table, no event columns.
    */
  private def pkSwapVars(dl: Dialect, workDb: String): Map[String, String] =
    dl.work(workDb) ++ ApprovedOnly ++
      Map("omop_table" -> "provider", "primary_key_column" -> "provider_id")
  private val PkSwapLists = Map(
    "concept_id_columns" -> Seq("specialty_concept_id"),
    "events" -> Seq.empty[String],
    "sql_files" -> Seq("provider1", "provider2"),
    "upload_tables" -> Seq("u1", "u2"))

  /** The specialty usagi mappings every pk-swap fixture joins through. */
  private def specialtyUsagi(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      (col("n_nationkey") + 100).cast("int").as("conceptId"),
      lit("APPROVED").as("mappingStatus"))

  /** Verbatim `etl/{primary_key_column}_swap_create.sql.jinja` — the
    * guarded multi-statement DDL block (`IF NOT EXISTS (...) BEGIN
    * CREATE TABLE ...; CREATE INDEX x3; END` — the r15 BEGIN..END-aware
    * splitter, with the per-column Jinja type switch) — and
    * `etl/{primary_key_column}_swap_merge.sql.jinja`, the reference's
    * CORE pk-id assignment (natively W1 `swap_dense_ids` /
    * `swap_merge_append`): the full Jinja surface (set + namespace
    * counters, `upload_tables[loop.index0]`, `column.lower()`,
    * `and`-joined membership conditions — all r15 JinjaLite widenings),
    * a two-CTE prefix scoping over the MERGE USING, per-upload UNION ALL
    * with usagi concept-id joins, and `ROW_NUMBER() + cte_max.y` id
    * growth. The template's global ROW_NUMBER is bounded by the batch's
    * NEW rows (the published shape — the achilles105 precedent).
    *
    * Two upload batches: u1 carries one provider per nation with a
    * mapped specialty source code; u2 one per region, its specialty keyed
    * to a nation code THROUGH THE DATA (r_regionkey -> NATION_<k>) so
    * every concept id resolves and the swap column never holds NULL (a
    * NULL int column would fork the pandas dtype between the engine dump
    * and the DuckDB oracle). A second merge run proves idempotence
    * (anti-join finds nothing new).
    */
  val ohdsiSqlPkSwap: Q = (s, d) => {
    val db = "graft_work_cs8"
    dropDbs(s, db)
    stage(s, db, "provider__upload__u1", t(s, d, "nation").select(
      concat(lit("P_"), col("n_name")).as("provider_id"),
      concat(lit("SRC_"), col("n_name")).as("specialty_concept_id")))
    stage(s, db, "provider__upload__u2", t(s, d, "region")
      .join(t(s, d, "nation"), col("r_regionkey") === col("n_nationkey"))
      .select(
        concat(lit("PZ_"), col("r_name")).as("provider_id"),
        concat(lit("SRC_"), col("n_name")).as("specialty_concept_id")))
    stage(s, db, "provider__specialty_concept_id_usagi", specialtyUsagi(s, d))
    // the merge runs twice — idempotence: the re-run's anti-join finds no
    // new x, ids stay stable
    Seq("pk_swap_create", "pk_swap_merge", "pk_swap_merge").foreach { f =>
      OhdsiSql.runTemplate(s, SqlServer, f, pkSwapVars(SqlServer, db), PkSwapLists)
    }
    s.table(s"$db.provider_id_swap").orderBy("y")
  }

  /** STREAMING continuous ingestion through the PUBLISHED pk-swap merge
    * (r15): upload waves arrive as micro-batches (file source,
    * AvailableNow, one file per trigger in staged mtime order); each
    * foreachBatch stages the wave as the upload work table and runs the
    * VERBATIM `{primary_key_column}_swap_merge.sql.jinja` — the
    * template's own `cte_max` + anti-join make it naturally incremental,
    * so wave N+1's new providers rank ABOVE wave N's ids without any
    * engine-side state. The swap table after both waves pins to a
    * deterministic oracle (wave 0 = nation providers y 1..25, wave 1 =
    * region providers y 26..30): stream == the sequential batch
    * semantics of the published SQL.
    */
  val streamPkSwapMerge: Q = (s, d) => {
    val db = "graft_stream_up"
    dropDbs(s, db)
    val ckpt = StreamingOps.scratchDir(s, "stream_ckpt_pkswap", d)
    val wave0 = t(s, d, "nation").select(
      concat(lit("P_"), col("n_name")).as("provider_id"),
      concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"))
    val wave1 = t(s, d, "region")
      .join(t(s, d, "nation"), col("r_regionkey") === col("n_nationkey"))
      .select(
        concat(lit("PZ_"), col("r_name")).as("provider_id"),
        concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"))
    val stagingDir = StreamingOps.stageFiles(s, "stream_src_pkswap", d,
      Seq("wave0.parquet" -> wave0, "wave1.parquet" -> wave1))
    stage(s, db, "provider__specialty_concept_id_usagi", specialtyUsagi(s, d))
    val vars = pkSwapVars(SqlServer, db)
    val lists = PkSwapLists + ("upload_tables" -> Seq("stream"))
    OhdsiSql.runTemplate(s, SqlServer, "pk_swap_create", vars, lists)
    StreamingOps.drainEach(
      StreamingOps.stagedStream(s, stagingDir, wave0.schema), ckpt) { (batch, id) =>
      stage(s, db, "provider__upload__stream", batch)
      OhdsiSql.runTemplate(s, SqlServer, "pk_swap_merge", vars,
        lists + ("sql_files" -> Seq(s"batch_$id")))
    }
    s.table(s"$db.provider_id_swap").orderBy("y")
  }

  /** THE reference's core ETL load — `etl/{omop_table}_merge.sql.jinja`
    * (230 lines) — run VERBATIM, downstream of the verbatim pk-swap flow:
    * uploads union → usagi concept-id swap join → pk-swap id join →
    * `_source_value` STRING_AGG grouping → windowed duplicate elimination
    * → TRUNCATE + WITH-prefixed INSERT INTO the OMOP table. Exercises the
    * full r15 Jinja grammar (`events.keys()|length > 0 or ...`,
    * `column.endswith(...)`, `column in ["...", ...]` literal lists,
    * parenthesized and/or groups, namespace counters) and the bridge's
    * catalog INSERT. The provider fixture keeps every group single-row,
    * so the template's STRING_AGG is order-free and the output
    * hash-gates.
    *
    * The BIGQUERY tree's chain (`ohdsi_sql_bq_flow`, the reference's
    * PRIMARY backend) runs the same fixture through GoogleSQL whole-path
    * backquotes, `CREATE TABLE IF NOT EXISTS .. CLUSTER BY`, a MERGE
    * whose CTEs live INSIDE the USING subquery, windowed STRING_AGG
    * instead of GROUP BY, `SELECT * EXCEPT(rn)`, and `CREATE OR REPLACE
    * TABLE .. LIKE .. AS ( .. )` — the atomic CTAS-replace that is the
    * reference's own S11 semantics — and pins to the SAME rows.
    */
  private def omopMerge(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_om", "graft_omop_om"), ("graft_bq_work", "graft_bq_omop"))
    dropDbs(s, work, omop)
    stage(s, work, "provider__upload__u1", t(s, d, "nation").select(
      concat(lit("P_"), col("n_name")).as("provider_id"),
      col("n_name").as("provider_name"),
      concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"),
      concat(lit("SV_"), col("n_name")).as("specialty_source_value"),
      (lit(1950) + col("n_nationkey")).cast("int").as("year_of_birth"),
      concat(lit("CS_"), col("n_name")).as("care_site_id")))
    stage(s, work, "provider__upload__u2", t(s, d, "region")
      .join(t(s, d, "nation"), col("r_regionkey") === col("n_nationkey"))
      .select(
        concat(lit("PZ_"), col("r_name")).as("provider_id"),
        col("r_name").as("provider_name"),
        concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"),
        concat(lit("SVZ_"), col("r_name")).as("specialty_source_value"),
        (lit(1980) + col("r_regionkey")).cast("int").as("year_of_birth"),
        concat(lit("CS_"), col("n_name")).as("care_site_id")))
    stage(s, work, "provider__specialty_concept_id_usagi", specialtyUsagi(s, d))
    stage(s, work, "care_site_id_swap", t(s, d, "nation").select(
      concat(lit("CS_"), col("n_name")).as("x"),
      (col("n_nationkey") + 500).cast("int").as("y")))
    // empty OMOP target with the template's column order
    stage(s, omop, "provider", s.range(0).select(
      lit(0).as("provider_id"), lit("").as("provider_name"),
      lit(0).as("specialty_concept_id"), lit("").as("specialty_source_value"),
      lit(0).as("year_of_birth"), lit(0).as("care_site_id")))
    val vars = pkSwapVars(dl, work) ++ dl.omop(omop) ++ CustomConcepts +
      ("pk_auto_numbering" -> "true")
    val lists = PkSwapLists ++ Map(
      "columns" -> Seq("provider_id", "provider_name", "specialty_concept_id",
        "specialty_source_value", "year_of_birth", "care_site_id"),
      "foreign_key_columns" -> Seq("care_site_id"),
      "required_columns" -> Seq("care_site_id"))
    Seq("pk_swap_create", "pk_swap_merge", "omop_table_merge").foreach { f =>
      OhdsiSql.runTemplate(s, dl, dl.file(f), vars, lists)
    }
    s.table(s"$omop.provider").orderBy("provider_id")
  }

  /** The VOCABULARY branch of the verbatim `{omop_table}_merge` template
    * (the published S7/D6 refill semantics — the one template code path
    * the provider entry does not take): dedup'd uploads UNION ALL the
    * PRESERVED standard rows (`vocabulary_concept_id <
    * min_custom_concept_id`). SQL Server truncates a work-side copy,
    * loads it, and copies it back into the OMOP vocabulary; BigQuery
    * writes `CREATE OR REPLACE TABLE omop.vocabulary LIKE .. AS (..)` —
    * reading the REPLACED table inside its own replacement (the
    * materialize-then-swap protocol makes that safe). Same rows.
    */
  private def vocabMerge(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_vm", "graft_omop_vm"), ("graft_bq_vm", "graft_bq_vm_omop"))
    dropDbs(s, work, omop)
    val nat = t(s, d, "nation")
    stage(s, work, "vocabulary__upload__u1", nat.select(
      concat(lit("CUSTOM_"), col("n_name")).as("vocabulary_id"),
      concat(lit("vocab "), col("n_name")).as("vocabulary_name"),
      lit("ref").as("vocabulary_reference"),
      lit("v1").as("vocabulary_version"),
      (col("n_nationkey") + 2000000000L).as("vocabulary_concept_id")))
    // the work-side vocabulary copy the SQL Server template truncates and
    // loads
    if (dl == SqlServer)
      stage(s, work, "vocabulary", s.range(0).select(
        lit("").as("vocabulary_id"), lit("").as("vocabulary_name"),
        lit("").as("vocabulary_reference"), lit("").as("vocabulary_version"),
        lit(0L).as("vocabulary_concept_id")))
    // the OMOP vocabulary: preserved standards (< 2e9) + stale customs the
    // refill replaces
    stage(s, omop, "vocabulary", t(s, d, "region").select(
      col("r_name").as("vocabulary_id"),
      concat(lit("std "), col("r_name")).as("vocabulary_name"),
      lit("ref").as("vocabulary_reference"),
      lit("v0").as("vocabulary_version"),
      col("r_regionkey").cast("long").as("vocabulary_concept_id"))
      .unionByName(nat.limit(3).select(
        concat(lit("STALE_"), col("n_name")).as("vocabulary_id"),
        lit("stale").as("vocabulary_name"),
        lit("ref").as("vocabulary_reference"),
        lit("old").as("vocabulary_version"),
        (col("n_nationkey") + 2000000000L).as("vocabulary_concept_id"))))
    OhdsiSql.runTemplate(s, dl, dl.file("omop_table_merge"),
      dl.work(work) ++ dl.omop(omop) ++ ApprovedOnly ++ Map(
        "omop_table" -> "vocabulary",
        "primary_key_column" -> "vocabulary_id",
        "pk_auto_numbering" -> "", // the vocabulary pk is its natural string id
        "min_custom_concept_id" -> "2000000000"),
      lists = Map(
        "columns" -> Seq("vocabulary_id", "vocabulary_name",
          "vocabulary_reference", "vocabulary_version", "vocabulary_concept_id"),
        "concept_id_columns" -> Seq.empty,
        "foreign_key_columns" -> Seq.empty,
        "required_columns" -> Seq.empty,
        "sql_files" -> Seq("vocab1"),
        "upload_tables" -> Seq("u1")),
      dicts = Map("events" -> Seq.empty))
    s.table(s"$omop.vocabulary").orderBy("vocabulary_id")
  }

  // ---- event columns: get_event_tables / apply_event_columns -------------

  /** The events DICT (event column -> its event-table column) and the
    * event tables (table -> pk) of the fact_relationship path.
    */
  private val FactEventDicts = Map(
    "events" -> Seq(
      "fact_id_1" -> "domain_concept_id_1",
      "fact_id_2" -> "domain_concept_id_2"),
    "event_tables" -> Seq(
      "person" -> "person_id",
      "observation" -> "observation_id"))
  private val FactColumns = Seq("domain_concept_id_1", "fact_id_1",
    "domain_concept_id_2", "fact_id_2", "relationship_concept_id")

  /** The person / observation id swaps the event columns map through. */
  private def stageEventSwaps(s: SparkSession, work: String): Unit = {
    stage(s, work, "person_id_swap", s.range(0, 10).select(
      concat(lit("P_"), col("id").cast("string")).as("x"),
      (col("id") + 1).cast("int").as("y")))
    stage(s, work, "observation_id_swap", s.range(0, 10).select(
      concat(lit("O_"), col("id").cast("string")).as("x"),
      (col("id") + 1001).cast("int").as("y")))
  }

  /** The empty OMOP fact_relationship the event columns land in. */
  private def stageOmopFacts(s: SparkSession, omop: String): Unit =
    stage(s, omop, "fact_relationship", s.range(0).select(
      lit(0).as("domain_concept_id_1"), lit(0).as("fact_id_1"),
      lit(0).as("domain_concept_id_2"), lit(0).as("fact_id_2"),
      lit(0).as("relationship_concept_id")))

  /** A fact_relationship row per order, its two events routed to person
    * or observation by key parity; `relationship` is the last column.
    */
  private def factRows(s: SparkSession, d: String, relationship: org.apache.spark.sql.Column): DataFrame = {
    val k = col("o_orderkey")
    t(s, d, "orders").select(
      when(k % 2 === 0, lit("person")).otherwise(lit("observation"))
        .as("domain_concept_id_1"),
      when(k % 2 === 0, concat(lit("P_"), (k % 5).cast("string")))
        .otherwise(concat(lit("O_"), (k % 5).cast("string"))).as("fact_id_1"),
      when(k % 3 === 0, lit("person")).otherwise(lit("observation"))
        .as("domain_concept_id_2"),
      when(k % 3 === 0, concat(lit("P_"), (k % 7).cast("string")))
        .otherwise(concat(lit("O_"), (k % 7).cast("string"))).as("fact_id_2"),
      relationship.as("relationship_concept_id"))
  }

  /** Verbatim `etl/{omop_table}_get_event_tables.sql.jinja` (natively U4
    * `event_discover_tables`): the Jinja loop iterates the events DICT's
    * `.values()` (the r15 for-over-values widening).
    */
  private def eventTables(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_work_ev", "graft_bq_ev")
    stage(s, db, "fact_relationship", t(s, d, "orders").select(
      when(col("o_orderkey") % 2 === 0, lit("person")).otherwise(lit("observation"))
        .as("fact_id_1_event"),
      when(col("o_orderkey") % 3 === 0, lit("measurement")).otherwise(lit("person"))
        .as("fact_id_2_event")))
    OhdsiSql.runTemplate(s, dl, dl.file("get_event_tables"),
      dl.work(db) + ("omop_table" -> "fact_relationship"),
      lists = Map("events" -> Seq("fact_id_1_event", "fact_id_2_event"))).get
      .orderBy("event_table")
  }

  /** Verbatim `etl/{omop_table}_apply_event_columns.sql.jinja` (215 lines
    * in SQL Server, 190 in the GoogleSQL `CREATE OR REPLACE TABLE .. LIKE
    * .. AS` form; natively J12/W4 `event_apply_columns`) for the
    * fact_relationship path: the events DICT drives `{{events[column]}}`
    * indexing, `(table, key) in event_tables.items()` pair iteration
    * builds one `[<key>_swap]` join per (event column × event table) with
    * a shared namespace counter, the event-concept CASE carries the
    * PUBLISHED per-table concept ids, and `omop_table not in [...]` picks
    * the no-renumber branch — all r15 dict/record Jinja widenings.
    */
  private def applyEvents(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_ae", "graft_omop_ae"), ("graft_bq_ae", "graft_bq_ae_omop"))
    dropDbs(s, work, omop)
    stage(s, work, "fact_relationship",
      factRows(s, d, (lit(44818821) + col("o_orderkey") % 2).cast("int")))
    stageEventSwaps(s, work)
    stageOmopFacts(s, omop)
    OhdsiSql.runTemplate(s, dl, dl.file("apply_event_columns"),
      dl.work(work) ++ dl.omop(omop) + ("omop_table" -> "fact_relationship"),
      lists = Map("columns" -> FactColumns), dicts = FactEventDicts)
    s.table(s"$omop.fact_relationship").orderBy(FactColumns.map(col): _*)
  }

  /** The RENUMBER branch of the verbatim `{omop_table}_apply_event_columns`
    * template (r16 — the `omop_table not in [fact_relationship,
    * episode_event]` path; in GoogleSQL the
    * `cte_events_mapped_to_multiple_rows` / `SELECT * EXCEPT(rn)` /
    * `inner join cte_max_id m on true = true` shapes): when the
    * event-swap projection maps one pk to MULTIPLE rows, row 1 keeps the
    * pk and the rest re-key as `max_id + ROW_NUMBER()` (the W4 semantics,
    * natively `event_rekey`). Fixture: every `% 10 == 0` observation
    * carries TWO work rows — one 'person'-routed, one
    * 'observation'-routed — whose projections differ in the event concept
    * (1147026 vs 1147165) and swap id, so both dialects' dedup windows
    * order deterministically (sql_server sorts all columns; bigquery
    * sorts the concept column) and agree on the kept row.
    */
  private def applyEventsRenumber(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_aer", "graft_omop_aer"), ("graft_bq_aer2", "graft_bq_aer2_omop"))
    dropDbs(s, work, omop)
    val k = col("o_orderkey")
    val base = t(s, d, "orders").select(
      k.as("observation_id"),
      concat(lit("v"), (k % 7).cast("string")).as("value_as_string"),
      concat(lit("P_"), (k % 5).cast("string")).as("observation_event_id"),
      lit("person").as("obs_event_field_concept_id"))
    val dups = t(s, d, "orders").filter(k % 10 === 0).select(
      k.as("observation_id"),
      concat(lit("v"), (k % 7).cast("string")).as("value_as_string"),
      concat(lit("O_"), (k % 7).cast("string")).as("observation_event_id"),
      lit("observation").as("obs_event_field_concept_id"))
    stage(s, work, "observation", base.unionByName(dups))
    stageEventSwaps(s, work)
    stage(s, omop, "observation", s.range(0).select(
      lit(0L).as("observation_id"), lit("").as("value_as_string"),
      lit(0).as("observation_event_id"), lit(0).as("obs_event_field_concept_id")))
    OhdsiSql.runTemplate(s, dl, dl.file("apply_event_columns"),
      dl.work(work) ++ dl.omop(omop) ++
        Map("omop_table" -> "observation", "primary_key_column" -> "observation_id"),
      lists = Map("columns" -> Seq("observation_id", "value_as_string",
        "observation_event_id", "obs_event_field_concept_id")),
      dicts = Map(
        "events" -> Seq("observation_event_id" -> "obs_event_field_concept_id"),
        "event_tables" -> FactEventDicts("event_tables")))
    s.table(s"$omop.observation").orderBy("observation_id")
  }

  /** The EVENTS branch of the verbatim `{omop_table}_merge` — the one
    * merge path still unexercised after provider (scalar) and vocabulary
    * (refill): for an event table the merge TRUNCATEs and loads the
    * WORK-side table (events stay source STRINGS; the usagi join maps
    * relationship_concept_id; dedup partitions on the template's
    * fact_relationship key list), and apply_event_columns later maps
    * work -> omop. This fixture's uploads REPRODUCE the apply-events
    * fixture rows (the merge's dedup only collapses exact duplicate
    * combos, which the apply template's own DISTINCT collapses anyway),
    * so the end of the chain pins to the SAME oracle as
    * `ohdsi_sql_apply_events` — the full published fact_relationship
    * sequence: upload -> merge -> get_event_tables -> apply_event_columns.
    */
  private def factMergeChain(dl: Dialect): Q = (s, d) => {
    val (work, omop) = dl.pick(("graft_work_fc", "graft_omop_fc"), ("graft_bq_fc", "graft_bq_fc_omop"))
    dropDbs(s, work, omop)
    stage(s, work, "fact_relationship__upload__u1",
      factRows(s, d, concat(lit("REL_"), (col("o_orderkey") % 2).cast("string"))))
    stage(s, work, "fact_relationship__relationship_concept_id_usagi",
      s.range(0, 2).select(
        concat(lit("REL_"), col("id").cast("string")).as("sourceCode"),
        (lit(44818821) + col("id")).cast("int").as("conceptId"),
        lit("APPROVED").as("mappingStatus")))
    // the work-side table the merge TRUNCATEs and loads (events as
    // strings, the mapped relationship id as int)
    stage(s, work, "fact_relationship", s.range(0).select(
      lit("").as("domain_concept_id_1"), lit("").as("fact_id_1"),
      lit("").as("domain_concept_id_2"), lit("").as("fact_id_2"),
      lit(0).as("relationship_concept_id")))
    stageEventSwaps(s, work)
    stageOmopFacts(s, omop)
    val vars = dl.work(work) ++ dl.omop(omop) ++ ApprovedOnly ++ Map(
      "omop_table" -> "fact_relationship",
      "primary_key_column" -> "",
      "pk_auto_numbering" -> "",
      "min_custom_concept_id" -> "2000000000")
    val lists = Map(
      "columns" -> FactColumns,
      "concept_id_columns" -> Seq("domain_concept_id_1", "domain_concept_id_2",
        "relationship_concept_id"),
      "foreign_key_columns" -> Seq.empty[String],
      "required_columns" -> Seq.empty[String],
      "sql_files" -> Seq("fact1"),
      "upload_tables" -> Seq("u1"))
    // events branch: TRUNCATE + load the WORK table
    OhdsiSql.runTemplate(s, dl, dl.file("omop_table_merge"), vars, lists, FactEventDicts)
    // the published discovery step: the event tables it finds in the
    // merged work table must be the ones the event_tables dict that
    // apply_event_columns reads maps to their keys
    val discovered = OhdsiSql.runTemplate(s, dl, dl.file("get_event_tables"), vars,
      lists = Map("events" -> Seq("domain_concept_id_1", "domain_concept_id_2"))).get
      .collect().map(r => String.valueOf(r.get(0))).toSet
    val mapped = FactEventDicts("event_tables").map(_._1).toSet
    require(discovered == mapped,
      s"get_event_tables found ${discovered.toSeq.sorted.mkString(", ")}; the event_tables " +
        s"dict maps ${mapped.toSeq.sorted.mkString(", ")} (missing: " +
        s"${(mapped -- discovered).toSeq.sorted.mkString(", ")}; unmapped: " +
        s"${(discovered -- mapped).toSeq.sorted.mkString(", ")})")
    OhdsiSql.runTemplate(s, dl, dl.file("apply_event_columns"), vars, lists, FactEventDicts)
    s.table(s"$omop.fact_relationship").orderBy(FactColumns.map(col): _*)
  }

  // ---- DDL / cleanup / discovery templates -------------------------------

  /** A (table, ordinal, column, type) listing of a staged catalog table —
    * the shape the DDL-template entries gate on.
    */
  private def schemaListing(s: SparkSession, dbTbl: String): DataFrame = {
    import s.implicits._
    val short = dbTbl.split('.').last
    s.table(dbTbl).schema.fields.zipWithIndex.map { case (f, i) =>
      (short, i + 1, f.name, f.dataType.simpleString)
    }.toSeq.toDF("table_name", "ordinal", "column_name", "data_type")
  }

  /** The (table, column-count) inventory of a created CDM schema.
    * `listTables(db)` also returns SESSION temp views (the sys-catalog
    * snapshots another query may have staged) — keep only real tables.
    */
  private def cdmInventory(s: SparkSession, db: String): DataFrame = {
    import s.implicits._
    s.catalog.listTables(db).collect().toSeq
      .filter(_.tableType != "TEMPORARY")
      .map(tb => (tb.name, s.table(s"$db.${tb.name}").schema.length))
      .toDF("table_name", "n_columns").orderBy("table_name")
  }

  /** The FULL published OMOP CDM 5.4 DDL, run verbatim: SQL Server's
    * `ddl/OMOPCDM_sql_server_5.4_ddl.sql.jinja` (599 lines — the dynamic
    * constraint-drop preamble, `DECLARE`/`SELECT +=`/`EXECUTE
    * sp_executesql` over `sys.foreign_keys`, a no-op over Spark's
    * constraint-free catalog; 39 `IF OBJECT_ID .. DROP TABLE` + `CREATE
    * TABLE` pairs with the full T-SQL type surface) or BigQuery's
    * `ddl/OMOPCDM_bigquery_5.4_ddl.sql.jinja` (588 lines — `--HINT
    * DISTRIBUTE ON KEY` headers, lower-case int64/string/datetime types,
    * and a `cluster by` clause per table which the bridge RECORDS as
    * graft.cluster_by so writes keep the published clustering). This is
    * the reference's dialect-NATIVE path — Jinja + driver, no SqlRender.
    * Natively D1 (`cdm_ddl_schemas` from CdmModel metadata); gated on
    * the (table, column-count) inventory of the created schema.
    */
  private def cdm54Ddl(dl: Dialect): Q = (s, _) => {
    val db = dl.pick("graft_omop_cdm54", "graft_bq_cdm54")
    dropDbs(s, db)
    s.sql(s"CREATE DATABASE $db")
    OhdsiSql.runTemplate(s, dl,
      dl.pick("OMOPCDM_sql_server_5.4_ddl", "OMOPCDM_bigquery_5.4_ddl"), dl.omop(db),
      sqlRender = false)
    // the published clustering must be RECORDED, not dropped — fail the
    // entry if the person table lost its cluster keys
    val personKeys = OhdsiSql.tableClusterBy(s, s"$db.person")
    require(personKeys == dl.pick(None, Some(Seq(
      "gender_concept_id", "location_id", "race_concept_id", "person_id"))),
      s"person clustering not recorded: $personKeys")
    cdmInventory(s, db)
  }

  /** Verbatim `ddl/DataQualityDashboard_ddl.sql.jinja` (natively D2):
    * both dashboard tables with their PRIMARY KEY constraints (SQL
    * Server; accepted + ignored) or `{# NOT NULL #}` Jinja comments and
    * CLUSTER BY clauses (BigQuery, whose INT64 -> bigint forks the type
    * listing), gated on the created schema.
    */
  private def dqdDdl(dl: Dialect): Q = (s, _) => {
    val db = dl.pick("graft_dqd_ddl", "graft_bq_dqdd")
    dropDbs(s, db)
    OhdsiSql.runTemplate(s, dl, dl.file("dqd_ddl"), dl.dqd(db), sqlRender = false)
    schemaListing(s, s"$db.dqdashboard_runs")
      .unionByName(schemaListing(s, s"$db.dqdashboard_results"))
      .orderBy("table_name", "ordinal")
  }

  /** Verbatim `ddl/result_table_ddl_{field,concept,table}.sql.jinja`
    * (natively D2): the DQD results DDLs whose published target name is
    * the rendered location itself (SQL Server: the `{{catalog}}.{{schema}}`
    * pair; BigQuery: the dataset path). Gated on the union of the three
    * created schemas.
    */
  private def resultDdl(dl: Dialect): Q = (s, _) => {
    val db = dl.pick("graft_dqd_rt", "graft_bq_rt")
    dropDbs(s, db)
    s.sql(s"CREATE DATABASE $db")
    val kinds = Seq("field", "concept", "table")
    kinds.foreach { v =>
      val target = dl.pick(
        Map("dqd_database_catalog" -> db, "dqd_database_schema" -> s"results_$v"),
        Map("dataset_dqd" -> s"$db.results_$v"))
      OhdsiSql.runTemplate(s, dl, dl.file(s"result_table_ddl_$v"), target, sqlRender = false)
    }
    kinds.map(v => schemaListing(s, s"$db.results_$v")).reduce(_ unionByName _)
      .orderBy("table_name", "ordinal")
  }

  /** Verbatim `ddl/SOURCE_ID_TO_OMOP_ID_MAP_ddl.sql.jinja` (natively D2):
    * SQL Server's `IF OBJECT_ID(...) DROP TABLE`, lower-case `create
    * table` with NOT NULL markers and the `ALTER TABLE ADD CONSTRAINT
    * PRIMARY KEY` statement class (accepted and ignored — no constraints
    * in Spark, D3 n/a by design); BigQuery's INT64 columns + `CLUSTER BY
    * omop_table, omop_id`. A stale table with a DIFFERENT shape is
    * pre-staged, so the DROP branch is real.
    */
  private def mapDdl(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_omop_ddl", "graft_bq_mddl")
    dropDbs(s, db)
    stage(s, db, "source_id_to_omop_id_map",
      t(s, d, "nation").select(col("n_name").as("junk")))
    OhdsiSql.runTemplate(s, dl, dl.file("map_ddl"), dl.omop(db))
    schemaListing(s, s"$db.source_id_to_omop_id_map").orderBy("ordinal")
  }

  /** Verbatim `etl/{omop_table}__{concept_id_column}_usagi_create` +
    * `_concept_create` (natively D4 work-table DDL): SQL Server's guarded
    * BEGIN..END DDL blocks with composite/INCLUDE index statements,
    * BigQuery's `CREATE TABLE IF NOT EXISTS .. CLUSTER BY` with INT64 ids
    * (the usagi table's clustering must be recorded).
    */
  private def workDdlCreate(dl: Dialect): Q = (s, _) => {
    val db = dl.pick("graft_work_ddl", "graft_bq_wddl")
    dropDbs(s, db)
    Seq("usagi_create", "concept_create").foreach { f =>
      OhdsiSql.runTemplate(s, dl, dl.file(f), dl.work(db) ++ CustomConcepts)
    }
    val usagi = s"$db.provider__specialty_concept_id_usagi"
    require(OhdsiSql.tableClusterBy(s, usagi) == dl.pick(None, Some(Seq("sourceCode"))),
      "usagi work table clustering differs from its DDL's CLUSTER BY")
    schemaListing(s, usagi)
      .unionByName(schemaListing(s, s"$db.provider__specialty_concept_id_concept"))
      .orderBy("table_name", "ordinal")
  }

  /** Verbatim `etl/{omop_work}_ddl.sql.jinja` (natively D4 work-table
    * DDL): record-typed columns (CDM datatypes; BigQuery's own type
    * names) with the event-column varchar/STRING override, per-column
    * `not null` markers from `column['isRequired']`, and in BigQuery the
    * `cluster_fields | length > 0` guarded CLUSTER BY.
    */
  private def workTableDdl(dl: Dialect): Q = (s, _) => {
    val db = dl.pick("graft_work_wd", "graft_bq_wtd")
    dropDbs(s, db)
    val cols = SampleColumns.map { c =>
      val typed = dl.pick(c, c + ("cdmDatatype" -> (c("cdmDatatype") match {
        case "integer" => "INT64"
        case v if v.startsWith("varchar") => "STRING"
        case other => other
      })))
      typed + ("isRequired" -> (if (c("cdmFieldName") == "provider_id") "Yes" else "No"))
    }
    OhdsiSql.runTemplate(s, dl, dl.file("work_ddl"), dl.work(db) + ("omop_table" -> "provider"),
      lists = Map("cluster_fields" -> Seq("provider_id")),
      dicts = Map("events" -> Seq.empty),
      records = Map("columns" -> cols))
    require(OhdsiSql.tableClusterBy(s, s"$db.provider") == dl.pick(None, Some(Seq("provider_id"))),
      "work table clustering differs from its DDL's CLUSTER BY")
    schemaListing(s, s"$db.provider").orderBy("ordinal")
  }

  /** Verbatim `cleanup/drop.sql.jinja` — a catalog-table DROP — and
    * `etl/{omop_work}_drop_table.sql.jinja`, the IF EXISTS guarded
    * work-table drop, run TWICE to prove the second pass is the guard's
    * no-op (the probe finds nothing); observed through the verbatim
    * `all_work_table_names` listing.
    */
  val ohdsiSqlDropTable: Q = (s, d) => {
    val db = "graft_work_dp"
    dropDbs(s, db)
    stageWorkTables(s, d, db)
    OhdsiSql.runTemplate(s, SqlServer, "drop",
      SqlServer.work(db) + ("table_name" -> "person__upload__q1"))
    val guarded = SqlServer.work(db) + ("work_table" -> "person__gender_concept_id_usagi")
    OhdsiSql.runTemplate(s, SqlServer, "work_drop_table", guarded)
    OhdsiSql.runTemplate(s, SqlServer, "work_drop_table", guarded) // probe empty: no-op
    OhdsiSql.runTemplate(s, SqlServer, "all_work_table_names", SqlServer.work(db)).get
  }

  /** The complete published CDM 5.4 DDL SUITE verbatim — base DDL plus
    * the primary-keys, indices (incl. CLUSTERED), and foreign-key
    * constraint scripts: constraints and indexes are accepted-and-ignored
    * statement classes (no Spark analogue; D3 n/a by design), so the
    * inventory after all four scripts equals the base DDL's.
    */
  val ohdsiSqlCdm54Full: Q = (s, _) => {
    val db = "graft_omop_cdmf"
    dropDbs(s, db)
    s.sql(s"CREATE DATABASE $db")
    Seq("ddl", "primary_keys", "indices", "constraints").foreach { f =>
      OhdsiSql.runTemplate(s, SqlServer, s"OMOPCDM_sql_server_5.4_$f", SqlServer.omop(db),
        sqlRender = false)
    }
    cdmInventory(s, db)
  }

  /** Verbatim `etl/cdm_metadata_riab_version.sql.jinja` +
    * `cdm_metadata_git_commit_hash.sql.jinja` (natively D7
    * `metadata_version`): the two version-stamping metadata rows (the
    * BigQuery pair with double-quoted GoogleSQL literals and explicit
    * NULL casts); the wall-clock date/datetime columns are dropped from
    * the gated shape (the dqd_last_runs precedent).
    */
  private def metadataRows(dl: Dialect): Q = (s, _) => {
    val riab = OhdsiSql.runTemplate(s, dl, dl.file("metadata_riab"),
      Map("cdm_version" -> "5.4", "riab_version" -> "0.1.0")).get
    val git = OhdsiSql.runTemplate(s, dl, dl.file("metadata_git"),
      Map("cdm_version" -> "5.4", "git_commit_hash" -> "abc123def")).get
    riab.unionByName(git)
      .drop("metadata_date", "metadata_datetime")
      // SQL Server's bare NULLs are untyped (the warehouse types them);
      // parquet cannot store a VOID column, so the gated shape casts them
      // to the CDM metadata column types BigQuery's template casts to
      .withColumn("value_as_concept_id", col("value_as_concept_id").cast("string"))
      .withColumn("value_as_number", col("value_as_number").cast("double"))
      .orderBy("metadata_id")
  }

  /** The sample CDM-folder column metadata (the CdmModel row shape). */
  private val SampleColumns: Seq[Map[String, String]] = Seq(
    Map("cdmFieldName" -> "provider_id", "isPrimaryKey" -> "Yes",
      "isForeignKey" -> "No", "fkTableName" -> "", "cdmDatatype" -> "integer"),
    Map("cdmFieldName" -> "provider_name", "isPrimaryKey" -> "No",
      "isForeignKey" -> "No", "fkTableName" -> "", "cdmDatatype" -> "varchar(255)"),
    Map("cdmFieldName" -> "specialty_concept_id", "isPrimaryKey" -> "No",
      "isForeignKey" -> "Yes", "fkTableName" -> "CONCEPT", "cdmDatatype" -> "integer"),
    Map("cdmFieldName" -> "year_of_birth", "isPrimaryKey" -> "No",
      "isForeignKey" -> "No", "fkTableName" -> "", "cdmDatatype" -> "integer"),
    Map("cdmFieldName" -> "care_site_id", "isPrimaryKey" -> "No",
      "isForeignKey" -> "Yes", "fkTableName" -> "CARE_SITE", "cdmDatatype" -> "integer"))

  /** Where each tree's sample queries read their raw tables: SQL Server's
    * `dbo.raw_<table>`, BigQuery's `<project_raw>.raw_dataset.raw_<table>`.
    */
  private def rawDb(dl: Dialect): String = dl.pick("dbo", "raw_dataset")
  private val RawProject = Map("project_raw" -> "spark_catalog")

  /** Verbatim `cdm_folders/sample_etl_query.sql.jinja` — the S9 user
    * SELECT the reference documents for a CDM folder: record-typed
    * `columns` drive the PK/FK/CONCEPT `_PREQUAL_` prefixes and the
    * per-column CAST to the CDM datatype (BigQuery: through the dict
    * LITERAL `{% set cdmToBigQuertyDataTypes = {...} %}`) — composed into
    * `etl/{omop_table}_{sql_file}_insert.sql.jinja` (natively S10
    * upload-table sink): SQL Server's record-typed column DDL switch
    * (PK/FK/event columns become varchar(255), the rest their CDM
    * datatype), the commented-out index block, and `{{ctes}}` +
    * `{{select_query}}` loaded via catalog INSERT INTO; BigQuery's
    * `CREATE OR REPLACE TABLE .. AS SELECT DISTINCT *` sink.
    */
  private def uploadInsert(dl: Dialect): Q = (s, d) => {
    val db = dl.pick("graft_work_ui", "graft_bq_ui")
    dropDbs(s, db)
    stage(s, rawDb(dl), "raw_provider", t(s, d, "nation").select(
      col("n_nationkey").as("provider_id_column"),
      col("n_name").as("provider_name_column"),
      concat(lit("SPEC_"), (col("n_nationkey") % 4).cast("string"))
        .as("specialty_concept_id_column"),
      (lit(1950) + col("n_nationkey")).cast("int").as("year_of_birth_column"),
      (col("n_nationkey") % 6).as("care_site_id_column")))
    val columns = Map("columns" -> SampleColumns)
    val userSelect = graft.sources.JinjaLite.render(
      OhdsiSql.template(dl.file("sample_etl_query")),
      RawProject + ("omop_table" -> "provider"), records = columns)
    OhdsiSql.runTemplate(s, dl, dl.file("upload_insert"), dl.work(db) ++ Map(
        "upload_table" -> "provider__upload__u1",
        "omop_table" -> "provider",
        "primary_key_column" -> "provider_id",
        "ctes" -> "",
        "select_query" -> userSelect),
      dicts = Map("events" -> Seq.empty), records = columns)
    s.table(s"$db.provider__upload__u1").orderBy("provider_id")
  }

  /** Verbatim `cdm_folders/sample_usagi_query.sql.jinja` (natively A8
    * sourceFrequency): the single-record `concept_column.cdmFieldName`
    * attribute form, GROUP BY aliases, frequency-desc ordering (ties
    * canonicalized by source code after the verbatim run).
    */
  private def sampleUsagi(dl: Dialect): Q = (s, d) => {
    stage(s, rawDb(dl), "raw_provider2", t(s, d, "orders").select(
      concat(lit("SPEC_"), (col("o_orderkey") % 4).cast("string"))
        .as("specialty_concept_id_column"),
      concat(lit("desc "), (col("o_orderkey") % 4).cast("string"))
        .as("specialty_concept_id_column_with_description")))
    OhdsiSql.runTemplate(s, dl, dl.file("sample_usagi_query"), RawProject ++ Map(
      "omop_table" -> "provider2",
      "concept_column.cdmFieldName" -> "specialty_concept_id")).get
      .orderBy(desc("sourceFrequency"), col("sourceCode"))
  }

  /** The r16 SqlRender datepart LONG-TAIL (`weekday`/`dayofyear`/`week`/
    * `millisecond` + DATEDIFF week/millisecond + DATEADD millisecond, all
    * with SQL Server DATEFIRST-7 / boundary-crossing semantics,
    * property-tested in OhdsiSqlPropSpec): no template in the vendored
    * reference tree reaches these units (the DataQualityDashboard
    * submodule is a stub — its check SQL is not vendored), so this entry
    * drives the widened grammar with an OHDSI-dialect analysis query of
    * the published checks' shape over the events table — demand-named
    * rather than vendored (the r15 VERDICT's item-5 discipline: each
    * widening ships with a green entry naming it).
    */
  private val DatepartTailSql =
    """SELECT DATEPART(weekday, ts) AS weekday_num,
      |  COUNT_BIG(*) AS n_events,
      |  SUM(IIF(DATEPART(millisecond, ts) < 500, 1, 0)) AS n_low_ms,
      |  MIN(DATEPART(dayofyear, ts)) AS min_doy,
      |  MAX(DATEPART(week, ts)) AS max_week,
      |  MAX(DATEDIFF(week, CAST('2020-01-05' AS DATE), ts)) AS max_weeks_since,
      |  MAX(DATEDIFF(millisecond, CAST('2020-01-01' AS DATE), ts)) AS max_ms_since,
      |  MAX(DATEADD(millisecond, 250, ts)) AS max_shifted_ts
      |FROM ohdsi_events_v
      |GROUP BY DATEPART(weekday, ts)
      |ORDER BY weekday_num""".stripMargin

  val ohdsiSqlDatepartTail: Q = (s, d) => {
    t(s, d, "events").createOrReplaceTempView("ohdsi_events_v")
    OhdsiSql.execute(s, DatepartTailSql)
  }

  /** Dialect twins, one function each: `name -> f` registers
    * `ohdsi_sql_<name>` as `f(SqlServer)` and `ohdsi_sql_bq_<name>` as
    * `f(BigQuery)`.
    */
  private val twins: Seq[(String, Dialect => Q)] = Seq(
    "stcm_invalidate" -> stcmInvalidate,
    "map_invalidate" -> mapInvalidate,
    "get_dqd_run" -> getDqdRun,
    "last_dqd_runs" -> lastDqdRuns,
    "dqd_run_results" -> dqdRunResults,
    "work_tables" -> workTables,
    "map_cleanup" -> mapCleanup,
    "s2cm_remove" -> s2cmRemove,
    "concept_remove" -> conceptRemove,
    "vocab_cleanup" -> vocabCleanup,
    "concept_swap" -> conceptSwap,
    "custom_validate" -> customValidate,
    "validate_dups" -> validateDups,
    "stcm_merge" -> stcmMerge,
    "map_merge" -> mapMerge,
    "s2cm_dups" -> s2cmDups,
    "dup_rows" -> dupRows,
    "vocab_merge" -> vocabMerge,
    "event_tables" -> eventTables,
    "apply_events" -> applyEvents,
    "apply_events_renumber" -> applyEventsRenumber,
    "fact_merge_chain" -> factMergeChain,
    "cdm54_ddl" -> cdm54Ddl,
    "dqd_ddl" -> dqdDdl,
    "result_ddl" -> resultDdl,
    "map_ddl" -> mapDdl,
    "work_ddl_create" -> workDdlCreate,
    "work_table_ddl" -> workTableDdl,
    "metadata_rows" -> metadataRows,
    "upload_insert" -> uploadInsert,
    "sample_usagi" -> sampleUsagi)

  val defs: Seq[(String, Q)] = twins.flatMap { case (n, f) =>
    Seq(s"ohdsi_sql_$n" -> f(SqlServer), s"ohdsi_sql_bq_$n" -> f(BigQuery))
  } ++ Seq(
    // the core-merge chain's BigQuery twin predates the naming rule
    "ohdsi_sql_omop_merge" -> omopMerge(SqlServer),
    "ohdsi_sql_bq_flow" -> omopMerge(BigQuery),
    "ohdsi_sql_cdm54_full" -> ohdsiSqlCdm54Full,
    "ohdsi_sql_drop_table" -> ohdsiSqlDropTable,
    "ohdsi_sql_pk_swap" -> ohdsiSqlPkSwap,
    "stream_pk_swap_merge" -> streamPkSwapMerge,
    "ohdsi_sql_usagi_update" -> ohdsiSqlUsagiUpdate,
    "ohdsi_sql_usagi_nonstd" -> ohdsiSqlUsagiNonStd,
    "ohdsi_sql_usagi_domain_check" -> ohdsiSqlUsagiDomainCheck,
    "ohdsi_sql_concept_merge" -> ohdsiSqlConceptMerge,
    "ohdsi_sql_datepart_tail" -> ohdsiSqlDatepartTail)

  /** The re-keying branch's expected rows — shared by both dialects'
    * renumber entries (they must agree on the kept row; lazy: the r9
    * object-init-order trap).
    */
  private[queries] lazy val ApplyEventsRenumberOracle =
    """WITH mx AS (SELECT max(o_orderkey) AS max_id FROM orders),
      |kept AS (
      |  SELECT o_orderkey AS observation_id,
      |    'v' || CAST(o_orderkey % 7 AS VARCHAR) AS value_as_string,
      |    CAST(o_orderkey % 5 + 1 AS BIGINT) AS observation_event_id,
      |    CAST(1147026 AS BIGINT) AS obs_event_field_concept_id
      |  FROM orders
      |),
      |rekeyed AS (
      |  SELECT CAST(mx.max_id + row_number() OVER (ORDER BY o_orderkey) AS BIGINT)
      |      AS observation_id,
      |    'v' || CAST(o_orderkey % 7 AS VARCHAR) AS value_as_string,
      |    CAST(o_orderkey % 7 + 1001 AS BIGINT) AS observation_event_id,
      |    CAST(1147165 AS BIGINT) AS obs_event_field_concept_id
      |  FROM orders, mx WHERE o_orderkey % 10 = 0
      |)
      |SELECT * FROM kept UNION ALL SELECT * FROM rekeyed
      |ORDER BY observation_id""".stripMargin

  /** The deterministic runs fixture, mirrored in DuckDB. */
  private[queries] val DqdRunsOracle =
    """SELECT printf('run-%02d', id) AS id,
      |  TIMESTAMP '2026-01-01 00:00:00' + to_hours(id) AS startTimestamp,
      |  TIMESTAMP '2026-01-01 00:00:00' + to_minutes(id * 60 + 10) AS endTimestamp,
      |  '10 minutes' AS executionTime,
      |  CAST(26 AS BIGINT) AS checks_total,
      |  CAST(id % 3 AS BIGINT) AS checks_failed
      |FROM range(1, 21) t(id)""".stripMargin

  /** The swap-rank id assignment, mirrored in DuckDB (shared by the
    * usagi/stcm/nonstd oracles). Lazy: object-init order (the r9 trap).
    */
  private lazy val RankedCte =
    """SELECT n_nationkey, n_name, concat('SRC_', n_name) AS code,
      |    CAST(2000000000 + rank() OVER (ORDER BY concat('SRC_', n_name)) AS BIGINT) AS cid
      |  FROM nation""".stripMargin

  /** The 39-table column inventory of the published CDM 5.4 DDL. */
  private[queries] val Cdm54InventoryOracle =
    """SELECT table_name, n_columns FROM (VALUES
          |  ('care_site', 6), ('cdm_source', 11), ('cohort', 4),
          |  ('cohort_definition', 7), ('concept', 10), ('concept_ancestor', 4),
          |  ('concept_class', 3), ('concept_relationship', 6),
          |  ('concept_synonym', 3), ('condition_era', 6),
          |  ('condition_occurrence', 16), ('cost', 22), ('death', 7),
          |  ('device_exposure', 19), ('domain', 3), ('dose_era', 7),
          |  ('drug_era', 7), ('drug_exposure', 23), ('drug_strength', 12),
          |  ('episode', 13), ('episode_event', 3), ('fact_relationship', 5),
          |  ('location', 12), ('measurement', 23), ('metadata', 9),
          |  ('note', 16), ('note_nlp', 14), ('observation', 21),
          |  ('observation_period', 5), ('payer_plan_period', 17),
          |  ('person', 18), ('procedure_occurrence', 16), ('provider', 13),
          |  ('relationship', 6), ('source_to_concept_map', 9),
          |  ('specimen', 15), ('visit_detail', 19), ('visit_occurrence', 17),
          |  ('vocabulary', 5)
          |) AS t(table_name, n_columns) ORDER BY table_name""".stripMargin

  /** Both dialect trees' core-merge chains pin to the SAME rows. */
  private[queries] lazy val OmopMergeExpectedOracle =
    """WITH src AS (
          |  SELECT concat('P_', n_name) AS x, n_name AS provider_name,
          |    CAST(n_nationkey + 100 AS BIGINT) AS specialty_concept_id,
          |    concat('SV_', n_name) AS specialty_source_value,
          |    CAST(1950 + n_nationkey AS BIGINT) AS year_of_birth,
          |    CAST(n_nationkey + 500 AS BIGINT) AS care_site_id
          |  FROM nation
          |  UNION ALL
          |  SELECT concat('PZ_', r_name) AS x, r_name AS provider_name,
          |    CAST(r_regionkey + 100 AS BIGINT) AS specialty_concept_id,
          |    concat('SVZ_', r_name) AS specialty_source_value,
          |    CAST(1980 + r_regionkey AS BIGINT) AS year_of_birth,
          |    CAST(r_regionkey + 500 AS BIGINT) AS care_site_id
          |  FROM region
          |)
          |SELECT CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS provider_id,
          |  provider_name, specialty_concept_id, specialty_source_value,
          |  year_of_birth, care_site_id
          |FROM src ORDER BY provider_id""".stripMargin

  /** Both dialects' concept-swap chains pin to the SAME ids. */
  private[queries] lazy val ConceptSwapExpectedOracle =
    """WITH b1 AS (
          |  SELECT 'specialty_concept_id__SRC_' || n_name AS x,
          |    CAST(2000000000 + rank() OVER (ORDER BY ('SRC_' || n_name)) AS BIGINT) AS y
          |  FROM nation
          |), b2 AS (
          |  SELECT 'specialty_concept_id__SRCZ_' || r_name AS x,
          |    CAST(2000000000 + (SELECT count(*) FROM nation)
          |      + rank() OVER (ORDER BY ('SRCZ_' || r_name)) AS BIGINT) AS y
          |  FROM region
          |)
          |SELECT x, y FROM b1 UNION ALL SELECT x, y FROM b2 ORDER BY y""".stripMargin

  /** Both dialects' CONCEPT merges pin to the SAME rows. */
  private[queries] lazy val ConceptMergeExpectedOracle =
    """WITH customs AS (
          |  SELECT CAST(2000000000 + rank() OVER (ORDER BY ('SRC_' || n_name)) AS BIGINT) AS concept_id,
          |    n_name AS concept_name,
          |    (['Condition','Procedure','Measurement','BadDomain'])[CAST(n_nationkey % 4 AS INT) + 1] AS domain_id,
          |    (['LOCAL','SNOMED'])[CAST(n_nationkey % 2 AS INT) + 1] AS vocabulary_id,
          |    (['Clinical Finding','Custom','Unknown Class'])[CAST(n_nationkey % 3 AS INT) + 1] AS concept_class_id,
          |    CASE WHEN n_nationkey % 5 = 0 THEN 'S' WHEN n_nationkey % 5 = 1 THEN 'C' ELSE NULL END AS standard_concept,
          |    'SRC_' || n_name AS concept_code,
          |    DATE '2000-01-01' + CAST(n_nationkey AS INT) AS valid_start_date,
          |    DATE '2099-12-31' AS valid_end_date,
          |    CAST(NULL AS VARCHAR) AS invalid_reason
          |  FROM nation
          |), standards AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS concept_id, n_name AS concept_name,
          |    'Condition' AS domain_id, 'SNOMED' AS vocabulary_id,
          |    'Clinical Finding' AS concept_class_id, 'S' AS standard_concept,
          |    'STD_' || n_name AS concept_code,
          |    DATE '1990-01-01' AS valid_start_date, DATE '2099-12-31' AS valid_end_date,
          |    CAST(NULL AS VARCHAR) AS invalid_reason
          |  FROM nation
          |)
          |SELECT * FROM standards UNION ALL SELECT * FROM customs ORDER BY concept_id""".stripMargin

  /** The fact_relationship event-swap rows — shared by the apply
    * entry and the full published chain (lazy: the r9 init trap). */
  private[queries] lazy val ApplyEventsExpectedOracle =
    """SELECT DISTINCT
      |  CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1147026 ELSE 1147165 END AS BIGINT)
      |    AS domain_concept_id_1,
      |  CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 5 + 1
      |    ELSE o_orderkey % 5 + 1001 END AS BIGINT) AS fact_id_1,
      |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 1147026 ELSE 1147165 END AS BIGINT)
      |    AS domain_concept_id_2,
      |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 7 + 1
      |    ELSE o_orderkey % 7 + 1001 END AS BIGINT) AS fact_id_2,
      |  CAST(44818821 + o_orderkey % 2 AS BIGINT) AS relationship_concept_id
      |FROM orders
      |ORDER BY domain_concept_id_1, fact_id_1, domain_concept_id_2,
      |  fact_id_2, relationship_concept_id""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "ohdsi_sql_bq_usagi_update" -> {
      s"""WITH ranked AS (
         |  $RankedCte
         |)
         |SELECT code AS sourceCode, concat('name ', n_name) AS sourceName,
         |  CASE WHEN n_nationkey % 2 = 0 THEN cid ELSE 0 END AS conceptId,
         |  CASE WHEN n_nationkey % 2 = 0 THEN 'APPROVED' ELSE 'FLAGGED' END AS mappingStatus
         |FROM ranked ORDER BY sourceCode""".stripMargin
    },
    "ohdsi_sql_bq_usagi_checks" -> {
      s"""WITH ranked AS (
         |  $RankedCte
         |)
         |SELECT 'non_standard' AS "check", code AS sourceCode,
         |  cid AS conceptId, 'C' AS detail
         |FROM ranked WHERE n_nationkey % 2 = 0 AND n_nationkey % 5 = 1
         |UNION ALL
         |SELECT 'domain' AS "check", code AS sourceCode,
         |  cid AS conceptId, 'Measurement' AS detail
         |FROM ranked WHERE n_nationkey % 2 = 0 AND n_nationkey % 4 = 2
         |ORDER BY "check", sourceCode""".stripMargin
    },
    "ohdsi_sql_bq_dup_rows" ->
      """WITH up AS (
        |  SELECT DISTINCT o_orderkey AS provider_id,
        |    o_custkey % 5 AS specialty_concept_id, 'u1' AS upload_table
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT DISTINCT o_orderkey, o_custkey % 5, 'u2'
        |  FROM orders WHERE o_orderkey % 1455 = 0
        |)
        |SELECT array_to_string(list_sort(list(upload_table)), ', ') AS upload_tables,
        |  provider_id, specialty_concept_id, CAST(count(*) AS BIGINT) AS cnt
        |FROM up GROUP BY provider_id, specialty_concept_id
        |HAVING count(*) > 1
        |ORDER BY provider_id, specialty_concept_id
        |LIMIT 100""".stripMargin,
    "ohdsi_sql_s2cm_remove" ->
      """SELECT concat('SRC_', n_name) AS source_code,
        |  CAST(n_nationkey + 100 AS BIGINT) AS target_concept_id,
        |  'keepable' AS source_code_description
        |FROM nation WHERE n_nationkey % 3 <> 0 ORDER BY source_code""".stripMargin,
    "ohdsi_sql_concept_remove" ->
      """SELECT * FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS concept_id, n_name AS concept_name
        |  FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS concept_id,
        |    concat('CUSTOM_', n_name) AS concept_name
        |  FROM nation WHERE n_nationkey % 2 = 1
        |) t ORDER BY concept_id""".stripMargin,
    "ohdsi_sql_result_ddl" ->
      """SELECT * FROM (VALUES
        |  ('results_field', 1, 'num_violated_rows', 'bigint'),
        |  ('results_field', 2, 'pct_violated_rows', 'double'),
        |  ('results_field', 3, 'num_denominator_rows', 'bigint'),
        |  ('results_field', 4, 'execution_time', 'string'),
        |  ('results_field', 5, 'query_text', 'string'),
        |  ('results_field', 6, 'check_name', 'string'),
        |  ('results_field', 7, 'check_level', 'string'),
        |  ('results_field', 8, 'check_description', 'string'),
        |  ('results_field', 9, 'cdm_table_name', 'string'),
        |  ('results_field', 10, 'cdm_field_name', 'string'),
        |  ('results_field', 11, 'sql_file', 'string'),
        |  ('results_field', 12, 'category', 'string'),
        |  ('results_field', 13, 'subcategory', 'string'),
        |  ('results_field', 14, 'context', 'string'),
        |  ('results_field', 15, 'checkid', 'string'),
        |  ('results_field', 16, 'is_error', 'int'),
        |  ('results_field', 17, 'not_applicable', 'int'),
        |  ('results_field', 18, 'failed', 'int'),
        |  ('results_field', 19, 'passed', 'int'),
        |  ('results_field', 20, 'not_applicable_reason', 'string'),
        |  ('results_field', 21, 'threshold_value', 'int'),
        |  ('results_field', 22, 'notes_value', 'string'),
        |  ('results_field', 23, 'x_row', 'string'),
        |  ('results_concept', 1, 'num_violated_rows', 'bigint'),
        |  ('results_concept', 2, 'pct_violated_rows', 'double'),
        |  ('results_concept', 3, 'num_denominator_rows', 'bigint'),
        |  ('results_concept', 4, 'execution_time', 'string'),
        |  ('results_concept', 5, 'query_text', 'string'),
        |  ('results_concept', 6, 'check_name', 'string'),
        |  ('results_concept', 7, 'check_level', 'string'),
        |  ('results_concept', 8, 'check_description', 'string'),
        |  ('results_concept', 9, 'cdm_table_name', 'string'),
        |  ('results_concept', 10, 'sql_file', 'string'),
        |  ('results_concept', 11, 'category', 'string'),
        |  ('results_concept', 12, 'subcategory', 'string'),
        |  ('results_concept', 13, 'context', 'string'),
        |  ('results_concept', 14, 'checkid', 'string'),
        |  ('results_concept', 15, 'is_error', 'int'),
        |  ('results_concept', 16, 'not_applicable', 'int'),
        |  ('results_concept', 17, 'failed', 'int'),
        |  ('results_concept', 18, 'passed', 'int'),
        |  ('results_concept', 19, 'not_applicable_reason', 'string'),
        |  ('results_concept', 20, 'threshold_value', 'int'),
        |  ('results_concept', 21, 'notes_value', 'string'),
        |  ('results_concept', 22, 'x_row', 'string'),
        |  ('results_concept', 23, 'cdm_field_name', 'string'),
        |  ('results_concept', 24, 'error', 'string'),
        |  ('results_concept', 25, 'concept_id', 'string'),
        |  ('results_concept', 26, 'unit_concept_id', 'string'),
        |  ('results_table', 1, 'num_violated_rows', 'bigint'),
        |  ('results_table', 2, 'pct_violated_rows', 'double'),
        |  ('results_table', 3, 'num_denominator_rows', 'bigint'),
        |  ('results_table', 4, 'execution_time', 'string'),
        |  ('results_table', 5, 'query_text', 'string'),
        |  ('results_table', 6, 'check_name', 'string'),
        |  ('results_table', 7, 'check_level', 'string'),
        |  ('results_table', 8, 'check_description', 'string'),
        |  ('results_table', 9, 'cdm_table_name', 'string'),
        |  ('results_table', 10, 'sql_file', 'string'),
        |  ('results_table', 11, 'category', 'string'),
        |  ('results_table', 12, 'subcategory', 'string'),
        |  ('results_table', 13, 'context', 'string'),
        |  ('results_table', 14, 'checkid', 'string'),
        |  ('results_table', 15, 'is_error', 'int'),
        |  ('results_table', 16, 'not_applicable', 'int'),
        |  ('results_table', 17, 'failed', 'int'),
        |  ('results_table', 18, 'passed', 'int'),
        |  ('results_table', 19, 'not_applicable_reason', 'string'),
        |  ('results_table', 20, 'threshold_value', 'int'),
        |  ('results_table', 21, 'notes_value', 'string'),
        |  ('results_table', 22, 'x_row', 'string')
        |) AS t(table_name, ordinal, column_name, data_type)
        |ORDER BY table_name, ordinal""".stripMargin,
    "ohdsi_sql_metadata_rows" ->
      """SELECT * FROM (VALUES
        |  ('GIT_VERSION', 'GIT_OMOPCDM5.4', 'GIT_EHR',
        |   'Git commit hash of the CDM folder', 'abc123def',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)),
        |  ('RIAB_VERSION', 'RIAB_OMOPCDM5.4', 'RIAB_EHR',
        |   'Rabbit-in-a-Blender version', '0.1.0',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE))
        |) AS t(metadata_id, metadata_concept_id, metadata_type_concept_id,
        |       name, value_as_string, value_as_concept_id, value_as_number)
        |ORDER BY metadata_id""".stripMargin,
    "ohdsi_sql_upload_insert" ->
      """SELECT concat('PK_PREQUAL_', CAST(n_nationkey AS VARCHAR)) AS provider_id,
        |  n_name AS provider_name,
        |  concat('CONCEPT_PREQUAL_SPEC_', CAST(n_nationkey % 4 AS VARCHAR)) AS specialty_concept_id,
        |  CAST(1950 + n_nationkey AS INT) AS year_of_birth,
        |  concat('FK_PREQUAL_', CAST(n_nationkey % 6 AS VARCHAR)) AS care_site_id
        |FROM nation ORDER BY provider_id""".stripMargin,
    "ohdsi_sql_sample_usagi" ->
      """SELECT concat('CONCEPT_PREQUAL_SPEC_', CAST(o_orderkey % 4 AS VARCHAR)) AS sourceCode,
        |  concat('desc ', CAST(o_orderkey % 4 AS VARCHAR)) AS sourceName,
        |  CAST(count(*) AS BIGINT) AS sourceFrequency
        |FROM orders GROUP BY sourceCode, sourceName
        |ORDER BY sourceFrequency DESC, sourceCode""".stripMargin,
        "ohdsi_sql_apply_events" -> ApplyEventsExpectedOracle,
    "ohdsi_sql_omop_merge" -> OmopMergeExpectedOracle,
    "ohdsi_sql_bq_flow" -> OmopMergeExpectedOracle,
    "ohdsi_sql_cdm54_full" -> Cdm54InventoryOracle,
    "ohdsi_sql_validate_dups" ->
      """SELECT concat('SRC_', min(n_name)) AS concept_code,
        |  CAST(2 AS BIGINT) AS amount
        |FROM nation""".stripMargin,
    "ohdsi_sql_work_table_ddl" ->
      """SELECT * FROM (VALUES
        |  ('provider', 1, 'provider_id', 'int'),
        |  ('provider', 2, 'provider_name', 'string'),
        |  ('provider', 3, 'specialty_concept_id', 'int'),
        |  ('provider', 4, 'year_of_birth', 'int'),
        |  ('provider', 5, 'care_site_id', 'int')
        |) AS t(table_name, ordinal, column_name, data_type) ORDER BY ordinal""".stripMargin,
    "ohdsi_sql_cdm54_ddl" -> Cdm54InventoryOracle,
    "ohdsi_sql_dqd_ddl" ->
      """SELECT * FROM (VALUES
        |  ('dqdashboard_results', 1, 'run_id', 'string'),
        |  ('dqdashboard_results', 2, 'checkid', 'string'),
        |  ('dqdashboard_results', 3, 'num_violated_rows', 'int'),
        |  ('dqdashboard_results', 4, 'pct_violated_rows', 'double'),
        |  ('dqdashboard_results', 5, 'num_denominator_rows', 'int'),
        |  ('dqdashboard_results', 6, 'execution_time', 'string'),
        |  ('dqdashboard_results', 7, 'query_text', 'string'),
        |  ('dqdashboard_results', 8, 'check_name', 'string'),
        |  ('dqdashboard_results', 9, 'check_level', 'string'),
        |  ('dqdashboard_results', 10, 'check_description', 'string'),
        |  ('dqdashboard_results', 11, 'cdm_table_name', 'string'),
        |  ('dqdashboard_results', 12, 'cdm_field_name', 'string'),
        |  ('dqdashboard_results', 13, 'concept_id', 'string'),
        |  ('dqdashboard_results', 14, 'unit_concept_id', 'string'),
        |  ('dqdashboard_results', 15, 'sql_file', 'string'),
        |  ('dqdashboard_results', 16, 'category', 'string'),
        |  ('dqdashboard_results', 17, 'subcategory', 'string'),
        |  ('dqdashboard_results', 18, 'context', 'string'),
        |  ('dqdashboard_results', 19, 'warning', 'string'),
        |  ('dqdashboard_results', 20, 'error', 'string'),
        |  ('dqdashboard_results', 21, 'failed', 'int'),
        |  ('dqdashboard_results', 22, 'threshold_value', 'int'),
        |  ('dqdashboard_results', 23, 'notes_value', 'string'),
        |  ('dqdashboard_runs', 1, 'id', 'string'),
        |  ('dqdashboard_runs', 2, 'startTimestamp', 'timestamp'),
        |  ('dqdashboard_runs', 3, 'endTimestamp', 'timestamp'),
        |  ('dqdashboard_runs', 4, 'executionTime', 'string'),
        |  ('dqdashboard_runs', 5, 'countTotal', 'int'),
        |  ('dqdashboard_runs', 6, 'countThresholdFailed', 'int'),
        |  ('dqdashboard_runs', 7, 'countErrorFailed', 'int'),
        |  ('dqdashboard_runs', 8, 'countOverallFailed', 'int'),
        |  ('dqdashboard_runs', 9, 'countPassed', 'int'),
        |  ('dqdashboard_runs', 10, 'percentPassed', 'int'),
        |  ('dqdashboard_runs', 11, 'percentFailed', 'int'),
        |  ('dqdashboard_runs', 12, 'countTotalPlausibility', 'int'),
        |  ('dqdashboard_runs', 13, 'countTotalConformance', 'int'),
        |  ('dqdashboard_runs', 14, 'countTotalCompleteness', 'int'),
        |  ('dqdashboard_runs', 15, 'countFailedPlausibility', 'int'),
        |  ('dqdashboard_runs', 16, 'countFailedConformance', 'int'),
        |  ('dqdashboard_runs', 17, 'countFailedCompleteness', 'int'),
        |  ('dqdashboard_runs', 18, 'countPassedPlausibility', 'int'),
        |  ('dqdashboard_runs', 19, 'countPassedConformance', 'int'),
        |  ('dqdashboard_runs', 20, 'countPassedCompleteness', 'int')
        |) AS t(table_name, ordinal, column_name, data_type)
        |ORDER BY table_name, ordinal""".stripMargin,
    "ohdsi_sql_dqd_run_results" ->
      """SELECT 'run-07' AS run_id, printf('check_%02d', id) AS checkid,
        |  CAST(id % 5 = 0 AS BIGINT) AS failed,
        |  CAST(id * 3 AS BIGINT) AS num_violated_rows
        |FROM range(1, 27) t(id) WHERE id % 2 = 0 ORDER BY checkid""".stripMargin,
    "ohdsi_sql_map_ddl" ->
      """SELECT * FROM (VALUES
        |  ('source_id_to_omop_id_map', 1, 'omop_table', 'string'),
        |  ('source_id_to_omop_id_map', 2, 'omop_id', 'int'),
        |  ('source_id_to_omop_id_map', 3, 'source', 'string'),
        |  ('source_id_to_omop_id_map', 4, 'source_id', 'string'),
        |  ('source_id_to_omop_id_map', 5, 'valid_start_date', 'date'),
        |  ('source_id_to_omop_id_map', 6, 'valid_end_date', 'date'),
        |  ('source_id_to_omop_id_map', 7, 'invalid_reason', 'string')
        |) AS t(table_name, ordinal, column_name, data_type) ORDER BY ordinal""".stripMargin,
    "ohdsi_sql_work_ddl_create" ->
      """SELECT * FROM (VALUES
        |  ('provider__specialty_concept_id_concept', 1, 'concept_id', 'int'),
        |  ('provider__specialty_concept_id_concept', 2, 'concept_name', 'string'),
        |  ('provider__specialty_concept_id_concept', 3, 'domain_id', 'string'),
        |  ('provider__specialty_concept_id_concept', 4, 'vocabulary_id', 'string'),
        |  ('provider__specialty_concept_id_concept', 5, 'concept_class_id', 'string'),
        |  ('provider__specialty_concept_id_concept', 6, 'standard_concept', 'string'),
        |  ('provider__specialty_concept_id_concept', 7, 'concept_code', 'string'),
        |  ('provider__specialty_concept_id_concept', 8, 'valid_start_date', 'date'),
        |  ('provider__specialty_concept_id_concept', 9, 'valid_end_date', 'date'),
        |  ('provider__specialty_concept_id_concept', 10, 'invalid_reason', 'string'),
        |  ('provider__specialty_concept_id_usagi', 1, 'sourceCode', 'string'),
        |  ('provider__specialty_concept_id_usagi', 2, 'sourceName', 'string'),
        |  ('provider__specialty_concept_id_usagi', 3, 'mappingStatus', 'string'),
        |  ('provider__specialty_concept_id_usagi', 4, 'conceptId', 'int'),
        |  ('provider__specialty_concept_id_usagi', 5, 'conceptName', 'string'),
        |  ('provider__specialty_concept_id_usagi', 6, 'domainId', 'string')
        |) AS t(table_name, ordinal, column_name, data_type)
        |ORDER BY table_name, ordinal""".stripMargin,
    "ohdsi_sql_event_tables" ->
      """SELECT event_table FROM (VALUES
        |  ('measurement'), ('observation'), ('person')
        |) AS t(event_table) ORDER BY event_table""".stripMargin,
    "ohdsi_sql_drop_table" ->
      "SELECT 'person_id_swap' AS table_name",
    "ohdsi_sql_vocab_cleanup" ->
      """SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows FROM (VALUES
        |  ('concept', 25), ('provider', 0), ('relationship', 0), ('vocabulary', 25)
        |) AS t(table_name, n_rows) ORDER BY table_name""".stripMargin,
    "ohdsi_sql_vocab_merge" ->
      """SELECT * FROM (
        |  SELECT concat('CUSTOM_', n_name) AS vocabulary_id,
        |    concat('vocab ', n_name) AS vocabulary_name,
        |    'ref' AS vocabulary_reference, 'v1' AS vocabulary_version,
        |    CAST(n_nationkey + 2000000000 AS BIGINT) AS vocabulary_concept_id
        |  FROM nation
        |  UNION ALL
        |  SELECT r_name AS vocabulary_id,
        |    concat('std ', r_name) AS vocabulary_name,
        |    'ref' AS vocabulary_reference, 'v0' AS vocabulary_version,
        |    CAST(r_regionkey AS BIGINT) AS vocabulary_concept_id
        |  FROM region
        |) t ORDER BY vocabulary_id""".stripMargin,
    "stream_pk_swap_merge" ->
      """WITH b0 AS (
        |  SELECT concat('P_', n_name) AS x,
        |    CAST(n_nationkey + 100 AS BIGINT) AS specialty_concept_id,
        |    'batch_0' AS source,
        |    CAST(rank() OVER (ORDER BY concat('P_', n_name)) AS BIGINT) AS y
        |  FROM nation
        |), b1 AS (
        |  SELECT concat('PZ_', r_name) AS x,
        |    CAST(r_regionkey + 100 AS BIGINT) AS specialty_concept_id,
        |    'batch_1' AS source,
        |    CAST((SELECT count(*) FROM nation)
        |      + rank() OVER (ORDER BY concat('PZ_', r_name)) AS BIGINT) AS y
        |  FROM region
        |)
        |SELECT x, specialty_concept_id, source, y FROM b0
        |UNION ALL SELECT x, specialty_concept_id, source, y FROM b1
        |ORDER BY y""".stripMargin,
    "ohdsi_sql_pk_swap" ->
      """WITH src AS (
        |  SELECT concat('P_', n_name) AS x,
        |    CAST(n_nationkey + 100 AS BIGINT) AS specialty_concept_id,
        |    'provider1' AS source
        |  FROM nation
        |  UNION ALL
        |  SELECT concat('PZ_', r_name) AS x,
        |    CAST(r_regionkey + 100 AS BIGINT) AS specialty_concept_id,
        |    'provider2' AS source
        |  FROM region
        |)
        |SELECT x, specialty_concept_id, source,
        |  CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS y
        |FROM src ORDER BY y""".stripMargin,
    "ohdsi_sql_usagi_update" ->
      s"""WITH ranked AS (
         |  $RankedCte
         |)
         |SELECT code AS sourceCode, concat('name ', n_name) AS sourceName,
         |  CASE WHEN n_nationkey % 2 = 0 THEN cid ELSE -1 END AS conceptId,
         |  CASE WHEN n_nationkey % 2 = 0 THEN 'APPROVED' ELSE 'FLAGGED' END AS mappingStatus
         |FROM ranked ORDER BY sourceCode""".stripMargin,
    "ohdsi_sql_stcm_merge" ->
      s"""WITH ranked AS (
         |  $RankedCte
         |)
         |SELECT code AS source_code,
         |  CAST(0 AS BIGINT) AS source_concept_id,
         |  '' AS source_vocabulary_id,
         |  concat('name ', n_name) AS source_code_description,
         |  cid AS target_concept_id,
         |  'LOCAL' AS target_vocabulary_id,
         |  DATE '2099-12-31' AS valid_end_date,
         |  CAST(NULL AS VARCHAR) AS invalid_reason
         |FROM ranked WHERE n_nationkey % 2 = 0 ORDER BY source_code""".stripMargin,
    "ohdsi_sql_map_merge" ->
      """SELECT 'provider' AS omop_table,
        |  CAST(n_nationkey + 1 AS BIGINT) AS omop_id,
        |  'q1' AS source,
        |  concat('PRV_', n_name) AS source_id,
        |  DATE '2099-12-31' AS valid_end_date,
        |  CAST(NULL AS VARCHAR) AS invalid_reason
        |FROM nation ORDER BY omop_id""".stripMargin,
    "ohdsi_sql_usagi_nonstd" ->
      s"""WITH ranked AS (
         |  $RankedCte
         |)
         |SELECT code AS sourceCode, concat('name ', n_name) AS sourceName,
         |  cid AS conceptId, 'APPROVED' AS mappingStatus, 'C' AS standard_concept
         |FROM ranked WHERE n_nationkey % 2 = 0 AND n_nationkey % 5 = 1
         |ORDER BY sourceCode""".stripMargin,
    "ohdsi_sql_map_invalidate" ->
      """SELECT 'provider' AS omop_table, o_orderkey AS omop_id,
        |  CAST(o_orderdate AS DATE) AS valid_start_date,
        |  CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-06-01' THEN 'D' ELSE NULL END AS invalid_reason
        |FROM orders ORDER BY omop_id""".stripMargin,
    "ohdsi_sql_stcm_invalidate" ->
      """SELECT o_orderkey AS source_code, o_custkey AS target_concept_id,
        |  CAST(o_orderdate AS DATE) AS valid_start_date,
        |  CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-06-01' THEN 'D' ELSE NULL END AS invalid_reason
        |FROM orders ORDER BY source_code""".stripMargin,
    "ohdsi_sql_get_dqd_run" ->
      s"""WITH runs AS (
         |$DqdRunsOracle
         |)
         |SELECT * FROM runs WHERE id = 'run-07'""".stripMargin,
    "ohdsi_sql_last_dqd_runs" ->
      s"""WITH runs AS (
         |$DqdRunsOracle
         |)
         |SELECT startTimestamp AS label, id AS value FROM runs
         |ORDER BY startTimestamp DESC LIMIT 15""".stripMargin,
    "ohdsi_sql_work_tables" ->
      """SELECT table_name FROM (VALUES
        |  ('person__gender_concept_id_usagi'),
        |  ('person__upload__q1'),
        |  ('person_id_swap')
        |) AS t(table_name) ORDER BY table_name""".stripMargin,
    "ohdsi_sql_map_cleanup" ->
      """SELECT 'visit_occurrence' AS omop_table, o_orderkey AS source_id,
        |  o_orderkey * 10 AS omop_id
        |FROM orders WHERE o_orderkey % 3 = 2 ORDER BY source_id""".stripMargin,
    "ohdsi_sql_concept_swap" -> ConceptSwapExpectedOracle,
    "ohdsi_sql_bq_concept_swap" -> ConceptSwapExpectedOracle,
    "ohdsi_sql_concept_merge" -> ConceptMergeExpectedOracle,
    "ohdsi_sql_bq_concept_merge" -> ConceptMergeExpectedOracle,
    "ohdsi_sql_custom_validate" ->
      """SELECT n_name AS concept_name,
        |  (['Condition','Procedure','Measurement','BadDomain'])[CAST(n_nationkey % 4 AS INT) + 1] AS domain_id,
        |  (['LOCAL','SNOMED'])[CAST(n_nationkey % 2 AS INT) + 1] AS vocabulary_id,
        |  (['Clinical Finding','Custom','Unknown Class'])[CAST(n_nationkey % 3 AS INT) + 1] AS concept_class_id,
        |  CASE WHEN n_nationkey % 5 = 0 THEN 'S' WHEN n_nationkey % 5 = 1 THEN 'C' ELSE NULL END AS standard_concept,
        |  'SRC_' || n_name AS concept_code,
        |  DATE '2000-01-01' + CAST(n_nationkey AS INT) AS valid_start_date,
        |  DATE '2099-12-31' AS valid_end_date,
        |  CAST(NULL AS VARCHAR) AS invalid_reason
        |FROM nation
        |WHERE n_nationkey % 4 = 3 OR n_nationkey % 3 = 2
        |ORDER BY concept_code""".stripMargin,
    "ohdsi_sql_apply_events_renumber" -> ApplyEventsRenumberOracle,
    "ohdsi_sql_fact_merge_chain" -> ApplyEventsExpectedOracle,
    // the r16 datepart long tail: SQL Server DATEFIRST-7 weekday
    // (duckdb dayofweek is Sunday=0 -> +1), week-of-year = 1 + Sunday
    // boundaries since Jan 1, duckdb millisecond() = sec*1000+ms -> %1000,
    // week diff via floor-division from the 1970-01-04 Sunday anchor
    "ohdsi_sql_datepart_tail" ->
      """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday_num,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN millisecond(ts) % 1000 < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_ms,
        |  CAST(min(dayofyear(ts)) AS BIGINT) AS min_doy,
        |  CAST(max(CAST(floor((dayofyear(ts) + dayofweek(date_trunc('year', ts)) - 1) / 7.0) AS BIGINT) + 1) AS BIGINT) AS max_week,
        |  CAST(max(CAST(floor(date_diff('day', DATE '1970-01-04', CAST(ts AS DATE)) / 7.0) AS BIGINT)
        |    - CAST(floor(date_diff('day', DATE '1970-01-04', DATE '2020-01-05') / 7.0) AS BIGINT)) AS BIGINT) AS max_weeks_since,
        |  CAST(max(date_diff('millisecond', TIMESTAMP '2020-01-01 00:00:00', ts)) AS BIGINT) AS max_ms_since,
        |  max(ts + INTERVAL 250 MILLISECOND) AS max_shifted_ts
        |FROM events
        |GROUP BY 1 ORDER BY weekday_num""".stripMargin)
}
