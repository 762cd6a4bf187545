package graft.queries

import graft.Tables
import graft.sources.{JinjaLite, OhdsiSql}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Published RiaB `.sql.jinja` templates run VERBATIM through JinjaLite +
  * the SqlRender-subset bridge, each pinned row-for-row to the native
  * operator that implements the same step (the r14/r15 verbatim-template
  * discipline — proving a reference user's own template tree executes
  * unmodified on this engine).
  *
  * Every template string below is vendored unchanged from
  * `/root/reference/src/riab/etl/sql_server/templates/` (public
  * Apache-licensed RiaB content, provenance cited per query); the only
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

  // ---- D7 tombstoning: SOURCE_TO_CONCEPT_MAP_update_invalid_reason ------

  /** Verbatim `etl/SOURCE_TO_CONCEPT_MAP_update_invalid_reason.sql.jinja`
    * (the D7 tombstoning template; natively `s2cm_tombstone` /
    * [[graft.operators.Cleanup.tombstoneStale]]). Exercises the r15 bridge
    * widenings: a pure-mutation script (no final SELECT — `executeAll`),
    * an UPDATE against a THREE-part catalog-table name (write-back via
    * the atomic catalog replace), and the `:etl_start` execute-time bind
    * parameter the reference passes at `sql_server/etl.py:73-86`.
    */
  private val StcmInvalidateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |UPDATE [{{omop_database_catalog}}].[{{omop_database_schema}}].[source_to_concept_map]
      |SET invalid_reason = 'D'
      |where valid_start_date < :etl_start""".stripMargin

  val ohdsiSqlStcmInvalidate: Q = (s, d) => {
    val s2cm = t(s, d, "orders").select(
      col("o_orderkey").as("source_code"),
      col("o_custkey").as("target_concept_id"),
      col("o_orderdate").cast("date").as("valid_start_date"),
      lit(null).cast("string").as("invalid_reason"))
    stage(s, "graft_omop", "source_to_concept_map", s2cm)
    val rendered = JinjaLite.render(StcmInvalidateSql, scalars = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop"))
    OhdsiSql.executeAll(s, rendered, binds = Map("etl_start" -> "DATE '1995-06-01'"))
    s.table("graft_omop.source_to_concept_map").orderBy("source_code")
  }

  /** Verbatim `etl/SOURCE_ID_TO_OMOP_ID_MAP_update_invalid_reason.sql.jinja`
    * — the sibling tombstoning template over the id map (same bind flow,
    * `sql_server/etl.py:87-100`).
    */
  private val MapInvalidateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |UPDATE [{{omop_database_catalog}}].[{{omop_database_schema}}].[source_id_to_omop_id_map]
      |SET invalid_reason = 'D'
      |where valid_start_date < :etl_start""".stripMargin

  val ohdsiSqlMapInvalidate: Q = (s, d) => {
    val map = t(s, d, "orders").select(
      lit("provider").as("omop_table"),
      col("o_orderkey").as("omop_id"),
      col("o_orderdate").cast("date").as("valid_start_date"),
      lit(null).cast("string").as("invalid_reason"))
    stage(s, "graft_omop_mi", "source_id_to_omop_id_map", map)
    OhdsiSql.executeAll(s, JinjaLite.render(MapInvalidateSql, scalars = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_mi")),
      binds = Map("etl_start" -> "DATE '1995-06-01'"))
    s.table("graft_omop_mi.source_id_to_omop_id_map").orderBy("omop_id")
  }

  // ---- A7 run history: get_dqd_run / get_last_dqd_runs ------------------

  /** The deterministic `dqdashboard_runs` fixture the two dashboard
    * templates read (the reference uploads one row per DQD run,
    * `data_quality.py:137-152` — uuid id, start/end timestamps,
    * humanized execution time, overview counts). Wall-clock fields are
    * derived from the run ordinal so the verbatim output hash-gates.
    */
  private[queries] def stageDqdRuns(s: SparkSession): Unit = {
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

  /** Verbatim `dqd/get_dqd_run.sql.jinja` — the run-selector drill-down
    * (`select * ... where id = :id`): exercises the `:id` bind and the
    * template's MIXED quoting (bracketed catalog/schema, bare table).
    */
  private val GetDqdRunSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |select *
      |from [{{dqd_database_catalog}}].[{{dqd_database_schema}}].dqdashboard_runs
      |where id = :id""".stripMargin

  val ohdsiSqlGetDqdRun: Q = (s, _) => {
    stageDqdRuns(s)
    val rendered = JinjaLite.render(GetDqdRunSql, scalars = Map(
      "dqd_database_catalog" -> "spark_catalog",
      "dqd_database_schema" -> "graft_dqd"))
    OhdsiSql.execute(s, rendered, binds = Map("id" -> "'run-07'"))
  }

  /** Verbatim `dqd/get_last_dqd_runs.sql.jinja` — the dashboard's
    * newest-first run list (natively `dqd_last_runs`, O3): `select top
    * 15 ... order by startTimestamp desc` — the bridge's TOP rewrite
    * lands the LIMIT after the ORDER BY, the T-SQL semantics.
    */
  private val LastDqdRunsSql =
    """
      |{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |select top 15 startTimestamp as label, id as value
      |from [{{dqd_database_catalog}}].[{{dqd_database_schema}}].dqdashboard_runs
      |order by startTimestamp desc;""".stripMargin

  val ohdsiSqlLastDqdRuns: Q = (s, _) => {
    stageDqdRuns(s)
    val rendered = JinjaLite.render(LastDqdRunsSql, scalars = Map(
      "dqd_database_catalog" -> "spark_catalog",
      "dqd_database_schema" -> "graft_dqd"))
    OhdsiSql.execute(s, rendered)
  }

  // ---- S12 listing: all_work_table_names ---------------------------------

  /** Verbatim `cleanup/all_work_table_names.sql.jinja` (natively
    * `work_table_listing`, S12): exercises the r15 `USE [catalog];`
    * statement class and the `sys.tables` / `schema_name()` catalog
    * introspection mapping. The listing db is DEDICATED to this query so
    * the result never depends on which sibling fixtures ran first in the
    * session.
    */
  private val WorkTableNamesSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |use [{{work_database_catalog}}];
      |select t.name as table_name
      |from sys.tables t
      |where schema_name(t.schema_id) = '{{work_database_schema}}'
      |order by table_name;""".stripMargin

  val ohdsiSqlWorkTables: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_s12 CASCADE")
    val one = t(s, d, "nation").limit(1)
    stage(s, "graft_work_s12", "person__upload__q1", one)
    stage(s, "graft_work_s12", "person__gender_concept_id_usagi", one)
    stage(s, "graft_work_s12", "person_id_swap", one)
    val rendered = JinjaLite.render(WorkTableNamesSql, scalars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_s12"))
    OhdsiSql.execute(s, rendered)
  }

  // ---- D5 cleanup: SOURCE_ID_TO_OMOP_ID_MAP_remove_ids_by_omop_table ----

  /** Verbatim
    * `cleanup/SOURCE_ID_TO_OMOP_ID_MAP_remove_ids_by_omop_table.sql.jinja`
    * (the targeted-cleanup DELETE the reference issues per cleaned table;
    * natively the `cleanup_cascade` family, D5): exercises the Jinja
    * `{% for %}`/`loop.last` membership list and a DELETE against a
    * three-part catalog name.
    */
  private val MapCleanupSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |DELETE FROM [{{omop_database_catalog}}].[{{omop_database_schema}}].[source_id_to_omop_id_map]
      |WHERE omop_table IN (
      |    {%- for omop_table in omop_tables %}
      |        '{{omop_table}}'
      |        {%- if not loop.last %}, {% endif %}
      |    {%- endfor %}
      |)""".stripMargin

  val ohdsiSqlMapCleanup: Q = (s, d) => {
    val map = t(s, d, "orders").select(
      element_at(array(lit("person"), lit("provider"), lit("visit_occurrence")),
        (col("o_orderkey") % 3 + 1).cast("int")).as("omop_table"),
      col("o_orderkey").as("source_id"),
      (col("o_orderkey") * 10).as("omop_id"))
    stage(s, "graft_omop", "source_id_to_omop_id_map", map)
    val rendered = JinjaLite.render(MapCleanupSql,
      scalars = Map(
        "omop_database_catalog" -> "spark_catalog",
        "omop_database_schema" -> "graft_omop"),
      lists = Map("omop_tables" -> Seq("person", "provider")))
    OhdsiSql.executeAll(s, rendered)
    s.table("graft_omop.source_id_to_omop_id_map").orderBy("source_id")
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

  /** The second-batch codes (one per REGION row, 5 at every SF) the
    * sequential swap-merge run appends.
    */
  private[queries] def regionConceptFixture(s: SparkSession, d: String): DataFrame =
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

  /** Verbatim `etl/CONCEPT_ID_swap_create.sql.jinja` — the conditional
    * swap-table DDL (`USE`, the `sys.tables` existence probe, CREATE
    * TABLE — all r15 bridge widenings).
    */
  private val ConceptIdSwapCreateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |USE  [{{work_database_catalog}}];
      |IF NOT EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = 'concept_id_swap' AND s.name = '{{work_database_schema}}')
      |CREATE TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[concept_id_swap]
      |(x varchar(100), y integer);""".stripMargin

  /** Verbatim `etl/CONCEPT_ID_swap_merge.sql.jinja` — the rank-id
    * assignment MERGE (natively `concept_rank_ids` / W2 and the ≥2e9
    * custom-concept floor, P6): a leading `WITH cte_max` scoping over
    * the USING subquery, `INNER JOIN cte_max on 1=1` (1-row broadcast),
    * anti-join via `LEFT OUTER JOIN ... where swap.x is null`, and a
    * WHEN NOT MATCHED-only MERGE. The template's own `RANK() OVER
    * (ORDER BY ...)` is a global window — bounded by the batch's NEW
    * codes, the published shape (the achilles105 precedent).
    */
  private val ConceptIdSwapMergeSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |WITH cte_max AS (
      |    SELECT COALESCE(MAX(y), {{min_custom_concept_id}}) as y
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[concept_id_swap]
      |)
      |MERGE INTO [{{work_database_catalog}}].[{{work_database_schema}}].[concept_id_swap] AS T
      |USING (
      |    SELECT distinct concat('{{concept_id_column}}__', t.concept_code) as x, RANK() OVER(ORDER BY t.concept_code) + cte_max.y as y
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept] t
      |    INNER JOIN cte_max on 1=1
      |    LEFT OUTER JOIN [{{work_database_catalog}}].[{{work_database_schema}}].[concept_id_swap] swap
      |        on swap.x = concat('{{concept_id_column}}__', t.concept_code)
      |    where swap.x is null
      |) AS S
      |ON S.x = T.x
      |WHEN NOT MATCHED THEN
      |    INSERT (x, y) VALUES (S.x, S.y);""".stripMargin

  private def swapJinja(db: String) = Map(
    "work_database_catalog" -> "spark_catalog",
    "work_database_schema" -> db,
    "omop_table" -> "provider",
    "concept_id_column" -> "specialty_concept_id",
    "min_custom_concept_id" -> "2000000000")

  /** Run the published create + merge flow in `db` over the staged work
    * concept table; both templates verbatim.
    */
  private def runSwapFlow(s: SparkSession, db: String): Unit = {
    OhdsiSql.executeAll(s, JinjaLite.render(ConceptIdSwapCreateSql, swapJinja(db)))
    OhdsiSql.executeAll(s, JinjaLite.render(ConceptIdSwapMergeSql, swapJinja(db)))
  }

  /** Two sequential batches through the verbatim swap flow: batch 1
    * assigns ranks above the 2e9 floor (`cte_max` COALESCEs to
    * `min_custom_concept_id` on the empty table), batch 2 re-stages the
    * work table with five extra codes and re-runs the SAME merge — the
    * anti-join keeps batch-1 ids stable and the new codes rank above
    * `MAX(y)`, the id-growth semantics of the native `swap_append_anti`.
    */
  val ohdsiSqlConceptSwap: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_cs1 CASCADE")
    stage(s, "graft_work_cs1", "provider__specialty_concept_id_concept",
      workConceptFixture(s, d))
    runSwapFlow(s, "graft_work_cs1")
    stage(s, "graft_work_cs1", "provider__specialty_concept_id_concept",
      workConceptFixture(s, d).unionByName(regionConceptFixture(s, d)))
    runSwapFlow(s, "graft_work_cs1")
    s.table("graft_work_cs1.concept_id_swap").orderBy("y")
  }

  /** Verbatim `etl/CONCEPT_merge.sql.jinja` — the custom-concept upsert
    * into the OMOP concept table (natively the custom-concept pipeline,
    * §2.12-2): full WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT MERGE
    * whose USING joins the work concepts to their swap-assigned ids.
    */
  private val ConceptMergeSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |MERGE INTO [{{omop_database_catalog}}].[{{omop_database_schema}}].[concept] AS T
      |USING (
      |    SELECT DISTINCT swap.y as concept_id
      |        ,t.concept_name
      |        ,t.domain_id
      |        ,t.vocabulary_id
      |        ,t.concept_class_id
      |        ,t.standard_concept
      |        ,t.concept_code
      |        ,t.valid_start_date
      |        ,t.valid_end_date
      |        ,t.invalid_reason
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept] t
      |    INNER JOIN [{{work_database_catalog}}].[{{work_database_schema}}].[concept_id_swap] swap
      |        on swap.x = concat('{{concept_id_column}}__', t.concept_code)
      |) AS S
      |ON S.concept_id = T.concept_id
      |WHEN MATCHED THEN
      |    UPDATE SET T.concept_name = S.concept_name
      |        ,T.domain_id = S.domain_id
      |        ,T.vocabulary_id = S.vocabulary_id
      |        ,T.concept_class_id = S.concept_class_id
      |        ,T.standard_concept = S.standard_concept
      |        ,T.concept_code = S.concept_code
      |        ,T.valid_start_date = S.valid_start_date
      |        ,T.valid_end_date = S.valid_end_date
      |        ,T.invalid_reason = S.invalid_reason
      |WHEN NOT MATCHED THEN
      |    INSERT (concept_id
      |        ,concept_name
      |        ,domain_id
      |        ,vocabulary_id
      |        ,concept_class_id
      |        ,standard_concept
      |        ,concept_code
      |        ,valid_start_date
      |        ,valid_end_date
      |        ,invalid_reason)
      |    VALUES (S.concept_id
      |        ,S.concept_name
      |        ,S.domain_id
      |        ,S.vocabulary_id
      |        ,S.concept_class_id
      |        ,S.standard_concept
      |        ,S.concept_code
      |        ,S.valid_start_date
      |        ,S.valid_end_date
      |        ,S.invalid_reason);""".stripMargin

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

  val ohdsiSqlConceptMerge: Q = (s, d) => {
    // the shared flow's LAST verbatim step IS the CONCEPT merge — this
    // entry gates the merged concept table it produced
    val (_, omopDb) = sharedConceptFlow(s, d)
    s.table(s"$omopDb.concept").orderBy("concept_id")
  }

  /** Verbatim `etl/CONCEPT_custom_validate.sql.jinja` — the referential
    * check of uploaded custom concepts against the OMOP domain /
    * vocabulary / concept_class vocabularies (natively
    * `custom_concept_validate`, J6/A4): three LEFT OUTER JOINs with an
    * any-null WHERE; `TOP 100 c.*` is a no-op on the saturated fixture
    * (12 violating rows at every SF).
    */
  private val ConceptCustomValidateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |SELECT TOP 100 c.*
      |FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept] c
      |LEFT OUTER JOIN [{{omop_database_catalog}}].[{{omop_database_schema}}].[domain] d on d.domain_id = c.domain_id
      |LEFT OUTER JOIN [{{omop_database_catalog}}].[{{omop_database_schema}}].[vocabulary] v on v.vocabulary_id = c.vocabulary_id
      |LEFT OUTER JOIN [{{omop_database_catalog}}].[{{omop_database_schema}}].[concept_class] cc on cc.concept_class_id = c.concept_class_id
      |WHERE d.domain_id IS NULL
      |	OR v.vocabulary_id IS NULL
      |	OR cc.concept_class_id IS NULL;""".stripMargin

  val ohdsiSqlCustomValidate: Q = (s, d) => {
    import s.implicits._
    s.sql("DROP DATABASE IF EXISTS graft_work_cs3 CASCADE")
    stage(s, "graft_work_cs3", "provider__specialty_concept_id_concept",
      workConceptFixture(s, d))
    stage(s, "graft_omop_cs3", "domain",
      Seq("Condition", "Procedure", "Measurement").toDF("domain_id"))
    stage(s, "graft_omop_cs3", "vocabulary",
      Seq("LOCAL", "SNOMED").toDF("vocabulary_id"))
    stage(s, "graft_omop_cs3", "concept_class",
      Seq("Clinical Finding", "Custom").toDF("concept_class_id"))
    val vars = swapJinja("graft_work_cs3") ++ Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_cs3")
    OhdsiSql.execute(s, JinjaLite.render(ConceptCustomValidateSql, vars))
      .orderBy("concept_code")
  }

  // ---- the usagi -> concept -> map chain (published ETL sequence) --------

  /** The usagi fixture (camelCase Usagi CSV shape): even nation keys are
    * APPROVED mappings, odd keys FLAGGED; all conceptIds start unassigned
    * (-1) — the verbatim update template injects the swap-assigned ids.
    */
  private[queries] def usagiFixture(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      concat(lit("name "), col("n_name")).as("sourceName"),
      lit(-1).as("conceptId"),
      when(col("n_nationkey") % 2 === 0, lit("APPROVED")).otherwise(lit("FLAGGED"))
        .as("mappingStatus"))

  /** Verbatim
    * `etl/{omop_table}__{concept_id_column}_usagi_update_custom_concepts.sql.jinja`
    * — the custom-concept id injection into the usagi table (natively
    * J10 `update_from_join`): an UPDATE..FROM under a leading CTE whose
    * ON carries the mapping-status restriction, against a three-part
    * catalog target.
    */
  private val UsagiUpdateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |WITH cte_custom_concepts AS (
      |    SELECT DISTINCT t.concept_code AS concept_code, swap.y AS concept_id
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept] t
      |    INNER JOIN [{{work_database_catalog}}].[{{work_database_schema}}].[concept_id_swap] swap
      |        ON swap.x = concat('{{concept_id_column}}__', t.concept_code)
      |)
      |UPDATE T
      |SET T.conceptId = c.concept_id
      |FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi] AS T
      |INNER JOIN cte_custom_concepts c ON T.sourceCode = c.concept_code
      |{% if not process_semi_approved_mappings -%}
      |    AND T.mappingStatus = 'APPROVED'
      |{%- else -%}
      |    AND T.mappingStatus IN ('APPROVED', 'SEMI-APPROVED')
      |{%- endif %}""".stripMargin

  /** Stage + run the published custom-concept sequence VERBATIM in a
    * dedicated db pair: work concept upload -> swap create+merge ->
    * usagi id injection -> OMOP concept upsert. Every step is the
    * reference's own template text; each caller gets isolated state so
    * the suite is order-independent.
    */
  /** Per-JVM run-once memo for the shared flow: four entries read the
    * SAME staged chain (the alphabetically-first consumer owns the build
    * each run — the r14 run-once discipline; each entry's own mutations
    * target tables no sibling reads).
    */
  private val flowMemo =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  private[queries] def sharedConceptFlow(s: SparkSession, d: String): (String, String) =
    // the staged databases are KEYED BY DATASET: with two datasets
    // interleaved in one JVM, a fixed db name would let dataset A's memo
    // hit read dataset B's re-staged rows (r15 ADVICE)
    flowMemo.getOrElseUpdate(d,
      stageConceptFlow(s, d, s"csh_${graft.io.Zones.pathKey(d)}"))

  private def stageConceptFlow(s: SparkSession, d: String, tag: String): (String, String) = {
    val (workDb, omopDb) = (s"graft_work_$tag", s"graft_omop_$tag")
    s.sql(s"DROP DATABASE IF EXISTS $workDb CASCADE")
    s.sql(s"DROP DATABASE IF EXISTS $omopDb CASCADE")
    stage(s, workDb, "provider__specialty_concept_id_concept", workConceptFixture(s, d))
    runSwapFlow(s, workDb)
    stage(s, workDb, "provider__specialty_concept_id_usagi", usagiFixture(s, d))
    OhdsiSql.executeAll(s, JinjaLite.render(UsagiUpdateSql,
      swapJinja(workDb) + ("process_semi_approved_mappings" -> "")))
    stage(s, omopDb, "concept", conceptSeed(s, d))
    OhdsiSql.executeAll(s, JinjaLite.render(ConceptMergeSql,
      swapJinja(workDb) ++ Map(
        "omop_database_catalog" -> "spark_catalog",
        "omop_database_schema" -> omopDb)))
    (workDb, omopDb)
  }

  val ohdsiSqlUsagiUpdate: Q = (s, d) => {
    val (workDb, _) = sharedConceptFlow(s, d)
    s.table(s"$workDb.provider__specialty_concept_id_usagi").orderBy("sourceCode")
  }

  /** Verbatim `etl/SOURCE_TO_CONCEPT_MAP_merge.sql.jinja` (natively J8
    * `merge_upsert` / the s2cm flow): full two-clause MERGE whose USING
    * joins the id-injected usagi rows to the merged concept table. The
    * template stamps `GETDATE()` into `valid_start_date` — wall-clock,
    * so that single column is dropped from the gated shape (the
    * dqd_last_runs precedent); everything else hash-gates.
    */
  private val StcmMergeSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |MERGE INTO [{{omop_database_catalog}}].[{{omop_database_schema}}].[source_to_concept_map] AS T
      |USING (
      |    SELECT DISTINCT
      |        t.sourceCode as source_code
      |        ,0 as source_concept_id
      |        ,'' as source_vocabulary_id
      |        ,t.sourceName as source_code_description
      |        ,t.conceptId as target_concept_id
      |        ,c.vocabulary_id as target_vocabulary_id
      |        ,GETDATE() as valid_start_date
      |        ,CAST('2099-12-31' AS DATE) as valid_end_date
      |        ,NULL as invalid_reason
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi] t
      |    INNER JOIN [{{omop_database_catalog}}].[{{omop_database_schema}}].[concept] c on c.concept_id = t.conceptId
      |{%- if not process_semi_approved_mappings %}
      |    where t.mappingStatus = 'APPROVED'
      |{%- else %}
      |    where t.mappingStatus in ('APPROVED', 'SEMI-APPROVED')
      |{%- endif -%}
      |) AS S
      |ON S.source_code = T.source_code and S.target_concept_id = T.target_concept_id
      |WHEN MATCHED THEN
      |    UPDATE SET T.source_concept_id = S.source_concept_id
      |        ,T.source_vocabulary_id = S.source_vocabulary_id
      |        ,T.source_code_description = S.source_code_description
      |        ,T.target_concept_id = S.target_concept_id
      |        ,T.target_vocabulary_id = S.target_vocabulary_id
      |        ,T.valid_start_date = S.valid_start_date
      |        ,T.valid_end_date = S.valid_end_date
      |        ,T.invalid_reason = S.invalid_reason
      |WHEN NOT MATCHED THEN
      |    INSERT (source_code
      |        ,source_concept_id
      |        ,source_vocabulary_id
      |        ,source_code_description
      |        ,target_concept_id
      |        ,target_vocabulary_id
      |        ,valid_start_date
      |        ,valid_end_date
      |        ,invalid_reason)
      |    VALUES (S.source_code
      |        ,S.source_concept_id
      |        ,S.source_vocabulary_id
      |        ,S.source_code_description
      |        ,S.target_concept_id
      |        ,S.target_vocabulary_id
      |        ,S.valid_start_date
      |        ,S.valid_end_date
      |        ,S.invalid_reason);""".stripMargin

  val ohdsiSqlStcmMerge: Q = (s, d) => {
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
    OhdsiSql.executeAll(s, JinjaLite.render(StcmMergeSql,
      swapJinja(workDb) ++ Map(
        "omop_database_catalog" -> "spark_catalog",
        "omop_database_schema" -> omopDb,
        "process_semi_approved_mappings" -> "")))
    s.table(s"$omopDb.source_to_concept_map")
      .drop("valid_start_date").orderBy("source_code")
  }

  /** Verbatim `etl/SOURCE_ID_TO_OMOP_ID_MAP_merge.sql.jinja` (natively
    * `source_id_map_merge`, §2.12-4): the pk-swap rows upserted into the
    * id map. Same GETDATE() column-drop canonicalization as the s2cm
    * merge.
    */
  private val MapMergeSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |MERGE INTO [{{omop_database_catalog}}].[{{omop_database_schema}}].[source_id_to_omop_id_map] AS T
      |USING (
      |    SELECT DISTINCT
      |        '{{omop_table}}' as omop_table
      |        ,t.y as omop_id
      |        ,t.source
      |        ,t.x as source_id
      |        ,GETDATE() as valid_start_date
      |        ,CAST('2099-12-31' AS DATE) as valid_end_date
      |        ,NULL as invalid_reason
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap] t
      |) AS S
      |ON S.omop_table = T.omop_table and S.omop_id = T.omop_id
      |WHEN MATCHED THEN
      |    UPDATE SET T.source = S.source
      |        ,T.source_id = S.source_id
      |        ,T.valid_start_date = S.valid_start_date
      |        ,T.valid_end_date = S.valid_end_date
      |        ,T.invalid_reason = S.invalid_reason
      |WHEN NOT MATCHED THEN
      |    INSERT (omop_table, omop_id, source, source_id, valid_start_date, valid_end_date, invalid_reason)
      |    VALUES (S.omop_table, S.omop_id, S.source, S.source_id, S.valid_start_date, S.valid_end_date, S.invalid_reason);""".stripMargin

  val ohdsiSqlMapMerge: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_cs6 CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_omop_cs6 CASCADE")
    stage(s, "graft_work_cs6", "provider_id_swap", t(s, d, "nation").select(
      concat(lit("PRV_"), col("n_name")).as("x"),
      (col("n_nationkey") + 1).cast("int").as("y"),
      lit("q1").as("source")))
    // pre-seed one stale map row at omop_id 1 (the WHEN MATCHED branch)
    stage(s, "graft_omop_cs6", "source_id_to_omop_id_map", s.range(1).select(
      lit("provider").as("omop_table"),
      lit(1).as("omop_id"),
      lit("old_source").as("source"),
      lit("stale_x").as("source_id"),
      lit(java.sql.Date.valueOf("1990-01-01")).as("valid_start_date"),
      lit(java.sql.Date.valueOf("1990-01-01")).as("valid_end_date"),
      lit("D").as("invalid_reason")))
    OhdsiSql.executeAll(s, JinjaLite.render(MapMergeSql, Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_cs6",
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_cs6",
      "omop_table" -> "provider",
      "primary_key_column" -> "provider_id")))
    s.table("graft_omop_cs6.source_id_to_omop_id_map")
      .drop("valid_start_date").orderBy("omop_id")
  }

  /** Verbatim
    * `etl/{omop_table}__{concept_id_column}_usagi_non_standard.sql.jinja`
    * (natively `usagi_nonstandard`, J7): approved mappings whose target
    * concept is NOT a standard concept — an inner join with a
    * cast-in-the-ON and the `<> 'S'` three-valued filter (NULL
    * standard_concept rows drop, the template's own semantics).
    */
  private val UsagiNonStdSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |select top 100 u.*, c.standard_concept
      |from [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi] u
      |inner join [{{omop_database_catalog}}].[{{omop_database_schema}}].[concept] c on c.concept_id = cast(u.conceptId as integer)
      |  and c.concept_id <> 0
      |{% if not process_semi_approved_mappings -%}
      |where u.mappingStatus = 'APPROVED'
      |{%- else -%}
      |where u.mappingStatus in ('APPROVED', 'SEMI-APPROVED')
      |{%- endif %}
      |  and c.standard_concept <> 'S'""".stripMargin

  val ohdsiSqlUsagiNonStd: Q = (s, d) => {
    val (workDb, omopDb) = sharedConceptFlow(s, d)
    OhdsiSql.execute(s, JinjaLite.render(UsagiNonStdSql,
      swapJinja(workDb) ++ Map(
        "omop_database_catalog" -> "spark_catalog",
        "omop_database_schema" -> omopDb,
        "process_semi_approved_mappings" -> "")))
      .orderBy("sourceCode")
  }

  // ---- the pk-swap flow (W1/§2.12-4): {primary_key_column}_swap_create
  // + _swap_merge --------------------------------------------------------

  /** Verbatim `etl/{primary_key_column}_swap_create.sql.jinja` — the
    * guarded multi-statement DDL block (`IF NOT EXISTS (...) BEGIN
    * CREATE TABLE ...; CREATE INDEX x3; END` — the r15 BEGIN..END-aware
    * splitter), with the per-column Jinja type switch.
    */
  private val PkSwapCreateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |USE  [{{work_database_catalog}}];
      |IF NOT EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = '{{primary_key_column}}_swap' AND s.name = '{{work_database_schema}}')
      |BEGIN
      |    CREATE TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap]
      |    (x varchar(255),
      |    {%- for column in concept_id_columns -%}
      |        [{{column}}]
      |        {% if not column in events.values() -%}
      |            integer,
      |        {# {{column}}_source_value STRING, #}
      |        {%- else -%}
      |            varchar(255),
      |        {%- endif -%}
      |    {%- endfor -%}
      |    {%- for column in events %}
      |        [{{column}}] varchar(255),
      |    {%- endfor -%}
      |        source varchar(255),
      |        y integer
      |    );
      |    CREATE INDEX idx_{{primary_key_column}}_swap_1 ON [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap] (x);
      |    CREATE INDEX idx_{{primary_key_column}}_swap_2 ON [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap] (y);
      |    CREATE INDEX idx_{{primary_key_column}}_swap_3 ON [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap] (x, source, y);
      |END""".stripMargin

  /** Verbatim `etl/{primary_key_column}_swap_merge.sql.jinja` — the
    * reference's CORE pk-id assignment (natively W1 `swap_dense_ids` /
    * `swap_merge_append`): the full Jinja surface (set + namespace
    * counters, `upload_tables[loop.index0]`, `column.lower()`,
    * `and`-joined membership conditions — all r15 JinjaLite widenings),
    * a two-CTE prefix scoping over the MERGE USING, per-upload UNION ALL
    * with usagi concept-id joins, and `ROW_NUMBER() + cte_max.y` id
    * growth. The template's global ROW_NUMBER is bounded by the batch's
    * NEW rows (the published shape — the achilles105 precedent).
    */
  private val PkSwapMergeSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |WITH cte_max AS (
      |    SELECT COALESCE(MAX(y), 0) as y
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap]
      |),
      |swap AS (
      |    SELECT DISTINCT *
      |    from (
      |    {%- for sql_file in sql_files -%}
      |        {%- set upload_table = upload_tables[loop.index0] -%}
      |        {%- if not loop.first %}
      |
      |        UNION ALL
      |
      |        {%- endif %}
      |        SELECT t.{{primary_key_column}} as x,
      |            {%- set ns = namespace(ci_counter=0) -%}
      |            {%- for column in concept_id_columns %}
      |                {%- if not column in events.values() %}
      |            swap_ci{{ns.ci_counter}}.conceptId as [{{column}}],
      |                    {%- set ns.ci_counter = ns.ci_counter + 1 -%}
      |                {%- else %}
      |            t.[{{column}}],
      |                {%- endif -%}
      |            {%- endfor -%}
      |            {%- for column in events %}
      |                t.[{{column}}],
      |            {%- endfor %}
      |            '{{sql_file}}' as source
      |        FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__upload__{{upload_table}}] t
      |        {%- set ns = namespace(ci_counter=0) %}
      |        LEFT OUTER JOIN [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap] swap on swap.x = t.{{primary_key_column}}
      |            {%- set ns = namespace(ci_counter=0) %}
      |            {%- for column in concept_id_columns %}
      |                {%- if not column in events and not column in events.values() %}
      |        LEFT OUTER JOIN [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{column.lower()}}_usagi] swap_ci{{ns.ci_counter}} on swap_ci{{ns.ci_counter}}.sourceCode = t.[{{column}}]
      |                    {% if not process_semi_approved_mappings -%}
      |            and swap_ci{{ns.ci_counter}}.mappingStatus = 'APPROVED'
      |                    {%- else -%}
      |            and swap_ci{{ns.ci_counter}}.mappingStatus in ('APPROVED', 'SEMI-APPROVED')
      |                    {%- endif -%}
      |                    {%- set ns.ci_counter = ns.ci_counter + 1 -%}
      |                {%- endif -%}
      |            {%- endfor %}
      |        where swap.x is null
      |    {%- endfor %}
      |    ) t
      |)
      |MERGE INTO [{{work_database_catalog}}].[{{work_database_schema}}].[{{primary_key_column}}_swap] AS T
      |USING (
      |    SELECT
      |        s.x,
      |        {%- for column in concept_id_columns %}
      |        s.[{{column}}],
      |        {%- endfor %}
      |        {%- for column in events -%}
      |        s.[{{column}}],
      |        {%- endfor %}
      |        s.source,
      |        ROW_NUMBER() OVER(
      |            ORDER BY
      |                s.x,
      |                {%- for column in concept_id_columns %}
      |                s.[{{column}}],
      |                {%- endfor %}
      |                {%- for column in events -%}
      |                s.[{{column}}],
      |                {%- endfor %}
      |                s.source
      |        ) + cte_max.y as y
      |    FROM swap s
      |    INNER JOIN cte_max on 1=1
      |) AS S
      |ON S.x = T.x
      |{%- for column in concept_id_columns %}
      |    {% if not column in events.values() -%}
      |    and S.[{{column}}] = T.[{{column}}]
      |    {%- else -%}
      |    and coalesce(S.[{{column}}], '') = coalesce(T.[{{column}}], '')
      |    {%- endif -%}
      |{%- endfor %}
      |WHEN NOT MATCHED THEN
      |    INSERT (
      |        x
      |    {%- for column in concept_id_columns %}
      |        ,[{{column}}]
      |    {%- endfor %}
      |    {%- for column in events -%}
      |        ,[{{column}}]
      |    {%- endfor %}
      |        ,source
      |        ,y
      |    ) VALUES (
      |        S.x
      |    {%- for column in concept_id_columns %}
      |        ,S.[{{column}}]
      |    {%- endfor %}
      |    {%- for column in events -%}
      |        ,S.[{{column}}]
      |    {%- endfor %}
      |        ,S.source
      |        ,S.y
      |    );""".stripMargin

  /** Two upload batches through the verbatim pk-swap flow: u1 carries one
    * provider per nation with a mapped specialty source code; u2 one per
    * region, its specialty keyed to a nation code THROUGH THE DATA
    * (r_regionkey -> NATION_<k>) so every concept id resolves and the
    * swap column never holds NULL (a NULL int column would fork the
    * pandas dtype between the engine dump and the DuckDB oracle). A
    * second merge run proves idempotence (anti-join finds nothing new).
    */
  val ohdsiSqlPkSwap: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_cs8 CASCADE")
    val db = "graft_work_cs8"
    stage(s, db, "provider__upload__u1", t(s, d, "nation").select(
      concat(lit("P_"), col("n_name")).as("provider_id"),
      concat(lit("SRC_"), col("n_name")).as("specialty_concept_id")))
    stage(s, db, "provider__upload__u2", t(s, d, "region")
      .join(t(s, d, "nation"), col("r_regionkey") === col("n_nationkey"))
      .select(
        concat(lit("PZ_"), col("r_name")).as("provider_id"),
        concat(lit("SRC_"), col("n_name")).as("specialty_concept_id")))
    stage(s, db, "provider__specialty_concept_id_usagi", t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      (col("n_nationkey") + 100).cast("int").as("conceptId"),
      lit("APPROVED").as("mappingStatus")))
    val vars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> db,
      "omop_table" -> "provider",
      "primary_key_column" -> "provider_id",
      "process_semi_approved_mappings" -> "")
    val listVars = Map(
      "concept_id_columns" -> Seq("specialty_concept_id"),
      "events" -> Seq.empty[String],
      "sql_files" -> Seq("provider1", "provider2"),
      "upload_tables" -> Seq("u1", "u2"))
    OhdsiSql.executeAll(s, JinjaLite.render(PkSwapCreateSql, vars, listVars))
    OhdsiSql.executeAll(s, JinjaLite.render(PkSwapMergeSql, vars, listVars))
    // idempotence: the re-run's anti-join finds no new x, ids stay stable
    OhdsiSql.executeAll(s, JinjaLite.render(PkSwapMergeSql, vars, listVars))
    s.table(s"$db.provider_id_swap").orderBy("y")
  }

  // ---- DDL / cleanup / discovery templates -------------------------------

  /** A (table, ordinal, column, type) listing of a staged catalog table —
    * the shape the DDL-template entries gate on.
    */
  private[queries] def schemaListing(s: SparkSession, dbTbl: String): DataFrame = {
    import s.implicits._
    val short = dbTbl.split('.').last
    s.table(dbTbl).schema.fields.zipWithIndex.map { case (f, i) =>
      (short, i + 1, f.name, f.dataType.simpleString)
    }.toSeq.toDF("table_name", "ordinal", "column_name", "data_type")
  }

  /** Verbatim `dqd/get_dqd_run_results.sql.jinja` — the dashboard's
    * per-run drill-down (`where run_id = :id` bind).
    */
  private val GetDqdRunResultsSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |select *
      |from [{{dqd_database_catalog}}].[{{dqd_database_schema}}].dqdashboard_results
      |where run_id = :id""".stripMargin

  val ohdsiSqlDqdRunResults: Q = (s, _) => {
    stage(s, "graft_dqd", "dqdashboard_results", s.range(1, 27).select(
      when(col("id") % 2 === 0, lit("run-07")).otherwise(lit("run-08")).as("run_id"),
      format_string("check_%02d", col("id")).as("checkid"),
      (col("id") % 5 === 0).cast("long").as("failed"),
      (col("id") * 3).as("num_violated_rows")))
    OhdsiSql.execute(s, JinjaLite.render(GetDqdRunResultsSql, scalars = Map(
      "dqd_database_catalog" -> "spark_catalog",
      "dqd_database_schema" -> "graft_dqd")),
      binds = Map("id" -> "'run-07'")).orderBy("checkid")
  }

  /** Verbatim `ddl/SOURCE_ID_TO_OMOP_ID_MAP_ddl.sql.jinja` (natively D2):
    * `IF OBJECT_ID(...) DROP TABLE` against a catalog table (the drop is
    * exercised — a stale table is pre-staged), lower-case `create table`
    * with NOT NULL markers, and the `ALTER TABLE ADD CONSTRAINT PRIMARY
    * KEY` statement class (accepted and ignored — no constraints in
    * Spark, D3 n/a by design).
    */
  private val MapDdlSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |IF OBJECT_ID(N'[{{omop_database_catalog}}].[{{omop_database_schema}}].source_id_to_omop_id_map', N'U') IS NOT NULL
      |	DROP TABLE [{{omop_database_catalog}}].[{{omop_database_schema}}].source_id_to_omop_id_map;
      |create table [{{omop_database_catalog}}].[{{omop_database_schema}}].source_id_to_omop_id_map (
      |    omop_table varchar(50) not null,
      |    omop_id integer not null,
      |    source varchar(50),
      |    source_id varchar(255) not null,
      |    valid_start_date DATE not null,
      |    valid_end_date DATE not null,
      |    invalid_reason varchar(50)
      |);
      |ALTER TABLE [{{omop_database_catalog}}].[{{omop_database_schema}}].source_id_to_omop_id_map ADD CONSTRAINT xpk_source_id_to_omop_id_map PRIMARY KEY NONCLUSTERED (omop_table, omop_id);""".stripMargin

  val ohdsiSqlMapDdl: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_omop_ddl CASCADE")
    // a stale table with a DIFFERENT shape, so the DROP branch is real
    stage(s, "graft_omop_ddl", "source_id_to_omop_id_map",
      t(s, d, "nation").select(col("n_name").as("junk")))
    OhdsiSql.executeAll(s, JinjaLite.render(MapDdlSql, scalars = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_ddl")))
    schemaListing(s, "graft_omop_ddl.source_id_to_omop_id_map").orderBy("ordinal")
  }

  /** Verbatim `etl/{omop_table}__{concept_id_column}_usagi_create` +
    * `_concept_create` (natively D4 work-table DDL): both guarded
    * BEGIN..END DDL blocks with composite/INCLUDE index statements.
    */
  private val UsagiCreateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |USE  [{{work_database_catalog}}];
      |IF NOT EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = '{{omop_table}}__{{concept_id_column}}_usagi' AND s.name = '{{work_database_schema}}')
      |BEGIN
      |    CREATE TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi]
      |    (sourceCode varchar(255), sourceName varchar(255), mappingStatus varchar(50), conceptId integer, conceptName varchar(255), domainId varchar(20));
      |    CREATE INDEX idx_{{omop_table}}__{{concept_id_column}}_usagi_1 ON [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi] (sourceCode, mappingStatus) INCLUDE (conceptId);
      |    CREATE INDEX idx_{{omop_table}}__{{concept_id_column}}_usagi_2 ON [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi] (mappingStatus) INCLUDE (sourceCode, sourceName, conceptId);
      |END""".stripMargin

  private val ConceptCreateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |USE  [{{work_database_catalog}}];
      |IF NOT EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = '{{omop_table}}__{{concept_id_column}}_concept' AND s.name = '{{work_database_schema}}')
      |BEGIN
      |    CREATE TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept]
      |    (concept_id integer,concept_name varchar(255),domain_id varchar(255),vocabulary_id varchar(510),concept_class_id varchar(255),standard_concept varchar(1),concept_code varchar(255),valid_start_date DATE,valid_end_date DATE,invalid_reason varchar(1));
      |    CREATE INDEX idx_{{omop_table}}__{{concept_id_column}}_concept_1 ON [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept] (concept_code);
      |END""".stripMargin

  val ohdsiSqlWorkDdl: Q = (s, _) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_ddl CASCADE")
    val vars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_ddl",
      "omop_table" -> "provider",
      "concept_id_column" -> "specialty_concept_id")
    OhdsiSql.executeAll(s, JinjaLite.render(UsagiCreateSql, vars))
    OhdsiSql.executeAll(s, JinjaLite.render(ConceptCreateSql, vars))
    schemaListing(s, "graft_work_ddl.provider__specialty_concept_id_usagi")
      .unionByName(schemaListing(s, "graft_work_ddl.provider__specialty_concept_id_concept"))
      .orderBy("table_name", "ordinal")
  }

  /** Verbatim `etl/{omop_table}_get_event_tables.sql.jinja` (natively U4
    * `event_discover_tables`): the Jinja loop iterates the events DICT's
    * `.values()` (the r15 for-over-values widening).
    */
  private val GetEventTablesSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |SELECT DISTINCT *
      |FROM (
      |{%- for column in events.values() -%}
      |    {%- if not loop.first %}
      |    UNION ALL
      |    {%- endif %}
      |    SELECT DISTINCT [{{column}}] as event_table
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}]
      |{%- endfor %}
      |) T""".stripMargin

  val ohdsiSqlEventTables: Q = (s, d) => {
    stage(s, "graft_work_ev", "fact_relationship", t(s, d, "orders").select(
      when(col("o_orderkey") % 2 === 0, lit("person")).otherwise(lit("observation"))
        .as("fact_id_1_event"),
      when(col("o_orderkey") % 3 === 0, lit("measurement")).otherwise(lit("person"))
        .as("fact_id_2_event")))
    OhdsiSql.execute(s, JinjaLite.render(GetEventTablesSql,
      scalars = Map(
        "work_database_catalog" -> "spark_catalog",
        "work_database_schema" -> "graft_work_ev",
        "omop_table" -> "fact_relationship"),
      lists = Map("events" -> Seq("fact_id_1_event", "fact_id_2_event"))))
      .orderBy("event_table")
  }

  /** Verbatim `cleanup/drop.sql.jinja` — a catalog-table DROP, observed
    * through the verbatim `all_work_table_names` listing.
    */
  private val DropTableSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |DROP TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[{{table_name}}];""".stripMargin

  /** Verbatim `etl/{omop_work}_drop_table.sql.jinja` — the IF EXISTS
    * guarded work-table drop; run TWICE to prove the second pass is the
    * guard's no-op (the probe finds nothing).
    */
  private val WorkDropTableSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |USE  [{{work_database_catalog}}];
      |IF EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = '{{work_table}}' AND s.name = '{{work_database_schema}}')
      |DROP TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[{{work_table}}];""".stripMargin

  val ohdsiSqlDropTable: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_dp CASCADE")
    val one = t(s, d, "nation").limit(1)
    stage(s, "graft_work_dp", "person__upload__q1", one)
    stage(s, "graft_work_dp", "person__gender_concept_id_usagi", one)
    stage(s, "graft_work_dp", "person_id_swap", one)
    OhdsiSql.executeAll(s, JinjaLite.render(DropTableSql, scalars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_dp",
      "table_name" -> "person__upload__q1")))
    val guardedDrop = JinjaLite.render(WorkDropTableSql, scalars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_dp",
      "work_table" -> "person__gender_concept_id_usagi"))
    OhdsiSql.executeAll(s, guardedDrop)
    OhdsiSql.executeAll(s, guardedDrop) // second pass: probe empty, no-op
    OhdsiSql.execute(s, JinjaLite.render(WorkTableNamesSql, scalars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_dp")))
  }

  /** Verbatim `cleanup/truncate.sql.jinja` (BOTH Jinja branches: plain
    * TRUNCATE, and the vocabulary DELETE that spares non-custom rows) +
    * `cleanup/CONCEPT_remove_custom_concepts.sql.jinja` (P6/D5/D6
    * natively). Gated on the post-cleanup row counts.
    */
  private val TruncateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |{%- if table_name != 'vocabulary' %}
      |truncate table [{{omop_database_catalog}}].[{{omop_database_schema}}].[{{table_name}}];
      |{%- else %}
      |delete from [{{omop_database_catalog}}].[{{omop_database_schema}}].[vocabulary]
      |where vocabulary_concept_id >= {{min_custom_concept_id}}
      |{%- endif %}""".stripMargin

  private val ConceptRemoveSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |delete from [{{omop_database_catalog}}].[{{omop_database_schema}}].[concept]
      |where concept_id >= {{min_custom_concept_id}}""".stripMargin

  val ohdsiSqlVocabCleanup: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_omop_vc CASCADE")
    val nat = t(s, d, "nation")
    stage(s, "graft_omop_vc", "provider",
      t(s, d, "orders").select(col("o_orderkey").as("provider_id")))
    stage(s, "graft_omop_vc", "vocabulary", nat.select(
      col("n_name").as("vocabulary_id"),
      col("n_nationkey").cast("long").as("vocabulary_concept_id"))
      .unionByName(nat.select(
        concat(lit("CUSTOM_"), col("n_name")).as("vocabulary_id"),
        (col("n_nationkey") + 2000000000L).as("vocabulary_concept_id"))))
    stage(s, "graft_omop_vc", "concept", nat.select(
      col("n_nationkey").cast("long").as("concept_id"),
      col("n_name").as("concept_name"))
      .unionByName(nat.select(
        (col("n_nationkey") + 2000000000L).as("concept_id"),
        concat(lit("CUSTOM_"), col("n_name")).as("concept_name"))))
    stage(s, "graft_omop_vc", "relationship",
      nat.select(col("n_name").as("relationship_id")))
    val base = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_vc",
      "min_custom_concept_id" -> "2000000000")
    OhdsiSql.executeAll(s, JinjaLite.render(TruncateSql, base + ("table_name" -> "provider")))
    OhdsiSql.executeAll(s, JinjaLite.render(TruncateSql, base + ("table_name" -> "vocabulary")))
    OhdsiSql.executeAll(s, JinjaLite.render(ConceptRemoveSql, base))
    // verbatim `vocabulary/vocabulary_table_truncate.sql.jinja` — the D6
    // refill's per-table truncation
    OhdsiSql.executeAll(s, JinjaLite.render(VocabTableTruncateSql,
      base + ("vocabulary_table" -> "relationship")))
    Seq("concept", "provider", "relationship", "vocabulary").map { tb =>
      s.table(s"graft_omop_vc.$tb").agg(count(lit(1)).as("n_rows"))
        .select(lit(tb).as("table_name"), col("n_rows"))
    }.reduce(_ unionByName _).orderBy("table_name")
  }

  private val VocabTableTruncateSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |TRUNCATE TABLE [{{omop_database_catalog}}].[{{omop_database_schema}}].[{{vocabulary_table}}];""".stripMargin

  /** The FULL published OMOP CDM 5.4 DDL
    * (`ddl/OMOPCDM_sql_server_5.4_ddl.sql.jinja`, 599 lines — vendored
    * byte-identical as a resource), run verbatim: the dynamic
    * constraint-drop preamble (`DECLARE`/`SELECT +=`/`EXECUTE
    * sp_executesql` over `sys.foreign_keys` — a no-op over Spark's
    * constraint-free catalog), 39 `IF OBJECT_ID .. DROP TABLE` +
    * `CREATE TABLE` pairs with the full T-SQL type surface
    * (varchar(n)/varchar(MAX)/integer/float/date/datetime, NOT NULL
    * markers). This is the reference's dialect-NATIVE path — Jinja +
    * driver, no SqlRender — hence `sqlRender = false`. Natively D1
    * (`cdm_ddl_schemas` from CdmModel metadata); gated on the
    * (table, column-count) inventory of the created schema.
    */
  val ohdsiSqlCdm54Ddl: Q = (s, _) => {
    import s.implicits._
    s.sql("DROP DATABASE IF EXISTS graft_omop_cdm54 CASCADE")
    s.sql("CREATE DATABASE graft_omop_cdm54")
    val in = getClass.getResourceAsStream(
      "/graft/ohdsi/OMOPCDM_sql_server_5.4_ddl.sql.jinja")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val rendered = JinjaLite.render(text, scalars = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_cdm54"))
    OhdsiSql.executeAll(s, rendered, sqlRender = false)
    // listTables(db) also returns SESSION temp views (the sys-catalog
    // snapshots another query may have staged) — keep only real tables
    s.catalog.listTables("graft_omop_cdm54").collect().toSeq
      .filter(_.tableType != "TEMPORARY")
      .map(tb => (tb.name, s.table(s"graft_omop_cdm54.${tb.name}").schema.length))
      .toDF("table_name", "n_columns").orderBy("table_name")
  }

  /** Verbatim `ddl/DataQualityDashboard_ddl.sql.jinja` (vendored as a
    * resource; natively D2): both dashboard tables with their PRIMARY
    * KEY constraints (accepted + ignored), gated on the created schema.
    */
  val ohdsiSqlDqdDdl: Q = (s, _) => {
    s.sql("DROP DATABASE IF EXISTS graft_dqd_ddl CASCADE")
    val in = getClass.getResourceAsStream(
      "/graft/ohdsi/DataQualityDashboard_ddl.sql.jinja")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    OhdsiSql.executeAll(s, JinjaLite.render(text, scalars = Map(
      "dqd_database_catalog" -> "spark_catalog",
      "dqd_database_schema" -> "graft_dqd_ddl")), sqlRender = false)
    schemaListing(s, "graft_dqd_ddl.dqdashboard_runs")
      .unionByName(schemaListing(s, "graft_dqd_ddl.dqdashboard_results"))
      .orderBy("table_name", "ordinal")
  }

  /** The BIGQUERY-dialect flagship chain VERBATIM — the reference's
    * PRIMARY backend's own template texts
    * (`bigquery/templates/etl/{primary_key_column}_swap_create/merge`,
    * `{omop_table}_merge`; vendored byte-identical as resources), run
    * through [[graft.sources.OhdsiSql.translateBigQuery]] + the shared
    * statement executor: GoogleSQL whole-path backquotes, `CREATE TABLE
    * IF NOT EXISTS .. CLUSTER BY`, a MERGE whose CTEs live INSIDE the
    * USING subquery, windowed STRING_AGG instead of GROUP BY, `SELECT *
    * EXCEPT(rn)`, and `CREATE OR REPLACE TABLE .. LIKE .. AS ( .. )` —
    * the atomic CTAS-replace that is the reference's own S11 semantics.
    * Same fixture as the sql_server twin, pinned to the SAME expected
    * rows: both dialect trees produce identical results on this engine.
    */
  val ohdsiSqlBqFlow: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_bq_work CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_bq_omop CASCADE")
    val db = "graft_bq_work"
    stage(s, db, "provider__upload__u1", t(s, d, "nation").select(
      concat(lit("P_"), col("n_name")).as("provider_id"),
      col("n_name").as("provider_name"),
      concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"),
      concat(lit("SV_"), col("n_name")).as("specialty_source_value"),
      (lit(1950) + col("n_nationkey")).cast("int").as("year_of_birth"),
      concat(lit("CS_"), col("n_name")).as("care_site_id")))
    stage(s, db, "provider__upload__u2", t(s, d, "region")
      .join(t(s, d, "nation"), col("r_regionkey") === col("n_nationkey"))
      .select(
        concat(lit("PZ_"), col("r_name")).as("provider_id"),
        col("r_name").as("provider_name"),
        concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"),
        concat(lit("SVZ_"), col("r_name")).as("specialty_source_value"),
        (lit(1980) + col("r_regionkey")).cast("int").as("year_of_birth"),
        concat(lit("CS_"), col("n_name")).as("care_site_id")))
    stage(s, db, "provider__specialty_concept_id_usagi", t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      (col("n_nationkey") + 100).cast("int").as("conceptId"),
      lit("APPROVED").as("mappingStatus")))
    stage(s, db, "care_site_id_swap", t(s, d, "nation").select(
      concat(lit("CS_"), col("n_name")).as("x"),
      (col("n_nationkey") + 500).cast("int").as("y")))
    stage(s, "graft_bq_omop", "provider", s.range(0).select(
      lit(0).as("provider_id"), lit("").as("provider_name"),
      lit(0).as("specialty_concept_id"), lit("").as("specialty_source_value"),
      lit(0).as("year_of_birth"), lit(0).as("care_site_id")))
    val vars = Map(
      "dataset_work" -> db,
      "dataset_omop" -> "graft_bq_omop",
      "omop_table" -> "provider",
      "primary_key_column" -> "provider_id",
      "pk_auto_numbering" -> "true",
      "process_semi_approved_mappings" -> "",
      "min_custom_concept_id" -> "2000000000")
    val listVars = Map(
      "columns" -> Seq("provider_id", "provider_name", "specialty_concept_id",
        "specialty_source_value", "year_of_birth", "care_site_id"),
      "concept_id_columns" -> Seq("specialty_concept_id"),
      "foreign_key_columns" -> Seq("care_site_id"),
      "required_columns" -> Seq("care_site_id"),
      "events" -> Seq.empty[String],
      "sql_files" -> Seq("provider1", "provider2"),
      "upload_tables" -> Seq("u1", "u2"))
    Seq("bq_pk_swap_create", "bq_pk_swap_merge", "bq_omop_table_merge").foreach { f =>
      val in = getClass.getResourceAsStream(s"/graft/ohdsi/$f.sql.jinja")
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      OhdsiSql.executeAll(s,
        OhdsiSql.translateBigQuery(JinjaLite.render(text, vars, listVars)),
        sqlRender = false)
    }
    s.table("graft_bq_omop.provider").orderBy("provider_id")
  }

  /** The BIGQUERY-dialect concept-id swap chain VERBATIM
    * (`bigquery/templates/etl/CONCEPT_ID_swap_create/merge` — vendored
    * byte-identical): `CLUSTER BY`-suffixed guarded DDL, a MERGE with
    * its cte INSIDE the USING subquery and `INSERT ROW`. Same two-batch
    * fixture and SAME expected ids as the sql_server twin.
    */
  val ohdsiSqlBqConceptSwap: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_bq_cs CASCADE")
    val db = "graft_bq_cs"
    def run(name: String): Unit = {
      val in = getClass.getResourceAsStream(s"/graft/ohdsi/$name.sql.jinja")
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      OhdsiSql.executeAll(s,
        OhdsiSql.translateBigQuery(JinjaLite.render(text, Map(
          "dataset_work" -> db,
          "omop_table" -> "provider",
          "concept_id_column" -> "specialty_concept_id",
          "min_custom_concept_id" -> "2000000000"))), sqlRender = false)
    }
    stage(s, db, "provider__specialty_concept_id_concept", workConceptFixture(s, d))
    run("bq_concept_id_swap_create")
    run("bq_concept_id_swap_merge")
    stage(s, db, "provider__specialty_concept_id_concept",
      workConceptFixture(s, d).unionByName(regionConceptFixture(s, d)))
    run("bq_concept_id_swap_merge")
    s.table(s"$db.concept_id_swap").orderBy("y")
  }

  /** The BIGQUERY-dialect duplicate-rows check VERBATIM
    * (`bigquery/templates/etl/{omop_work_table}_merge_check_for_duplicate_rows`):
    * same Jinja surface as the sql_server twin but GoogleSQL quoting,
    * a double-quoted STRING_AGG separator, and a bare trailing LIMIT.
    * Same fixture; the same canonicalization of the published SQL's
    * engine-unspecified facets (STRING_AGG order, row order, count name).
    */
  val ohdsiSqlBqDupRows: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_bq_dr CASCADE")
    val orders = t(s, d, "orders")
    def upload(m: Long) = orders.filter(col("o_orderkey") % m === 0)
      .select(col("o_orderkey").as("provider_id"),
        (col("o_custkey") % 5).as("specialty_concept_id"))
    stage(s, "graft_bq_dr", "provider__upload__u1", upload(97L))
    stage(s, "graft_bq_dr", "provider__upload__u2", upload(1455L))
    val in = getClass.getResourceAsStream("/graft/ohdsi/bq_dup_rows.sql.jinja")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val raw = OhdsiSql.execute(s,
      OhdsiSql.translateBigQuery(JinjaLite.render(text,
        scalars = Map(
          "dataset_work" -> "graft_bq_dr",
          "omop_table" -> "provider",
          "primary_key_column" -> "provider_id"),
        lists = Map(
          "upload_tables" -> Seq("u1", "u2"),
          "concept_id_columns" -> Seq("specialty_concept_id"),
          "events" -> Seq.empty))), sqlRender = false)
    raw.select(
      concat_ws(", ", array_sort(split(col("upload_tables"), ",\\s*")))
        .as("upload_tables"),
      col("provider_id"), col("specialty_concept_id"),
      col(raw.columns.last).as("cnt"))
      .orderBy("provider_id", "specialty_concept_id")
  }

  /** BIGQUERY-dialect CONCEPT merge VERBATIM
    * (`bigquery/templates/etl/CONCEPT_merge.sql.jinja`): the bq swap
    * chain feeding a MERGE whose USING selects `swap.y as concept_id,
    * t.* EXCEPT(concept_id)` (the GoogleSQL qualified star-except) and
    * inserts with `INSERT ROW`. Same expected rows as the sql_server
    * twin.
    */
  val ohdsiSqlBqConceptMerge: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_bq_cm CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_bq_cm_omop CASCADE")
    val db = "graft_bq_cm"
    def run(name: String, extra: Map[String, String] = Map.empty): Unit = {
      val in = getClass.getResourceAsStream(s"/graft/ohdsi/$name.sql.jinja")
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      OhdsiSql.executeAll(s,
        OhdsiSql.translateBigQuery(JinjaLite.render(text, Map(
          "dataset_work" -> db,
          "dataset_omop" -> "graft_bq_cm_omop",
          "omop_table" -> "provider",
          "concept_id_column" -> "specialty_concept_id",
          "min_custom_concept_id" -> "2000000000") ++ extra)), sqlRender = false)
    }
    // the bq work concept table carries a concept_id column (its
    // concept_create DDL does) — the merge's star-except drops it
    stage(s, db, "provider__specialty_concept_id_concept",
      workConceptFixture(s, d).select(
        (lit(0L).as("concept_id") +: workConceptFixture(s, d).columns
          .map(col)): _*))
    run("bq_concept_id_swap_create")
    run("bq_concept_id_swap_merge")
    stage(s, "graft_bq_cm_omop", "concept", conceptSeed(s, d))
    run("bq_concept_merge")
    s.table("graft_bq_cm_omop.concept").orderBy("concept_id")
  }

  /** BIGQUERY-dialect usagi checks VERBATIM (`usagi_non_standard` +
    * `usagi_fk_domain_check` from the bigquery tree): double-quoted
    * string literals, bare LIMIT, and the domains-list Jinja loop — run
    * over the SAME staged universe as the sql_server flow (the shared
    * concept chain), returning one union frame.
    */
  val ohdsiSqlBqUsagiChecks: Q = (s, d) => {
    val (workDb, omopDb) = sharedConceptFlow(s, d)
    def run(name: String, lists: Map[String, Seq[String]]): DataFrame = {
      val in = getClass.getResourceAsStream(s"/graft/ohdsi/$name.sql.jinja")
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      OhdsiSql.execute(s,
        OhdsiSql.translateBigQuery(JinjaLite.render(text, Map(
          "dataset_work" -> workDb,
          "dataset_omop" -> omopDb,
          "omop_table" -> "provider",
          "concept_id_column" -> "specialty_concept_id",
          "process_semi_approved_mappings" -> ""), lists)), sqlRender = false)
    }
    val nonStd = run("bq_usagi_non_standard", Map.empty)
      .select(lit("non_standard").as("check"), col("sourceCode"),
        col("conceptId").cast("long").as("conceptId"),
        col("standard_concept").as("detail"))
    val domain = run("bq_usagi_fk_domain_check",
      Map("domains" -> Seq("condition", "procedure")))
      .select(lit("domain").as("check"), col("sourceCode"),
        col("conceptId").cast("long").as("conceptId"),
        col("domain_id").as("detail"))
    nonStd.unionByName(domain).orderBy("check", "sourceCode")
  }

  /** BIGQUERY-dialect usagi id injection VERBATIM
    * (`bigquery/templates/etl/{omop_table}__{concept_id_column}_usagi_update_custom_concepts`):
    * the GoogleSQL `UPDATE t AS T SET .. FROM ( subquery ) c WHERE ..`
    * shape (the r15 second UPDATE..FROM grammar), whose own
    * `conceptId IS NULL or = 0` guard updates only unassigned rows —
    * the full pure-BQ chain: work concept upload → bq swap create+merge
    * → bq id injection.
    */
  val ohdsiSqlBqUsagiUpdate: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_bq_uu CASCADE")
    val db = "graft_bq_uu"
    def run(name: String): Unit = {
      val in = getClass.getResourceAsStream(s"/graft/ohdsi/$name.sql.jinja")
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      OhdsiSql.executeAll(s,
        OhdsiSql.translateBigQuery(JinjaLite.render(text, Map(
          "dataset_work" -> db,
          "omop_table" -> "provider",
          "concept_id_column" -> "specialty_concept_id",
          "min_custom_concept_id" -> "2000000000",
          "process_semi_approved_mappings" -> ""))), sqlRender = false)
    }
    stage(s, db, "provider__specialty_concept_id_concept", workConceptFixture(s, d))
    run("bq_concept_id_swap_create")
    run("bq_concept_id_swap_merge")
    // unassigned = 0 (the template's own NULL-or-zero guard)
    stage(s, db, "provider__specialty_concept_id_usagi", t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      concat(lit("name "), col("n_name")).as("sourceName"),
      lit(0).as("conceptId"),
      when(col("n_nationkey") % 2 === 0, lit("APPROVED")).otherwise(lit("FLAGGED"))
        .as("mappingStatus")))
    run("bq_usagi_update")
    s.table(s"$db.provider__specialty_concept_id_usagi").orderBy("sourceCode")
  }

  /** The VOCABULARY branch of the verbatim `{omop_table}_merge` template
    * (the published S7/D6 refill semantics — the one template code path
    * the provider entry does not take): work-table TRUNCATE + dedup'd
    * upload UNION ALL the PRESERVED standard rows
    * (`vocabulary_concept_id < min_custom_concept_id`), then the
    * TRUNCATE-and-copy-back coda into the OMOP vocabulary.
    */
  val ohdsiSqlVocabMerge: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_vm CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_omop_vm CASCADE")
    val nat = t(s, d, "nation")
    val vocabCols = Seq("vocabulary_id", "vocabulary_name",
      "vocabulary_reference", "vocabulary_version", "vocabulary_concept_id")
    stage(s, "graft_work_vm", "vocabulary__upload__u1", nat.select(
      concat(lit("CUSTOM_"), col("n_name")).as("vocabulary_id"),
      concat(lit("vocab "), col("n_name")).as("vocabulary_name"),
      lit("ref").as("vocabulary_reference"),
      lit("v1").as("vocabulary_version"),
      (col("n_nationkey") + 2000000000L).as("vocabulary_concept_id")))
    // the work-side vocabulary copy the template truncates and loads
    stage(s, "graft_work_vm", "vocabulary", s.range(0).select(
      lit("").as("vocabulary_id"), lit("").as("vocabulary_name"),
      lit("").as("vocabulary_reference"), lit("").as("vocabulary_version"),
      lit(0L).as("vocabulary_concept_id")))
    // the OMOP vocabulary: preserved standards (< 2e9) + stale customs the
    // refill replaces
    stage(s, "graft_omop_vm", "vocabulary", t(s, d, "region").select(
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
    val vars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_vm",
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_vm",
      "omop_table" -> "vocabulary",
      "primary_key_column" -> "vocabulary_id",
      "pk_auto_numbering" -> "", // the vocabulary pk is its natural string id
      "process_semi_approved_mappings" -> "",
      "min_custom_concept_id" -> "2000000000")
    val listVars = Map(
      "columns" -> vocabCols,
      "concept_id_columns" -> Seq.empty[String],
      "foreign_key_columns" -> Seq.empty[String],
      "required_columns" -> Seq.empty[String],
      "events" -> Seq.empty[String],
      "sql_files" -> Seq("vocab1"),
      "upload_tables" -> Seq("u1"))
    val in = getClass.getResourceAsStream("/graft/ohdsi/omop_table_merge.sql.jinja")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    OhdsiSql.executeAll(s, JinjaLite.render(text, vars, listVars))
    s.table("graft_omop_vm.vocabulary").orderBy("vocabulary_id")
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
    s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
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
    stage(s, db, "provider__specialty_concept_id_usagi", t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      (col("n_nationkey") + 100).cast("int").as("conceptId"),
      lit("APPROVED").as("mappingStatus")))
    val baseVars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> db,
      "omop_table" -> "provider",
      "primary_key_column" -> "provider_id",
      "process_semi_approved_mappings" -> "")
    val listVars = Map(
      "concept_id_columns" -> Seq("specialty_concept_id"),
      "events" -> Seq.empty[String],
      "upload_tables" -> Seq("stream"))
    OhdsiSql.executeAll(s, JinjaLite.render(PkSwapCreateSql, baseVars, listVars))
    StreamingOps.drainEach(
      StreamingOps.stagedStream(s, stagingDir, wave0.schema), ckpt) { (batch, id) =>
      stage(s, db, "provider__upload__stream", batch)
      OhdsiSql.executeAll(s, JinjaLite.render(PkSwapMergeSql, baseVars,
        listVars + ("sql_files" -> Seq(s"batch_$id"))))
    }
    s.table(s"$db.provider_id_swap").orderBy("y")
  }

  /** THE reference's core ETL load — `etl/{omop_table}_merge.sql.jinja`
    * (230 lines, vendored byte-identical as a resource) — run VERBATIM,
    * downstream of the verbatim pk-swap flow: uploads union → usagi
    * concept-id swap join → pk-swap id join → `_source_value`
    * STRING_AGG grouping → windowed duplicate elimination → TRUNCATE +
    * WITH-prefixed INSERT INTO the OMOP table. Exercises the full r15
    * Jinja grammar (`events.keys()|length > 0 or ...`,
    * `column.endswith(...)`, `column in ["...", ...]` literal lists,
    * parenthesized and/or groups, namespace counters) and the bridge's
    * catalog INSERT. The provider fixture keeps every group single-row,
    * so the template's STRING_AGG is order-free and the output
    * hash-gates.
    */
  val ohdsiSqlOmopMerge: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_om CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_omop_om CASCADE")
    val db = "graft_work_om"
    stage(s, db, "provider__upload__u1", t(s, d, "nation").select(
      concat(lit("P_"), col("n_name")).as("provider_id"),
      col("n_name").as("provider_name"),
      concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"),
      concat(lit("SV_"), col("n_name")).as("specialty_source_value"),
      (lit(1950) + col("n_nationkey")).cast("int").as("year_of_birth"),
      concat(lit("CS_"), col("n_name")).as("care_site_id")))
    stage(s, db, "provider__upload__u2", t(s, d, "region")
      .join(t(s, d, "nation"), col("r_regionkey") === col("n_nationkey"))
      .select(
        concat(lit("PZ_"), col("r_name")).as("provider_id"),
        col("r_name").as("provider_name"),
        concat(lit("SRC_"), col("n_name")).as("specialty_concept_id"),
        concat(lit("SVZ_"), col("r_name")).as("specialty_source_value"),
        (lit(1980) + col("r_regionkey")).cast("int").as("year_of_birth"),
        concat(lit("CS_"), col("n_name")).as("care_site_id")))
    stage(s, db, "provider__specialty_concept_id_usagi", t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      (col("n_nationkey") + 100).cast("int").as("conceptId"),
      lit("APPROVED").as("mappingStatus")))
    stage(s, db, "care_site_id_swap", t(s, d, "nation").select(
      concat(lit("CS_"), col("n_name")).as("x"),
      (col("n_nationkey") + 500).cast("int").as("y")))
    // empty OMOP target with the template's column order
    stage(s, "graft_omop_om", "provider", s.range(0).select(
      lit(0).as("provider_id"), lit("").as("provider_name"),
      lit(0).as("specialty_concept_id"), lit("").as("specialty_source_value"),
      lit(0).as("year_of_birth"), lit(0).as("care_site_id")))
    val vars = Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> db,
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_om",
      "omop_table" -> "provider",
      "primary_key_column" -> "provider_id",
      "pk_auto_numbering" -> "true",
      "process_semi_approved_mappings" -> "",
      "min_custom_concept_id" -> "2000000000")
    val listVars = Map(
      "columns" -> Seq("provider_id", "provider_name", "specialty_concept_id",
        "specialty_source_value", "year_of_birth", "care_site_id"),
      "concept_id_columns" -> Seq("specialty_concept_id"),
      "foreign_key_columns" -> Seq("care_site_id"),
      "required_columns" -> Seq("care_site_id"),
      "events" -> Seq.empty[String],
      "sql_files" -> Seq("provider1", "provider2"),
      "upload_tables" -> Seq("u1", "u2"))
    // the published chain: pk-swap create + merge, then the table merge
    OhdsiSql.executeAll(s, JinjaLite.render(PkSwapCreateSql, vars, listVars))
    OhdsiSql.executeAll(s, JinjaLite.render(PkSwapMergeSql, vars, listVars))
    val in = getClass.getResourceAsStream("/graft/ohdsi/omop_table_merge.sql.jinja")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    OhdsiSql.executeAll(s, JinjaLite.render(text, vars, listVars))
    s.table("graft_omop_om.provider").orderBy("provider_id")
  }

  /** Verbatim `etl/{omop_table}_apply_event_columns.sql.jinja` (215
    * lines, vendored as a resource; natively J12/W4 `event_apply_columns`)
    * for the fact_relationship path: the events DICT drives
    * `{{events[column]}}` indexing, `(table, key) in event_tables.items()`
    * pair iteration builds one `[<key>_swap]` join per (event column ×
    * event table) with a shared namespace counter, the event-concept CASE
    * carries the PUBLISHED per-table concept ids, and `omop_table not in
    * [...]` picks the no-renumber branch — all r15 dict/record Jinja
    * widenings.
    */
  val ohdsiSqlApplyEvents: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_ae CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_omop_ae CASCADE")
    val k = col("o_orderkey")
    stage(s, "graft_work_ae", "fact_relationship", t(s, d, "orders").select(
      when(k % 2 === 0, lit("person")).otherwise(lit("observation"))
        .as("domain_concept_id_1"),
      when(k % 2 === 0, concat(lit("P_"), (k % 5).cast("string"))).otherwise(concat(lit("O_"), (k % 5).cast("string")))
        .as("fact_id_1"),
      when(k % 3 === 0, lit("person")).otherwise(lit("observation"))
        .as("domain_concept_id_2"),
      when(k % 3 === 0, concat(lit("P_"), (k % 7).cast("string"))).otherwise(concat(lit("O_"), (k % 7).cast("string")))
        .as("fact_id_2"),
      (lit(44818821) + k % 2).cast("int").as("relationship_concept_id")))
    stage(s, "graft_work_ae", "person_id_swap", s.range(0, 10).select(
      concat(lit("P_"), col("id").cast("string")).as("x"), (col("id") + 1).cast("int").as("y")))
    stage(s, "graft_work_ae", "observation_id_swap", s.range(0, 10).select(
      concat(lit("O_"), col("id").cast("string")).as("x"), (col("id") + 1001).cast("int").as("y")))
    stage(s, "graft_omop_ae", "fact_relationship", s.range(0).select(
      lit(0).as("domain_concept_id_1"), lit(0).as("fact_id_1"),
      lit(0).as("domain_concept_id_2"), lit(0).as("fact_id_2"),
      lit(0).as("relationship_concept_id")))
    val in = getClass.getResourceAsStream(
      "/graft/ohdsi/omop_table_apply_event_columns.sql.jinja")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val rendered = JinjaLite.render(text,
      scalars = Map(
        "work_database_catalog" -> "spark_catalog",
        "work_database_schema" -> "graft_work_ae",
        "omop_database_catalog" -> "spark_catalog",
        "omop_database_schema" -> "graft_omop_ae",
        "omop_table" -> "fact_relationship"),
      lists = Map(
        "columns" -> Seq("domain_concept_id_1", "fact_id_1",
          "domain_concept_id_2", "fact_id_2", "relationship_concept_id")),
      dicts = Map(
        "events" -> Seq(
          "fact_id_1" -> "domain_concept_id_1",
          "fact_id_2" -> "domain_concept_id_2"),
        "event_tables" -> Seq(
          "person" -> "person_id",
          "observation" -> "observation_id")))
    OhdsiSql.executeAll(s, rendered)
    s.table("graft_omop_ae.fact_relationship")
      .orderBy("domain_concept_id_1", "fact_id_1", "domain_concept_id_2",
        "fact_id_2", "relationship_concept_id")
  }

  /** The RENUMBER branch of the verbatim `{omop_table}_apply_event_columns`
    * template (r16 — the `omop_table not in [fact_relationship,
    * episode_event]` path both dialect entries had left unexercised):
    * when the event-swap projection maps one pk to MULTIPLE rows, row 1
    * keeps the pk and the rest re-key as `max_id + ROW_NUMBER()` (the W4
    * semantics, natively `event_rekey`). Fixture: every `% 10 == 0`
    * observation carries TWO work rows — one 'person'-routed, one
    * 'observation'-routed — whose projections differ in the event concept
    * (1147026 vs 1147165) and swap id, so both dialects' dedup windows
    * order deterministically (sql_server sorts all columns; bigquery
    * sorts the concept column) and agree on the kept row.
    */
  private[queries] def stageApplyEventsRenumber(
      s: SparkSession, d: String, workDb: String, omopDb: String): Unit = {
    s.sql(s"DROP DATABASE IF EXISTS $workDb CASCADE")
    s.sql(s"DROP DATABASE IF EXISTS $omopDb CASCADE")
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
    stage(s, workDb, "observation", base.unionByName(dups))
    stage(s, workDb, "person_id_swap", s.range(0, 10).select(
      concat(lit("P_"), col("id").cast("string")).as("x"),
      (col("id") + 1).cast("int").as("y")))
    stage(s, workDb, "observation_id_swap", s.range(0, 10).select(
      concat(lit("O_"), col("id").cast("string")).as("x"),
      (col("id") + 1001).cast("int").as("y")))
    stage(s, omopDb, "observation", s.range(0).select(
      lit(0L).as("observation_id"), lit("").as("value_as_string"),
      lit(0).as("observation_event_id"), lit(0).as("obs_event_field_concept_id")))
  }

  private[queries] val ApplyEventsRenumberLists = Map(
    "columns" -> Seq("observation_id", "value_as_string",
      "observation_event_id", "obs_event_field_concept_id"))
  private[queries] val ApplyEventsRenumberDicts = Map(
    "events" -> Seq("observation_event_id" -> "obs_event_field_concept_id"),
    "event_tables" -> Seq("person" -> "person_id", "observation" -> "observation_id"))

  val ohdsiSqlApplyEventsRenumber: Q = (s, d) => {
    stageApplyEventsRenumber(s, d, "graft_work_aer", "graft_omop_aer")
    val in = getClass.getResourceAsStream(
      "/graft/ohdsi/omop_table_apply_event_columns.sql.jinja")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    OhdsiSql.executeAll(s, JinjaLite.render(text,
      scalars = Map(
        "work_database_catalog" -> "spark_catalog",
        "work_database_schema" -> "graft_work_aer",
        "omop_database_catalog" -> "spark_catalog",
        "omop_database_schema" -> "graft_omop_aer",
        "omop_table" -> "observation",
        "primary_key_column" -> "observation_id"),
      lists = ApplyEventsRenumberLists,
      dicts = ApplyEventsRenumberDicts))
    s.table("graft_omop_aer.observation").orderBy("observation_id")
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
  private[queries] def stageFactChainFixture(
      s: SparkSession, d: String, workDb: String, omopDb: String): Unit = {
    s.sql(s"DROP DATABASE IF EXISTS $workDb CASCADE")
    s.sql(s"DROP DATABASE IF EXISTS $omopDb CASCADE")
    val k = col("o_orderkey")
    T_fact_upload(s, d, workDb)
    stage(s, workDb, "fact_relationship__relationship_concept_id_usagi",
      s.range(0, 2).select(
        concat(lit("REL_"), col("id").cast("string")).as("sourceCode"),
        (lit(44818821) + col("id")).cast("int").as("conceptId"),
        lit("APPROVED").as("mappingStatus")))
    // the work-side table the merge TRUNCATEs and loads (events as
    // strings, the mapped relationship id as int)
    stage(s, workDb, "fact_relationship", s.range(0).select(
      lit("").as("domain_concept_id_1"), lit("").as("fact_id_1"),
      lit("").as("domain_concept_id_2"), lit("").as("fact_id_2"),
      lit(0).as("relationship_concept_id")))
    stage(s, workDb, "person_id_swap", s.range(0, 10).select(
      concat(lit("P_"), col("id").cast("string")).as("x"),
      (col("id") + 1).cast("int").as("y")))
    stage(s, workDb, "observation_id_swap", s.range(0, 10).select(
      concat(lit("O_"), col("id").cast("string")).as("x"),
      (col("id") + 1001).cast("int").as("y")))
    stage(s, omopDb, "fact_relationship", s.range(0).select(
      lit(0).as("domain_concept_id_1"), lit(0).as("fact_id_1"),
      lit(0).as("domain_concept_id_2"), lit(0).as("fact_id_2"),
      lit(0).as("relationship_concept_id")))
  }

  private def T_fact_upload(s: SparkSession, d: String, workDb: String): Unit = {
    val k = col("o_orderkey")
    stage(s, workDb, "fact_relationship__upload__u1", t(s, d, "orders").select(
      when(k % 2 === 0, lit("person")).otherwise(lit("observation"))
        .as("domain_concept_id_1"),
      when(k % 2 === 0, concat(lit("P_"), (k % 5).cast("string")))
        .otherwise(concat(lit("O_"), (k % 5).cast("string"))).as("fact_id_1"),
      when(k % 3 === 0, lit("person")).otherwise(lit("observation"))
        .as("domain_concept_id_2"),
      when(k % 3 === 0, concat(lit("P_"), (k % 7).cast("string")))
        .otherwise(concat(lit("O_"), (k % 7).cast("string"))).as("fact_id_2"),
      concat(lit("REL_"), (k % 2).cast("string")).as("relationship_concept_id")))
  }

  private[queries] val FactChainScalars = Map(
    "omop_table" -> "fact_relationship",
    "primary_key_column" -> "",
    "pk_auto_numbering" -> "",
    "process_semi_approved_mappings" -> "",
    "min_custom_concept_id" -> "2000000000")
  private[queries] val FactChainLists = Map(
    "columns" -> Seq("domain_concept_id_1", "fact_id_1",
      "domain_concept_id_2", "fact_id_2", "relationship_concept_id"),
    "concept_id_columns" -> Seq("domain_concept_id_1", "domain_concept_id_2",
      "relationship_concept_id"),
    "foreign_key_columns" -> Seq.empty[String],
    "required_columns" -> Seq.empty[String],
    "sql_files" -> Seq("fact1"),
    "upload_tables" -> Seq("u1"))
  private[queries] val FactChainDicts = Map(
    "events" -> Seq(
      "fact_id_1" -> "domain_concept_id_1",
      "fact_id_2" -> "domain_concept_id_2"),
    "event_tables" -> Seq(
      "person" -> "person_id",
      "observation" -> "observation_id"))

  val ohdsiSqlFactMergeChain: Q = (s, d) => {
    stageFactChainFixture(s, d, "graft_work_fc", "graft_omop_fc")
    val scalars = FactChainScalars ++ Map(
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_fc",
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_fc")
    def run(res: String): Unit = {
      val in = getClass.getResourceAsStream(s"/graft/ohdsi/$res.sql.jinja")
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      OhdsiSql.executeAll(s,
        JinjaLite.render(text, scalars, FactChainLists, FactChainDicts))
      ()
    }
    run("omop_table_merge") // events branch: TRUNCATE + load the WORK table
    // the published discovery step (its frame feeds the driver's
    // event_tables dict — here the dict is the fixture's, same content)
    OhdsiSql.execute(s, JinjaLite.render(GetEventTablesSql,
      scalars = scalars, lists = Map("events" ->
        Seq("domain_concept_id_1", "domain_concept_id_2"))))
    run("omop_table_apply_event_columns")
    s.table("graft_omop_fc.fact_relationship")
      .orderBy("domain_concept_id_1", "fact_id_1", "domain_concept_id_2",
        "fact_id_2", "relationship_concept_id")
  }

  /** Verbatim `cdm_folders/sample_etl_query.sql.jinja` — the S9 user
    * SELECT the reference documents for a CDM folder: record-typed
    * `columns` drive the PK/FK/CONCEPT `_PREQUAL_` prefixes and the
    * per-column CAST to the CDM datatype.
    */
  private val SampleEtlQuerySql =
    """SELECT
      |{%- for column in columns -%}
      |    {%- if not loop.first %}
      |    {{ ',' }}
      |    {%- else %}
      |    {{ '' }}
      |    {%- endif -%}
      |    {%- if column.isPrimaryKey == 'Yes' -%}
      |    CONCAT('PK_PREQUAL_', CAST(raw.[{{ column.cdmFieldName }}_column] as VARCHAR(255)))
      |    {%- elif column.isForeignKey == 'Yes' and column.fkTableName != "CONCEPT" -%}
      |    CONCAT('FK_PREQUAL_', CAST(raw.[{{ column.cdmFieldName }}_column] as VARCHAR(255)))
      |    {%- elif column.isForeignKey == 'Yes' and column.fkTableName == "CONCEPT" -%}
      |    CONCAT('CONCEPT_PREQUAL_', CAST(raw.[{{ column.cdmFieldName }}_column] as VARCHAR(255)))
      |    {%- else -%}
      |    CAST(raw.[{{ column.cdmFieldName }}_column] as {{ column.cdmDatatype }})
      |    {%- endif -%}
      |    {{" "}}AS {{ column.cdmFieldName }}
      |{%- endfor %}
      |FROM dbo.raw_{{ omop_table }} raw""".stripMargin

  /** Verbatim `etl/{omop_table}_{sql_file}_insert.sql.jinja` (natively
    * S10 upload-table sink): record-typed column DDL switch (PK/FK/event
    * columns become varchar(255), the rest their CDM datatype), the
    * commented-out index block, and `{{ctes}}` + `{{select_query}}` —
    * the user's rendered S9 SELECT — loaded via catalog INSERT INTO.
    */
  private val UploadInsertSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |DROP TABLE IF EXISTS [{{work_database_catalog}}].[{{work_database_schema}}].[{{upload_table}}];
      |
      |CREATE TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[{{upload_table}}] (
      |  {% for column in columns -%}
      |      {% if not loop.first %}
      |  {{ ',' }}
      |      {%- endif -%}
      |      [{{ column["cdmFieldName"] }}]
      |      {%- if column["isPrimaryKey"] == 'Yes' %} varchar(255)
      |      {%- elif column["isForeignKey"] == 'Yes' %} varchar(255)
      |      {%- elif column["cdmFieldName"] in events.keys() %} varchar(255)
      |      {%- else %} {{ column["cdmDatatype"] }}
      |      {%- endif -%}
      |  {%- endfor %}
      |);
      |
      |CREATE INDEX idx_{{upload_table}}_1 ON [{{work_database_catalog}}].[{{work_database_schema}}].[{{upload_table}}] (
      |{%- if omop_table == 'fact_relationship' %}
      |    fact_id_1
      |    , fact_id_2
      |{%- elif omop_table == 'death' %}
      |    person_id
      |{%- elif omop_table == 'cdm_source' %}
      |    cdm_source_name
      |{%- elif primary_key_column %}
      |    {{primary_key_column}}
      |{%- endif -%}
      |{# {%- for column in concept_id_columns -%}
      |    {%- if not column in events.values() %}
      |    , [{{column}}]
      |    {%- endif -%}
      |{%- endfor -%}
      |{%- for column in events -%}
      |    {%- if omop_table != 'fact_relationship' %}
      |    , [{{column}}]
      |    {%- endif -%}
      |{%- endfor %} #}
      |);
      |
      |{{ctes}}
      |INSERT INTO [{{work_database_catalog}}].[{{work_database_schema}}].[{{upload_table}}]
      |{{select_query}}""".stripMargin

  /** The sample CDM-folder column metadata (the CdmModel row shape). */
  private[queries] val SampleColumns: Seq[Map[String, String]] = Seq(
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

  /** The raw source table the sample queries read (`dbo.raw_provider`). */
  private[queries] def stageRawProvider(s: SparkSession, d: String): Unit =
    stage(s, "dbo", "raw_provider", t(s, d, "nation").select(
      col("n_nationkey").as("provider_id_column"),
      col("n_name").as("provider_name_column"),
      concat(lit("SPEC_"), (col("n_nationkey") % 4).cast("string"))
        .as("specialty_concept_id_column"),
      (lit(1950) + col("n_nationkey")).cast("int").as("year_of_birth_column"),
      (col("n_nationkey") % 6).as("care_site_id_column")))

  val ohdsiSqlUploadInsert: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_ui CASCADE")
    stageRawProvider(s, d)
    val userSelect = JinjaLite.render(SampleEtlQuerySql,
      scalars = Map("omop_table" -> "provider"),
      records = Map("columns" -> SampleColumns))
    val rendered = JinjaLite.render(UploadInsertSql,
      scalars = Map(
        "work_database_catalog" -> "spark_catalog",
        "work_database_schema" -> "graft_work_ui",
        "upload_table" -> "provider__upload__u1",
        "omop_table" -> "provider",
        "primary_key_column" -> "provider_id",
        "ctes" -> "",
        "select_query" -> userSelect),
      dicts = Map("events" -> Seq.empty),
      records = Map("columns" -> SampleColumns))
    OhdsiSql.executeAll(s, rendered)
    s.table("graft_work_ui.provider__upload__u1").orderBy("provider_id")
  }

  /** Verbatim `cdm_folders/sample_usagi_query.sql.jinja` (natively A8
    * sourceFrequency): the single-record `concept_column.cdmFieldName`
    * attribute form, GROUP BY aliases, frequency-desc ordering (ties
    * canonicalized by source code after the verbatim run).
    */
  private val SampleUsagiQuerySql =
    """SELECT
      |    CONCAT('CONCEPT_PREQUAL_', CAST(raw.{{ concept_column.cdmFieldName }}_column as VARCHAR(255))) AS sourceCode
      |    ,raw.{{ concept_column.cdmFieldName }}_column_with_description AS sourceName
      |    ,COUNT(*) AS sourceFrequency
      |FROM dbo.raw_{{ omop_table }} raw
      |GROUP BY sourceCode, sourceName
      |ORDER BY sourceFrequency DESC""".stripMargin

  val ohdsiSqlSampleUsagi: Q = (s, d) => {
    stage(s, "dbo", "raw_provider2", t(s, d, "orders").select(
      concat(lit("SPEC_"), (col("o_orderkey") % 4).cast("string"))
        .as("specialty_concept_id_column"),
      concat(lit("desc "), (col("o_orderkey") % 4).cast("string"))
        .as("specialty_concept_id_column_with_description")))
    val rendered = JinjaLite.render(SampleUsagiQuerySql, scalars = Map(
      "omop_table" -> "provider2",
      "concept_column.cdmFieldName" -> "specialty_concept_id"))
    OhdsiSql.execute(s, rendered).orderBy(desc("sourceFrequency"), col("sourceCode"))
  }

  /** Verbatim
    * `cleanup/SOURCE_TO_CONCEPT_MAP_remove_concepts_by_..._usagi_table.sql.jinja`
    * (natively J9 `merge_delete_anti`): the MERGE `WHEN MATCHED THEN
    * DELETE` clause — matched mappings are removed, the rest survive.
    */
  private val S2cmRemoveSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |MERGE INTO [{{omop_database_catalog}}].[{{omop_database_schema}}].[source_to_concept_map] AS T
      |USING (
      |    SELECT
      |        t.sourceCode as source_code
      |        ,t.conceptId as target_concept_id
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi] t
      |) AS S
      |ON S.source_code = T.source_code
      |    and S.target_concept_id = T.target_concept_id
      |WHEN MATCHED THEN
      |  DELETE;""".stripMargin

  val ohdsiSqlS2cmRemove: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_sr CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_omop_sr CASCADE")
    stage(s, "graft_omop_sr", "source_to_concept_map", t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("source_code"),
      (col("n_nationkey") + 100).cast("int").as("target_concept_id"),
      lit("keepable").as("source_code_description")))
    stage(s, "graft_work_sr", "provider__specialty_concept_id_usagi",
      t(s, d, "nation").filter(col("n_nationkey") % 3 === 0).select(
        concat(lit("SRC_"), col("n_name")).as("sourceCode"),
        (col("n_nationkey") + 100).cast("int").as("conceptId")))
    OhdsiSql.executeAll(s, JinjaLite.render(S2cmRemoveSql, scalars = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_sr",
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_sr",
      "omop_table" -> "provider",
      "concept_id_column" -> "specialty_concept_id")))
    s.table("graft_omop_sr.source_to_concept_map").orderBy("source_code")
  }

  /** Verbatim
    * `cleanup/CONCEPT_remove_custom_concepts_by_..._usagi_table.sql.jinja`
    * (natively P6): a FROM-less T-SQL DELETE with two nested IN
    * subqueries and the ≥2e9 custom-concept floor.
    */
  private val ConceptRemoveByUsagiSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |delete [{{omop_database_catalog}}].[{{omop_database_schema}}].[concept]
      |where concept_id in (
      |    select conceptId
      |    from [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_usagi]
      |    where sourceCode in (
      |        select concept_code
      |        from [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept]
      |    )
      |) and concept_id >= {{min_custom_concept_id}}""".stripMargin

  val ohdsiSqlConceptRemove: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_cr CASCADE")
    s.sql("DROP DATABASE IF EXISTS graft_omop_cr CASCADE")
    val nat = t(s, d, "nation")
    stage(s, "graft_omop_cr", "concept", nat.select(
      col("n_nationkey").cast("long").as("concept_id"),
      col("n_name").as("concept_name"))
      .unionByName(nat.select(
        (col("n_nationkey") + 2000000000L).as("concept_id"),
        concat(lit("CUSTOM_"), col("n_name")).as("concept_name"))))
    stage(s, "graft_work_cr", "provider__specialty_concept_id_usagi",
      nat.filter(col("n_nationkey") % 2 === 0).select(
        concat(lit("SRC_"), col("n_name")).as("sourceCode"),
        (col("n_nationkey") + 2000000000L).as("conceptId")))
    stage(s, "graft_work_cr", "provider__specialty_concept_id_concept",
      nat.select(concat(lit("SRC_"), col("n_name")).as("concept_code")))
    OhdsiSql.executeAll(s, JinjaLite.render(ConceptRemoveByUsagiSql, scalars = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_cr",
      "work_database_catalog" -> "spark_catalog",
      "work_database_schema" -> "graft_work_cr",
      "omop_table" -> "provider",
      "concept_id_column" -> "specialty_concept_id",
      "min_custom_concept_id" -> "2000000000")))
    s.table("graft_omop_cr.concept").orderBy("concept_id")
  }

  /** Verbatim `ddl/result_table_ddl_{field,concept,table}.sql.jinja`
    * (all three vendored byte-identical as resources; natively D2): the
    * DQD results DDLs whose published two-part target name is the
    * rendered `{{catalog}}.{{schema}}` pair itself. Gated on the union
    * of the three created schemas.
    */
  val ohdsiSqlResultDdl: Q = (s, _) => {
    s.sql("DROP DATABASE IF EXISTS graft_dqd_rt CASCADE")
    s.sql("CREATE DATABASE graft_dqd_rt")
    Seq("field", "concept", "table").foreach { v =>
      val in = getClass.getResourceAsStream(s"/graft/ohdsi/result_table_ddl_$v.sql.jinja")
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      OhdsiSql.executeAll(s, JinjaLite.render(text, scalars = Map(
        "dqd_database_catalog" -> "graft_dqd_rt",
        "dqd_database_schema" -> s"results_$v")), sqlRender = false)
    }
    schemaListing(s, "graft_dqd_rt.results_field")
      .unionByName(schemaListing(s, "graft_dqd_rt.results_concept"))
      .unionByName(schemaListing(s, "graft_dqd_rt.results_table"))
      .orderBy("table_name", "ordinal")
  }

  /** Verbatim `etl/cdm_metadata_riab_version.sql.jinja` +
    * `cdm_metadata_git_commit_hash.sql.jinja` (natively D7
    * `metadata_version`): the two version-stamping metadata rows; the
    * GETDATE() wall-clock date/datetime columns are dropped from the
    * gated shape (the dqd_last_runs precedent).
    */
  private val MetadataRiabSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |SELECT
      |    CONCAT('RIAB_', 'VERSION') AS metadata_id,
      |    CONCAT('RIAB_', 'OMOPCDM{{cdm_version}}') AS metadata_concept_id,
      |    CONCAT('RIAB_', 'EHR') AS metadata_type_concept_id,
      |    'Rabbit-in-a-Blender version' AS name,
      |    '{{riab_version}}' AS value_as_string,
      |    NULL AS value_as_concept_id,
      |    NULL AS value_as_number,
      |    CONVERT(date, GETDATE()) AS metadata_date,
      |    GETDATE() AS metadata_datetime""".stripMargin

  private val MetadataGitSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |SELECT
      |    CONCAT('GIT_', 'VERSION') AS metadata_id,
      |    CONCAT('GIT_', 'OMOPCDM{{cdm_version}}') AS metadata_concept_id,
      |    CONCAT('GIT_', 'EHR') AS metadata_type_concept_id,
      |    'Git commit hash of the CDM folder' AS name,
      |    '{{git_commit_hash}}' AS value_as_string,
      |    NULL AS value_as_concept_id,
      |    NULL AS value_as_number,
      |    CONVERT(date, GETDATE()) AS metadata_date,
      |    GETDATE() AS metadata_datetime""".stripMargin

  val ohdsiSqlMetadataRows: Q = (s, _) => {
    val riab = OhdsiSql.execute(s, JinjaLite.render(MetadataRiabSql, scalars = Map(
      "cdm_version" -> "5.4", "riab_version" -> "0.1.0")))
    val git = OhdsiSql.execute(s, JinjaLite.render(MetadataGitSql, scalars = Map(
      "cdm_version" -> "5.4", "git_commit_hash" -> "abc123def")))
    riab.unionByName(git)
      .drop("metadata_date", "metadata_datetime")
      // the template's bare NULLs are untyped (the warehouse types them);
      // parquet cannot store a VOID column, so the gated shape casts them
      // to the CDM metadata column types
      .withColumn("value_as_concept_id", col("value_as_concept_id").cast("string"))
      .withColumn("value_as_number", col("value_as_number").cast("double"))
      .orderBy("metadata_id")
  }

  /** The complete published CDM 5.4 DDL SUITE verbatim — base DDL plus
    * the primary-keys, indices (incl. CLUSTERED), and foreign-key
    * constraint scripts (all vendored byte-identical): constraints and
    * indexes are accepted-and-ignored statement classes (no Spark
    * analogue; D3 n/a by design), so the inventory after all four
    * scripts equals the base DDL's.
    */
  val ohdsiSqlCdm54Full: Q = (s, _) => {
    import s.implicits._
    s.sql("DROP DATABASE IF EXISTS graft_omop_cdmf CASCADE")
    s.sql("CREATE DATABASE graft_omop_cdmf")
    val scalars = Map(
      "omop_database_catalog" -> "spark_catalog",
      "omop_database_schema" -> "graft_omop_cdmf")
    Seq("OMOPCDM_sql_server_5.4_ddl", "OMOPCDM_sql_server_5.4_primary_keys",
      "OMOPCDM_sql_server_5.4_indices", "OMOPCDM_sql_server_5.4_constraints")
      .foreach { f =>
        val in = getClass.getResourceAsStream(s"/graft/ohdsi/$f.sql.jinja")
        val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        OhdsiSql.executeAll(s, JinjaLite.render(text, scalars), sqlRender = false)
      }
    s.catalog.listTables("graft_omop_cdmf").collect().toSeq
      .filter(_.tableType != "TEMPORARY") // temp views are session-wide, not CDM tables
      .map(tb => (tb.name, s.table(s"graft_omop_cdmf.${tb.name}").schema.length))
      .toDF("table_name", "n_columns").orderBy("table_name")
  }

  /** Verbatim `etl/CONCEPT_custom_validate_duplicates.sql.jinja`
    * (natively A4): concept codes whose DISTINCT attribute rows collide —
    * the fixture plants one code with two names.
    */
  private val CustomValidateDupsSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |select T.concept_code, count(*) as amount
      |from (
      |    SELECT DISTINCT swap.y as concept_id
      |        ,t.concept_name
      |        ,t.domain_id
      |        ,t.vocabulary_id
      |        ,t.concept_class_id
      |        ,t.standard_concept
      |        ,t.concept_code
      |        ,t.valid_start_date
      |        ,t.valid_end_date
      |        ,t.invalid_reason
      |    FROM [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}__{{concept_id_column}}_concept] t
      |    INNER JOIN [{{work_database_catalog}}].[{{work_database_schema}}].[concept_id_swap] swap
      |        on swap.x = concat('{{concept_id_column}}__', t.concept_code)
      |) T
      |group by T.concept_code
      |having count(*) > 1;""".stripMargin

  val ohdsiSqlValidateDups: Q = (s, d) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_vd CASCADE")
    val rank1Code = workConceptFixture(s, d)
      .agg(min(col("concept_code"))).head().getString(0)
    // plant ONE duplicate: the rank-1 code appears again with a second name
    val dupRow = workConceptFixture(s, d)
      .filter(col("concept_code") === rank1Code)
      .withColumn("concept_name", lit("conflicting name"))
    stage(s, "graft_work_vd", "provider__specialty_concept_id_concept",
      workConceptFixture(s, d).unionByName(dupRow))
    runSwapFlow(s, "graft_work_vd")
    OhdsiSql.execute(s, JinjaLite.render(CustomValidateDupsSql,
      swapJinja("graft_work_vd"))).orderBy("concept_code")
  }

  /** Verbatim `etl/{omop_work}_ddl.sql.jinja` (natively D4 work-table
    * DDL): record-typed columns with the event-column varchar override
    * and per-column `not null` markers from `column['isRequired']`.
    */
  private val OmopWorkDdlSql =
    """{#- Copyright 2024 RADar-AZDelta -#}
      |{#- SPDX-License-Identifier: gpl3+ -#}
      |USE  [{{work_database_catalog}}];
      |IF NOT EXISTS (SELECT 1 FROM sys.tables t INNER JOIN sys.schemas s ON s.schema_id = t.schema_id WHERE t.name = '{{omop_table}}' AND s.name = '{{work_database_schema}}')
      |CREATE TABLE [{{work_database_catalog}}].[{{work_database_schema}}].[{{omop_table}}] (
      |  {%- for column in columns -%}
      |      {%- if not loop.first -%}
      |          {{ ',' }}
      |      {%- endif %}
      |      {{ column["cdmFieldName"] }}
      |      {%- if column["cdmFieldName"] in events or column["cdmFieldName"] in events.values() %} varchar(255)
      |      {%- else %} {{ column["cdmDatatype"] }}
      |      {%- endif -%}
      |      {%- if column['isRequired'] == "Yes" %} not null
      |      {%- endif -%}
      |  {%- endfor %}
      |);""".stripMargin

  val ohdsiSqlWorkTableDdl: Q = (s, _) => {
    s.sql("DROP DATABASE IF EXISTS graft_work_wd CASCADE")
    val cols = SampleColumns.map(c => c +
      ("isRequired" -> (if (c("cdmFieldName") == "provider_id") "Yes" else "No")))
    OhdsiSql.executeAll(s, JinjaLite.render(OmopWorkDdlSql,
      scalars = Map(
        "work_database_catalog" -> "spark_catalog",
        "work_database_schema" -> "graft_work_wd",
        "omop_table" -> "provider"),
      dicts = Map("events" -> Seq.empty),
      records = Map("columns" -> cols)))
    schemaListing(s, "graft_work_wd.provider").orderBy("ordinal")
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

  val defs: Seq[(String, Q)] = Seq(
    "ohdsi_sql_cdm54_full" -> ohdsiSqlCdm54Full,
    "ohdsi_sql_validate_dups" -> ohdsiSqlValidateDups,
    "ohdsi_sql_work_table_ddl" -> ohdsiSqlWorkTableDdl,
    "ohdsi_sql_s2cm_remove" -> ohdsiSqlS2cmRemove,
    "ohdsi_sql_concept_remove" -> ohdsiSqlConceptRemove,
    "ohdsi_sql_result_ddl" -> ohdsiSqlResultDdl,
    "ohdsi_sql_metadata_rows" -> ohdsiSqlMetadataRows,
    "ohdsi_sql_upload_insert" -> ohdsiSqlUploadInsert,
    "ohdsi_sql_sample_usagi" -> ohdsiSqlSampleUsagi,
    "ohdsi_sql_apply_events" -> ohdsiSqlApplyEvents,
    "ohdsi_sql_omop_merge" -> ohdsiSqlOmopMerge,
    "ohdsi_sql_cdm54_ddl" -> ohdsiSqlCdm54Ddl,
    "ohdsi_sql_dqd_ddl" -> ohdsiSqlDqdDdl,
    "ohdsi_sql_dqd_run_results" -> ohdsiSqlDqdRunResults,
    "ohdsi_sql_map_ddl" -> ohdsiSqlMapDdl,
    "ohdsi_sql_work_ddl_create" -> ohdsiSqlWorkDdl,
    "ohdsi_sql_event_tables" -> ohdsiSqlEventTables,
    "ohdsi_sql_drop_table" -> ohdsiSqlDropTable,
    "ohdsi_sql_vocab_cleanup" -> ohdsiSqlVocabCleanup,
    "ohdsi_sql_pk_swap" -> ohdsiSqlPkSwap,
    "stream_pk_swap_merge" -> streamPkSwapMerge,
    "ohdsi_sql_vocab_merge" -> ohdsiSqlVocabMerge,
    "ohdsi_sql_bq_flow" -> ohdsiSqlBqFlow,
    "ohdsi_sql_bq_concept_swap" -> ohdsiSqlBqConceptSwap,
    "ohdsi_sql_bq_concept_merge" -> ohdsiSqlBqConceptMerge,
    "ohdsi_sql_bq_usagi_checks" -> ohdsiSqlBqUsagiChecks,
    "ohdsi_sql_bq_usagi_update" -> ohdsiSqlBqUsagiUpdate,
    "ohdsi_sql_bq_dup_rows" -> ohdsiSqlBqDupRows,
    "ohdsi_sql_usagi_update" -> ohdsiSqlUsagiUpdate,
    "ohdsi_sql_stcm_merge" -> ohdsiSqlStcmMerge,
    "ohdsi_sql_map_merge" -> ohdsiSqlMapMerge,
    "ohdsi_sql_usagi_nonstd" -> ohdsiSqlUsagiNonStd,
    "ohdsi_sql_stcm_invalidate" -> ohdsiSqlStcmInvalidate,
    "ohdsi_sql_map_invalidate" -> ohdsiSqlMapInvalidate,
    "ohdsi_sql_get_dqd_run" -> ohdsiSqlGetDqdRun,
    "ohdsi_sql_last_dqd_runs" -> ohdsiSqlLastDqdRuns,
    "ohdsi_sql_work_tables" -> ohdsiSqlWorkTables,
    "ohdsi_sql_map_cleanup" -> ohdsiSqlMapCleanup,
    "ohdsi_sql_concept_swap" -> ohdsiSqlConceptSwap,
    "ohdsi_sql_concept_merge" -> ohdsiSqlConceptMerge,
    "ohdsi_sql_custom_validate" -> ohdsiSqlCustomValidate,
    "ohdsi_sql_datepart_tail" -> ohdsiSqlDatepartTail,
    "ohdsi_sql_apply_events_renumber" -> ohdsiSqlApplyEventsRenumber,
    "ohdsi_sql_fact_merge_chain" -> ohdsiSqlFactMergeChain)

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
