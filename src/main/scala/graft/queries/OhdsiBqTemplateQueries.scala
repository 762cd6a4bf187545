package graft.queries

import graft.sources.OhdsiSql
import graft.sources.OhdsiSql.BigQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The BIGQUERY-dialect template tree run VERBATIM — the reference's
  * PRIMARY backend (`src/riab/etl/bigquery/templates/`, 43 `.sql.jinja`
  * files), every file vendored byte-identical as a `bq_*.sql.jinja`
  * resource and run by [[OhdsiSql.runTemplate]] through
  * [[OhdsiSql.translateBigQuery]] (the GoogleSQL pre-pass) + the shared
  * statement executor.
  *
  * Most bigquery entries are dialect twins: one function of the dialect
  * in [[OhdsiTemplateQueries]], registered there under both names and
  * pinned to the SAME expected rows as the sql_server entry wherever the
  * dialects' outputs agree — proving both published trees produce
  * identical results on this engine — or to a dialect-specific oracle
  * below where GoogleSQL types (INT64 -> bigint) or functions
  * (FORMAT_TIMESTAMP) change the shape. This file holds the entries with
  * no sql_server twin fixture, and every bigquery oracle.
  * `TemplateCoverageSpec` enforces full-tree coverage.
  */
object OhdsiBqTemplateQueries {
  private type Q = (SparkSession, String) => DataFrame
  private val T = OhdsiTemplateQueries

  /** The clustering-parity proof (SURVEY §1.3): create the id map via
    * the verbatim bq DDL (CLUSTER BY omop_table, omop_id), bulk-INSERT
    * deliberately UNSORTED rows through the bridge, then verify every
    * written parquet file is internally sorted by the cluster keys —
    * the BigQuery block-local clustering semantics, which is what lets
    * parquet row-group min/max stats prune downstream key scans.
    */
  val bqClusteredWrite: Q = (s, d) => {
    T.dropDbs(s, "graft_bq_clw")
    OhdsiSql.runTemplate(s, BigQuery, "bq_map_ddl", BigQuery.omop("graft_bq_clw"))
    T.t(s, d, "orders").createOrReplaceTempView("bq_clw_orders")
    OhdsiSql.executeAll(s,
      """INSERT INTO graft_bq_clw.source_id_to_omop_id_map
        |SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'visit_occurrence'
        |            WHEN o_orderkey % 3 = 1 THEN 'person'
        |            ELSE 'provider' END AS omop_table,
        |  o_orderkey AS omop_id, 'q1' AS source,
        |  CAST(o_orderkey AS STRING) AS source_id,
        |  DATE '2020-01-01' AS valid_start_date,
        |  DATE '2099-12-31' AS valid_end_date,
        |  NULL AS invalid_reason
        |FROM bq_clw_orders""".stripMargin, sqlRender = false)
    import org.apache.spark.sql.expressions.Window
    val rows = s.table("graft_bq_clw.source_id_to_omop_id_map")
      .select(input_file_name().as("f"),
        col("omop_table").as("k1"), col("omop_id").as("k2"))
      .withColumn("seq", monotonically_increasing_id())
    val w = Window.partitionBy("f").orderBy("seq")
    rows
      .withColumn("pk1", lag("k1", 1).over(w))
      .withColumn("pk2", lag("k2", 1).over(w))
      .withColumn("viol",
        when(col("pk1").isNotNull &&
          (col("pk1") > col("k1") ||
            (col("pk1") === col("k1") && col("pk2") > col("k2"))), 1L)
          .otherwise(0L))
      .agg(sum("viol").as("out_of_order"), count(lit(1)).as("n_rows"))
  }

  /** Verbatim bq `vocabulary/vocabulary_table_refill.sql.jinja` — the
    * D6 refill: TRUNCATE the OMOP copy, INSERT the work copy back.
    */
  val bqVocabRefill: Q = (s, d) => {
    T.dropDbs(s, "graft_bq_vr", "graft_bq_vr_work")
    T.stage(s, "graft_bq_vr", "vocabulary", T.t(s, d, "region").select(
      concat(lit("STALE_"), col("r_name")).as("vocabulary_id"),
      concat(lit("old "), col("r_name")).as("vocabulary_name")))
    T.stage(s, "graft_bq_vr_work", "vocabulary", T.t(s, d, "nation").select(
      col("n_name").as("vocabulary_id"),
      concat(lit("vocab "), col("n_name")).as("vocabulary_name")))
    OhdsiSql.runTemplate(s, BigQuery, "bq_vocab_refill",
      BigQuery.omop("graft_bq_vr") ++ BigQuery.work("graft_bq_vr_work") +
        ("vocabulary_table" -> "vocabulary"))
    s.table("graft_bq_vr.vocabulary").orderBy("vocabulary_id")
  }

  /** BIGQUERY-dialect CONCEPT merge VERBATIM
    * (`bigquery/templates/etl/CONCEPT_merge.sql.jinja`): the bq swap
    * chain feeding a MERGE whose USING selects `swap.y as concept_id,
    * t.* EXCEPT(concept_id)` (the GoogleSQL qualified star-except) and
    * inserts with `INSERT ROW`. Same expected rows as the sql_server
    * entry, which reads the shared concept flow instead.
    */
  val bqConceptMerge: Q = (s, d) => {
    val (work, omop) = ("graft_bq_cm", "graft_bq_cm_omop")
    T.dropDbs(s, work, omop)
    T.stage(s, work, "provider__specialty_concept_id_concept",
      T.workConceptTable(BigQuery, T.workConceptFixture(s, d)))
    T.swapFlow(s, BigQuery, work)
    T.stage(s, omop, "concept", T.conceptSeed(s, d))
    OhdsiSql.runTemplate(s, BigQuery, "bq_concept_merge",
      BigQuery.work(work) ++ BigQuery.omop(omop) ++ T.CustomConcepts)
    s.table(s"$omop.concept").orderBy("concept_id")
  }

  /** BIGQUERY-dialect usagi checks VERBATIM (`usagi_non_standard` +
    * `usagi_fk_domain_check` from the bigquery tree): double-quoted
    * string literals, bare LIMIT, and the domains-list Jinja loop — run
    * over the SAME staged universe as the sql_server flow (the shared
    * concept chain), returning one union frame.
    */
  val bqUsagiChecks: Q = (s, d) => {
    val (workDb, omopDb) = T.sharedConceptFlow(s, d)
    val vars = BigQuery.work(workDb) ++ BigQuery.omop(omopDb) ++
      T.CustomConcepts ++ T.ApprovedOnly
    val nonStd = OhdsiSql.runTemplate(s, BigQuery, "bq_usagi_non_standard", vars).get
      .select(lit("non_standard").as("check"), col("sourceCode"),
        col("conceptId").cast("long").as("conceptId"),
        col("standard_concept").as("detail"))
    val domain = OhdsiSql.runTemplate(s, BigQuery, "bq_usagi_fk_domain_check", vars,
        lists = Map("domains" -> Seq("condition", "procedure"))).get
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
  val bqUsagiUpdate: Q = (s, d) => {
    val db = "graft_bq_uu"
    T.dropDbs(s, db)
    T.stage(s, db, "provider__specialty_concept_id_concept", T.workConceptFixture(s, d))
    T.swapFlow(s, BigQuery, db)
    // unassigned = 0 (the template's own NULL-or-zero guard)
    T.stage(s, db, "provider__specialty_concept_id_usagi", T.t(s, d, "nation").select(
      concat(lit("SRC_"), col("n_name")).as("sourceCode"),
      concat(lit("name "), col("n_name")).as("sourceName"),
      lit(0).as("conceptId"),
      when(col("n_nationkey") % 2 === 0, lit("APPROVED")).otherwise(lit("FLAGGED"))
        .as("mappingStatus")))
    OhdsiSql.runTemplate(s, BigQuery, "bq_usagi_update",
      BigQuery.work(db) ++ T.CustomConcepts ++ T.ApprovedOnly)
    s.table(s"$db.provider__specialty_concept_id_usagi").orderBy("sourceCode")
  }

  val defs: Seq[(String, Q)] = Seq(
    "ohdsi_sql_bq_clustered_write" -> bqClusteredWrite,
    "ohdsi_sql_bq_vocab_refill" -> bqVocabRefill,
    "ohdsi_sql_bq_concept_merge" -> bqConceptMerge,
    "ohdsi_sql_bq_usagi_checks" -> bqUsagiChecks,
    "ohdsi_sql_bq_usagi_update" -> bqUsagiUpdate)

  /** The sql_server twins' oracle texts, for row-identical entries. */
  private lazy val twin: Map[String, String] =
    (OhdsiTemplateQueries.oracles ++ OhdsiCdmQueries.oracles).toMap

  /** INT64 -> bigint retype of a twin's (table, ordinal, column, type)
    * VALUES oracle — the only shape difference the GoogleSQL DDLs have.
    */
  private def bigintTyped(oracle: String): String =
    oracle.replace("'int')", "'bigint')")

  lazy val oracles: Seq[(String, String)] = Seq(
    "ohdsi_sql_bq_cdm54_ddl" -> OhdsiTemplateQueries.Cdm54InventoryOracle,
    "ohdsi_sql_bq_map_ddl" -> bigintTyped(twin("ohdsi_sql_map_ddl")),
    "ohdsi_sql_bq_clustered_write" ->
      """SELECT CAST(0 AS BIGINT) AS out_of_order,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows""".stripMargin,
    "ohdsi_sql_bq_result_ddl" -> bigintTyped(twin("ohdsi_sql_result_ddl")),
    "ohdsi_sql_bq_dqd_ddl" -> bigintTyped(twin("ohdsi_sql_dqd_ddl")),
    "ohdsi_sql_bq_work_ddl_create" -> bigintTyped(twin("ohdsi_sql_work_ddl_create")),
    "ohdsi_sql_bq_work_table_ddl" -> bigintTyped(twin("ohdsi_sql_work_table_ddl")),
    "ohdsi_sql_bq_get_dqd_run" -> twin("ohdsi_sql_get_dqd_run"),
    "ohdsi_sql_bq_dqd_run_results" -> twin("ohdsi_sql_dqd_run_results"),
    "ohdsi_sql_bq_last_dqd_runs" -> {
      s"""WITH runs AS (
         |${OhdsiTemplateQueries.DqdRunsOracle}
         |)
         |SELECT strftime(startTimestamp, '%Y-%m-%d %H:%M:%S') AS label, id AS value
         |FROM runs ORDER BY startTimestamp DESC LIMIT 15""".stripMargin
    },
    "ohdsi_sql_bq_vocab_cleanup" -> twin("ohdsi_sql_vocab_cleanup"),
    "ohdsi_sql_bq_vocab_refill" ->
      """SELECT n_name AS vocabulary_id, concat('vocab ', n_name) AS vocabulary_name
        |FROM nation ORDER BY vocabulary_id""".stripMargin,
    "ohdsi_sql_bq_concept_remove" -> twin("ohdsi_sql_concept_remove"),
    "ohdsi_sql_bq_map_cleanup" -> twin("ohdsi_sql_map_cleanup"),
    "ohdsi_sql_bq_s2cm_remove" -> twin("ohdsi_sql_s2cm_remove"),
    "ohdsi_sql_bq_work_tables" -> twin("ohdsi_sql_work_tables"),
    "ohdsi_sql_bq_stcm_merge" -> twin("ohdsi_sql_stcm_merge"),
    "ohdsi_sql_bq_s2cm_dups" -> twin("ohdsi_sql_s2cm_dups"),
    "ohdsi_sql_bq_stcm_invalidate" -> twin("ohdsi_sql_stcm_invalidate"),
    "ohdsi_sql_bq_map_invalidate" -> twin("ohdsi_sql_map_invalidate"),
    "ohdsi_sql_bq_map_merge" -> twin("ohdsi_sql_map_merge"),
    "ohdsi_sql_bq_metadata_rows" -> twin("ohdsi_sql_metadata_rows"),
    "ohdsi_sql_bq_custom_validate" -> twin("ohdsi_sql_custom_validate"),
    "ohdsi_sql_bq_validate_dups" -> twin("ohdsi_sql_validate_dups"),
    "ohdsi_sql_bq_apply_events" -> twin("ohdsi_sql_apply_events"),
    "ohdsi_sql_bq_apply_events_renumber" -> OhdsiTemplateQueries.ApplyEventsRenumberOracle,
    "ohdsi_sql_bq_vocab_merge" -> twin("ohdsi_sql_vocab_merge"),
    "ohdsi_sql_bq_fact_merge_chain" -> OhdsiTemplateQueries.ApplyEventsExpectedOracle,
    "ohdsi_sql_bq_event_tables" -> twin("ohdsi_sql_event_tables"),
    "ohdsi_sql_bq_upload_insert" -> twin("ohdsi_sql_upload_insert"),
    "ohdsi_sql_bq_sample_usagi" -> twin("ohdsi_sql_sample_usagi"))
}
