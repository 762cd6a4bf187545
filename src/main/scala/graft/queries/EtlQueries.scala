package graft.queries

import graft.Tables
import graft.etl.EtlRunner
import graft.io.Zones
import graft.model.TpchModel
import graft.operators.{Cleanup, MergeOps, Swap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full "two-stage rocket" composed end to end, the way `etl.py:82-159`
  * runs it: stage 1 processes every table of the model universe, each
  * gated on its FK parents, through [[EtlRunner]] (usagi-style concept mapping -> PK swap ->
  * FK swaps -> atomic merge into the omop zone, per
  * `etl.py:177-323`), stage 2 rewrites the event table's polymorphic FK
  * through the swap tables stage 1 materialized
  * (`bigquery/etl.py:498-553`), then the lineage map is tombstoned
  * (`cleanup.py` semantics) and the version metadata stamped
  * (`etl.py:155-159`). Every artifact goes through the S11 atomic-replace
  * protocol and is READ BACK for the final summary, so the checked numbers
  * come from the real written zone tables.
  *
  * Scale notes: swap tables are materialized parquet (exactly the
  * reference's design) and re-read by dependent levels, so no plan grows
  * with the DAG depth; the fk-swap joins are plain equi-joins — AQE picks
  * broadcast for the small dims at runtime, and a 100 TB fact-to-fact swap
  * join degrades to a shuffle join rather than a driver broadcast.
  */
object EtlQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private def timed[T](label: String)(f: => T): T = graft.Timing.timed("etl-timing", label)(f)

  /** Tables whose lineage rows predate the tombstone cutoff (gives the D7
    * step real work deterministically).
    */
  private val StaleTables = Set("region", "part")

  val etlTwoStage: Q = (s, d) => {
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration.Duration
    val m = TpchModel.model
    val zones = Zones.forPurpose("etl")
    // usagi upload (stage 0): priority codes -> concept ids; '1%' codes get
    // custom concepts over the 2e9 floor, like the usagi composite. Only
    // the orders table (level 4) consumes it, so it OVERLAPS stage 1 as a
    // concurrent Spark job and is awaited where needed (it is the first
    // job, so a serialized pool still runs it before stage 1 waits).
    val usagiDone = Promise[Unit]()
    def usagiUpload(): Unit = usagiDone.complete(scala.util.Try(timed("usagi upload") {
      val codes = t(s, d, "orders").select(col("o_orderpriority").as("code")).distinct()
      val baseIds = Swap.denseIds(codes, Seq("code"), 0L, "cid")
      val customIds = Swap.rankIds(
        codes.filter(col("code").startsWith("1")), "code", MergeOps.CustomConceptBase, "customId")
      zones.write(
        baseIds.join(customIds, Seq("code"), "left")
          .select(col("code"), coalesce(col("customId"), col("cid")).as("conceptId")),
        "work", "usagi_priority")
    }))

    // stage 1: barrier-free prepare/finalize scheduling (round-7, same
    // shape as FolderEtl): a table's swap write reads only its OWN
    // source, so every swap launches immediately; the finalize (FK
    // rewrites through parent swaps + own pk join + gold write) gates on
    // exactly {own + parent} swap writes. The epilogue — stage 2 event
    // rewrite, lineage tombstone — reads only swap tables, so it rides
    // the postEtlCleanup hook (fires when the LAST prepare lands) and
    // drains concurrently with the finalizes.
    graft.io.Jobs.concurrently(Seq(() => usagiUpload(), () =>
      EtlRunner(m).runFlowPipelined(m.tables)(
        prepareTable = (tb, _) => {
          val src = t(s, d, tb)
          m.pk(tb).foreach { pk =>
            timed(s"stage1 $tb swap")(zones.write(
              Swap.denseIds(src.select(col(pk).as("x")).distinct(), Seq("x"), 0L),
              "work", s"${tb}_id_swap"))
          }
          Some(() => timed(s"stage1 $tb finalize") {
            var out = src
            m.fks(tb).toSeq.sortBy(_._1).foreach { case (fkCol, parent) =>
              val psw = zones.read(s, "work", s"${parent}_id_swap")
              out = out.join(psw, out(fkCol) === psw("x"), "left")
                .withColumn(fkCol, coalesce(col("y"), lit(0L)))
                .drop("x", "y")
            }
            if (tb == "orders") {
              Await.result(usagiDone.future, Duration.Inf) // barrier only where consumed
              val usagi = zones.read(s, "work", "usagi_priority")
              out = out.join(broadcast(usagi), out("o_orderpriority") === usagi("code"), "left")
                .withColumn("priority_concept_id", coalesce(col("conceptId"), lit(0L)))
                .drop("code", "conceptId")
            }
            m.pk(tb).foreach { pk =>
              val swap = zones.read(s, "work", s"${tb}_id_swap")
              out = out.join(swap, out(pk) === swap("x"))
                .withColumn(pk, col("y"))
                .drop("x", "y")
            }
            zones.write(out, "omop", tb)
            0L
          })
        },
        postEtlCleanup = () => graft.io.Jobs.concurrently(Seq(
          () => timed("stage2 events") {
            val custSwap = zones.read(s, "work", "customer_id_swap")
            zones.write(
              t(s, d, "events")
                .join(custSwap, col("user_id") === col("x"), "left")
                .withColumn("user_id", coalesce(col("y"), lit(0L)))
                .select("event_id", "user_id", "event_type"),
              "omop", "events_mapped")
          },
          () => timed("lineage+tombstone") {
            val lineage = m.tables.filter(m.pk(_).isDefined).sorted.map { tb =>
              val start =
                if (StaleTables(tb)) java.sql.Date.valueOf("1990-01-01")
                else java.sql.Date.valueOf("2026-01-01")
              Swap.toSourceIdMap(zones.read(s, "work", s"${tb}_id_swap"), tb, "tpch", start)
            }.reduce(_ unionByName _)
            zones.write(
              Cleanup.tombstoneStale(lineage, lit("2000-01-01").cast("date")),
              "omop", "source_id_to_omop_id_map")
          })))))

    // metadata stamp (deterministic "now")
    val metadata = Cleanup.versionMetadata(
      s, "5.4", "0.1.0",
      java.sql.Date.valueOf("2026-01-01"),
      java.sql.Timestamp.valueOf("2026-01-01 12:00:00"))

    // summary over the READ-BACK zone tables: one row per artifact with a
    // surrogate-id checksum, so a wrong swap/join anywhere shifts a sum.
    // ONE aggregate over a union of narrow per-table projections — a
    // single tiny-shuffle job (and far fewer codegen classes) instead of
    // eleven separate global aggregates (round-5 verdict #4: the untimed
    // summary tail was ~3.7 s of the 13.7 s standalone wall).
    def contrib(tb: String): DataFrame = {
      val idCols = m.pk(tb).toSeq ++ m.fks(tb).keys.toSeq ++
        (if (tb == "orders") Seq("priority_concept_id") else Nil)
      zones.read(s, "omop", tb).select(
        lit(tb).as("omop_table"),
        idCols.map(col).reduce(_ + _).as("__contrib"))
    }
    val rows = m.tables.sorted.map(contrib) ++ Seq(
      zones.read(s, "omop", "events_mapped")
        .select(lit("events_mapped").as("omop_table"), col("user_id").as("__contrib")),
      zones.read(s, "omop", "source_id_to_omop_id_map")
        .select(lit("source_id_to_omop_id_map").as("omop_table"),
          when(col("invalid_reason") === "D", 1L).otherwise(0L).as("__contrib")),
      metadata.select(lit("_metadata").as("omop_table"), lit(0L).as("__contrib")))
    rows.reduce(_ unionByName _)
      .groupBy("omop_table")
      .agg(count(lit(1)).as("n_rows"), sum(col("__contrib")).as("checksum"))
      .orderBy("omop_table")
  }

  /** The CLI's folder-driven ETL ([[graft.etl.FolderEtl]]) under the hash
    * gate: stage a CDM folder (rendered S9 queries + a usagi CSV with an
    * excluded SEMI-APPROVED row) and a raw zone from the test tables, run
    * the real `--run-etl` machinery, and summarize the read-back omop zone
    * exactly like [[etlTwoStage]] — the DuckDB oracle replays the
    * append-only dense swaps, FK rewrites and status-filtered usagi
    * mapping independently.
    */
  val etlFolderRun: Q = (s, d) => {
    val key = graft.io.Zones.pathKey(d)
    val zones = graft.io.Zones.forPurpose(s"folderetl_$key")
    val folder = java.nio.file.Paths.get(s"${graft.io.Zones.defaultRoot}/folder_etl_stage_$key")
    def write(p: java.nio.file.Path, content: String): Unit = {
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
      ()
    }
    write(folder.resolve("region/load.sql.jinja"),
      "SELECT r_regionkey, r_name FROM {{project_raw}}_region")
    write(folder.resolve("nation/load.sql.jinja"),
      "SELECT n_nationkey, n_name, n_regionkey FROM {{project_raw}}_nation")
    write(folder.resolve("customer/load.sql.jinja"),
      "SELECT c_custkey, c_name, c_nationkey FROM {{project_raw}}_customer")
    write(folder.resolve("orders/load.sql.jinja"),
      """SELECT o_orderkey, o_custkey, o_orderpriority,
        |  o_orderpriority AS priority_concept_id
        |FROM {{project_raw}}_orders""".stripMargin)
    write(folder.resolve("orders/priority_concept_id/map.csv"),
      """sourceCode,sourceName,mappingStatus,conceptId,conceptName,domainId
        |1-URGENT,urgent,APPROVED,101,Urgent,Observation
        |2-HIGH,high,SEMI-APPROVED,102,High,Observation
        |3-MEDIUM,medium,APPROVED,103,Medium,Observation""".stripMargin)
    // raw staging is per-dataset-keyed and the driver's test dirs are
    // immutable — skip the copy when the zone already holds the table.
    // Staging is fixture setup, not the measured operator: land the
    // source parquet by file copy instead of a Spark write job.
    val staged = zones.listTables(s, "raw").toSet
    Seq("region", "nation", "customer", "orders")
      .filterNot(staged)
      .foreach { tb =>
        val dst = java.nio.file.Paths.get(zones.tablePath("raw", tb))
        java.nio.file.Files.createDirectories(dst)
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$d/$tb.parquet"),
          dst.resolve("part-00000.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }

    val specModel = {
      import graft.model.{CdmField, CdmModel}
      CdmModel(fields = TpchModel.model.fields :+
        CdmField("orders", "priority_concept_id", "int64",
          required = false, isPk = false, Some("concept"), "CDM"))
    }
    timed("folder-etl run")(graft.etl.FolderEtl.run(s, specModel, zones, folder))

    // read-back summary: same one-aggregate union-of-contributions shape
    // (and the same checksum meaning) as etl_two_stage
    val rows = Seq(
      zones.read(s, "omop", "region").select(lit("region").as("omop_table"),
        col("r_regionkey").as("__contrib")),
      zones.read(s, "omop", "nation").select(lit("nation").as("omop_table"),
        (col("n_nationkey") + col("n_regionkey")).as("__contrib")),
      zones.read(s, "omop", "customer").select(lit("customer").as("omop_table"),
        (col("c_custkey") + col("c_nationkey")).as("__contrib")),
      zones.read(s, "omop", "orders").select(lit("orders").as("omop_table"),
        (col("o_orderkey") + col("o_custkey") + col("priority_concept_id")).as("__contrib")))
    rows.reduce(_ unionByName _)
      .groupBy("omop_table")
      .agg(count(lit(1)).as("n_rows"), sum(col("__contrib")).as("checksum"))
      .orderBy("omop_table")
  }

  val defs: Seq[(String, Q)] = Seq(
    "etl_two_stage" -> etlTwoStage,
    "etl_folder_run" -> etlFolderRun)

  val oracles: Seq[(String, String)] = Seq(
    "etl_folder_run" ->
      """WITH region_swap AS (
        |  SELECT r_regionkey AS x, CAST(row_number() OVER (ORDER BY r_regionkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT r_regionkey FROM region)
        |), nation_swap AS (
        |  SELECT n_nationkey AS x, CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT n_nationkey FROM nation)
        |), customer_swap AS (
        |  SELECT c_custkey AS x, CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT c_custkey FROM customer)
        |), orders_swap AS (
        |  SELECT o_orderkey AS x, CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT o_orderkey FROM orders)
        |), usagi AS (
        |  -- APPROVED rows only: the SEMI-APPROVED 2-HIGH mapping is
        |  -- excluded under default flags (P2)
        |  SELECT * FROM (VALUES ('1-URGENT', 101), ('3-MEDIUM', 103)) AS u(code, cid)
        |), summary AS (
        |  SELECT 'region' AS omop_table, count(*) AS n_rows, sum(rs.y) AS checksum
        |  FROM region r JOIN region_swap rs ON r.r_regionkey = rs.x
        |  UNION ALL
        |  SELECT 'nation', count(*), sum(ns.y + COALESCE(rs.y, 0))
        |  FROM nation n JOIN nation_swap ns ON n.n_nationkey = ns.x
        |  LEFT JOIN region_swap rs ON n.n_regionkey = rs.x
        |  UNION ALL
        |  SELECT 'customer', count(*), sum(cs.y + COALESCE(ns.y, 0))
        |  FROM customer c JOIN customer_swap cs ON c.c_custkey = cs.x
        |  LEFT JOIN nation_swap ns ON c.c_nationkey = ns.x
        |  UNION ALL
        |  SELECT 'orders', count(*), sum(os.y + COALESCE(cs.y, 0) + COALESCE(u.cid, 0))
        |  FROM orders o JOIN orders_swap os ON o.o_orderkey = os.x
        |  LEFT JOIN customer_swap cs ON o.o_custkey = cs.x
        |  LEFT JOIN usagi u ON o.o_orderpriority = u.code
        |)
        |SELECT omop_table, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(checksum AS BIGINT) AS checksum
        |FROM summary ORDER BY omop_table""".stripMargin,
    "etl_two_stage" ->
      """WITH region_swap AS (
        |  SELECT r_regionkey AS x, CAST(row_number() OVER (ORDER BY r_regionkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT r_regionkey FROM region)
        |), nation_swap AS (
        |  SELECT n_nationkey AS x, CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT n_nationkey FROM nation)
        |), customer_swap AS (
        |  SELECT c_custkey AS x, CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT c_custkey FROM customer)
        |), supplier_swap AS (
        |  SELECT s_suppkey AS x, CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT s_suppkey FROM supplier)
        |), part_swap AS (
        |  SELECT p_partkey AS x, CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT p_partkey FROM part)
        |), orders_swap AS (
        |  SELECT o_orderkey AS x, CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS y
        |  FROM (SELECT DISTINCT o_orderkey FROM orders)
        |), codes AS (SELECT DISTINCT o_orderpriority AS code FROM orders),
        |usagi AS (
        |  SELECT b.code, COALESCE(c.customId, b.cid) AS conceptId
        |  FROM (SELECT code, CAST(row_number() OVER (ORDER BY code) AS BIGINT) AS cid FROM codes) b
        |  LEFT JOIN (SELECT code, CAST(2000000000 + row_number() OVER (ORDER BY code) AS BIGINT) AS customId
        |    FROM codes WHERE code LIKE '1%') c USING (code)
        |), summary AS (
        |  SELECT '_metadata' AS omop_table, CAST(1 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS checksum
        |  UNION ALL
        |  SELECT 'region', count(*), sum(rs.y)
        |  FROM region r JOIN region_swap rs ON r.r_regionkey = rs.x
        |  UNION ALL
        |  SELECT 'nation', count(*), sum(ns.y + COALESCE(rs.y, 0))
        |  FROM nation n JOIN nation_swap ns ON n.n_nationkey = ns.x
        |  LEFT JOIN region_swap rs ON n.n_regionkey = rs.x
        |  UNION ALL
        |  SELECT 'customer', count(*), sum(cs.y + COALESCE(ns.y, 0))
        |  FROM customer c JOIN customer_swap cs ON c.c_custkey = cs.x
        |  LEFT JOIN nation_swap ns ON c.c_nationkey = ns.x
        |  UNION ALL
        |  SELECT 'supplier', count(*), sum(ss.y + COALESCE(ns.y, 0))
        |  FROM supplier sp JOIN supplier_swap ss ON sp.s_suppkey = ss.x
        |  LEFT JOIN nation_swap ns ON sp.s_nationkey = ns.x
        |  UNION ALL
        |  SELECT 'part', count(*), sum(ps.y)
        |  FROM part p JOIN part_swap ps ON p.p_partkey = ps.x
        |  UNION ALL
        |  SELECT 'orders', count(*), sum(os.y + COALESCE(cs.y, 0) + COALESCE(u.conceptId, 0))
        |  FROM orders o JOIN orders_swap os ON o.o_orderkey = os.x
        |  LEFT JOIN customer_swap cs ON o.o_custkey = cs.x
        |  LEFT JOIN usagi u ON o.o_orderpriority = u.code
        |  UNION ALL
        |  SELECT 'lineitem', count(*), sum(COALESCE(os.y, 0) + COALESCE(ps.y, 0) + COALESCE(ss.y, 0))
        |  FROM lineitem l
        |  LEFT JOIN orders_swap os ON l.l_orderkey = os.x
        |  LEFT JOIN part_swap ps ON l.l_partkey = ps.x
        |  LEFT JOIN supplier_swap ss ON l.l_suppkey = ss.x
        |  UNION ALL
        |  SELECT 'events_mapped', count(*), sum(COALESCE(cs.y, 0))
        |  FROM events e LEFT JOIN customer_swap cs ON e.user_id = cs.x
        |  UNION ALL
        |  SELECT 'source_id_to_omop_id_map',
        |    (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
        |      + (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
        |      + (SELECT count(*) FROM part) + (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM region) + (SELECT count(*) FROM part)
        |)
        |SELECT omop_table, n_rows, CAST(checksum AS BIGINT) AS checksum
        |FROM summary ORDER BY omop_table""".stripMargin)
}
