package graft.etl

import graft.SparkSpec
import graft.io.Zones
import graft.model.TpchModel
import graft.operators.{MergeOps, Swap}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end stage-1 run: the EtlRunner schedules real per-table Spark
  * work in dependency order — each table builds its PK swap into the work
  * zone, then rewrites its FK columns through the swap tables its
  * dependencies materialized in EARLIER levels (which is exactly why the
  * level barrier exists), and lands the result in the omop zone through
  * the atomic writer.
  */
class EtlIntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("runner + swaps + fk rewrite + zones compose into a full stage-1 run") {
    val m = TpchModel.model
    val zones = Zones(Files.createTempDirectory("graft-etl").toString)

    val raw = Map(
      "region" -> Seq((10L, "EMEA"), (20L, "APAC")).toDF("r_regionkey", "r_name"),
      "nation" -> Seq((100L, "FR", 10L), (200L, "JP", 20L)).toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq((1000L, "acme", 100L), (2000L, "globex", 200L))
        .toDF("c_custkey", "c_name", "c_nationkey"))
    val universe = raw.keys.toSeq

    EtlRunner(m, maxParallelTables = 4).run(universe) { table =>
      val df = raw(table)
      val pk = m.pk(table).get
      // build this table's dense PK swap into the work zone
      val swap = Swap.denseIds(
        df.select(col(pk).cast("string").as("x")).distinct(), Seq("x"), 0L)
      zones.write(swap, "work", s"${pk}_swap")
      // rewrite FK columns through the swaps earlier levels materialized
      val fks = m.fks(table).map { case (c, target) => c -> m.pk(target).get }
      val rewritten = fks.foldLeft(df) { case (acc, (fkCol, targetPk)) =>
        val fkSwap = zones.read(spark, "work", s"${targetPk}_swap")
        MergeOps.fkSwapJoin(
          acc.withColumn(fkCol, col(fkCol).cast("string")), fkSwap, fkCol, required = true)
      }
      // swap this table's own PK and land in the omop zone atomically
      val landed = MergeOps.fkSwapJoin(
        rewritten.withColumn(pk, col(pk).cast("string")),
        zones.read(spark, "work", s"${pk}_swap"), pk, required = true)
      zones.write(landed, "omop", table)
      table
    }

    // the work zone holds one swap per table; omop holds every table
    assert(zones.listTables(spark, "work") ==
      Seq("c_custkey_swap", "n_nationkey_swap", "r_regionkey_swap"))
    assert(zones.listTables(spark, "omop") == Seq("customer", "nation", "region"))
    // referential integrity after the swap: customer's nation FK equals the
    // surrogate id the nation table itself received
    val nation = zones.read(spark, "omop", "nation")
      .select(col("n_name"), col("n_nationkey")).as[(String, Long)].collect().toMap
    val cust = zones.read(spark, "omop", "customer")
      .select(col("c_name"), col("c_nationkey")).as[(String, Long)].collect().toMap
    assert(cust("acme") == nation("FR"))
    assert(cust("globex") == nation("JP"))
    // dense ids start at 1 per swap
    assert(nation.values.toSet == Set(1L, 2L))
  }

  test("FolderEtl keeps every row of a pk-less table whose rows share concept values") {
    import graft.model.{CdmField, CdmModel}
    def f(t: String, n: String, dt: String, pk: Boolean = false, fk: Option[String] = None) =
      CdmField(t, n, dt, required = false, isPk = pk, fk, "CDM")
    // observation_period without a pk, as in the derived CDM
    val m = CdmModel(fields = Seq(
      f("person", "person_id", "int64", pk = true),
      f("observation_period", "person_id", "int64", fk = Some("person")),
      f("observation_period", "observation_period_start_date", "date"),
      f("observation_period", "period_type_concept_id", "int64")))
    val zones = Zones(Files.createTempDirectory("graft-etl-nopk").toString)
    val folder = Files.createTempDirectory("graft-etl-nopk-folder")
    zones.write(Seq(11L, 12L, 13L).toDF("person_id"), "raw", "persons")
    // every period shares the one type concept; person 11 has two periods
    zones.write(Seq((11L, "2020-01-01"), (11L, "2021-01-01"), (12L, "2020-01-01"),
      (13L, "2022-06-01")).toDF("person_id", "start_d"), "raw", "periods")
    def write(rel: String, sql: String): Unit = {
      val p = folder.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, sql)
    }
    write("person/load.sql.jinja", "SELECT person_id FROM {{project_raw}}_persons")
    write("observation_period/load.sql.jinja",
      """SELECT person_id, CAST(start_d AS DATE) AS observation_period_start_date,
        |  CAST(32817 AS BIGINT) AS period_type_concept_id
        |FROM {{project_raw}}_periods""".stripMargin)

    val counts = FolderEtl.run(spark, m, zones, folder)
    assert(counts === Map("person" -> 3L, "observation_period" -> 4L))
    val periods = zones.read(spark, "omop", "observation_period")
    // person_id rewrote through the person swap: two periods on one person
    assert(periods.groupBy("person_id").count().select("count").as[Long]
      .collect().sorted.toSeq === Seq(1L, 1L, 2L))
    assert(periods.filter(col("person_id").between(1L, 3L)).count() === 4L)
  }
}
