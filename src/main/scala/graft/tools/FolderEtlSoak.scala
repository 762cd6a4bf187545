package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale soak for the §2.12 end-to-end FOLDER ETL composite (r17): run
  * the full [[graft.etl.FolderEtl]] flow — user-query uploads, usagi
  * concept swap, append-only PK swaps, FK rewrites, clustered gold
  * writes, the stage-2 polymorphic EVENT rewrite, lineage tombstone +
  * metadata stamp — at 1x, 10x, and (r18) 100x the sf0.1 dataset
  * (100x ≈ sf10: 15M orders / 10M events), with the barrier-free
  * prepare/finalize
  * gate scheduling of the registered `etl_folder_run` entry. Unlike the
  * entry's fixture this one declares a polymorphic event column on the
  * events table (target_event_id / event_table -> customer), so the
  * two-stage rocket's stage 2 runs against a fact-sized swap at scale.
  *
  * Run with `GRAFT_TIMING=1` for the per-stage attribution lines
  * (`[folder-timing] <table> upload|pk-swap|omop-write|count|event-step`
  * + `post lineage|metadata`) beside the summary JSON:
  * `GRAFT_TIMING=1 sbt "runMain graft.tools.FolderEtlSoak [sfDir]"`.
  */
object FolderEtlSoak {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the entry's model + an events fact table carrying a polymorphic
    // event column (the cdm_5.4_events.json shape: event col -> sibling
    // discriminator col naming the referenced table)
    val soakModel = {
      import graft.model.{CdmField, CdmModel, TpchModel}
      def f(t: String, n: String, dt: String, req: Boolean = true,
          pk: Boolean = false, fk: Option[String] = None) =
        CdmField(t, n, dt, req, pk, fk, "CDM")
      CdmModel(
        fields = TpchModel.model.fields ++ Seq(
          f("orders", "priority_concept_id", "int64", req = false,
            fk = Some("concept")),
          f("events", "event_id", "int64", pk = true),
          f("events", "user_id", "int64", fk = Some("customer")),
          f("events", "event_type", "string", req = false),
          f("events", "target_event_id", "string", req = false),
          f("events", "event_table", "string", req = false)),
        eventFields = Map("events" -> Map("target_event_id" -> "event_table")))
    }

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    for (scale <- Seq(1, 10, 100)) {
      val zones = graft.io.Zones.forPurpose(s"fesoak_$scale")
      val rp = new org.apache.hadoop.fs.Path(new java.io.File(zones.root).getAbsolutePath)
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)

      // stage raw at `scale`: replica i shifts every key by i*OFF, so FK
      // integrity (orders.o_custkey -> customer, events.user_id ->
      // customer) holds per replica and key cardinality grows scale-fold
      val OFF = 100000000L
      def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame =
        if (scale == 1) df
        else df.crossJoin(
            spark.range(0, scale).select(col("id").as("__rep")))
          .select(df.columns.map(c =>
            if (keyCols.contains(c)) (col(c) + col("__rep") * OFF).as(c)
            else col(c)): _*)
      val (_, tStage) = time {
        zones.write(graft.Tables.load(spark, d, "region"), "raw", "region")
        zones.write(graft.Tables.load(spark, d, "nation"), "raw", "nation")
        zones.write(replicate(graft.Tables.load(spark, d, "customer"),
          Seq("c_custkey")), "raw", "customer")
        zones.write(replicate(graft.Tables.load(spark, d, "orders"),
          Seq("o_orderkey", "o_custkey")), "raw", "orders")
        zones.write(replicate(
          graft.Tables.load(spark, d, "events")
            .select("event_id", "user_id", "event_type"),
          Seq("event_id", "user_id")), "raw", "events")
      }

      // the folder fixture: the entry's four loads + usagi map, plus the
      // events load emitting the polymorphic source-key column (STRING,
      // the work-table convention) and its table-name discriminator
      val folder = java.nio.file.Paths.get(
        s"${graft.io.Zones.defaultRoot}/fesoak_folder_$scale")
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
      write(folder.resolve("events/load.sql.jinja"),
        """SELECT event_id, user_id, event_type,
          |  CAST(user_id AS STRING) AS target_event_id,
          |  'customer' AS event_table
          |FROM {{project_raw}}_events""".stripMargin)

      val (counts, tRun) = time(
        graft.etl.FolderEtl.run(spark, soakModel, zones, folder))
      // the event column must have been re-keyed to surrogate ids: the
      // row's user_id went through the customer swap as an FK rewrite and
      // target_event_id through the stage-2 event rewrite FROM THE SAME
      // source key — after both stages they must be the identical surrogate
      val mism = zones.read(spark, "omop", "events")
        .filter(col("target_event_id") =!= col("user_id")).count()
      val cJson = counts.toSeq.sorted
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(f"""{"scale":$scale,"stage_sec":$tStage%.1f,"etl_sec":$tRun%.1f,"event_rekey_mismatches":$mism,"rows":{$cJson}}""")
    }
    spark.stop()
  }
}
