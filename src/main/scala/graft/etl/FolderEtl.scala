package graft.etl

import graft.io.Zones
import graft.model.CdmModel
import graft.operators.{EventOps, MergeOps, Swap}
import graft.sources.{CsvSources, SqlTemplates}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The folder-driven ETL the CLI's `--run-etl PATH` executes — the
  * reference's per-table flow (`/root/reference/src/riab/etl/etl.py:82-323`)
  * over the CDM folder structure `--create-folders` scaffolds:
  *
  *   - per table directory: activated user queries (`*.sql` /
  *     `*.sql.jinja`; `example*` and `._jinja`/`._csv`-suffixed samples are
  *     skipped until the user renames them, `etl.py:930-940`) are rendered
  *     (S9) and executed against the raw zone's registered views, each
  *     DISTINCT'ed (S10) and unioned (U1) into the work-zone upload table;
  *   - per concept column subdirectory: activated Usagi CSVs upload and
  *     drive the concept-swap left join (J1/P2, statuses from
  *     [[EtlFlags.approvedStatuses]]); `custom/` CSVs upload custom
  *     concepts with auto-numbered ids over the 2e9 floor (W2/P6);
  *   - the PK swap is append-only ([[Swap.mergeAppend]] — re-runs keep ids
  *     stable), FK columns rewrite through the parents' swap tables
  *     (J3, required columns defaulting to 0), rows dedup keep-first over
  *     the surrogate identity (W3), and the result lands in the omop zone
  *     through the atomic-replace protocol (S11);
  *   - stage 2 rewrites polymorphic event columns through the swap tables
  *     stage 1 materialized (`bigquery/etl.py:498-553`), discriminated by
  *     the sibling table-name column ([[EventOps.applyEventColumns]]);
  *   - a full run ends with the lineage tombstone + version-metadata stamp
  *     (`etl.py:126-129,155-159`) — restricted runs skip it, like the
  *     reference.
  *
  * Scale shape: identical to the oracle-gated `etl_two_stage` composite —
  * swap tables are materialized parquet re-read by dependent levels (no
  * plan grows with DAG depth), FK-gated parallel scheduling via [[EtlRunner]],
  * equi-joins AQE can broadcast when genuinely small.
  */
object FolderEtl {

  private def timed[T](label: String)(f: => T): T = graft.Timing.timed("folder-timing", label)(f)

  /** Activated files: the named extensions, minus `example*` samples and
    * the deactivated `._jinja` / `._csv` suffix convention.
    */
  private[etl] def activated(dir: Path, exts: Seq[String]): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try
        stream.iterator().asScala
          .filter(Files.isRegularFile(_))
          .filter(p => exts.exists(p.getFileName.toString.endsWith))
          .filterNot(_.getFileName.toString.startsWith("example"))
          .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    }

  /** Register every raw-zone table as the `raw_<table>` view the rendered
    * `{{project_raw}}_<table>` references resolve to.
    */
  def registerRawViews(s: SparkSession, zones: Zones): Seq[String] =
    zones.listTables(s, "raw").map { tb =>
      zones.read(s, "raw", tb).createOrReplaceTempView(s"raw_$tb")
      tb
    }

  /** Run the folder ETL. Returns per-processed-table row counts (tables
    * without an activated query are skipped and absent from the result).
    * Every frame is built on the session [[graft.GraftSession.forInput]]
    * picks for the raw zone's rows: interpreted below the cutoff, the
    * caller's own session at or above it.
    */
  def run(
      caller: SparkSession,
      model: CdmModel,
      zones: Zones,
      folder: Path,
      flags: EtlFlags = EtlFlags(),
      maxParallelTables: Int = EtlRunner.MaxParallelTables): Map[String, Long] =
    runOn(graft.GraftSession.forInput(caller, zones.rows(caller, "raw",
        zones.listTables(caller, "raw"), graft.GraftSession.InterpretedRowCutoff)),
      model, zones, folder, flags, maxParallelTables)

  /** [[run]] with every frame built on `s` itself. */
  private[graft] def runOn(
      s: SparkSession,
      model: CdmModel,
      zones: Zones,
      folder: Path,
      flags: EtlFlags,
      maxParallelTables: Int): Map[String, Long] = {
    registerRawViews(s, zones)
    EtlRunner(model, maxParallelTables).runFlowPipelined(model.tables, flags)(
      prepareTable = (tb, qs) => prepareTable(s, model, zones, folder, tb, qs, flags),
      eventStep = tb => eventStep(s, model, zones, tb),
      postEtlCleanup = () => postEtlCleanup(s, zones))
  }

  /** One table's barrier-relevant stage-1 prefix — user queries to the
    * work upload, usagi/custom uploads, and the append-only PK-swap WRITE
    * (the one artifact dependent levels read). Returns the finalize thunk
    * (FK rewrite through parent swaps, dedup, clustered gold write,
    * footer row count)
    * for [[EtlRunner.runFlowPipelined]] to drain off the critical path;
    * None when the folder holds no activated query for the table (the
    * reference only processes tables with work).
    */
  private def prepareTable(
      s: SparkSession,
      model: CdmModel,
      zones: Zones,
      folder: Path,
      tb: String,
      onlyQueries: Seq[String],
      flags: EtlFlags): Option[() => Long] = {
    val dir = folder.resolve(tb)
    val all = activated(dir, Seq(".sql", ".sql.jinja"))
    val queryFiles =
      if (onlyQueries.isEmpty) all
      else all.filter(p => onlyQueries.exists(_.split("/").last == p.getFileName.toString))
    if (queryFiles.isEmpty) return None

    // S9 render -> execute -> S10 DISTINCT -> U1 union -> work upload table
    val uploads = queryFiles.map { p =>
      s.sql(SqlTemplates.fromFile(p, tb, "raw", "work", "omop")).distinct()
    }
    timed(s"$tb upload")(zones.write(MergeOps.unionUploads(uploads), "work", s"${tb}__upload"))
    var df = zones.read(s, "work", s"${tb}__upload")

    // J1/P2/W2: usagi + custom-concept uploads per concept column
    val conceptCols = model.conceptFks(tb)
    if (!flags.skipUsagiAndCustomConceptUpload) {
      conceptCols.foreach { c =>
        val cDir = dir.resolve(c)
        val customFiles = activated(cDir.resolve("custom"), Seq(".csv"))
        if (customFiles.nonEmpty) {
          val customs = customFiles
            .map(p => CsvSources.readCustomConcepts(s, p.toString))
            .reduce(_ unionByName _)
          // W2: auto-number from the concept_code rank over the 2e9 floor
          val ids = Swap.rankIds(customs, "concept_code", MergeOps.CustomConceptBase)
          timed(s"$tb custom-upload")(zones.write(
            customs.drop("concept_id").join(ids, "concept_code"),
            "work", s"${tb}__${c}_concept"))
        }
        val usagiFiles = activated(cDir, Seq(".csv"))
        if (usagiFiles.nonEmpty) {
          val usagi = usagiFiles
            .map(p => CsvSources.readUsagi(s, p.toString))
            .reduce(_ unionByName _)
          timed(s"$tb usagi-upload")(zones.write(usagi, "work", s"${tb}__${c}_usagi"))
        }
      }
    }
    conceptCols.foreach { c =>
      val table = s"${tb}__${c}_usagi"
      if (zones.listTables(s, "work").contains(table)) {
        val u = zones.read(s, "work", table)
          .select(col("sourceCode"), col("conceptId"), col("mappingStatus"))
        df = MergeOps.usagiJoin(df, u, c, flags.approvedStatuses)
          .withColumn(c, coalesce(col("conceptId"), lit(0L)))
          .drop("sourceCode", "conceptId", "mappingStatus")
      }
    }

    // J2/J4/W1: append-only PK swap (stable surrogate ids across re-runs)
    model.pk(tb).foreach { pk =>
      val cands = df.select(col(pk).as("x")).distinct()
      val swapName = s"${tb}_id_swap"
      // a first run numbers every key 1..n; re-runs append unseen keys only
      val swap =
        if (zones.listTables(s, "work").contains(swapName))
          Swap.mergeAppend(zones.read(s, "work", swapName), cands, Seq("x"))
        else Swap.denseIds(cands, Seq("x"), 0L)
      timed(s"$tb pk-swap")(zones.write(swap, "work", swapName))
      val sw = zones.read(s, "work", swapName)
      df = df.join(sw, df(pk) === sw("x")).withColumn(pk, col("y")).drop("x", "y")
    }

    val prepared = df
    Some(() => finalizeTable(s, model, zones, tb, prepared, conceptCols))
  }

  /** The off-critical-path suffix: everything below reads only this
    * table's prepared frame and swap tables ALREADY materialized by
    * prepare phases of this or earlier levels — no dependent reads it.
    */
  private def finalizeTable(
      s: SparkSession,
      model: CdmModel,
      zones: Zones,
      tb: String,
      prepared: DataFrame,
      conceptCols: Seq[String]): Long = {
    var df = prepared
    // J3: FK rewrites through the parents' materialized swaps (concept
    // columns are usagi-mapped above, never fk-swapped — the reference's
    // merge treats them as separate join families)
    val work = zones.listTables(s, "work").toSet
    (model.fks(tb) -- conceptCols).toSeq.sortBy(_._1).foreach { case (fkCol, parent) =>
      if (work.contains(s"${parent}_id_swap"))
        df = MergeOps.fkSwapJoin(
          df, zones.read(s, "work", s"${parent}_id_swap"),
          fkCol, model.requiredColumns(tb).contains(fkCol))
    }

    // W3: deterministic dedup over the surrogate identity — restricted to
    // the columns the user's queries actually emitted (the reference's
    // merge projects the model columns, NULL-defaulting the absent ones;
    // absent concept columns cannot partition the dedup window). Without
    // an emitted pk there is no surrogate identity: concept values alone
    // would collapse distinct rows, and S10 already dropped exact repeats
    model.pk(tb).filter(df.columns.contains).foreach { pk =>
      df = MergeOps.dedupKeepFirst(df, (pk +: conceptCols).distinct.filter(df.columns.contains))
    }

    // S11 atomic replace, laid out on the model's cluster keys (the
    // reference's per-table `cluster by` — key-range scans skip row groups)
    val clusterCols = model.clustering.getOrElse(tb, Seq.empty)
      .filter(df.columns.contains)
    timed(s"$tb omop-write")(zones.writeClustered(df, clusterCols, "omop", tb))
    zones.rows(s, "omop", tb)
  }

  /** Stage 2: rewrite each polymorphic event column of `tb` through the
    * referenced tables' swap maps (the work-table convention: the event
    * column holds source keys, its sibling discriminator column the
    * referenced table NAME — `{omop_table}_apply_event_columns.sql.jinja`).
    */
  private def eventStep(s: SparkSession, model: CdmModel, zones: Zones, tb: String): Unit = {
    val events = model.events(tb)
    if (events.isEmpty || !zones.listTables(s, "omop").contains(tb)) return
    val work = zones.listTables(s, "work").toSet
    var df = zones.read(s, "omop", tb)
    var changed = false
    events.toSeq.sortBy(_._1).foreach { case (eventCol, discCol) =>
      val referenced = EventOps.discoverEventTables(df, Seq(discCol))
        .filter(t => work.contains(s"${t}_id_swap"))
      if (referenced.nonEmpty) {
        val swaps = referenced.map(t => t -> zones.read(s, "work", s"${t}_id_swap"))
        df = EventOps.applyEventColumns(df, eventCol, discCol, swaps)
        changed = true
      }
    }
    if (changed) timed(s"$tb event-step")(zones.write(df, "omop", tb))
  }

  /** The full-run epilogue (`etl.py:126-129,155-159`): tombstone stale
    * lineage rows and stamp the RiaB version metadata.
    */
  private def postEtlCleanup(s: SparkSession, zones: Zones): Unit = {
    val mapName = "source_id_to_omop_id_map"
    val lineage = zones.listTables(s, "work")
      .filter(_.endsWith("_id_swap")).sorted
      .map { sw =>
        Swap.toSourceIdMap(
          zones.read(s, "work", sw), sw.stripSuffix("_id_swap"), "folder_etl",
          java.sql.Date.valueOf("2026-01-01"))
      }
      .reduceOption(_ unionByName _)
    // The r21 overlap of these two writes was REVERTED in r22 after a
    // clean four-run knob A/B measured it flat (serial 5.73/6.37 s vs
    // concurrent 11.93/6.04 s for etl_folder_run, band both ways): both
    // writes are metadata-scale at EVERY data size (lineage rows +
    // version stamp), so §2.6 back-fill has nothing to back-fill here —
    // the pool bought complexity, not seconds.
    lineage.foreach { l =>
      timed("post lineage")(zones.write(
        graft.operators.Cleanup.tombstoneStale(l, lit("2000-01-01").cast("date")),
        "omop", mapName))
    }
    timed("post metadata")(zones.write(
      graft.operators.Cleanup.versionMetadata(
        s, "5.4", "0.1.0",
        java.sql.Date.valueOf("2026-01-01"),
        java.sql.Timestamp.valueOf("2026-01-01 12:00:00")),
      "omop", "metadata_riab"))
  }
}
