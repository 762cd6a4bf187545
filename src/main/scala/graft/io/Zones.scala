package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's data zones as parquet directory namespaces
  * (`/root/reference/README.md:22`, `bigquery/etl_base.py:55-61`):
  * `raw` (source EMR), `work` (uploads, swap tables, staged vocabularies),
  * `omop` (final CDM "gold"), plus `dqd` / `achilles` result zones.
  *
  * A table is a parquet directory `<root>/<zone>/<table>`; all writes go
  * through [[AtomicWrite]] so a zone never exposes a half-written table.
  */
object Zones {
  /** Root under which the query layer's zone namespaces live. Overridable
    * via `-Dgraft.zones.root=...` (or the riab.ini `zones_root` for the CLI
    * path); defaults to the build's `target/` so the library is portable
    * outside any particular checkout (ADVICE r5: no literal absolute
    * paths in the query layer).
    */
  def defaultRoot: String = sys.props.getOrElse("graft.zones.root", "target")

  /** A zone namespace under [[defaultRoot]], e.g. `forPurpose("dqd")` ->
    * `<root>/graft_zones_dqd`.
    */
  def forPurpose(purpose: String): Zones = Zones(s"$defaultRoot/graft_zones_$purpose")

  /** Stable stored-table suffix for a dataset path: md5 of the FULL path
    * (ADVICE r5: `String.hashCode` can collide across paths in one JVM and
    * silently cross-read another dataset's stored results). Cache-lifetime
    * note: stored tables memoized per (session, path) assume the data under
    * a path is immutable for the session — true for the driver's read-only
    * testdata dirs.
    */
  def pathKey(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
}

final case class Zones(root: String) {
  val names: Seq[String] = Seq("raw", "work", "omop", "dqd", "achilles")

  def tablePath(zone: String, table: String): String = {
    require(names.contains(zone), s"unknown zone: $zone")
    s"$root/$zone/$table"
  }

  def write(df: DataFrame, zone: String, table: String): Unit =
    AtomicWrite.replace(df, tablePath(zone, table))

  def read(spark: SparkSession, zone: String, table: String): DataFrame =
    AtomicWrite.readTable(spark, tablePath(zone, table))

  /** Rows of `table`, summed from the row groups its parquet footers
    * record — read on the driver, so no Spark job runs. The data files
    * are those of [[ParquetFooters.listing]], Spark's own listing, less
    * summary files; a missing table has 0 rows. An interrupted replace is
    * recovered first, as [[read]] does.
    */
  def rows(spark: SparkSession, zone: String, table: String): Long =
    rows(spark, zone, Seq(table), Long.MaxValue)

  /** [[rows]] summed over `tables`, reading footers only until the sum
    * reaches `upTo`: exact below `upTo`, at least `upTo` otherwise, so a
    * large zone costs a few footer reads.
    */
  def rows(spark: SparkSession, zone: String, tables: Seq[String], upTo: Long): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = tables.iterator.flatMap { tb =>
      val path = tablePath(zone, tb)
      AtomicWrite.recover(spark, path)
      ParquetFooters.listing(spark, path).filter(f => f.isFile && !ParquetFooters.isSummary(f))
    }
    var n = 0L
    while (n < upTo && files.hasNext) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(files.next(), conf))
      try n += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }
    n
  }

  /** S12: work-table listing — the INFORMATION_SCHEMA.COLUMNS DISTINCT
    * table_name analogue (`cleanup/all_work_table_names.sql.jinja:3-5`,
    * used by `bigquery/cleanup.py:39-48`): a bounded directory listing,
    * excluding in-flight `.__tmp` / `.__old` staging dirs.
    */
  def listTables(spark: SparkSession, zone: String): Seq[String] = {
    val dir = new Path(s"$root/$zone")
    val fs: FileSystem = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(n => n.endsWith(".__tmp") || n.endsWith(".__old") ||
          n.startsWith("__bucketed_"))
        .sorted
        .toSeq
  }

  def drop(spark: SparkSession, zone: String, table: String): Unit =
    delete(spark, tablePath(zone, table))

  /** Drop every table in every zone of this namespace. */
  def clear(spark: SparkSession): Unit = delete(spark, root)

  private def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Bucketed table layout: `bucketBy` + `sortBy` on the join key writes
    * both sides of a recurring big-big equi-join PRE-SHUFFLED ON DISK, so
    * the join plans with ZERO exchanges (and zero sorts, the files being
    * bucket-sorted) — the 100 TB answer to a join repeated across a
    * pipeline on a stable key, where even one shuffle of the fact tables
    * dominates the run. Bucketing rides CATALOG metadata, not bare
    * parquet, so the table registers in the session catalog (external, at
    * a zone-local path) under a deterministic name, returned to the
    * caller for `spark.table`.
    */
  def writeBucketed(df: DataFrame, bucketCol: String, nBuckets: Int,
      zone: String, table: String): String = {
    require(names.contains(zone), s"unknown zone: $zone")
    val spark = df.sparkSession
    val name = s"graft_bkt_${Zones.pathKey(root)}_${zone}_$table"
    val tmpName = name + "__tmp"
    // the AtomicWrite staging discipline, carried through the catalog:
    // write to a `.__tmp` path under a temp table name (a crash exposes
    // only the staging dir, which listTables filters), swap the
    // directories, then point the catalog entry at the final path and
    // rename it in — bucket METADATA lives on the catalog entry, so the
    // swap must move the entry with the files
    val finalPath = new java.io.File(s"$root/$zone/__bucketed_$table").getAbsolutePath
    val tmpPath = finalPath + ".__tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", tmpPath)
      .saveAsTable(tmpName)
    val fp = new Path(finalPath)
    val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a failed swap leaves the previous files at the live path, which the
    // catalog entry still names
    fs.delete(AtomicWrite.promote(fs, new Path(tmpPath), fp), true)
    spark.sql(s"ALTER TABLE $tmpName SET LOCATION '$finalPath'")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"ALTER TABLE $tmpName RENAME TO $name")
    name
  }

  /** Physical layout (SURVEY §1.3): the reference clusters every table on
    * its per-table key set (`OMOPCDM_bigquery_5.4_clustering_fields.json`,
    * applied in DDL `cluster by ...`; SQL Server uses clustered indexes).
    * The Spark analogue: repartition on the leading cluster key so equal
    * keys co-locate, sort within partitions on the full set so parquet
    * row-group min/max stats make key-range scans skippable — then the
    * atomic replace.
    */
  def writeClustered(df: DataFrame, clusterCols: Seq[String], zone: String, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val laid =
      if (clusterCols.isEmpty) df
      else df.repartition(col(clusterCols.head))
        .sortWithinPartitions(clusterCols.map(col): _*)
    AtomicWrite.replace(laid, tablePath(zone, table))
  }

  /** D6: vocabulary refill — truncate+insert of the omop-zone vocabulary
    * table from its staged work-zone copy
    * (`vocabulary_table_refill.sql.jinja:3-6`,
    * `bigquery/import_vocabularies.py:59-71`), expressed as an atomic
    * replace of the omop table by the work table.
    */
  def refill(spark: SparkSession, table: String): Unit =
    write(read(spark, "work", table), "omop", table)
}
