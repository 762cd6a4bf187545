package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** S11: atomic table replace — the Spark analogue of the reference's
  * `CREATE OR REPLACE TABLE omop.{t} ... AS (query)` CTAS swap
  * (`/root/reference/src/riab/etl/bigquery/templates/etl/{omop_table}_merge.sql.jinja:3-12`),
  * honoring "each ETL step is an atomic operation, it either fails or
  * succeeds" (`/root/reference/README.md:30`).
  *
  * Protocol (all renames are single-filesystem directory renames, which
  * HDFS/local/most object-store committers perform atomically):
  *
  *   1. write the new data to `<path>.__tmp` (stale tmp from a crash is
  *      deleted first — it was never promoted, so it is garbage);
  *   2. demote the current table: `<path>` -> `<path>.__old`;
  *   3. promote: `<path>.__tmp` -> `<path>` ([[promote]], which the
  *      bucketed and catalog writers share);
  *   4. drop `<path>.__old`.
  *
  * A crash before 3 leaves the old table readable (possibly under the
  * `.__old` name — [[recover]] restores it); a crash after 3 leaves the new
  * table live. No reader ever observes a half-written table at `<path>`.
  */
object AtomicWrite {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpOf(path: String) = new Path(path + ".__tmp")
  private def oldOf(path: String) = new Path(path + ".__old")

  /** Atomically replace the parquet table at `path` with `df`. */
  def replace(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val f = fs(spark, target)
    val tmp = tmpOf(path)
    if (f.exists(tmp)) f.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    f.delete(promote(f, tmp, target), true)
  }

  /** Steps 2–3 for any writer that stages a directory beside its live one:
    * demote `target` (when present) to `<target>.__old`, dropping a stale
    * `.__old` first; run `detached` (a catalog writer drops its entry
    * here, once the live files are out of reach of a managed-table DROP);
    * promote `staged` to `target`. A failed promote (or `detached`) moves
    * the demoted copy back before it throws, so `target` still holds the
    * previous version. Returns the `.__old` path, which the caller
    * deletes once the new version is committed.
    */
  def promote(f: FileSystem, staged: Path, target: Path,
      detached: () => Unit = () => ()): Path = {
    val old = oldOf(target.toString)
    if (f.exists(old)) f.delete(old, true)
    if (f.exists(target)) {
      if (!f.rename(target, old))
        throw new java.io.IOException(s"atomic replace: demote failed for $target")
    }
    val promoted =
      try { detached(); f.rename(staged, target) }
      catch { case NonFatal(e) => restore(f, old, target); throw e }
    if (!promoted) {
      restore(f, old, target)
      throw new java.io.IOException(s"atomic replace: promote failed for $target")
    }
    old
  }

  private def restore(f: FileSystem, old: Path, target: Path): Boolean =
    !f.exists(target) && f.exists(old) && f.rename(old, target)

  /** Restore a table whose promote step was interrupted: if `<path>` is
    * missing but `<path>.__old` survives, the demoted table is moved back.
    * Returns true if a recovery happened.
    */
  def recover(spark: SparkSession, path: String): Boolean = {
    val target = new Path(path)
    restore(fs(spark, target), oldOf(path), target)
  }

  /** Read the table, transparently recovering from an interrupted replace;
    * its schema comes from a footer ([[ParquetFooters.read]]), so no job runs.
    */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    ParquetFooters.read(spark, path)
  }
}
