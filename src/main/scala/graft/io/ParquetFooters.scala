package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** Parquet tables read on the driver from their footers, with no Spark job.
  *
  * A parquet read without a schema infers one inside the analyzer
  * (`ResolveDataSource` -> `mergeSchemasInParallel`), and that inference
  * is a one-task Spark job even for a single file. The schema is already
  * in the footer of the file inference would pick, so [[read]] reads that
  * footer here and hands the schema to the reader, whose planning only
  * lists files. Conversion goes through Spark's own
  * `readSchemaFromFooter` with a converter built from the session's SQL
  * conf, so the stored Spark schema (field metadata included),
  * `nanosAsLong`, binary-as-string and INT96 come out as under inference.
  */
object ParquetFooters {

  /** The entries of `path` that Spark's file index keeps, in path order.
    * A file path is its own one entry. In a directory, names starting
    * with `_` or `.` are skipped, except the `_metadata` and
    * `_common_metadata` summaries, as are `._COPYING_` files in flight.
    * Empty when `path` does not exist.
    */
  private[io] def listing(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val top = fs.getFileStatus(p)
      if (top.isFile) Seq(top)
      else fs.listStatus(p).toSeq.filter { f =>
        val n = f.getPath.getName
        isSummary(f) ||
          !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
            n.endsWith("._COPYING_"))
      }.sortBy(_.getPath.toString)
    }
  }

  /** A parquet summary file, which holds the footers of its siblings. */
  private[io] def isSummary(f: FileStatus): Boolean =
    f.isFile && Set("_metadata", "_common_metadata").contains(f.getPath.getName)

  /** The schema inference would give `path`, from the footer of the file
    * it picks: `_common_metadata`, else `_metadata`, else the first data
    * file. None when `path` is missing, holds a subdirectory (a partition
    * layout) or no data file, or the footer does not read or convert.
    */
  private[io] def schema(spark: SparkSession, path: String): Option[StructType] = {
    val entries = listing(spark, path)
    val (summaries, data) = entries.partition(isSummary)
    if (data.isEmpty || entries.exists(_.isDirectory)) None
    else {
      val pick = summaries.find(_.getPath.getName == "_common_metadata")
        .orElse(summaries.headOption).getOrElse(data.head)
      Try(footerSchema(spark, pick)).toOption
    }
  }

  private def footerSchema(spark: SparkSession, f: FileStatus): StructType = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, r.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally r.close()
  }

  /** The parquet table at `path` with its [[schema]]. Where there is none,
    * the read infers it: that keeps Spark's own errors for a missing or
    * unreadable path and its partition discovery.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
}
