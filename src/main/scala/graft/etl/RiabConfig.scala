package graft.etl

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The reference's `riab.ini` configuration surface
  * (`/root/reference/riab.ini.example:1-29`, loaded by
  * `src/riab/cli.py:335-357`): an INI file with a `[riab]` section (engine
  * selection + parallelism) and one section per backend. The Spark engine
  * reads the same file — `[riab] db_engine=spark` selects a `[spark]`
  * section carrying the zone root — so an existing deployment's config
  * moves over unchanged except for its backend block.
  *
  * Resolution cascade, same as the reference: explicit path ->
  * `RIAB_CONFIG` env var -> `./riab.ini` -> error.
  */
final case class RiabConfig(sections: Map[String, Map[String, String]]) {

  private def riab = sections.getOrElse("riab", Map.empty)

  def dbEngine: String = riab.getOrElse("db_engine",
    throw new IllegalArgumentException("[riab] db_engine missing"))
  def cdmFolderPath: Option[String] = riab.get("cdm_folder_path")
  /** `etl.py` defaults: 9 parallel tables, 16 worker threads per table. A
    * malformed or non-positive value falls back to the default.
    */
  def maxParallelTables: Int = positive("max_parallel_tables", EtlRunner.MaxParallelTables)
  def maxWorkerThreadsPerTable: Int = positive("max_worker_threads_per_table", 16)

  /** The Spark backend's `spark.sql.shuffle.partitions`: `[spark]
    * shuffle_partitions`, else `cpus` (the `SPARK_GRAFT_CPUS` value), else
    * 32 — each taken only when it is a positive integer, so a malformed
    * knob falls back instead of failing the session build.
    */
  def shufflePartitions(cpus: Option[String]): Int =
    (backend.get("shuffle_partitions") ++ cpus).flatMap(positiveInt).headOption.getOrElse(32)

  private def positive(key: String, default: Int): Int =
    riab.get(key).flatMap(positiveInt).getOrElse(default)

  private def positiveInt(v: String): Option[Int] = v.trim.toIntOption.filter(_ > 0)

  /** The selected backend's section (`[spark]`, `[bigquery]`, ...). */
  def backend: Map[String, String] = sections.getOrElse(dbEngine, Map.empty)

  /** The Spark backend's zone root (parquet namespace root for
    * raw/work/omop/dqd/achilles — the analogue of the warehouse dataset
    * names in the reference's backend sections).
    */
  def zonesRoot: String = backend.getOrElse("zones_root",
    throw new IllegalArgumentException(s"[$dbEngine] zones_root missing"))
}

object RiabConfig {

  /** Parse INI text: `[section]` headers, `key=value` entries, `#`/`;`
    * comments, whitespace-trimmed — the subset configparser accepts for
    * the reference's own example file.
    */
  def parse(text: String): RiabConfig = {
    var section = ""
    val out = scala.collection.mutable.Map.empty[String, Map[String, String]]
    text.linesIterator.map(_.trim).filter(_.nonEmpty)
      .filterNot(l => l.startsWith("#") || l.startsWith(";"))
      .foreach {
        case l if l.startsWith("[") && l.endsWith("]") =>
          section = l.substring(1, l.length - 1).trim
          out.getOrElseUpdate(section, Map.empty)
        case l if l.contains("=") =>
          // configparser raises MissingSectionHeaderError on a key=value
          // line before any [section]; match it (ADVICE r5) instead of
          // silently filing under an empty-string section
          if (section.isEmpty)
            throw new IllegalArgumentException(
              s"File contains no section headers before line: $l")
          val Array(k, v) = l.split("=", 2)
          out(section) = out.getOrElse(section, Map.empty) + (k.trim -> v.trim)
        case l =>
          throw new IllegalArgumentException(s"unparseable ini line: $l")
      }
    RiabConfig(out.toMap)
  }

  def load(path: Path): RiabConfig =
    parse(new String(Files.readAllBytes(path), "UTF-8"))

  /** The reference's lookup cascade (`cli.py:335-357`): explicit arg ->
    * RIAB_CONFIG env -> ./riab.ini in `cwd` -> error.
    */
  def resolve(explicit: Option[String] = None,
      env: Map[String, String] = sys.env,
      cwd: String = System.getProperty("user.dir")): RiabConfig = {
    val path = explicit
      .orElse(env.get("RIAB_CONFIG"))
      .map(Paths.get(_))
      .orElse(Some(Paths.get(cwd, "riab.ini")).filter(Files.exists(_)))
      .getOrElse(throw new IllegalArgumentException("No config file provided!"))
    load(path)
  }
}
