package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class RiabConfigSpec extends AnyFunSuite {

  private val ini =
    """# engine selection
      |[riab]
      |db_engine=spark
      |cdm_folder_path=~/omop-cdm/
      |max_parallel_tables=4
      |
      |[spark]
      |zones_root=/tmp/graft_zones
      |; a comment
      |shuffle_partitions=32
      |""".stripMargin

  test("parses sections, keys, comments, and typed [riab] accessors") {
    val c = RiabConfig.parse(ini)
    assert(c.dbEngine === "spark")
    assert(c.cdmFolderPath === Some("~/omop-cdm/"))
    assert(c.maxParallelTables === 4)
    assert(c.maxWorkerThreadsPerTable === 16) // reference default
    assert(c.zonesRoot === "/tmp/graft_zones")
    assert(c.backend("shuffle_partitions") === "32")
  }

  test("parses the reference's own example file shape") {
    val example =
      """[riab]
        |db_engine=bigquery
        |cdm_folder_path=~/omop-cdm/
        |max_parallel_tables=9
        |max_worker_threads_per_table=16
        |
        |[bigquery]
        |location=EU
        |dataset_work=omop.work
        |""".stripMargin
    val c = RiabConfig.parse(example)
    assert(c.dbEngine === "bigquery")
    assert(c.backend("dataset_work") === "omop.work")
  }

  test("EtlRunner wires its pool size from the config") {
    val c = RiabConfig.parse(ini)
    val runner = EtlRunner.fromConfig(graft.model.TpchModel.model, c)
    assert(runner.maxParallelTables === 4)
  }

  test("resolution cascade: explicit beats env beats cwd, missing errors") {
    val dir = Files.createTempDirectory("riab_cfg")
    val a = dir.resolve("a.ini")
    val b = dir.resolve("b.ini")
    Files.writeString(a, "[riab]\ndb_engine=spark\n[spark]\nzones_root=/a\n")
    Files.writeString(b, "[riab]\ndb_engine=spark\n[spark]\nzones_root=/b\n")
    Files.writeString(dir.resolve("riab.ini"),
      "[riab]\ndb_engine=spark\n[spark]\nzones_root=/cwd\n")
    assert(RiabConfig.resolve(Some(a.toString),
      Map("RIAB_CONFIG" -> b.toString), dir.toString).zonesRoot === "/a")
    assert(RiabConfig.resolve(None,
      Map("RIAB_CONFIG" -> b.toString), dir.toString).zonesRoot === "/b")
    assert(RiabConfig.resolve(None, Map.empty, dir.toString).zonesRoot === "/cwd")
    val empty = Files.createTempDirectory("riab_cfg_empty")
    assertThrows[IllegalArgumentException] {
      RiabConfig.resolve(None, Map.empty, empty.toString)
    }
  }

  test("malformed or non-positive parallelism falls back to the defaults") {
    for ((tables, workers) <- Seq(("abc", "1.5"), ("0", "-3"), ("", " ")))
      withClue(s"max_parallel_tables=$tables max_worker_threads_per_table=$workers: ") {
        val c = RiabConfig.parse(
          s"[riab]\nmax_parallel_tables=$tables\nmax_worker_threads_per_table=$workers\n")
        assert(c.maxParallelTables === 9)
        assert(c.maxWorkerThreadsPerTable === 16)
      }
    // surrounding whitespace is not malformed
    val c = RiabConfig.parse("[riab]\nmax_parallel_tables= 3 \n")
    assert(c.maxParallelTables === 3)
  }

  test("key=value before any [section] throws like configparser") {
    val e = intercept[IllegalArgumentException](
      RiabConfig.parse("db_engine=spark\n[riab]\n"))
    assert(e.getMessage.contains("no section headers"))
  }
}
