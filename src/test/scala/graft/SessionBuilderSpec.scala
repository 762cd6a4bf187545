package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Regression guards on how sessions are built: [[GraftSession.builder]]
  * is the one place, [[GraftSession.interpreted]] the one place a session's
  * codegen mode changes, and the test session carries the builder's
  * settings.
  */
class SessionBuilderSpec extends SparkSpec {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  test("no session builder outside GraftSession") {
    val call = "SparkSession" + ".builder"
    val copies = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => Files.readString(p).contains(call))
    assert(copies.isEmpty, s"build sessions with GraftSession.builder: ${copies.mkString(", ")}")
  }

  test("codegen modes and session forks live in GraftSession") {
    val main = scalaFiles("src/main")
    def filesWith(text: String): Set[String] =
      main.filter(p => Files.readString(p).contains(text)).map(_.getFileName.toString).toSet
    Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode", ".newSession()")
      .foreach(t => assert(filesWith(t).subsetOf(Set("GraftSession.scala")), s"$t: ${filesWith(t)}"))
    assert(filesWith("cloneSession") === Set("GraftSession.scala", "GraftExpressionBridge.scala"))
  }

  test("no new sys.props / sys.env reads in src/main") {
    val reads = scalaFiles("src/main")
      .map(p => "sys\\.(props|env)".r.findAllIn(Files.readString(p)).size).sum
    assert(reads === 12)
  }

  test("the test session carries GraftSession's settings") {
    assert(spark.catalog.functionExists("rolling_hash"), "GraftExtensions not installed")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
  }
}
