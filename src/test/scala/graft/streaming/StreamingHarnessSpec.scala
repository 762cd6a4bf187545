package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Regression guards on where streams start and how stream sources are
  * staged: [[StreamingOps]] holds the drains, the stager and the table
  * source, and the queries only wire them. The same greps keep renames in
  * [[graft.io.AtomicWrite]] (and the catalog append), the query layer's
  * run-once stores in [[graft.io.Stored]], its thread pools in
  * [[graft.io.Jobs]], its schema-less parquet reads in
  * [[graft.io.ParquetFooters]] and its string-literal scanning in
  * [[graft.sources.SqlText]].
  */
class StreamingHarnessSpec extends AnyFunSuite {

  private lazy val mainFiles: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally s.close()
  }

  /** file name -> occurrences of `what`, for the files that contain it */
  private def sites(what: String): Map[String, Int] =
    mainFiles.collect { case (p, text) if text.contains(what) =>
      p.getFileName.toString ->
        java.util.regex.Pattern.quote(what).r.findAllMatchIn(text).size
    }.toMap

  test("streams start, and table sources are symlinked, only in StreamingOps") {
    for (call <- Seq(".writeStream", "Trigger.AvailableNow", "createSymbolicLink"))
      assert(sites(call).keySet == Set("StreamingOps.scala"),
        s"$call outside StreamingOps: ${sites(call)}")
  }

  test("no local rm helper is left") {
    assert(sites("def rm(").isEmpty, s"use Zones.drop / StreamingOps.scratchDir: ${sites("def rm(")}")
  }

  test("renames only in AtomicWrite, OhdsiSql's append path and the stream stager") {
    assert(sites(".rename(") ==
      Map("AtomicWrite.scala" -> 3, "OhdsiSql.scala" -> 1))
  }

  test("query-layer stores go through graft.io.Stored, not their own memo maps") {
    val memos = mainFiles.collect {
      case (p, text) if p.toString.replace('\\', '/').contains("graft/queries/") &&
        text.contains("TrieMap.empty") => p.getFileName.toString
    }
    assert(memos.isEmpty, s"use graft.io.Stored: ${memos.mkString(", ")}")
  }

  test("parquet reads without a schema only in ParquetFooters' fallback") {
    assert(sites(".read.parquet(") == Map("ParquetFooters.scala" -> 1),
      s"read tables with graft.io.ParquetFooters.read: ${sites(".read.parquet(")}")
  }

  test("string literals are scanned only in SqlText") {
    assert(sites("'\\''").keySet == Set("SqlText.scala"),
      s"split, match or rewrite SQL and Jinja text through graft.sources.SqlText: ${sites("'\\''")}")
  }

  test("thread pools only in Jobs and EtlRunner") {
    assert(sites("newFixedThreadPool").keySet == Set("Jobs.scala", "EtlRunner.scala"),
      s"run concurrent jobs with graft.io.Jobs.concurrently: ${sites("newFixedThreadPool")}")
  }
}
