package graft.io

import graft.SparkSpec
import graft.sources.OhdsiSql
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import java.nio.file.Files

/** The local filesystem, except that it can fail the Nth commit rename
  * under one directory (renames inside a write job's `_temporary` tree are
  * the output committer's and are not counted), and record the
  * exists/delete/rename calls made on a few exact paths.
  */
class FaultFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.record(s"rename ${FaultFs.name(src)} ${FaultFs.name(dst)}", src)
    if (FaultFs.failsNow(src)) false else super.rename(src, dst)
  }
  override def exists(p: Path): Boolean = {
    FaultFs.record(s"exists ${FaultFs.name(p)}", p)
    super.exists(p)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.record(s"delete ${FaultFs.name(p)}", p)
    super.delete(p, recursive)
  }
}

object FaultFs {
  @volatile private var under = "\u0000"
  @volatile private var failAt = 0
  private val renames = new java.util.concurrent.atomic.AtomicInteger
  @volatile private var watched = Set.empty[String]
  val calls = new java.util.concurrent.CopyOnWriteArrayList[String]()

  private def bare(p: Path): String = p.toUri.getPath
  private def name(p: Path): String = p.getName

  private def failsNow(src: Path): Boolean =
    bare(src).startsWith(under) && !bare(src).contains("/_temporary") &&
      renames.incrementAndGet() == failAt

  private def record(call: String, p: Path): Unit =
    if (watched.contains(bare(p))) calls.add(call)

  /** Arm: under `dir`, fail the `n`th rename (0 = none); watch `paths`. */
  def arm(dir: String, n: Int, paths: Set[String]): Unit = {
    under = dir; failAt = n; renames.set(0)
    watched = paths; calls.clear()
  }

  /** Stop failing and recording; [[calls]] keeps what was recorded. */
  def disarm(): Unit = { under = "\u0000"; failAt = 0; watched = Set.empty }

  /** Commit renames under the armed directory since [[arm]]. */
  def renameCount: Int = renames.get
}

/** Every directory-swapping writer — [[AtomicWrite.replace]],
  * [[Zones.writeBucketed]] and [[OhdsiSql.replaceCatalogTable]] — shares
  * [[AtomicWrite.promote]]: whichever of its renames fails, a read by path
  * or by name afterwards returns the previous rows.
  */
class PromoteFaultSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with [[FaultFs]] as the `file:` filesystem. */
  private def onFaultFs[A](dir: String, failAt: Int, watch: Set[String] = Set.empty)(
      body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[FaultFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    FaultFs.arm(new Path(dir).toUri.getPath, failAt, watch)
    try body
    finally {
      FaultFs.disarm()
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  /** Replace v1 by v2 through `write`, failing each commit rename in
    * turn; after each failure `read` must return v1, and a clean run v2.
    */
  private def failEachRename(dir: String, write: Seq[Int] => Unit, read: () => Seq[Int]): Unit = {
    val (v1, v2) = (Seq(1, 2, 3), Seq(7))
    write(v1)
    val total = onFaultFs(dir, 0) { write(v1); FaultFs.renameCount }
    assert(total >= 2, "a replace demotes and promotes")
    for (n <- 1 to total) {
      intercept[Exception](onFaultFs(dir, n)(write(v2)))
      assert(read().sorted === v1, s"rename $n of $total failed: previous rows lost")
    }
    write(v2)
    assert(read().sorted === v2)
  }

  test("AtomicWrite.replace: a failed rename leaves the previous table at its path") {
    val dir = Files.createTempDirectory("graft-fault-aw").toString
    val path = s"$dir/t"
    failEachRename(dir, v => AtomicWrite.replace(v.toDF("v"), path),
      () => spark.read.parquet(path).as[Int].collect().toSeq)
  }

  test("Zones.writeBucketed: a failed rename leaves the previous table under its name") {
    val dir = Files.createTempDirectory("graft-fault-bkt").toString
    val zones = Zones(dir)
    var name = ""
    failEachRename(dir,
      v => name = zones.writeBucketed(v.toDF("v"), "v", 2, "work", "t"),
      () => spark.table(name).as[Int].collect().toSeq)
  }

  test("OhdsiSql.replaceCatalogTable: a failed rename keeps the previous table, managed or not") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val db = "graft_fault_db"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    def read(t: String)(): Seq[Int] = spark.table(s"$db.$t").as[Int].collect().toSeq
    // a table an earlier replace registered by location
    failEachRename(s"$warehouse/$db.db",
      v => OhdsiSql.replaceCatalogTable(spark, s"$db.ext", v.toDF("v")), read("ext"))
    // a managed table: its DROP deletes whatever sits at its location
    spark.sql(s"CREATE TABLE $db.managed (v INT) USING parquet")
    spark.sql(s"INSERT INTO $db.managed VALUES (1), (2), (3)")
    for (n <- 1 to 2) {
      intercept[Exception](onFaultFs(s"$warehouse/$db.db", n)(
        OhdsiSql.replaceCatalogTable(spark, s"$db.managed", Seq(7).toDF("v"))))
      assert(read("managed")().sorted === Seq(1, 2, 3), s"rename $n failed: previous rows lost")
    }
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("AtomicWrite.replace's success path makes the same calls on the table's paths") {
    val dir = Files.createTempDirectory("graft-fault-calls").toString
    val path = s"$dir/t"
    AtomicWrite.replace(Seq(1).toDF("v"), path)
    val watch = Set(path, s"$path.__tmp", s"$path.__old")
    onFaultFs(dir, 0, watch)(AtomicWrite.replace(Seq(2).toDF("v"), path))
    assert(FaultFs.calls.toArray.toSeq === Seq(
      "exists t.__tmp",
      "exists t.__tmp", // the parquet write's own overwrite check
      "exists t.__old",
      "exists t",
      "rename t t.__old",
      "rename t.__tmp t",
      "delete t.__old"))
  }
}
