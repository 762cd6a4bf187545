package graft.io

import graft.SparkSpec
import java.nio.file.Files

/** [[Zones.rows]]: the footer-probed row count equals a counting read. */
class ZonesSpec extends SparkSpec {

  private def newZones(): Zones = Zones(Files.createTempDirectory("graft_zones_rows").toString)

  test("rows equals a counting read on a multi-part and on an empty table") {
    val zones = newZones()
    zones.write(spark.range(0, 1000, 1, 7).toDF("id"), "work", "multi")
    zones.write(spark.range(0).toDF("id"), "work", "empty")
    val count = (tb: String) => spark.read.parquet(zones.tablePath("work", tb)).count()
    assert(count("multi") === 1000L)
    assert(zones.rows(spark, "work", "multi") === count("multi"))
    assert(count("empty") === 0L)
    assert(zones.rows(spark, "work", "empty") === count("empty"))
    assert(zones.rows(spark, "work", "missing") === 0L)
  }

  test("rows over several tables stops reading footers once the sum reaches upTo") {
    val zones = newZones()
    zones.write(spark.range(0, 700, 1, 7).toDF("id"), "work", "a")
    zones.write(spark.range(0, 50, 1, 1).toDF("id"), "work", "b")
    val all = Seq("a", "missing", "b")
    assert(zones.rows(spark, "work", all, Long.MaxValue) === 750L)
    // one part file of `a` holds 100 rows: the probe reads just that footer
    assert(zones.rows(spark, "work", all, 1L) === 100L)
    assert(zones.rows(spark, "work", all, 650L) === 700L)
  }
}
