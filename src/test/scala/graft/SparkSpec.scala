package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — built once per JVM (sbt forks a
  * single test JVM), small parallelism so the suite stays fast.
  */
object SparkSpec {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", "4").appName("graft-test").getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
