package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line `{"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}`.
  *
  * Round-1 harness defects fixed (VERDICT.md "What's wrong"):
  *  - a query that throws is reported in an explicit `"errors"` object and
  *    excluded from `"queries"`, instead of silently recording wall-time;
  *  - the JSON line is ALSO written to `bench_out.json` (cwd) because sbt's
  *    logger prefixes forked stdout with `[info] `, which broke the
  *    driver's parse of round 1 (`BENCH_r01.json: parsed: null`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm the file index / parquet footers once so the alphabetically-first
    // query doesn't absorb all of the one-time IO setup (per-query codegen
    // is NOT warmed — each query still pays its own compilation)
    Tables.all.foreach(n => Tables.load(spark, sfDir, n).count())

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // dev aid: SPARK_GRAFT_ONLY=a,b,c restricts the run to named queries
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        times(name) = (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      // Per-query JVM-state isolation (round-3 verdict: leaked cache blocks
      // and accumulated garbage taxed later queries 2-16x). Cache clearing
      // and the GC pause run OUTSIDE the timed window.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = times.values.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"n_ok":${times.size},"n_err":${errors.size},"sf":${jstr(sfDir)}}"""
    println(json)
    Files.writeString(Paths.get("bench_out.json"), json + "\n")
    spark.stop()
  }
}
