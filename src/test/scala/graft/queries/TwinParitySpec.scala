package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Dialect-twin parity: every `ohdsi_sql_bq_X` whose oracle text is
  * `ohdsi_sql_X`'s returns the same rows as `ohdsi_sql_X`. The pairs are
  * read off `SparkEntry.oracleSql`, so a twin joins the check the day its
  * oracle names its sibling's. Columns compare by name and values by
  * their string form, the way the oracle check hashes them.
  */
class TwinParitySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private val pairs: Seq[(String, String)] = {
    val oracles = SparkEntry.oracleSql
    oracles.keys.toSeq.sorted.filter(_.startsWith("ohdsi_sql_bq_"))
      .map(bq => bq -> ("ohdsi_sql_" + bq.stripPrefix("ohdsi_sql_bq_")))
      .filter { case (bq, twin) => oracles.get(twin).contains(oracles(bq)) }
  }

  /** Sorted column names and the sorted rows over them. */
  private def rows(name: String): (Seq[String], Seq[String]) = {
    val df = SparkEntry.queries(name)(spark, sf)
    val cols = df.columns.toSeq.sorted
    (cols, df.select(cols.map(df.col): _*).collect().toSeq
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted)
  }

  test("the twin pairs come from the oracle map") {
    assert(pairs.size >= 26, pairs.mkString(", "))
  }

  pairs.foreach { case (bq, twin) =>
    test(s"$bq returns the rows of $twin") {
      val (bqCols, bqRows) = rows(bq)
      val (cols, expected) = rows(twin)
      assert(bqCols === cols)
      assert(bqRows.nonEmpty)
      assert(bqRows === expected)
    }
  }
}
