package graft.corpus

import graft.{SparkSpec, Tables}
import graft.io.Zones
import graft.ops.{SketchOps, TextOps}
import graft.queries.LlmQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The segmented admission index at sf0.001: appended segments grow what
  * a probe rejects, and a probe over base ∪ segments gives the verdicts
  * of the same index folded into one base.
  */
class AdmissionIndexSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private lazy val zones = Zones.forPurpose(s"spec_admidx_${Zones.pathKey(sf)}")
  private lazy val index: AdmissionIndex = {
    zones.clear(spark)
    LlmQueries.corpusIndex(spark, sf, zones)
  }

  /** Batch 1's admits (every 20th doc, admitted against the base) that
    * have at least 3 tokens, so they band.
    */
  private lazy val admits: DataFrame = {
    val b1 = Tables.load(spark, sf, "documents").filter(col("doc_id") % 20 === 0)
      .select("doc_id", "text")
    b1.join(index.probe(b1, Nil, "spec_admidx_b1").filter(col("admitted") === 1L)
        .select("doc_id"), "doc_id")
      .filter(size(TextOps.tokens(col("text"))) >= 3)
      .localCheckpoint(true)
  }

  private def copies: DataFrame =
    admits.select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
  private def variants: DataFrame =
    admits.select((col("doc_id") + 10000000L).as("doc_id"), concat(col("text"), lit("  ")).as("text"))

  /** doc_id -> reject_reason ("" when admitted). */
  private def verdicts(v: DataFrame): Map[Long, String] =
    v.collect().map(r => r.getLong(0) -> Option(r.getString(2)).getOrElse("")).toMap

  test("an appended admit's copy is rejected as 1_exact and its variant as 2_neardup") {
    val n = admits.count()
    assert(n > 0, "no batch-1 admit to append")
    val probes = copies.unionByName(variants)
    val before = verdicts(index.probe(probes, Nil, "spec_admidx_before"))
    assert(before.size === 2 * n)
    assert(!before.values.exists(r => r == "1_exact" || r == "2_neardup"),
      s"rejected before the append: $before")
    val seg = AdmissionIndex.Segment.delta("spec")
    index.append(Seq((seg, admits, AdmissionIndex.bands(admits))))
    val after = verdicts(index.probe(probes, Seq(index.read(seg)), "spec_admidx_after"))
    val ids = admits.select("doc_id").collect().map(_.getLong(0))
    assert(ids.map(_ + 20000000L).map(after).toSet === Set("1_exact"))
    assert(ids.map(_ + 10000000L).map(after).toSet === Set("2_neardup"))
  }

  test("probe over base and segments gives the folded index's verdicts, Bloom state included") {
    def slice(df: DataFrame, i: Int) = df.filter(pmod(col("doc_id"), lit(3)) === i)
    val segs = (0 until 3).map(i => AdmissionIndex.Segment.delta(s"f$i"))
    val bands = AdmissionIndex.bands(admits)
    index.append(segs.zipWithIndex.map { case (seg, i) => (seg, slice(admits, i), slice(bands, i)) })
    val parts = segs.map(index.read(_))
    val batch = Tables.load(spark, sf, "documents").filter(col("doc_id") % 20 === 10)
      .select("doc_id", "text").unionByName(copies).unionByName(variants)
    val pre = verdicts(index.probe(batch, parts, "spec_admidx_pre"))
    assert(pre.values.count(_ == "1_exact") >= admits.count())
    index.fold(index.base +: parts, AdmissionIndex.Segment.compacted, retire = segs)
    try {
      assert(!zones.listTables(spark, "work").exists(_.startsWith("delta_md5_f")),
        "segments survived the fold")
      val folded = index.read(AdmissionIndex.Segment.compacted)
      assert(verdicts(index.rebased(folded).probe(batch, Nil, "spec_admidx_post")) === pre)
      // bit_or of the base and segment states is the filter over the
      // folded md5 set, built at the index's word count
      def state(df: DataFrame) = df.select(col("word").cast("long"), col("bits")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val words = LlmQueries.corpusBloom(spark, sf)._2
      assert(state(folded.bloom) === state(SketchOps.bloomBits(folded.md5, col("__h"), words = words)))
    } finally zones.clear(spark)
  }
}
