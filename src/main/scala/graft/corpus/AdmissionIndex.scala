package graft.corpus

import graft.io.{Jobs, Zones}
import graft.ops.{ClassifyOps, DedupOps, RepetitionOps, SketchOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The segmented admission index: a base (the corpus docs, its md5 set,
  * its band index and its Bloom state) plus append-only delta segments
  * stored in the work zone of `zones` — the shape a 100 TB corpus index
  * grows by, the base never rewritten.
  *
  *  - [[append]] writes each admitted batch as a segment of the same four
  *    structures, its Bloom state built at the base's word count so the
  *    states stay `bit_or`-mergeable;
  *  - [[probe]] runs the admission gauntlet against base ∪ segments
  *    behind their merged Bloom shield;
  *  - [[fold]] compacts segments (union; Bloom states by `bit_or`) with one
  *    atomic replace per structure and retires them only after every
  *    write has landed.
  */
final class AdmissionIndex(s: SparkSession, zones: Zones,
    val base: AdmissionIndex.Part, words: Int) {
  import AdmissionIndex._

  private def write(df: DataFrame, table: String): Unit = zones.write(df, "work", table)
  private def read(table: String): DataFrame = zones.read(s, "work", table)

  /** The same index over another base (a compacted one). */
  def rebased(part: Part): AdmissionIndex = new AdmissionIndex(s, zones, part, words)

  /** Write one segment per `(segment, admits, admits' bands)`; every write
    * is a concurrent job, and a segment's Bloom state chains after the md5
    * write it reads. Bands come precomputed so a caller can band several
    * segments' admits in one pass.
    */
  def append(segments: Seq[(Segment, DataFrame, DataFrame)]): Unit =
    Jobs.concurrently(segments.flatMap { case (seg, admits, bands) =>
      Seq(
        () => {
          write(admits.select(md5(col("text")).as("__h")).distinct(), seg.md5)
          write(SketchOps.bloomBits(read(seg.md5), col("__h"), words = words), seg.bloom)
        },
        () => write(bands, seg.band)) ++
        seg.docs.map(tb => () => write(admits, tb))
    })

  /** A stored segment read back; `docs` stands in for a segment that
    * keeps its docs in the caller's frame.
    */
  def read(seg: Segment, docs: Option[DataFrame] = None): Part =
    Part(docs.getOrElse(read(seg.docs.get)), read(seg.md5), read(seg.band), read(seg.bloom))

  /** The [[Segment.delta]] segments in the zone, by id. */
  def stored: Seq[Segment] =
    zones.listTables(s, "work").filter(_.startsWith(DeltaMd5)).sorted
      .map(tb => Segment.delta(tb.stripPrefix(DeltaMd5)))

  /** Verdicts for `batch` against base ∪ `segments`, shielded by their
    * Bloom states resolved under `reuseKey`: a stable key makes each
    * resolution replace the previous one (a stream holds one filter
    * array, not one per batch).
    */
  def probe(batch: DataFrame, segments: Seq[Part], reuseKey: String): DataFrame = {
    val states = (base +: segments).map(_.bloom)
    probe(batch, segments, SketchOps.bloomServingFilter(s,
      if (states.size == 1) states.head else mergeBloomStates(states), words, "__h",
      reuseKey = Some(reuseKey)))
  }

  /** [[probe]] behind an already-resolved shield. */
  def probe(batch: DataFrame, segments: Seq[Part], shield: Column): DataFrame = {
    val all = base +: segments
    admissionVerdictsAgainst(all.map(_.docs).reduce(_ unionByName _),
      all.map(_.md5).reduce(_ unionByName _), bandsOf(segments), batch, shield)
  }

  /** Fold `parts` into `into`, one atomic replace per structure, written
    * as concurrent jobs beside `alongside` (readers of the same parts);
    * `retire` is dropped after all of them land.
    */
  def fold(parts: Seq[Part], into: Segment, retire: Seq[Segment],
      alongside: Seq[() => Unit] = Nil): Unit = {
    Jobs.concurrently(alongside ++ Seq(
      () => write(parts.map(_.md5).reduce(_ unionByName _), into.md5),
      () => write(parts.map(aligned).reduce(_ unionByName _), into.band),
      () => write(parts.map(_.docs).reduce(_ unionByName _), into.docs.get),
      () => write(mergeBloomStates(parts.map(_.bloom)), into.bloom)))
    retire.foreach(seg =>
      (Seq(seg.md5, seg.band, seg.bloom) ++ seg.docs).foreach(zones.drop(s, "work", _)))
  }

  private def bandsOf(segments: Seq[Part]): DataFrame =
    (base.band +: segments.map(aligned)).reduce(_ unionByName _)

  /** A part's band index in the base's column order. */
  private def aligned(part: Part): DataFrame = part.band.select(base.band.columns.map(col): _*)
}

object AdmissionIndex {
  /** One base or segment: docs (doc_id, text), md5 set (`__h`), band
    * index and Bloom state.
    */
  final case class Part(docs: DataFrame, md5: DataFrame, band: DataFrame, bloom: DataFrame)

  /** The tables one segment is stored as; a segment without `docs` keeps
    * its docs in the caller's frame.
    */
  final case class Segment(md5: String, band: String, bloom: String, docs: Option[String])

  private val DeltaMd5 = "delta_md5_"

  object Segment {
    def delta(id: String): Segment =
      Segment(s"$DeltaMd5$id", s"delta_band_$id", s"delta_bloom_$id", Some(s"delta_docs_$id"))
    val compacted: Segment = Segment("base_md5_compacted", "base_band_compacted",
      "base_bloom_compacted", Some("base_docs_compacted"))
  }

  /** The admission band index rows of `docs`: 8-hash MinHash over word
    * 3-shingles, banded 4 rows per band.
    */
  def bands(docs: DataFrame): DataFrame =
    DedupOps.lshBandsFromSigArray(
      DedupOps.minhashSignatureArray(docs, "doc_id", "text", k = 8, w = 3),
      "doc_id", k = 8, rows = 4)

  /** bit_or-fold of Bloom states built at the SAME word count into one
    * filter (bit_or over the same inserts is associative, so merged
    * segments == the whole filter, bit for bit — the equality
    * `corpus_batch_admit_bloom_sharded` oracle-certifies).
    */
  def mergeBloomStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("word").agg(expr("bit_or(bits)").as("bits"))

  /** The admission gauntlet: every batch doc gets a verdict with its
    * FIRST failing stage (exact > neardup > quality > repetition). The
    * exact-dup semi-join sees only the Bloom-positive band (no false
    * negatives, so verdicts are unchanged); near-dups come from band
    * candidates Jaccard-verified against the corpus docs; the quality
    * label and the Gopher repetition gate are computed on the batch,
    * per-doc stateless.
    */
  private def admissionVerdictsAgainst(corpusDocs: DataFrame, md5Set: DataFrame,
      index: DataFrame, batch: DataFrame, shield: Column): DataFrame = {
    val exactDup = batch.select(col("doc_id"), md5(col("text")).as("__h"))
      .filter(shield)
      .join(md5Set, Seq("__h"), "left_semi")
      .select("doc_id").withColumn("__m1", lit(1))
    val nearDup = DedupOps.incrementalDedup(
        corpusDocs, index, batch, "doc_id", "text", threshold = 0.2)
      .filter(col("dup_of").isNotNull)
      .select("doc_id").withColumn("__m2", lit(1))
    val quality = batch.filter(ClassifyOps.label(col("text")))
      .select("doc_id").withColumn("__m4", lit(1))
    batch.select("doc_id")
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .join(RepetitionOps.gopherGate(batch)
        .select(col("doc_id"), col("kept")), Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("__m1").isNull && col("__m2").isNull &&
          col("__m4").isNotNull && col("kept") === 1L).cast("long").as("admitted"),
        when(col("__m1").isNotNull, "1_exact")
          .when(col("__m2").isNotNull, "2_neardup")
          .when(col("__m4").isNull, "3_quality")
          .when(col("kept") =!= 1L, "4_repetition")
          .as("reject_reason"))
  }
}
