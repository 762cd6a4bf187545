package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — public algorithm): the
  * tokenizer-TRAINING half of an LLM data pipeline, learned inside the
  * engine. The engine already ships a fixed BPE-ish segmenter
  * (`text_bpe_tokens`); this operator LEARNS the merge table from the
  * corpus itself.
  *
  * Scale design (the part that matters at 100 TB):
  *  - The corpus is scanned EXACTLY ONCE, to build the distinct
  *    word-frequency table (one hash aggregate). Every merge iteration
  *    then runs over that table, whose size is bounded by the VOCABULARY
  *    (sublinear in corpus size — Heaps' law), not by corpus rows. This is
  *    the published algorithm's own trick, and it is what makes N merge
  *    rounds affordable: 10 rounds cost 10 passes over ~|vocab| rows, not
  *    10 corpus scans.
  *  - Per round: pair counts ride the codegen'd `word_shingles` expression
  *    into ONE hash aggregate; the arg-max pair is a bounded collect
  *    (exactly one row per round, tie-broken (count DESC, pair ASC) so
  *    training is deterministic); the merge application is pure relational
  *    windows partitioned by word (no global window, no UDF).
  *  - Each round's word table is MATERIALIZED to the work zone
  *    (run-once-store): lineage stays bounded, nothing stays persisted
  *    after the call returns, and the trained artifacts (`merges`, final
  *    segmented vocabulary) are reusable tables — serving never retrains.
  *
  * Greedy left-to-right merge semantics (exactly the reference
  * implementation's behavior, re-expressed relationally): a marked
  * position is APPLIED iff it is at an ODD offset within its run of
  * consecutive marked positions — "a a a a" under merge (a,a) becomes
  * "aa aa", "a a a" becomes "aa a".
  */
object BpeOps {

  val EndMark = "</w>"

  /** The corpus's word-frequency table with initial character-level
    * segmentation: (w, cnt, sym) where sym = chars joined by spaces plus
    * the end-of-word marker. Tokenization mirrors the engine-wide
    * convention (lowercase, whitespace split).
    */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        // array_remove guards against the empty tail element Spark's
        // regex split can emit; DuckDB's string_split never produces one
        concat(concat_ws(" ", array_remove(split(col("w"), ""), "")),
          lit(" " + EndMark)).as("sym"))

  /** One greedy merge application: every odd-offset occurrence of the
    * adjacent pair in each word's symbol string becomes the merged
    * symbol. Pure window relational algebra, partitioned by word.
    *
    * The pair arrives as a broadcast 1-row frame (`__lhs`, `__rhs`,
    * `__merged`) rather than literals: every training round then compiles
    * to the IDENTICAL generated code and hits the codegen cache — with
    * per-round literals, 10 rounds meant 10 full Janino recompilations of
    * the whole chain (~1.1 s/round on a 31-row vocabulary; the data was
    * never the cost).
    */
  def applyMerge(words: DataFrame, best1: DataFrame): DataFrame = {
    // ONE window spec hosts the whole greedy selection (lead-mark, run
    // start, running-max run anchor, parity, drop-after-kept): one
    // exchange + one sort per round. The first formulation used a second
    // filtered window + a self-join — ~8 trivial stages per round whose
    // SCHEDULING latency (not data) was ~85% of training wall time.
    // Greedy parity without a per-run rank: a marked position belongs to
    // the run anchored at the latest run START at or before it (running
    // max), and is applied iff its offset from that anchor is even —
    // identical to the rank-within-island formulation the oracle replays.
    val wpos = Window.partitionBy("w").orderBy("pos")
    val run = wpos.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    words.crossJoin(broadcast(best1))
      .select(col("w"), col("cnt"), col("__lhs"), col("__rhs"), col("__merged"),
        posexplode(split(col("sym"), " ")).as(Seq("pos", "tok")))
      .withColumn("__m",
        col("tok") === col("__lhs") && lead(col("tok"), 1).over(wpos) === col("__rhs"))
      .withColumn("__s",
        col("__m") && !coalesce(lag(col("__m"), 1).over(wpos), lit(false)))
      .withColumn("__rs", max(when(col("__s"), col("pos"))).over(run))
      .withColumn("__k", col("__m") && (col("pos") - col("__rs")) % 2 === 0)
      .withColumn("__drop", coalesce(lag(col("__k"), 1).over(wpos), lit(false)))
      .filter(!col("__drop"))
      .withColumn("__newtok", when(col("__k"), col("__merged")).otherwise(col("tok")))
      .groupBy("w", "cnt")
      // order-preserving rebuild: sort the (pos, tok) structs, then strip
      // the positions. `transform` runs interpreted, but only over the
      // vocabulary-bounded table — never the corpus
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("__newtok")))),
          x => x.getField("__newtok")), " ").as("sym"))
  }

  /** Train `steps` merges, materializing each round's word table (and the
    * final merge list) into `zones`' work zone. Idempotent: a warm zone
    * short-circuits.
    */
  def train(
      spark: SparkSession,
      zones: graft.io.Zones,
      docs: DataFrame,
      textCol: String,
      steps: Int): Unit = {
    val have = zones.listTables(spark, "work").toSet
    // both artifacts keyed by the step count (ADVICE r8): a zone warmed
    // at a different step count must retrain, not serve a merges table
    // inconsistent with this run's words_N
    if (have(s"merges_$steps") && have(s"words_$steps")) return
    // persist + rebase per round (the DedupOps pointer-jumping pattern):
    // the arg-max collect materializes the round's cache, the rdd rebase
    // keeps lineage bounded, and the finally releases everything — no
    // cached frame survives the call (the stored zone tables are the
    // durable artifacts)
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist()
      pinned += p
      spark.createDataFrame(p.rdd, p.schema)
    }
    try {
      var words = pin(wordFreq(docs, textCol))
      val merges =
        scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
      var i = 0
      var dry = false
      val t0 = System.nanoTime()
      var tPrev = t0
      def lap(tag: String): Unit = if (graft.Timing.enabled) {
        val now = System.nanoTime()
        System.err.println(f"[bpe] $tag: ${(now - tPrev) / 1e9}%.2f s")
        tPrev = now
      }
      while (i < steps && !dry) {
        // the arg-max pair: ONE row collected per round (bounded by
        // construction), deterministic tie-break
        val best = words
          .select(col("cnt"),
            explode(call_function("word_shingles", split(col("sym"), " "), lit(2)))
              .as("pair"))
          .groupBy("pair").agg(sum("cnt").as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(1).collect()
        if (best.isEmpty) dry = true
        else {
          val pair = best(0).getString(0)
          val n = best(0).getLong(1)
          val Array(lhs, rhs) = pair.split(" ", 2)
          merges += ((i.toLong, lhs, rhs, lhs + rhs, n))
          lap(s"round $i argmax")
          import spark.implicits._
          val best1 = Seq((lhs, rhs, lhs + rhs)).toDF("__lhs", "__rhs", "__merged")
          words = pin(applyMerge(words, best1))
          i += 1
        }
      }
      lap("rounds done")
      zones.write(words, "work", s"words_$steps")
      import spark.implicits._
      zones.write(
        merges.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count"),
        "work", s"merges_$steps")
    } finally pinned.foreach(_.unpersist(blocking = false))
  }
}
