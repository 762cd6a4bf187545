package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** `topk_pairs(score, id, k)` (r19): bounded per-group top-k as ONE
  * map-side-combinable aggregate — the serving tier's rerank primitive.
  *
  * Why it exists: every top-k tail in the similarity family ranked with
  * `row_number() OVER (PARTITION BY query ORDER BY sim DESC, id)`, which
  * shuffles and SORTS every candidate row — at serving scale the probed
  * lists' full candidate set (SOAK_r19.md's hot-centroid block measured
  * the rerank window as the salted serve's widest task: ~11 s over
  * 17.5M candidate rows). This aggregate keeps AT MOST `k` (score, id)
  * pairs per group in each map partition, so the exchange carries
  * ≤ k × partitions rows per group and no sort ever sees the full
  * candidate set; the k-bounded state merges associatively.
  *
  * Pick order replays the window's exactly: (score desc, id asc), with
  * Spark SQL's double ordering (`x == y` first — -0.0 ties 0.0 — then
  * `Double.compare`, NaN greatest). Rows with a NULL score or id are
  * ignored — the ONE deliberate divergence from the window (r20, ADVICE):
  * `desc` ranked NULL scores last, so a group with fewer than k non-null
  * candidates PLUS null-score rows got null-score fillers from the window
  * where this aggregate returns only the non-null ones. Accepted because a
  * null similarity names a degenerate vector (null element / length
  * mismatch) for which no rank is meaningful, every registered tail feeds
  * non-null scores by construction (cosine/l2sq of the parquet embedding
  * columns; micro-unit LONG sums), and a filler row would present a NULL
  * `sim` the oracles would then have to replicate. Output is the
  * sorted `array<struct<sim double, item_id bigint>>`; `posexplode`
  * recovers (rank-1, pair).
  */
case class TopKPairs(score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKPairs.Buffer] {

  // r20 (ADVICE + VERDICT #2): the cap is the SERVING regime — registered
  // tails use k in [5, 100], the widest sanctioned caller is a rerank pool
  // (<= the IVF maxList default, 4096). The O(k) array-shift insert and the
  // per-group eager-ish state are sized for that regime; a caller wanting
  // thousands-of-k per group wants a different operator (sort the group),
  // not a silently quadratic buffer.
  require(k > 0 && k <= 4096, s"k must be in [1, 4096] (the serving regime), got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("item_id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "topk_pairs"

  override def createAggregationBuffer(): TopKPairs.Buffer =
    new TopKPairs.Buffer(k)

  override def update(buffer: TopKPairs.Buffer, input: InternalRow): TopKPairs.Buffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKPairs.Buffer, other: TopKPairs.Buffer): TopKPairs.Buffer = {
    var j = 0
    while (j < other.size) { buffer.insert(other.scores(j), other.ids(j)); j += 1 }
    buffer
  }

  override def eval(buffer: TopKPairs.Buffer): Any = {
    val out = new Array[Any](buffer.size)
    var j = 0
    while (j < buffer.size) {
      out(j) = new GenericInternalRow(Array[Any](buffer.scores(j), buffer.ids(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKPairs.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    var j = 0
    while (j < buffer.size) {
      bb.putDouble(buffer.scores(j)); bb.putLong(buffer.ids(j)); j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairs.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKPairs.Buffer(k)
    var j = 0
    while (j < n) { b.insert(bb.getDouble, bb.getLong); j += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKPairs {
  /** Spark SQL's double ordering (see [[NearestCentroid]]). */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** (score desc, id asc): negative when (s1, i1) ranks BEFORE (s2, i2). */
  private def cmp(s1: Double, i1: Long, s2: Double, i2: Long): Int = {
    val c = cmpDouble(s2, s1)
    if (c != 0) c else java.lang.Long.compare(i1, i2)
  }

  /** A k-bounded pair list kept SORTED by (score desc, id asc) —
    * insertion is O(k) array shift on the (rare past warm-up) accepted
    * rows and O(1) rejection against the current worst; k is the
    * operator's literal (5–100 registered, ≤ 4096 sanctioned), so no
    * heap is warranted. Arrays grow LAZILY (r20, ADVICE: under
    * ObjectHashAggregate a many-group aggregation previously allocated
    * 16 B × k per group up front — at the pool-sized k that is real
    * memory before any row arrives); capacity doubles toward k only as
    * rows are actually kept.
    */
  final class Buffer(val k: Int) {
    var size: Int = 0
    var scores: Array[Double] = new Array[Double](math.min(k, 16))
    var ids: Array[Long] = new Array[Long](math.min(k, 16))

    private def ensure(n: Int): Unit = {
      if (n > scores.length) {
        val cap = math.min(k, math.max(n, scores.length * 2))
        scores = java.util.Arrays.copyOf(scores, cap)
        ids = java.util.Arrays.copyOf(ids, cap)
      }
    }

    def insert(s: Double, i: Long): Unit = {
      if (size == k && cmp(s, i, scores(size - 1), ids(size - 1)) >= 0) return
      // binary search for the insertion point in rank order
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(s, i, scores(mid), ids(mid)) < 0) hi = mid else lo = mid + 1
      }
      val insertAt = lo
      val newSize = math.min(size + 1, k)
      ensure(newSize)
      var j = newSize - 1
      while (j > insertAt) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
      if (insertAt < k) { scores(insertAt) = s; ids(insertAt) = i; size = newSize }
    }
  }
}
