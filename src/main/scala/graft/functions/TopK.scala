package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: per group, keep the k (sort_key, payload)
  * pairs with the LARGEST sort_key, ties broken by SMALLEST payload —
  * a total order, so the result is deterministic under any row or
  * partition arrangement and any merge tree.
  *
  * This is the aggregation form of `row_number() OVER (PARTITION BY g
  * ORDER BY key DESC) <= k`. Spark 4's optimizer already rescues that
  * window form from the naive all-rows shuffle — a Partial
  * WindowGroupLimit runs before the exchange (measured in topk_10x:
  * both forms shuffle the SAME ~k·partitions rows per group; the
  * engine's own rewrite is what q_kmv_distinct exploits deliberately).
  * What the window form still pays is the SORT: every map partition
  * fully sorts on (group, key) before its partial limit, and the
  * reduce side sorts again — O(n log n) over the corpus for an output
  * of k rows per group. The bounded-heap aggregate replaces both sorts
  * with a streaming one-pass selection: rows that can't beat the
  * current k-th best (the overwhelming majority once buffers warm up)
  * cost ONE comparison, accepted rows an O(k) insertion — measured
  * 1.7× faster end-to-end on the 10M-row hot-key stress at identical
  * shuffle volume. Exact, not a sketch: top-k under a total order is a
  * mergeable summary with zero error (the global top-k is contained in
  * the union of per-partition top-ks).
  *
  * The buffer is a pair of parallel long arrays kept sorted best-first
  * (insertion step is O(k) amortized per accepted row; rejected rows —
  * the overwhelming majority once the buffer warms up — cost one
  * comparison against the current worst). Intended for small k
  * (top-3..top-100 per entity); a k in the millions wants the window
  * form instead.
  *
  * eval() returns the pairs best-first as an array of structs; callers
  * posexplode to recover the dense rank.
  *
  * Null semantics: rows with a null sort key or payload are SKIPPED
  * (aggregate-standard null handling), while the window form ranks a
  * null key NULLS LAST — the two forms can differ only when a group
  * holds fewer than k non-null rows and also has null-key rows. Feed
  * the aggregate a null-filtered or coalesced key when those tails
  * matter.
  *
  * Spark-side counterpart of the per-group "latest/top N" reports the
  * reference derives per database (most-recent releases per species,
  * Base.pm's per-dataset newest-file selection) — generalized to any
  * (group, order) pair at warehouse scale.
  */
case class TopKAggregate(
    sortKey: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k >= 1 && k <= 4096, s"top-k bound out of range: $k")

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val kv = sortKey.eval(input)
    val pv = payload.eval(input)
    if (kv != null && pv != null) {
      b.offer(kv.asInstanceOf[Long], pv.asInstanceOf[Long])
    }
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { b.offer(other.keys(i), other.vals(i)); i += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val rows = new Array[Any](b.size)
    var i = 0
    while (i < b.size) {
      rows(i) = InternalRow(b.keys(i), b.vals(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    var i = 0
    while (i < b.size) { out.writeLong(b.keys(i)); out.writeLong(b.vals(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new TopKBuffer(k)
    var i = 0
    while (i < n) { b.offer(in.readLong(), in.readLong()); i += 1 }
    b
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("sort_key", LongType, nullable = false),
      StructField("payload", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(sortKey, payload)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKAggregate =
    copy(sortKey = c(0), payload = c(1))
  override def withNewMutableAggBufferOffset(offset: Int): TopKAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKAggregate =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "topk_pairs"
}

object TopKAggregate {
  def column(sortKey: Column, payload: Column, k: Int): Column =
    GraftBridge.column(TopKAggregate(GraftBridge.expression(sortKey),
      GraftBridge.expression(payload), k).toAggregateExpression())
}

/** Parallel-array buffer sorted best-first: (key DESC, payload ASC). */
final class TopKBuffer(k: Int) {
  val keys = new Array[Long](k)
  val vals = new Array[Long](k)
  var size: Int = 0

  /** true iff (k1,p1) ranks strictly better than (k2,p2). */
  @inline private def better(k1: Long, p1: Long, k2: Long, p2: Long): Boolean =
    k1 > k2 || (k1 == k2 && p1 < p2)

  def offer(key: Long, value: Long): Unit = {
    if (size == k && !better(key, value, keys(size - 1), vals(size - 1))) return
    // find insertion point from the tail (new entries usually rank low)
    var i = if (size == k) size - 1 else size
    while (i > 0 && better(key, value, keys(i - 1), vals(i - 1))) {
      keys(i) = keys(i - 1); vals(i) = vals(i - 1); i -= 1
    }
    keys(i) = key
    vals(i) = value
    if (size < k) size += 1
  }
}
