package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items sketch over a string column: O(k) memory
  * per partition, one pass, mergeable (Agarwal et al., "Mergeable
  * Summaries" — summing two sketches then removing the (k+1)-th largest
  * count preserves the error bound). Guarantee: every item with true
  * frequency > N/(k+1) is in the final candidate set REGARDLESS of row
  * or partition order.
  *
  * This is the sketch half of the two-pass heavy-hitter pattern: at
  * 100 TB a full `groupBy(token)` shuffles the whole vocabulary to find
  * the handful of tokens above a share threshold; the sketch pass ships
  * k strings per partition instead, and a second pass exact-counts ONLY
  * the candidates. Because candidates are a superset of the true heavy
  * hitters, the exact-recount-then-threshold output is deterministic —
  * sketch nondeterminism (which sub-threshold items survive) is filtered
  * out, so the composed operator is full-SQL-oracle-checkable.
  *
  * eval() returns the candidate strings sorted lexicographically.
  */
case class FrequentItemsSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]] {

  override def createAggregationBuffer(): java.util.HashMap[String, java.lang.Long] =
    new java.util.HashMap[String, java.lang.Long]()

  override def update(
      b: java.util.HashMap[String, java.lang.Long], input: InternalRow): java.util.HashMap[String, java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.toString
      val cur = b.get(key)
      if (cur != null || b.size < k) b.put(key, if (cur == null) 1L else cur + 1L)
      else { // decrement-all: the classic MG step, amortized O(1) per row
        val it = b.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    b
  }

  override def merge(
      b: java.util.HashMap[String, java.lang.Long],
      other: java.util.HashMap[String, java.lang.Long]): java.util.HashMap[String, java.lang.Long] = {
    other.forEach { (key, v) =>
      val cur = b.get(key)
      b.put(key, if (cur == null) v else cur + v)
    }
    if (b.size > k) {
      // subtract the (k+1)-th largest count from everything, keep positives
      val counts = new Array[Long](b.size)
      var i = 0
      b.forEach((_, v) => { counts(i) = v; i += 1 })
      java.util.Arrays.sort(counts)
      val cut = counts(b.size - k - 1)
      val it = b.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= cut) it.remove() else e.setValue(e.getValue - cut)
      }
    }
    b
  }

  override def eval(b: java.util.HashMap[String, java.lang.Long]): Any = {
    val keys = new Array[String](b.size)
    var i = 0
    b.forEach((key, _) => { keys(i) = key; i += 1 })
    java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
    new GenericArrayData(keys.map(UTF8String.fromString(_)))
  }

  override def serialize(b: java.util.HashMap[String, java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    b.forEach((key, v) => { out.writeUTF(key); out.writeLong(v) })
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = new java.util.HashMap[String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) { m.put(in.readUTF(), in.readLong()); i += 1 }
    m
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FrequentItemsSketch =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(offset: Int): FrequentItemsSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FrequentItemsSketch =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "freq_items_sketch"
}

object FrequentItemsSketch {
  def column(c: Column, k: Int): Column =
    GraftBridge.column(FrequentItemsSketch(GraftBridge.expression(c), k).toAggregateExpression())
}
