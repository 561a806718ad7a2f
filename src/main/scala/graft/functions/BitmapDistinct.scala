package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Exact distinct-count aggregate over a RoaringBitmap buffer.
  *
  * The scale path for B10/B11: `count(DISTINCT k)` plans an extra shuffle
  * of every distinct key (Expand + re-aggregate); HLL is one pass but
  * approximate. A compressed bitmap is the middle road for integer keys —
  * one pass, exact, and partial buffers merge as tiny compressed runs
  * instead of key sets. Classic warehouse technique (Druid/ClickHouse/
  * Kylin all ship one); built here on the RoaringBitmap library Spark
  * already depends on.
  */
case class BitmapDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Roaring64Bitmap] {

  override def createAggregationBuffer(): Roaring64Bitmap = new Roaring64Bitmap()

  override def update(b: Roaring64Bitmap, input: InternalRow): Roaring64Bitmap = {
    val v = child.eval(input)
    if (v != null) b.addLong(v.asInstanceOf[Number].longValue())
    b
  }

  override def merge(b: Roaring64Bitmap, other: Roaring64Bitmap): Roaring64Bitmap = {
    b.or(other); b
  }

  override def eval(b: Roaring64Bitmap): Any = b.getLongCardinality

  override def serialize(b: Roaring64Bitmap): Array[Byte] = {
    b.runOptimize()
    val bos = new ByteArrayOutputStream()
    b.serialize(new DataOutputStream(bos))
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    bm.deserialize(new DataInputStream(new ByteArrayInputStream(bytes)))
    bm
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BitmapDistinct =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(offset: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapDistinct =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "bitmap_distinct"
}

object BitmapDistinct {
  def column(c: Column): Column =
    GraftBridge.column(BitmapDistinct(GraftBridge.expression(c)).toAggregateExpression())
}

/** Same Roaring aggregation, but the OUTPUT is the serialized bitmap —
  * the build half of the incremental-dedup prefilter (D27): aggregate the
  * existing corpus's key set once, ship the compressed bytes as a plan
  * constant, and membership-test new rows map-side.
  */
case class BitmapBuild(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Roaring64Bitmap] {

  override def createAggregationBuffer(): Roaring64Bitmap = new Roaring64Bitmap()

  override def update(b: Roaring64Bitmap, input: InternalRow): Roaring64Bitmap = {
    val v = child.eval(input)
    if (v != null) b.addLong(v.asInstanceOf[Number].longValue())
    b
  }

  override def merge(b: Roaring64Bitmap, other: Roaring64Bitmap): Roaring64Bitmap = {
    b.or(other); b
  }

  override def eval(b: Roaring64Bitmap): Any = serialize(b)

  override def serialize(b: Roaring64Bitmap): Array[Byte] = {
    b.runOptimize()
    val bos = new ByteArrayOutputStream()
    b.serialize(new DataOutputStream(bos))
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    bm.deserialize(new DataInputStream(new ByteArrayInputStream(bytes)))
    bm
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BitmapBuild =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(offset: Int): BitmapBuild =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapBuild =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "bitmap_build"
}

object BitmapBuild {
  def column(c: Column): Column =
    GraftBridge.column(BitmapBuild(GraftBridge.expression(c)).toAggregateExpression())
}

/** Serializable carrier that deserializes the bitmap ONCE per JVM use
  * site (transient lazy), not per row — the codegen'd contains() calls
  * land on the deserialized structure.
  */
class BitmapHolder(val bytes: Array[Byte]) extends Serializable {
  @transient private lazy val bm: Roaring64Bitmap = {
    val m = new Roaring64Bitmap()
    m.deserialize(new DataInputStream(new ByteArrayInputStream(bytes)))
    m
  }
  def contains(v: Long): Boolean = bm.contains(v)
}

/** `bitmap_contains(<serialized-bitmap literal>, key)` — membership test
  * against a driver-built bitmap shipped as a plan constant (the probe
  * half of the D27 prefilter). The bitmap literal must be foldable; it is
  * evaluated once into a [[BitmapHolder]] and referenced from generated
  * code, so per-row cost is one Roaring lookup inside codegen.
  */
case class BitmapContains(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  // the bitmap side is evaluated ONCE against the empty row — anything
  // non-foldable (or non-binary, or a null literal) must be an analysis
  // error here, not an NPE inside BitmapHolder at execution time
  override def checkInputDataTypes()
    : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"bitmap_contains bitmap argument must be BINARY, got ${left.dataType}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bitmap_contains bitmap argument must be a foldable (plan-constant) serialized bitmap")
    else if (left.eval(InternalRow.empty) == null)
      TypeCheckResult.TypeCheckFailure(
        "bitmap_contains bitmap argument must not be a null literal")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bitmap_contains key argument must be BIGINT, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val holder =
    new BitmapHolder(left.eval(InternalRow.empty).asInstanceOf[Array[Byte]])

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = right.nullable

  override def eval(input: InternalRow): Any = {
    val k = right.eval(input)
    if (k == null) null else holder.contains(k.asInstanceOf[Number].longValue())
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("graftBmHolder", holder, classOf[BitmapHolder].getName)
    val childGen = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        boolean ${ev.value} = false;
        if (!${ev.isNull}) { ${ev.value} = $ref.contains((long)${childGen.value}); }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapContains =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bitmap_contains"
}
