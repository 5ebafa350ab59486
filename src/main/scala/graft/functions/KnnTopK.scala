package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/**
 * The k smallest `(dist2, neighborId)` pairs of a group, in the order of
 * `ORDER BY dist2 ASC NULLS FIRST, neighborId ASC` (doubles compared with
 * Spark's own `SQLOrderingUtil.compareDoubles`, so NaN sorts last), as
 * `array<struct<neighbor_id: bigint, dist2: double>>` of length min(n, k).
 * Rows whose neighbor id is null are ignored.
 *
 * The buffer is fixed-width and mutable — `n: long`, then k
 * `(dist2: double, id: long)` slots kept sorted by insertion — so Spark
 * plans it as a partial `HashAggregate` before the exchange and a final one
 * after it: at most one k-slot row per (map task, group) is shuffled, with no
 * sort and no window. (A `TypedImperativeAggregate` would be planned as
 * `ObjectHashAggregate`, which falls back to sorting after 128 keys per
 * task.) The buffer width grows with k, so this suits the small k of a kNN
 * join; `n >= k` means every slot is filled.
 */
case class KnnTopK(
    dist2: Expression,
    neighborId: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ImperativeAggregate with BinaryLike[Expression] with ImplicitCastInputTypes {
  require(k >= 1, s"KnnTopK needs k >= 1, got $k")

  override def left: Expression = dist2
  override def right: Expression = neighborId
  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(DoubleType, LongType)
  override def prettyName: String = "knn_top_k"
  override def nullable: Boolean = false
  override def dataType: DataType = KnnTopK.resultType

  override val aggBufferAttributes: Seq[AttributeReference] =
    AttributeReference("n", LongType, nullable = false)() +:
      (0 until k).flatMap(i => Seq(
        AttributeReference(s"dist2_$i", DoubleType)(),
        AttributeReference(s"id_$i", LongType)()))
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())
  override def aggBufferSchema: StructType =
    StructType(aggBufferAttributes.map(a => StructField(a.name, a.dataType, a.nullable)))

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KnnTopK =
    copy(dist2 = l, neighborId = r)

  override def initialize(buf: InternalRow): Unit = {
    buf.setLong(mutableAggBufferOffset, 0L)
    var i = 1
    while (i <= 2 * k) { buf.setNullAt(mutableAggBufferOffset + i); i += 1 }
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val id = neighborId.eval(input)
    if (id == null) return
    val d = dist2.eval(input)
    val o = mutableAggBufferOffset
    val n = buf.getLong(o)
    insert(buf, math.min(n, k.toLong).toInt, d == null,
      if (d == null) 0.0 else d.asInstanceOf[Double], id.asInstanceOf[Long])
    buf.setLong(o, n + 1)
  }

  override def merge(buf: InternalRow, in: InternalRow): Unit = {
    val o = mutableAggBufferOffset
    val io = inputAggBufferOffset
    val n = buf.getLong(o)
    val nIn = in.getLong(io)
    var m = math.min(n, k.toLong).toInt
    val mIn = math.min(nIn, k.toLong).toInt
    var i = 0
    // the input's slots are sorted: once one is rejected, so are the rest
    var accepted = true
    while (accepted && i < mIn) {
      val p = io + 1 + 2 * i
      accepted = insert(buf, m, in.isNullAt(p), if (in.isNullAt(p)) 0.0 else in.getDouble(p), in.getLong(p + 1))
      if (m < k) m += 1
      i += 1
    }
    buf.setLong(o, n + nIn)
  }

  override def eval(buf: InternalRow): Any = {
    val o = mutableAggBufferOffset
    val m = math.min(buf.getLong(o), k.toLong).toInt
    new GenericArrayData(Array.tabulate[Any](m) { i =>
      val p = o + 1 + 2 * i
      InternalRow(buf.getLong(p + 1), if (buf.isNullAt(p)) null else buf.getDouble(p))
    })
  }

  /** Insert (d, id) into the m filled slots; when all k are filled, the
   * largest is dropped, or the new pair if it is not smaller (then false). */
  private def insert(buf: InternalRow, m: Int, dNull: Boolean, d: Double, id: Long): Boolean = {
    val base = mutableAggBufferOffset + 1
    var j = if (m < k) m else k - 1
    if (m == k && !less(dNull, d, id, buf, base + 2 * j)) return false
    while (j > 0 && less(dNull, d, id, buf, base + 2 * (j - 1))) {
      val p = base + 2 * (j - 1)
      if (buf.isNullAt(p)) buf.setNullAt(p + 2) else buf.setDouble(p + 2, buf.getDouble(p))
      buf.setLong(p + 3, buf.getLong(p + 1))
      j -= 1
    }
    val p = base + 2 * j
    if (dNull) buf.setNullAt(p) else buf.setDouble(p, d)
    buf.setLong(p + 1, id)
    true
  }

  /** (dNull, d, id) strictly before the pair in slot p of buf. */
  private def less(dNull: Boolean, d: Double, id: Long, buf: InternalRow, p: Int): Boolean = {
    val sNull = buf.isNullAt(p)
    val c =
      if (dNull) { if (sNull) 0 else -1 }
      else if (sNull) 1
      else SQLOrderingUtil.compareDoubles(d, buf.getDouble(p))
    c < 0 || (c == 0 && id < buf.getLong(p + 1))
  }
}

object KnnTopK {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("dist2", DoubleType))), containsNull = false)

  /** `knn_top_k(dist2, neighborId, k)` as an aggregate column. */
  def agg(dist2: Column, neighborId: Column, k: Int): Column =
    GraftBridge.column(KnnTopK(GraftBridge.expr(dist2), GraftBridge.expr(neighborId), k)
      .toAggregateExpression())
}
