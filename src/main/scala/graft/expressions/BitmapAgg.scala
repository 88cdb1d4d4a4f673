package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import scala.collection.mutable.LongMap

/** Exact mergeable bitmap over a Long key column, as a
  * TypedImperativeAggregate. The buffer is a sparse bitset — a map from
  * 64-key word index to a 64-bit word — so per-group memory is
  * min(16 B per touched 64-key block, ~1 bit per present key in dense
  * regions): exactly the distinct-set's information content, never the
  * raw rows. Merge is word-wise OR (commutative, associative AND
  * idempotent — replaying a batch into a stored bitmap is a no-op, the
  * same property that makes HLL register-max replay-safe). Eval emits a
  * canonical blob: word-index-sorted (idx, word) pairs, 16 bytes each,
  * so identical sets always serialize to identical bytes regardless of
  * partitioning or input order.
  *
  * This is the EXACT counterpart to the q54 HLL rollup architecture:
  * persist one bitmap per (day, group), answer any date range by
  * OR-merging stored blobs with [[BitmapOrAgg]] — no raw-data rescan —
  * and, unlike any cardinality sketch, answer INTERSECTIONS exactly
  * ([[BitmapAnd]]: retained users, cross-segment overlap). The cost
  * model is the honest trade: bitmap bytes grow linearly with distinct
  * keys (at 100 TB, per-day user bitmaps of 10^9 keys are ~128 MB
  * worst-case sparse, ~16 MB dense — metadata-scale next to the raw
  * events), where HLL stays at 2 KB but cannot intersect and carries
  * ~2% error. Use bitmaps where exactness or set algebra is required,
  * HLL where a cardinality estimate suffices.
  */
case class BitmapAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BitmapBufferAgg {

  override def update(b: LongMap[Long], input: InternalRow): LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) BitmapOps.set(b, v.asInstanceOf[Long])
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): BitmapAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BitmapAgg =
    copy(child = c.head)
}

/** OR-union of stored bitmap blobs (a BinaryType column of [[BitmapAgg]]
  * outputs) — the rollup re-aggregation: per-day blobs to a per-week or
  * per-range bitmap without touching raw rows.
  */
case class BitmapOrAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BitmapBufferAgg {

  override def update(b: LongMap[Long], input: InternalRow): LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) BitmapOps.orInto(b, v.asInstanceOf[Array[Byte]])
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): BitmapOrAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapOrAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BitmapOrAgg =
    copy(child = c.head)
}

/** The sparse-bitset buffer both bitmap aggregates share: they differ
  * only in how `update` folds one input row into it.
  */
sealed abstract class BitmapBufferAgg extends TypedImperativeAggregate[LongMap[Long]] {

  def child: Expression

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): LongMap[Long] = LongMap.empty[Long]

  override def merge(a: LongMap[Long], b: LongMap[Long]): LongMap[Long] = {
    b.foreachEntry((idx, w) => a(idx) = a.getOrElse(idx, 0L) | w)
    a
  }

  override def eval(b: LongMap[Long]): Any = BitmapOps.toBytes(b)

  override def serialize(b: LongMap[Long]): Array[Byte] = BitmapOps.toBytes(b)

  override def deserialize(bytes: Array[Byte]): LongMap[Long] =
    BitmapOps.fromBytes(bytes)
}

/** Exact cardinality of a bitmap blob (popcount sum). Codegen'd — the
  * generated code calls the same static kernel the interpreter uses, so
  * the expression never breaks a WholeStageCodegen span.
  */
case class BitmapCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bitmap_count needs BINARY, got ${child.dataType}")
  }
  override protected def nullSafeEval(v: Any): Any =
    BitmapOps.count(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.BitmapOps.count($c)")
  override protected def withNewChildInternal(c: Expression): BitmapCount =
    copy(child = c)
}

/** Intersection of two bitmap blobs — the set-algebra operation no
  * cardinality sketch can perform exactly (retention, segment overlap).
  * Merge-join over the two blobs' sorted word runs: O(|a| + |b|).
  */
case class BitmapAnd(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bitmap_and needs (BINARY, BINARY), got " +
          s"(${left.dataType}, ${right.dataType})")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    BitmapOps.and(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.BitmapOps.and($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BitmapAnd = copy(left = l, right = r)
}

/** Kernels shared by the aggregates, the scalar expressions, and their
  * generated code. Blob layout: n 16-byte records of (big-endian word
  * index Long, big-endian word Long), strictly ascending by index —
  * canonical, so blob equality is set equality.
  */
object BitmapOps {

  def set(b: LongMap[Long], v: Long): Unit = {
    val idx = java.lang.Math.floorDiv(v, 64L)
    val bit = java.lang.Math.floorMod(v, 64L).toInt
    b(idx) = b.getOrElse(idx, 0L) | (1L << bit)
  }

  def orInto(b: LongMap[Long], blob: Array[Byte]): Unit = {
    val buf = java.nio.ByteBuffer.wrap(blob)
    while (buf.remaining() >= 16) {
      val idx = buf.getLong()
      val w = buf.getLong()
      b(idx) = b.getOrElse(idx, 0L) | w
    }
  }

  def toBytes(b: LongMap[Long]): Array[Byte] = {
    val idxs = b.keys.toArray
    java.util.Arrays.sort(idxs)
    val out = java.nio.ByteBuffer.allocate(idxs.length * 16)
    idxs.foreach { i => out.putLong(i); out.putLong(b(i)) }
    out.array()
  }

  def fromBytes(blob: Array[Byte]): LongMap[Long] = {
    val b = LongMap.empty[Long]
    orInto(b, blob)
    b
  }

  /** Exact cardinality — static so generated code can call it. */
  def count(blob: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(blob)
    var n = 0L
    while (buf.remaining() >= 16) {
      buf.getLong() // index
      n += java.lang.Long.bitCount(buf.getLong())
    }
    n
  }

  /** Merge-join intersection of two canonical blobs (both sorted by
    * word index); zero words are dropped so the result stays canonical.
    */
  def and(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ba = java.nio.ByteBuffer.wrap(a)
    val bb = java.nio.ByteBuffer.wrap(b)
    val na = a.length / 16
    val nb = b.length / 16
    val out = java.nio.ByteBuffer.allocate(math.min(a.length, b.length))
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val ia = ba.getLong(i * 16)
      val ib = bb.getLong(j * 16)
      if (ia == ib) {
        val w = ba.getLong(i * 16 + 8) & bb.getLong(j * 16 + 8)
        if (w != 0L) { out.putLong(ia); out.putLong(w) }
        i += 1; j += 1
      } else if (ia < ib) i += 1
      else j += 1
    }
    java.util.Arrays.copyOf(out.array(), out.position())
  }
}
