package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bottomk_hash(string_col, k)` → sorted `array<bigint>` of the k
  * smallest DISTINCT fnv63 hashes seen — the KMV (k-minimum-values)
  * sketch as a native mergeable aggregate.
  *
  * Where the batch bottom-k sample (q_sample_bottomk) leans on
  * TakeOrderedAndProject, this form makes the same sample available
  * ANYWHERE an aggregate fits: per GROUP, and — the point — in a
  * complete-mode STREAMING aggregation, where a running uniform
  * sample / distinct estimate accumulates over an unbounded stream in
  * O(k) state per key.
  *
  * Semantics that matter at scale:
  *   - DISTINCT hashes: a duplicate value re-hashes to an element
  *     already in the set, so the sketch is duplicate-insensitive and
  *     therefore safe under at-least-once redelivery (the streaming
  *     gate doubles its source to prove it — same argument as the HLL
  *     gate, and the opposite of CMS's sum cells);
  *   - merge = set-union + trim, associative and commutative, so
  *     map-side partial aggregation collapses each task to ≤ k longs
  *     before the shuffle;
  *   - the k-th smallest (last element) is the KMV distinct-count
  *     estimator's pivot: D ≈ (k−1)·2⁶³/h₍ₖ₎ — left to the caller,
  *     like the HLL linear-counting branch, so no float leaves the
  *     aggregate.
  *
  * The hash is [[Fnv63]], so an external engine reproduces the entire
  * array bit-for-bit (DuckDB: DISTINCT fnv63 ORDER BY h LIMIT k).
  */
case class BottomK(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with BinaryLike[Expression] {

  private lazy val k: Int = right.eval().asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string first argument, got ${left.dataType.simpleString}")
    else if (!right.foldable ||
      !Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable integer k, got ${right.sql}")
    else if (right.eval() == null || right.eval().asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = BottomK.Name

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) { buf.remove(buf.last()); () }
    }
  }

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = left.eval(input)
    if (v != null) add(buf, Fnv63.hash(v.asInstanceOf[UTF8String]))
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomK =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BottomK =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): BottomK = copy(left = newLeft, right = newRight)
}

object BottomK {
  val Name = "bottomk_hash"
}
