package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary (Misra & Gries, "Finding repeated
  * elements", 1982; mergeability per Agarwal et al., "Mergeable
  * summaries", PODS 2012) as a native Catalyst aggregate:
  * `misra_gries(string_col)` → array<struct<item, cnt>>.
  *
  * The DETERMINISTIC-GUARANTEE member of the frequency family, next to
  * the count-min sketch (which over-estimates probabilistically and
  * needs a second pass to enumerate candidates): K counters, no hash,
  * no RNG, and two worst-case invariants that hold under ANY arrival
  * order and ANY merge tree —
  *
  *   cnt(x) ≤ true(x) ≤ cnt(x) + n/(K+1)       (counts only decrement)
  *   true(x) > n/(K+1)  ⇒  x IS in the summary  (guaranteed coverage)
  *
  * so "give me every item above 1/(K+1) frequency" is answered from
  * O(K) state with zero false negatives. Retained counts (and the
  * below-threshold tail of the retained SET) depend on arrival order —
  * only the invariants are order-invariant, so gates pin the
  * guaranteed-coverage contract, not the raw counters (the KLL
  * discipline).
  *
  * State is K counters regardless of row count; update is a hash-map
  * probe (amortized O(1) — the decrement step strikes at most once per
  * K inserts); merge adds counters then subtracts the (K+1)-largest
  * count and drops non-positives (the Agarwal et al. rule, which keeps
  * both invariants through arbitrary merge trees). Map-side partial
  * aggregation therefore collapses each task to K counters before the
  * shuffle. Nulls are ignored.
  */
case class MisraGries(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[java.util.HashMap[String, Long]]
    with UnaryLike[Expression] {

  import MisraGries._

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument (cast explicitly), got " +
        child.dataType.simpleString)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
  )), containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = Name

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long](K * 2)

  override def update(
      buffer: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      val cur: Long = buffer.getOrDefault(key, 0L)
      if (cur > 0L) buffer.put(key, cur + 1L)
      else if (buffer.size < K) buffer.put(key, 1L)
      else decrementAll(buffer, 1L)
    }
    buffer
  }

  override def merge(
      buffer: java.util.HashMap[String, Long],
      other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur: Long = buffer.getOrDefault(e.getKey, 0L)
      buffer.put(e.getKey, cur + e.getValue)
    }
    MisraGries.reduceToK(buffer)
    buffer
  }

  override def eval(buffer: java.util.HashMap[String, Long]): Any =
    MisraGries.toArrayData(buffer)

  override def serialize(buffer: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buffer.size)
    val it = buffer.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = new java.util.HashMap[String, Long](K * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      m.put(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

object MisraGries {
  val Name = "misra_gries"

  /** Counter budget: coverage guaranteed above n/(K+1) frequency —
    * K = 64 ⇒ every ≥ 1.54 %-frequency item is present, 64 counters
    * of state per group at any corpus size.
    */
  val K = 64

  /** mg_merge(array<struct<item,cnt>>) → array<struct<item,cnt>>:
    * rollup aggregate over STORED summaries — the mergeable-summaries
    * theorem in operator form (add counters, subtract the (K+1)-th
    * largest, drop non-positives), so a lake of per-partition
    * summaries answers whole-corpus heavy-hitter questions with the
    * SAME n/(K+1) guarantees as a direct pass.
    */
  val MergeName = "mg_merge"

  private def decrementAll(m: java.util.HashMap[String, Long], by: Long): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - by
      if (nv <= 0L) it.remove() else e.setValue(nv)
    }
  }

  /** The mergeable-summaries reduction back to K counters: subtract
    * the (K+1)-th largest count from everything, drop ≤ 0.
    */
  private[functions] def reduceToK(m: java.util.HashMap[String, Long]): Unit =
    if (m.size > K) {
      val counts = new Array[Long](m.size)
      var i = 0
      val vit = m.values().iterator()
      while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(counts)
      decrementAll(m, counts(m.size - K - 1))
    }

  private[functions] def toArrayData(
      m: java.util.HashMap[String, Long]): GenericArrayData = {
    val entries = new Array[(String, Long)](m.size)
    var i = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1
    }
    new GenericArrayData(entries.sortBy(_._1).map { case (k, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(k), c))
    })
  }

  private[functions] val SummaryType: ArrayType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
  )), containsNull = false)
}

/** `mg_merge(array<struct<item,cnt>>) → array<struct<item,cnt>>` — see
  * [[MisraGries.MergeName]]. Nulls ignored.
  */
case class MgMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[java.util.HashMap[String, Long]]
    with UnaryLike[Expression] {

  import MisraGries.K

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(fields), _)
          if fields.length == 2 && fields(0).dataType == StringType &&
            fields(1).dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct<item string, cnt bigint>> " +
          s"(a stored misra_gries summary), got ${other.simpleString}")
    }

  override def dataType: DataType = MisraGries.SummaryType
  override def nullable: Boolean = false
  override def prettyName: String = MisraGries.MergeName

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long](K * 2)

  override def update(
      buffer: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        val row = arr.getStruct(i, 2)
        val key = row.getUTF8String(0).toString
        val cnt = row.getLong(1)
        require(cnt > 0,
          s"${MisraGries.MergeName}: non-positive count $cnt for '$key' — " +
            "input is not a misra_gries summary")
        val cur: Long = buffer.getOrDefault(key, 0L)
        buffer.put(key, cur + cnt)
        i += 1
      }
      MisraGries.reduceToK(buffer)
    }
    buffer
  }

  override def merge(
      buffer: java.util.HashMap[String, Long],
      other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur: Long = buffer.getOrDefault(e.getKey, 0L)
      buffer.put(e.getKey, cur + e.getValue)
    }
    MisraGries.reduceToK(buffer)
    buffer
  }

  override def eval(buffer: java.util.HashMap[String, Long]): Any =
    MisraGries.toArrayData(buffer)

  override def serialize(buffer: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buffer.size)
    val it = buffer.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = new java.util.HashMap[String, Long](K * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      m.put(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MgMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MgMerge =
    copy(child = newChild)
}
