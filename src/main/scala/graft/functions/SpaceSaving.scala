package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving top-k summary with PER-ITEM eviction certificates
  * (Metwally, Agrawal & El Abbadi, "Efficient computation of frequent
  * and top-k elements in data streams", ICDT 2005), carried in the
  * provably MERGEABLE form of Agarwal et al. ("Mergeable summaries",
  * PODS 2012): a SpaceSaving counter (cnt, err) is isomorphic to a
  * Misra-Gries counter g = cnt − err plus the item's insertion-time
  * deficit err, so the state here is K MG counters `g`, a per-item
  * `err`, and ONE summary-level deficit scalar Δ (the total count mass
  * ever struck by decrements/merge reductions). `space_saving(col)` →
  * struct<delta, items array<struct<item, lb, ub>>> with lb = g and
  * ub = g + err — per-item brackets, unlike [[MisraGries]]'s single
  * global slack.
  *
  * Invariants, each holding under ANY arrival order and ANY merge
  * tree (induction over the merge rule below):
  *
  *   lb(x) ≤ true(x) ≤ ub(x)          (per-item certificate)
  *   ub(x) − lb(x) = err(x) ≤ Δ       (per-item beats the global slack)
  *   x absent  ⇒  true(x) ≤ Δ         (explicit coverage certificate)
  *   Δ ≤ n/(K+1)                      (the PODS-2012 merge theorem)
  *
  * so every item above n/(K+1) frequency is guaranteed present AND
  * carries its own error interval — the certificate the plain MG
  * summary cannot issue per item. An item whose lb exceeds every other
  * item's ub is a PROVEN top element, no second pass needed.
  *
  * Mechanics: update is MG's (monitored → g+1; room → insert with
  * err = current Δ, the SpaceSaving "charge the victim's count" step
  * under the isomorphism; full → decrement all, Δ += 1). Merge adds
  * counters pairwise — an item absent from one side picks up that
  * side's Δ in its err (its true count there is ≤ Δ) — then subtracts
  * the (K+1)-th largest g from every g AND every err, dropping g ≤ 0,
  * with Δ′ = Δ₁ + Δ₂ + δ. Map-side partial aggregation collapses each
  * task to K counters before the shuffle. Like MG/KLL, the retained
  * SET depends on arrival order; only the invariants are
  * order-invariant, so gates pin the verdicts, not the counters.
  * Nulls are ignored.
  */
case class SpaceSaving(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[SpaceSaving.Buffer]
    with UnaryLike[Expression] {

  import SpaceSaving._

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument (cast explicitly), got " +
        child.dataType.simpleString)

  override def dataType: DataType = ResultType

  override def nullable: Boolean = false

  override def prettyName: String = Name

  override def createAggregationBuffer(): Buffer = new Buffer()

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    buffer.mergeWith(other)
    buffer
  }

  override def eval(buffer: Buffer): Any = buffer.toRow

  override def serialize(buffer: Buffer): Array[Byte] = buffer.toBytes

  override def deserialize(bytes: Array[Byte]): Buffer = Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSaving =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSaving =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): SpaceSaving =
    copy(child = newChild)
}

object SpaceSaving {
  val Name = "space_saving"

  /** ss_merge(struct<delta, items>) → the same struct: rollup
    * aggregate over STORED summaries — the lake leg, same merge rule
    * as the shuffle's, so the invariants survive arbitrary rollup
    * trees (the mg_merge/kll_merge_state pattern).
    */
  val MergeName = "ss_merge"

  /** Counter budget, matching [[MisraGries.K]]: coverage guaranteed
    * above n/(K+1) frequency from 64 counters at any corpus size.
    */
  val K = 64

  val ItemsType: ArrayType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false),
  )), containsNull = false)

  val ResultType: StructType = StructType(Seq(
    StructField("delta", LongType, nullable = false),
    StructField("items", ItemsType, nullable = false),
  ))

  /** K counters of (g = guaranteed lower bound, err = per-item slack)
    * plus the summary deficit Δ.
    */
  final class Buffer {
    val g = new java.util.HashMap[String, Long](K * 2)
    val err = new java.util.HashMap[String, Long](K * 2)
    var delta: Long = 0L

    def add(key: String): Unit = {
      val cur: Long = g.getOrDefault(key, 0L)
      if (cur > 0L) g.put(key, cur + 1L)
      else if (g.size < K) { g.put(key, 1L); err.put(key, delta) }
      else { decrementAll(1L); delta += 1L }
    }

    /** Strike `by` from every g; SURVIVORS absorb it into err (the
      * SpaceSaving isomorphism: the never-decreasing SS counter is
      * g + err, so the per-item upper bound rides through decrements),
      * dropped items vanish — their true count ≤ g + err ≤ by + Δ,
      * covered by the caller's Δ += by.
      */
    private def decrementAll(by: Long): Unit = {
      val it = g.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - by
        if (nv <= 0L) { it.remove(); err.remove(e.getKey); () }
        else { e.setValue(nv); err.put(e.getKey, err.get(e.getKey) + by) }
      }
    }

    def mergeWith(other: Buffer): Unit = {
      // absent-side charge: an item only in one summary has true count
      // ≤ the other side's Δ there, so its err picks that Δ up
      val oit = other.g.entrySet().iterator()
      while (oit.hasNext) {
        val e = oit.next()
        val key = e.getKey
        val mine: Long = g.getOrDefault(key, 0L)
        if (mine > 0L) {
          g.put(key, mine + e.getValue)
          err.put(key, err.get(key) + other.err.get(key))
        } else {
          g.put(key, e.getValue)
          err.put(key, other.err.get(key) + delta)
        }
      }
      val git = g.entrySet().iterator()
      while (git.hasNext) {
        val e = git.next()
        // present only here: charge the other side's Δ (its true count
        // in the other stream is ≤ Δ_other; zero when other is empty)
        if (!other.g.containsKey(e.getKey)) {
          err.put(e.getKey, err.get(e.getKey) + other.delta)
        }
      }
      delta += other.delta
      reduce()
    }

    /** The PODS-2012 reduction: subtract the (K+1)-th largest g from
      * every g AND every err (the subtracted mass moves into Δ, so the
      * per-item upper bound g + err is unchanged for survivors), drop
      * g ≤ 0.
      */
    private def reduce(): Unit = if (g.size > K) {
      val counts = new Array[Long](g.size)
      var i = 0
      val vit = g.values().iterator()
      while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(counts)
      val d = counts(g.size - K - 1)
      decrementAll(d)
      delta += d
    }

    def toRow: GenericInternalRow = {
      val entries = new Array[(String, Long, Long)](g.size)
      var i = 0
      val it = g.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        entries(i) = (e.getKey, e.getValue, e.getValue + err.get(e.getKey))
        i += 1
      }
      val arr = new GenericArrayData(entries.sortBy(_._1).map { case (k, lb, ub) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(k), lb, ub))
      })
      new GenericInternalRow(Array[Any](delta, arr))
    }

    def toBytes: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeLong(delta)
      out.writeInt(g.size)
      val it = g.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val b = e.getKey.getBytes("UTF-8")
        out.writeInt(b.length); out.write(b)
        out.writeLong(e.getValue); out.writeLong(err.get(e.getKey))
      }
      out.flush()
      bos.toByteArray
    }
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte]): Buffer = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val b = new Buffer()
      b.delta = in.readLong()
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val kb = new Array[Byte](len); in.readFully(kb)
        val key = new String(kb, "UTF-8")
        b.g.put(key, in.readLong())
        b.err.put(key, in.readLong())
        i += 1
      }
      b
    }

    /** Rebuild a buffer from the EVALUATED struct form (what a lake
      * stores): lossless, since lb = g and ub − lb = err.
      */
    def fromRow(delta: Long, items: Seq[(String, Long, Long)]): Buffer = {
      val b = new Buffer()
      b.delta = delta
      items.foreach { case (k, lb, ub) =>
        require(lb > 0 && ub >= lb && ub - lb <= delta,
          s"$MergeName: item '$k' (lb=$lb, ub=$ub, delta=$delta) is not a " +
            "space_saving summary entry")
        b.g.put(k, lb)
        b.err.put(k, ub - lb)
      }
      b
    }
  }
}

/** `ss_merge(struct<delta, items>) → struct<delta, items>` — see
  * [[SpaceSaving.MergeName]]. Nulls ignored; a malformed stored
  * summary fails loudly in the entry validation.
  */
case class SsMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[SpaceSaving.Buffer]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StructType(fields)
          if fields.length == 2 && fields(0).dataType == LongType &&
            (fields(1).dataType match {
              case ArrayType(StructType(fs), _) =>
                fs.length == 3 && fs(0).dataType == StringType &&
                  fs(1).dataType == LongType && fs(2).dataType == LongType
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires struct<delta bigint, items array<struct<" +
          s"item string, lb bigint, ub bigint>>> (a stored ${SpaceSaving.Name} " +
          s"summary), got ${other.simpleString}")
    }

  override def dataType: DataType = SpaceSaving.ResultType
  override def nullable: Boolean = false
  override def prettyName: String = SpaceSaving.MergeName

  override def createAggregationBuffer(): SpaceSaving.Buffer =
    new SpaceSaving.Buffer()

  override def update(
      buffer: SpaceSaving.Buffer,
      input: InternalRow): SpaceSaving.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      val delta = row.getLong(0)
      val arr = row.getArray(1)
      val items = (0 until arr.numElements()).map { i =>
        val s = arr.getStruct(i, 3)
        (s.getUTF8String(0).toString, s.getLong(1), s.getLong(2))
      }
      buffer.mergeWith(SpaceSaving.Buffer.fromRow(delta, items))
    }
    buffer
  }

  override def merge(
      buffer: SpaceSaving.Buffer,
      other: SpaceSaving.Buffer): SpaceSaving.Buffer = {
    buffer.mergeWith(other)
    buffer
  }

  override def eval(buffer: SpaceSaving.Buffer): Any = buffer.toRow

  override def serialize(buffer: SpaceSaving.Buffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): SpaceSaving.Buffer =
    SpaceSaving.Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SsMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SsMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SsMerge =
    copy(child = newChild)
}
