package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Streaming/mergeable quantile sketch over longs — a KLL-shaped
  * compactor hierarchy (Karnin, Lang & Liberty, "Optimal quantile
  * approximation in streams", FOCS 2016) with the DETERMINISTIC
  * alternating compaction of the MRL family (Manku, Rajagopalan &
  * Lindsay, SIGMOD 1998) in place of KLL's random coin: each
  * compaction sorts its level and keeps every second element, the
  * kept parity alternating per level-compaction — so the sketch needs
  * no RNG (retries and re-runs of the same partition stream agree)
  * and carries a WORST-CASE rank-error guarantee rather than a
  * probabilistic one:
  *
  *   each level-l compaction perturbs any rank by ≤ 2^(l−1); level l
  *   sees ≤ n / (K·2^l) compactions; summing the geometric series,
  *     |est_rank − true_rank| ≤ n · ceil(log₂(n/K)) / (2K)
  *   — at K = 1024 that is ≤ 1.0 % of n at 10⁹ rows, ≤ 1.5 % at 10¹².
  *
  * The aggregation-state story matches the other sketches: the buffer
  * is O(K · log(n/K)) longs (~8 KiB/level, ≤ ~40 levels at any
  * conceivable n) REGARDLESS of row count, updates are an array
  * append (amortized one sort per K items), and merges concatenate
  * level-wise then re-compact — map-side partial aggregation
  * collapses each task's rows to one sketch before the shuffle, the
  * property that makes corpus-scale quantiles one pass.
  *
  * Like every sublinear quantile summary, the RETAINED SAMPLE depends
  * on arrival order (compaction boundaries move with partitioning) —
  * only the error BOUND is order-invariant. The gate query therefore
  * pins the bound check (estimate's exact corpus rank within ε·n for
  * every probed quantile), not the sample; the spec drives adversarial
  * orders (sorted, reversed, interleaved merges) against the bound.
  *
  * eval → array<struct<v long, w long>> sorted by value: the weighted
  * sample, small enough to explode and rank in-plan. Nulls ignored.
  */
case class KllSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[KllSketch.Buffer]
    with UnaryLike[Expression] {

  import KllSketch._

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint argument (cast explicitly), got " +
        child.dataType.simpleString)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("w", LongType, nullable = false),
  )), containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = Name

  override def createAggregationBuffer(): Buffer = new Buffer()

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    buffer.mergeWith(other)
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    val pairs = buffer.weightedSample() // sorted by (v, w)
    new GenericArrayData(pairs.map { case (v, w) =>
      new GenericInternalRow(Array[Any](v, w))
    })
  }

  override def serialize(buffer: Buffer): Array[Byte] = buffer.toBytes

  override def deserialize(bytes: Array[Byte]): Buffer = Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketch =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KllSketch =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): KllSketch =
    copy(child = newChild)
}

object KllSketch {
  val Name = "kll_sketch"

  /** Compactor width: each level holds < K items of weight 2^level.
    * ε ≤ log₂(n/K)/(2K): 1.0 % at 10⁹ rows, 1.5 % at 10¹².
    */
  val K = 1024

  /** Wire-format magic for serialized states ("KLL1").
    *
    * MIGRATION NOTE: the 12-byte magic+K header (introduced round 10)
    * deliberately makes pre-header `kll_state` blobs unreadable —
    * `fromBytes` rejects them loudly on the magic check rather than
    * misparsing the first level sizes as data. There is no legacy
    * reader: any lake states persisted by a pre-header build must be
    * REBUILT from the source rows (they are cheap one-pass
    * aggregations). States are also pinned to the build's K.
    */
  val Magic = 0x4B4C4C31

  /** Growable compactor hierarchy. Level l items carry weight 2^l.
    * `parity(l)` alternates which half a compaction keeps — the MRL
    * determinism that replaces KLL's coin.
    */
  final class Buffer {
    var levels: Array[Array[Long]] = Array(new Array[Long](K))
    var sizes: Array[Int] = Array(0)
    var parity: Array[Int] = Array(0)

    private def ensureLevel(l: Int): Unit = if (l >= levels.length) {
      val n = l + 1
      levels = levels.padTo(n, Array.empty[Long])
      sizes = sizes.padTo(n, 0)
      parity = parity.padTo(n, 0)
      // padTo keeps shared empty arrays; give each level its own store
      var i = 0
      while (i < n) {
        if (levels(i).length == 0 && sizes(i) == 0) levels(i) = new Array[Long](K)
        i += 1
      }
    }

    def add(v: Long): Unit = {
      ensureLevel(0)
      if (sizes(0) == K) compact(0)
      levels(0)(sizes(0)) = v
      sizes(0) += 1
    }

    /** Sort level l, push every second element (alternating start
      * parity) to level l+1, empty level l. Cascades if l+1 fills.
      */
    private def compact(l: Int): Unit = {
      ensureLevel(l + 1)
      val n = sizes(l)
      if (n == 0) return
      val arr = levels(l)
      java.util.Arrays.sort(arr, 0, n)
      val start = parity(l) & 1
      parity(l) += 1
      var i = start
      while (i < n) {
        if (sizes(l + 1) == K) compact(l + 1)
        levels(l + 1)(sizes(l + 1)) = arr(i)
        sizes(l + 1) += 1
        i += 2
      }
      // every element not selected is discarded — its rank mass is
      // carried by the survivors' doubled weight (the KLL/MRL step)
      sizes(l) = 0
    }

    def mergeWith(other: Buffer): Unit = {
      var l = 0
      while (l < other.levels.length) {
        if (other.sizes(l) > 0) {
          ensureLevel(l)
          var i = 0
          while (i < other.sizes(l)) {
            if (sizes(l) == K) compact(l)
            levels(l)(sizes(l)) = other.levels(l)(i)
            sizes(l) += 1
            i += 1
          }
          parity(l) += other.parity(l)
        }
        l += 1
      }
    }

    def weightedSample(): Array[(Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var l = 0
      while (l < levels.length) {
        var i = 0
        while (i < sizes(l)) {
          out += ((levels(l)(i), 1L << l))
          i += 1
        }
        l += 1
      }
      out.sortBy(p => (p._1, p._2)).toArray
    }

    def toBytes: Array[Byte] = {
      val nl = levels.length
      val total = sizes.sum
      val bb = java.nio.ByteBuffer.allocate(12 + nl * 8 + total * 8)
      // versioned header: persisted lake states deserialized under a
      // different K (or any corrupted binary) must fail with a clear
      // error, not ArrayIndexOutOfBounds / silent merge corruption
      bb.putInt(Magic)
      bb.putInt(K)
      bb.putInt(nl)
      var l = 0
      while (l < nl) { bb.putInt(sizes(l)); bb.putInt(parity(l)); l += 1 }
      l = 0
      while (l < nl) {
        var i = 0
        while (i < sizes(l)) { bb.putLong(levels(l)(i)); i += 1 }
        l += 1
      }
      bb.array()
    }
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte]): Buffer = {
      def bad(msg: String): Nothing = throw new IllegalArgumentException(
        s"kll_state: malformed serialized sketch — $msg")
      if (bytes.length < 12) bad(s"only ${bytes.length} bytes, need a 12-byte header")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val magic = bb.getInt
      if (magic != Magic) bad(f"magic 0x$magic%08x, expected 0x$Magic%08x " +
        "(not a kll_state, or written by a pre-header version)")
      val k = bb.getInt
      if (k != K) bad(s"serialized with K=$k, this build uses K=$K — " +
        "re-build the stored states or match the build's K")
      val nl = bb.getInt
      if (nl < 0 || nl > 64) bad(s"implausible level count $nl")
      if (bytes.length < 12 + nl * 8) bad(s"truncated level table ($nl levels, ${bytes.length} bytes)")
      val b = new Buffer()
      b.levels = new Array[Array[Long]](nl)
      b.sizes = new Array[Int](nl)
      b.parity = new Array[Int](nl)
      var l = 0
      var total = 0L
      while (l < nl) {
        b.sizes(l) = bb.getInt; b.parity(l) = bb.getInt
        if (b.sizes(l) < 0 || b.sizes(l) > K) bad(s"level $l size ${b.sizes(l)} outside [0,$K]")
        if (b.parity(l) < 0) bad(s"level $l negative parity ${b.parity(l)}")
        total += b.sizes(l)
        l += 1
      }
      if (bytes.length != 12 + nl * 8 + total * 8)
        bad(s"payload length ${bytes.length} != expected ${12 + nl * 8 + total * 8}")
      l = 0
      while (l < nl) {
        b.levels(l) = new Array[Long](K)
        var i = 0
        while (i < b.sizes(l)) { b.levels(l)(i) = bb.getLong; i += 1 }
        l += 1
      }
      b
    }
  }

  /** kll_state(bigint) → binary: the raw serialized compactor
    * hierarchy — what a nightly sketch-lake job persists (the
    * `hll_regs` pattern: build once, store the MERGEABLE state, serve
    * quantiles later without rescanning the corpus).
    */
  val StateName = "kll_state"

  /** kll_merge_state(binary) → binary: merge stored sketches — the
    * rollup that turns per-day states into a period state (merge ≡
    * concatenate-then-recompact, the same rule the batch shuffle uses,
    * so the rank guarantee survives arbitrary merge trees).
    */
  val MergeName = "kll_merge_state"

  /** kll_sample(binary) → array<struct<v,w>>: the weighted sample read
    * off a stored state — identical output to the direct [[KllSketch]]
    * aggregate.
    */
  val SampleName = "kll_sample"

  private[functions] def sampleArray(b: Buffer): GenericArrayData =
    new GenericArrayData(b.weightedSample().map { case (v, w) =>
      new GenericInternalRow(Array[Any](v, w))
    })

  private[functions] val SampleType: DataType = ArrayType(StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("w", LongType, nullable = false),
  )), containsNull = false)
}

/** `kll_state(bigint) → binary` — the sketch-lake BUILDER: identical
  * compactions to [[KllSketch]], evaluating to the serialized state
  * instead of the sample. Nulls ignored.
  */
case class KllState(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[KllSketch.Buffer]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint argument (cast explicitly), got " +
        child.dataType.simpleString)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = KllSketch.StateName

  override def createAggregationBuffer(): KllSketch.Buffer = new KllSketch.Buffer()

  override def update(buffer: KllSketch.Buffer, input: InternalRow): KllSketch.Buffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: KllSketch.Buffer, other: KllSketch.Buffer): KllSketch.Buffer = {
    buffer.mergeWith(other)
    buffer
  }

  override def eval(buffer: KllSketch.Buffer): Any = buffer.toBytes

  override def serialize(buffer: KllSketch.Buffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): KllSketch.Buffer =
    KllSketch.Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllState =
    copy(child = newChild)
}

/** `kll_merge_state(binary) → binary` — rollup aggregate over STORED
  * sketch states. Nulls ignored; a malformed input fails loudly in
  * deserialization rather than poisoning the merged state.
  */
case class KllMergeState(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[KllSketch.Buffer]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary kll_state, got " +
        child.dataType.simpleString)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = KllSketch.MergeName

  override def createAggregationBuffer(): KllSketch.Buffer = new KllSketch.Buffer()

  override def update(buffer: KllSketch.Buffer, input: InternalRow): KllSketch.Buffer = {
    val v = child.eval(input)
    if (v != null) buffer.mergeWith(
      KllSketch.Buffer.fromBytes(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: KllSketch.Buffer, other: KllSketch.Buffer): KllSketch.Buffer = {
    buffer.mergeWith(other)
    buffer
  }

  override def eval(buffer: KllSketch.Buffer): Any = buffer.toBytes

  override def serialize(buffer: KllSketch.Buffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): KllSketch.Buffer =
    KllSketch.Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllMergeState =
    copy(child = newChild)
}

/** `kll_sample(binary) → array<struct<v,w>>` — the weighted-sample
  * read-out over a stored state.
  */
case class KllSampleOf(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${KllSketch.SampleName} requires a binary kll_state, got " +
        child.dataType.simpleString)

  override def dataType: DataType = KllSketch.SampleType
  override def prettyName: String = KllSketch.SampleName

  override protected def nullSafeEval(input: Any): Any =
    KllSketch.sampleArray(
      KllSketch.Buffer.fromBytes(input.asInstanceOf[Array[Byte]]))

  override protected def withNewChildInternal(newChild: Expression): KllSampleOf =
    copy(child = newChild)
}
