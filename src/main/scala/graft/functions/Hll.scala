package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog distinct counting as native Catalyst functions
  * (Flajolet et al., "HyperLogLog: the analysis of a near-optimal
  * cardinality estimation algorithm"), with the register math written
  * once here and BIT-REPRODUCIBLE in any engine: the DuckDB oracle
  * recomputes every register from the same hash and must hash-match.
  *
  *   - hash = [[Fnv63]]: FNV-1a over the UTF-8 bytes with the
  *     accumulator kept mod 2⁶³ (so a SQL engine can carry it in a
  *     signed BIGINT and the widening multiply in HUGEINT), then a
  *     murmur-style finalizer in the same 63-bit domain. Raw FNV's
  *     leading-bit distribution is NOT geometric enough for HLL ranks
  *     (sequential keys estimated 12× off in simulation); the
  *     finalizer restores it (≤ ~3 % at n ≥ 10⁴). Chosen over md5
  *     because it runs in a few ns/value with zero allocation;
  *   - with m = 2ᵖ registers, bucket = top p of the 63 hash bits,
  *     ρ = leading zeros of the remaining (63 − p)-bit tail + 1,
  *     capped at 30;
  *   - the ρ cap makes Σ 2⁻ʳᵉᵍ EXACT in binary64 in any summation
  *     order (each term a power of two ≥ 2⁻³⁰), which is what lets two
  *     engines agree on the last bit of the estimate. The sum is
  *     carried as the INTEGER Σ 2³⁰⁻ʳᵉᵍ (`register_sum_scaled`), so
  *     cross-engine float agreement reduces to one division and one
  *     multiply;
  *   - estimate = α(m)·m²/S with α(m) = 0.7213/(1 + 1.079/m) (the
  *     m ≥ 128 constant), the raw HLL estimator. The small-range
  *     linear-counting correction needs ln(), whose last bit is
  *     libm-specific, so the struct EXPOSES `nonzero_buckets` and
  *     leaves that branch to the caller.
  *
  * Register merge is bytewise max, and it IS set union:
  * merge(sketch(A), sketch(B)) = sketch(A ∪ B) exactly. That is what
  * makes sketch lakes (pre-aggregated registers, rolled up later) and
  * iterated register algebra like the approximate neighborhood
  * function (Palmer et al. "ANF"; Boldi & Vigna "HyperBall") exact
  * re-merges, and what lets an oracle check a distributed merge tree
  * bit for bit. Every aggregate here holds one m-byte register array
  * whatever its input size, so partial aggregation collapses any
  * number of rows into m bytes before the shuffle.
  *
  * The SQL names come in two families. The fixed family
  * (`hll_distinct`, `hll_regs`, `hll_init_regs`, `hll_merge_regs`,
  * `hll_regs_eval`) is the m = 4096 point of the width family
  * (`hll_init_regs_w(x, m)`, `hll_merge_regs_w`, `hll_merge2_regs_w`,
  * `hll_regs_eval_w`), byte for byte; the name decides which. Fixed
  * names reject any other width; width names take m from their
  * argument or their input. Invariant (spec-pinned):
  * `hll_regs_eval(hll_merge_regs(hll_init_regs(x)))` over a group ≡
  * `hll_distinct(x)` over the same group. A register array from
  * outside (wrong width, a byte outside [0,30]) fails loudly, naming
  * the SQL function: it is sketch corruption, and would otherwise
  * silently poison every estimate downstream.
  */
object Hll {
  val DistinctName = "hll_distinct"
  val RegsName = "hll_regs"
  val InitName = "hll_init_regs"
  val MergeName = "hll_merge_regs"
  val EvalName = "hll_regs_eval"
  val InitWName = "hll_init_regs_w"
  val MergeWName = "hll_merge_regs_w"
  val Merge2WName = "hll_merge2_regs_w"
  val EvalWName = "hll_regs_eval_w"

  /** The fixed family's width: p = 12, standard error ≈ 1.04/√m ≈ 1.6 %. */
  val M = 4096

  val EstimateType: StructType = StructType(Seq(
    StructField("estimate", DoubleType, nullable = false),
    StructField("nonzero_buckets", IntegerType, nullable = false),
    StructField("register_sum_scaled", LongType, nullable = false),
  ))

  /** Rejects a register width `fn` cannot hold: anything but [[M]] for
    * a fixed name, else anything but a power of two in [128, 65536].
    */
  def checkWidth(fn: String, m: Int, fixed: Boolean = false): Unit =
    if (fixed) require(m == M, s"$fn: register array of $m bytes, expected $M")
    else require(m >= 128 && m <= 65536 && Integer.bitCount(m) == 1,
      s"$fn: register width must be a power of two in [128, 65536], got $m " +
        "(alpha(m) below 128 needs different constants)")

  /** Raises the register of `s` in `regs` (width taken from the array). */
  def add(regs: Array[Byte], s: UTF8String): Unit = {
    val p = Integer.numberOfTrailingZeros(regs.length)
    val h = Fnv63.hash(s)
    val bucket = (h >>> (63 - p)).toInt
    val tail = h & ((1L << (63 - p)) - 1)
    val rank = math.min(
      if (tail == 0L) 52 else java.lang.Long.numberOfLeadingZeros(tail) - p, 30)
    if (rank > regs(bucket)) regs(bucket) = rank.toByte
  }

  /** Bytewise max of `other` into `buffer`. An empty buffer (no width
    * yet) adopts a fresh array at `other`'s width; `other` is never
    * mutated, and every byte of it is range-checked in the same pass.
    */
  def union(fn: String, buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    val out =
      if (buffer.isEmpty) { checkWidth(fn, other.length); new Array[Byte](other.length) }
      else buffer
    require(other.length == out.length,
      s"$fn: mixed register widths (${out.length} vs ${other.length}) — " +
        "sketches of different widths cannot merge")
    var i = 0
    while (i < out.length) {
      checkRegister(fn, i, other(i))
      if (other(i) > out(i)) out(i) = other(i)
      i += 1
    }
    out
  }

  /** Registers → (estimate, nonzero_buckets, register_sum_scaled). */
  def estimate(fn: String, regs: Array[Byte]): InternalRow = {
    var nonzero = 0
    var sScaled = 0L
    var i = 0
    while (i < regs.length) {
      // a byte outside [0,30] would shift by an out-of-range amount
      // (Java shifts mod 64) into a silently garbage estimate
      checkRegister(fn, i, regs(i))
      if (regs(i) != 0) nonzero += 1
      sScaled += 1L << (30 - regs(i))
      i += 1
    }
    val md = regs.length.toDouble
    // written EXACTLY as the oracle SQL writes it (left-associative),
    // so both engines run the same IEEE op sequence
    val estimate = 0.7213 / (1 + 1.079 / md) * md * md /
      (sScaled.toDouble / 1073741824.0)
    new GenericInternalRow(Array[Any](estimate, nonzero, sScaled))
  }

  private def checkRegister(fn: String, i: Int, r: Byte): Unit =
    if (r < 0 || r > 30) throw new IllegalArgumentException(
      s"$fn: register $i holds $r, outside [0,30] — input is not an HLL register sketch")

  private[functions] def typeCheck(fn: String, e: Expression, t: DataType, what: String)
      : TypeCheckResult =
    if (e.dataType == t) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires $what, got ${e.dataType.simpleString}")
}

/** `hll_distinct(string)` → the estimate struct, or `hll_regs(string)`
  * → the raw 4096 registers (what a sketch-lake job persists): the
  * builder aggregate, updating its registers in place with no per-row
  * allocation (unlike mapping rows through `hll_init_regs`). Nulls
  * are ignored.
  */
case class HllSketch(
    child: Expression,
    raw: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[Array[Byte]]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    Hll.typeCheck(prettyName, child, StringType,
      "a string argument (cast explicitly — the hash is over the string form)")

  override def dataType: DataType = if (raw) BinaryType else Hll.EstimateType
  override def nullable: Boolean = false
  override def prettyName: String = if (raw) Hll.RegsName else Hll.DistinctName

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Hll.M)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.add(buffer, v.asInstanceOf[UTF8String])
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    Hll.union(prettyName, buffer, other)

  // clone: the returned value escapes into a row while the buffer is reused
  override def eval(buffer: Array[Byte]): Any =
    if (raw) buffer.clone() else Hll.estimate(prettyName, buffer)

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketch =
    copy(child = newChild)
}

/** `hll_init_regs(string)` → binary(4096), or `hll_init_regs_w(string,
  * m)` → binary(m) with m an integer literal: the singleton sketch,
  * the one register the value occupies.
  */
case class HllInitRegs(child: Expression, width: Option[Expression])
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = child +: width.toSeq

  override def checkInputDataTypes(): TypeCheckResult = width match {
    case Some(w) if w.dataType != IntegerType || !w.foldable =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName: width must be an integer literal")
    case _ => Hll.typeCheck(prettyName, child, StringType, "a string argument")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = if (width.isEmpty) Hll.InitName else Hll.InitWName

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val m = width.fold[Any](Hll.M)(_.eval(input))
    if (v == null || m == null) null
    else {
      Hll.checkWidth(prettyName, m.asInstanceOf[Int])
      val regs = new Array[Byte](m.asInstanceOf[Int])
      Hll.add(regs, v.asInstanceOf[UTF8String])
      regs
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllInitRegs =
    copy(child = newChildren.head, width = width.map(_ => newChildren(1)))
}

/** `hll_merge_regs(binary)` / `hll_merge_regs_w(binary)` → binary: the
  * bytewise-max aggregate (= the sketch of the union of everything
  * merged in). The fixed name holds 4096 registers from the start, so
  * an empty group yields 4096 zero bytes and any other width is
  * rejected; the width name adopts the width of its first input, so an
  * empty group yields an empty binary (no width to invent), and an
  * empty input is that identity. Nulls are ignored.
  */
case class HllMergeRegs(
    child: Expression,
    fixed: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[Array[Byte]]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    Hll.typeCheck(prettyName, child, BinaryType, "a binary register array")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = if (fixed) Hll.MergeName else Hll.MergeWName

  override def createAggregationBuffer(): Array[Byte] =
    if (fixed) new Array[Byte](Hll.M) else Array.emptyByteArray

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buffer else merge(buffer, v.asInstanceOf[Array[Byte]])
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty && !fixed) buffer else Hll.union(prettyName, buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer.clone()

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeRegs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeRegs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllMergeRegs =
    copy(child = newChild)
}

/** `hll_merge2_regs_w(a, b)` → binary: SCALAR bytewise max of two
  * register binaries, for JOIN-shaped merges where each row carries
  * exactly one partner sketch (folding a round's contributions into a
  * keyed loop state via a left join, so the state stays in place
  * instead of crossing an exchange every round). NULL is the merge
  * identity on either side; both NULL → NULL. Inputs are never
  * mutated, and mixed widths raise.
  */
case class HllMerge2Regs(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, binary), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable && right.nullable
  override def prettyName: String = Hll.Merge2WName

  // NULL-as-identity needs eval-level null handling (nullSafeEval
  // would null the result when either side is null)
  override def eval(input: InternalRow): Any = {
    val regs = Seq(left.eval(input), right.eval(input)).filter(_ != null)
    if (regs.isEmpty) null
    else regs.foldLeft(Array.emptyByteArray)((acc, r) =>
      Hll.union(prettyName, acc, r.asInstanceOf[Array[Byte]]))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllMerge2Regs =
    copy(left = newLeft, right = newRight)
}

/** `hll_regs_eval(binary)` / `hll_regs_eval_w(binary)` → the same
  * struct as `hll_distinct`, by the same estimator; the width name
  * reads the width from the array length.
  */
case class HllRegsEval(child: Expression, fixed: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    Hll.typeCheck(prettyName, child, BinaryType, "a binary register array")

  override def dataType: DataType = Hll.EstimateType
  override def prettyName: String = if (fixed) Hll.EvalName else Hll.EvalWName

  override protected def nullSafeEval(input: Any): Any = {
    val regs = input.asInstanceOf[Array[Byte]]
    Hll.checkWidth(prettyName, regs.length, fixed)
    Hll.estimate(prettyName, regs)
  }

  override protected def withNewChildInternal(newChild: Expression): HllRegsEval =
    copy(child = newChild)
}
