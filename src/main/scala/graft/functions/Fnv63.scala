package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's cross-engine-reproducible 63-bit string hash (see
  * [[Hll]] for the full design rationale): FNV-1a over the UTF-8
  * bytes with the accumulator kept mod 2⁶³, then a murmur-style
  * xor-shift/multiply finalizer in the same 63-bit domain. Everything
  * stays in [0, 2⁶³), so DuckDB reproduces it bit-for-bit in
  * BIGINT+HUGEINT SQL (`Relational.fnv63Sql`) — which is what lets
  * hash-ordered operators (bottom-k sampling, HLL registers) be
  * oracle-checked exactly rather than statistically.
  */
object Fnv63 {
  private val Mask63 = (1L << 63) - 1
  private val Seed = 0xcbf29ce484222325L & Mask63 // FNV offset basis mod 2⁶³
  private val Prime = 0x100000001b3L
  private val Mix1 = 0xff51afd7ed558ccdL & Mask63 // fmix64 constants mod 2⁶³
  private val Mix2 = 0xc4ceb9fe1a85ec53L & Mask63

  def hash(bytes: Array[Byte]): Long = {
    var h = Seed
    var i = 0
    while (i < bytes.length) {
      h = ((h ^ (bytes(i) & 0xffL)) * Prime) & Mask63
      i += 1
    }
    h ^= (h >>> 31); h = (h * Mix1) & Mask63
    h ^= (h >>> 29); h = (h * Mix2) & Mask63
    h ^ (h >>> 32)
  }

  def hash(s: UTF8String): Long = hash(s.getBytes)
}

/** `fnv63(string) -> bigint` as a native codegen'd scalar expression:
  * the deterministic sort/sample key for hash-ordered operators. A few
  * ns per value, no allocation beyond the UTF-8 byte view, stays
  * inside whole-stage codegen.
  */
case class Fnv63Hash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument (cast explicitly — the " +
        s"hash is over the string form), got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = Fnv63Hash.name

  override protected def nullSafeEval(v: Any): Any =
    Fnv63.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv63.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Fnv63Hash =
    copy(child = newChild)
}

object Fnv63Hash {
  val name = "fnv63"
}
