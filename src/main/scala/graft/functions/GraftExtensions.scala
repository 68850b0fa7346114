package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Declarative registration of graft's native SQL functions (the
  * dot kernel, fnv63, the sketch aggregates and the HLL register
  * algebra), installed by `GraftSession.local` and by any session
  * configured with `spark.sql.extensions=graft.functions.GraftExtensions`.
  * `ArrayDotLong.register` and its siblings are the imperative
  * equivalents for sessions built elsewhere.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction((
      FunctionIdentifier(ArrayDotLong.name),
      new ExpressionInfo(classOf[ArrayDotLong].getName, ArrayDotLong.name),
      (exprs: Seq[Expression]) => ArrayDotLong(exprs.head, exprs(1))))
    extensions.injectFunction((
      FunctionIdentifier(Fnv63Hash.name),
      new ExpressionInfo(classOf[Fnv63Hash].getName, Fnv63Hash.name),
      (exprs: Seq[Expression]) => Fnv63Hash(exprs.head)))
    extensions.injectFunction((
      FunctionIdentifier(HllSketch.Name),
      new ExpressionInfo(classOf[HllSketch].getName, HllSketch.Name),
      (exprs: Seq[Expression]) => HllSketch(exprs.head)))
    extensions.injectFunction((
      FunctionIdentifier(BottomK.Name),
      new ExpressionInfo(classOf[BottomK].getName, BottomK.Name),
      (exprs: Seq[Expression]) => BottomK(exprs.head, exprs(1))))
    // the mergeable register family (sketch lakes, ANF)
    extensions.injectFunction((
      FunctionIdentifier(HllRegisters.InitName),
      new ExpressionInfo(classOf[HllInitRegs].getName, HllRegisters.InitName),
      (exprs: Seq[Expression]) => HllInitRegs(exprs.head)))
    extensions.injectFunction((
      FunctionIdentifier(HllRegisters.MergeName),
      new ExpressionInfo(classOf[HllMergeRegs].getName, HllRegisters.MergeName),
      (exprs: Seq[Expression]) => HllMergeRegs(exprs.head)))
    extensions.injectFunction((
      FunctionIdentifier(HllRegisters.AggName),
      new ExpressionInfo(classOf[HllRegsAgg].getName, HllRegisters.AggName),
      (exprs: Seq[Expression]) => HllRegsAgg(exprs.head)))
    extensions.injectFunction((
      FunctionIdentifier(HllRegisters.EvalName),
      new ExpressionInfo(classOf[HllRegsEval].getName, HllRegisters.EvalName),
      (exprs: Seq[Expression]) => HllRegsEval(exprs.head)))
  }
}
