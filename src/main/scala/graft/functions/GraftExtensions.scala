package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The catalogue of graft's native SQL functions (the dot kernel,
  * fnv63, the sketch aggregates and the HLL register algebra) and the
  * one place they enter a session: every session built by
  * `GraftSession.local`, and any session configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions`, has all of
  * them, and so does each `newSession()` of one. Injection replaces a
  * builtin of the same name, so a graft name always resolves to the
  * graft expression.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      extensions.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  /** (SQL name, expression class, builder), one row per function. */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    (ArrayDotLong.name, classOf[ArrayDotLong], e => ArrayDotLong(e(0), e(1))),
    (Fnv63Hash.name, classOf[Fnv63Hash], e => Fnv63Hash(e(0))),
    (BottomK.Name, classOf[BottomK], e => BottomK(e(0), e(1))),
    (Hll.DistinctName, classOf[HllSketch], e => HllSketch(e(0), raw = false)),
    (Hll.RegsName, classOf[HllSketch], e => HllSketch(e(0), raw = true)),
    (Hll.InitName, classOf[HllInitRegs], e => HllInitRegs(e(0), None)),
    (Hll.MergeName, classOf[HllMergeRegs], e => HllMergeRegs(e(0), fixed = true)),
    (Hll.EvalName, classOf[HllRegsEval], e => HllRegsEval(e(0), fixed = true)),
    (Hll.InitWName, classOf[HllInitRegs], e => HllInitRegs(e(0), Some(e(1)))),
    (Hll.MergeWName, classOf[HllMergeRegs], e => HllMergeRegs(e(0), fixed = false)),
    (Hll.Merge2WName, classOf[HllMerge2Regs], e => HllMerge2Regs(e(0), e(1))),
    (Hll.EvalWName, classOf[HllRegsEval], e => HllRegsEval(e(0), fixed = false)),
    (KllSketch.Name, classOf[KllSketch], e => KllSketch(e(0))),
    (KllSketch.StateName, classOf[KllState], e => KllState(e(0))),
    (KllSketch.MergeName, classOf[KllMergeState], e => KllMergeState(e(0))),
    (KllSketch.SampleName, classOf[KllSampleOf], e => KllSampleOf(e(0))),
    (MisraGries.Name, classOf[MisraGries], e => MisraGries(e(0))),
    (MisraGries.MergeName, classOf[MgMerge], e => MgMerge(e(0))),
    (SpaceSaving.Name, classOf[SpaceSaving], e => SpaceSaving(e(0))),
    (SpaceSaving.MergeName, classOf[SsMerge], e => SsMerge(e(0))),
  )
}
