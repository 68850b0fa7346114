package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Width-parameterized register sketches: the m = 4096 point must be
  * BYTE-IDENTICAL to the fixed family (so every existing register
  * consumer is the m = 4096 special case of this one), merge must stay
  * exact set union at every width, and mixed widths must fail loudly.
  */
class HllRegistersMSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bytes(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[Byte]] =
    rows.map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

  test("m = 4096 is byte-identical to the fixed hll_init_regs/" +
    "hll_merge_regs family, and eval structs match") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(_ => (rnd.nextInt(7).toLong, "v" + rnd.nextInt(200)))
    val df = rows.toDF("g", "x")
    val fixed = bytes(df
      .select($"g", call_function(Hll.InitName, $"x").as("r"))
      .groupBy($"g").agg(call_function(Hll.MergeName, $"r").as("r"))
      .collect())
    val param = bytes(df
      .select($"g", call_function(Hll.InitWName, $"x", lit(4096)).as("r"))
      .groupBy($"g").agg(call_function(Hll.MergeWName, $"r").as("r"))
      .collect())
    assert(fixed == param)
    val evalFixed = df
      .select($"g", call_function(Hll.InitName, $"x").as("r"))
      .groupBy($"g").agg(call_function(Hll.MergeName, $"r").as("r"))
      .select($"g", call_function(Hll.EvalName, $"r").as("e"))
      .select($"g", $"e.estimate", $"e.nonzero_buckets", $"e.register_sum_scaled")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2), r.getLong(3))).toMap
    val evalParam = df
      .select($"g", call_function(Hll.InitWName, $"x", lit(4096)).as("r"))
      .groupBy($"g").agg(call_function(Hll.MergeWName, $"r").as("r"))
      .select($"g", call_function(Hll.EvalWName, $"r").as("e"))
      .select($"g", $"e.estimate", $"e.nonzero_buckets", $"e.register_sum_scaled")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2), r.getLong(3))).toMap
    assert(evalFixed == evalParam)
  }

  test("merge is exact set union at m = 512: merging group sketches " +
    "equals a direct sketch of the union, bit for bit") {
    val a = (1 to 400).map(i => ("a", s"k$i"))
    val b = (200 to 600).map(i => ("b", s"k$i"))
    def sketchOf(rows: Seq[(String, String)]) = rows.toDF("g", "x")
      .select(call_function(Hll.InitWName, $"x", lit(512)).as("r"))
      .agg(call_function(Hll.MergeWName, $"r").as("r"))
      .collect().head.getAs[Array[Byte]](0)
    val merged = Seq(sketchOf(a), sketchOf(b)).toDF("r")
      .agg(call_function(Hll.MergeWName, $"r").as("r"))
      .collect().head.getAs[Array[Byte]](0)
    val direct = sketchOf(a ++ b)
    assert(java.util.Arrays.equals(merged, direct))
    assert(merged.length == 512)
  }

  test("a corrupt sketch in a SINGLE-input group fails at merge, not " +
    "silently via the empty-buffer early-adopt") {
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    // register out of [0,30] — the first (and only) input of its group
    val corrupt = new Array[Byte](512)
    corrupt(7) = 42
    val exReg = intercept[Exception] {
      Seq(Tuple1(corrupt)).toDF("r")
        .agg(call_function(Hll.MergeWName, $"r")) // no eval step
        .collect()
    }
    assert(messages(exReg).contains("outside [0,30]"), messages(exReg).take(200))
    // non-power-of-two length — also caught pre-adopt by checkWidth
    val exLen = intercept[Exception] {
      Seq(Tuple1(new Array[Byte](500))).toDF("r")
        .agg(call_function(Hll.MergeWName, $"r"))
        .collect()
    }
    assert(messages(exLen).contains("power of two"), messages(exLen).take(200))
  }

  test("estimate at m = 512 lands within HLL error of the truth, and " +
    "mixed widths refuse to merge") {
    val n = 5000
    val est = (1 to n).map(i => s"doc-$i").toDF("x")
      .select(call_function(Hll.InitWName, $"x", lit(512)).as("r"))
      .agg(call_function(Hll.MergeWName, $"r").as("r"))
      .select(call_function(Hll.EvalWName, $"r")("estimate"))
      .collect().head.getDouble(0)
    // 3σ at m = 512 is ~14%
    assert(math.abs(est - n) / n < 0.15, s"estimate $est vs $n")
    def sk(w: Int) = (1 to 10).map(i => s"k$i").toDF("x")
      .select(call_function(Hll.InitWName, $"x", lit(w)).as("r"))
      .agg(call_function(Hll.MergeWName, $"r").as("r"))
      .collect().head.getAs[Array[Byte]](0)
    val ex = intercept[Exception] {
      Seq(sk(512), sk(4096)).toDF("r")
        .agg(call_function(Hll.MergeWName, $"r")).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("mixed register widths"), messages(ex).take(200))
  }

  test("hll_merge2_regs_w: the scalar 2-ary merge is byte-identical to " +
    "the aggregate over the pair, NULL is the identity on either side, " +
    "and mixed widths fail loudly") {
    val rnd = new scala.util.Random(23)
    val pairs = (1 to 50).map { i =>
      (i.toLong, "a" + rnd.nextInt(300), "b" + rnd.nextInt(300))
    }.toDF("k", "xa", "xb")
      .select($"k",
        call_function(Hll.InitWName, $"xa", lit(512)).as("ra"),
        call_function(Hll.InitWName, $"xb", lit(512)).as("rb"))
    val viaScalar = pairs
      .select($"k", call_function(Hll.Merge2WName, $"ra", $"rb").as("r"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val viaAgg = pairs
      .select($"k", explode(array($"ra", $"rb")).as("r"))
      .groupBy($"k").agg(call_function(Hll.MergeWName, $"r").as("r"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(viaScalar == viaAgg)
    // NULL identity (the left-join unmatched case) — both directions
    val withNulls = pairs
      .select($"k", $"ra", lit(null).cast("binary").as("rn"))
      .select($"k",
        call_function(Hll.Merge2WName, $"ra", $"rn").as("r1"),
        call_function(Hll.Merge2WName, $"rn", $"ra").as("r2"),
        $"ra")
      .collect()
    withNulls.foreach { r =>
      assert(r.getAs[Array[Byte]]("r1").toSeq == r.getAs[Array[Byte]]("ra").toSeq)
      assert(r.getAs[Array[Byte]]("r2").toSeq == r.getAs[Array[Byte]]("ra").toSeq)
    }
    val mixed = intercept[Exception] {
      Seq(1).toDF("i")
        .select(
          call_function(Hll.InitWName, lit("x"), lit(512)).as("a"),
          call_function(Hll.InitWName, lit("x"), lit(4096)).as("b"))
        .select(call_function(Hll.Merge2WName, $"a", $"b"))
        .collect()
    }
    def messages2(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages2(t.getCause)
    assert(messages2(mixed).contains("mixed register widths"))
  }
}
