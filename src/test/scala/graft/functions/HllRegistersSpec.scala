package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The mergeable register API against its contract: merged singleton
  * sketches ≡ the one-shot `hll_distinct` aggregate (register merge IS
  * set union), registers match an independent in-spec derivation from
  * the raw hash, and merge order / grouping cannot change a byte.
  */
class HllRegistersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("merge of singleton sketches ≡ hll_distinct over the same group") {
    import spark.implicits._
    val vals = (1 to 5000).map(i => (i % 7, s"user_$i"))
      .toDF("g", "v")
    val direct = vals.groupBy($"g")
      .agg(call_function(Hll.DistinctName, $"v").as("hll"))
      .select($"g", $"hll.estimate", $"hll.nonzero_buckets", $"hll.register_sum_scaled")
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getInt(2), r.getLong(3))).toMap
    val merged = vals
      .select($"g", call_function(Hll.InitName, $"v").as("regs"))
      .groupBy($"g")
      .agg(call_function(Hll.MergeName, $"regs").as("regs"))
      .select($"g", call_function(Hll.EvalName, $"regs").as("ev"))
      .select($"g", $"ev.estimate", $"ev.nonzero_buckets", $"ev.register_sum_scaled")
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getInt(2), r.getLong(3))).toMap
    assert(merged === direct)
  }

  test("singleton registers match an independent derivation from Fnv63") {
    import spark.implicits._
    val v = "some-node-42"
    val regs = Seq(v).toDF("v")
      .select(call_function(Hll.InitName, $"v").as("regs"))
      .collect().head.getAs[Array[Byte]](0)
    // independent: recompute bucket/rank from the public hash here
    val h = Fnv63.hash(org.apache.spark.unsafe.types.UTF8String.fromString(v))
    val bucket = (h >>> 51).toInt
    val tail = h & ((1L << 51) - 1)
    val rank = math.min(
      if (tail == 0L) 52 else java.lang.Long.numberOfLeadingZeros(tail) - 12, 30)
    assert(regs.length === 4096)
    assert(regs(bucket) === rank.toByte)
    assert(regs.zipWithIndex.count { case (b, _) => b != 0 } === 1)
  }

  test("merge result is independent of partitioning (bytewise max commutes)") {
    import spark.implicits._
    def mergedRegs(parts: Int): Seq[Byte] = {
      val df = (1 to 1000).map(i => s"x$i").toDF("v").repartition(parts)
      df.select(call_function(Hll.InitName, $"v").as("regs"))
        .agg(call_function(Hll.MergeName, $"regs").as("regs"))
        .collect().head.getAs[Array[Byte]](0).toSeq
    }
    assert(mergedRegs(1) === mergedRegs(13))
  }

  test("the declarative extensions route alone exposes the whole surface " +
    "to plain SQL (fresh session state, no imperative register calls)") {
    // newSession() rebuilds the function registry from the session's
    // SparkSessionExtensions only — so these resolve iff
    // GraftExtensions injected them
    val fresh = spark.newSession()
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size == 20 && names.distinct.size == 20, names)
    // each name resolves to the graft expression, not to a builtin
    // (Spark's hll_sketch_* / kll_sketch_*_bigint are near-misses)
    for (name <- names) {
      val info = fresh.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(name))
      assert(info.getClassName.startsWith("graft.functions."), s"$name -> ${info.getClassName}")
    }
    val row = fresh.sql(
      """SELECT fnv63('abc') AS h,
        |       hll_regs_eval(hll_merge_regs(hll_init_regs('abc'))).nonzero_buckets AS nz,
        |       array_dot_long(array(1L, 2L), array(3L, 4L)) AS dot""".stripMargin)
      .collect().head
    assert(row.getLong(0) == Fnv63.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    assert(row.getInt(1) == 1)
    assert(row.getLong(2) == 11L)
  }

  test("a foreign-width binary input fails loudly, not silently") {
    import spark.implicits._
    val bad = Seq(Array[Byte](1, 2, 3)).toDF("regs")
    val e = intercept[Exception] {
      bad.agg(call_function(Hll.MergeName, $"regs")).collect()
    }
    assert(e.getMessage != null)
  }

  test("right-width registers with out-of-range bytes fail loudly too: " +
    "merge and eval both reject values outside [0,30] instead of " +
    "shifting mod 64 into garbage estimates") {
    import spark.implicits._
    def foreign(b: Byte): Array[Byte] = {
      val a = new Array[Byte](4096)
      a(7) = b
      a
    }
    for (b <- Seq(31.toByte, (-1).toByte, Byte.MinValue)) {
      val df = Seq(foreign(b)).toDF("regs")
      val eMerge = intercept[Exception] {
        df.agg(call_function(Hll.MergeName, $"regs")).collect()
      }
      assert(eMerge.getMessage != null)
      val eEval = intercept[Exception] {
        df.select(call_function(Hll.EvalName, $"regs")).collect()
      }
      assert(eEval.getMessage != null)
    }
    // boundary value 30 (the rank cap) is valid on both paths
    val ok = Seq(foreign(30.toByte)).toDF("regs")
    val merged = ok.agg(call_function(Hll.MergeName, $"regs").as("m"))
      .select(call_function(Hll.EvalName, $"m").getField("nonzero_buckets"))
      .collect().head.getInt(0)
    assert(merged === 1)
  }
}
