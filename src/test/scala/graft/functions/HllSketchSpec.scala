package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** hll_distinct: register math against an independent scalar
  * re-derivation, partition/duplication invariance (the mergeable-state
  * contract), accuracy, and null handling.
  */
class HllSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sketchOf(values: Seq[String], parts: Int): Row = {
    import spark.implicits._
    values.toDF("v").repartition(parts)
      .agg(call_function(Hll.DistinctName, $"v").as("h"))
      .select($"h.estimate", $"h.nonzero_buckets", $"h.register_sum_scaled")
      .head()
  }

  /** The spec's own (bucket, rank) derivation — scalar, no Spark, and
    * deliberately NOT calling Fnv63.hash: BigInt arithmetic mod
    * 2⁶³ re-derives the same hash a third way (the DuckDB oracle being
    * the second), so a transcription slip in the Long bit-twiddling
    * can't self-confirm.
    */
  private def bucketRank(v: String): (Int, Int) = {
    val m = BigInt(1) << 63
    var h = BigInt("14695981039346656037") % m // FNV offset basis mod 2^63
    v.getBytes("UTF-8").foreach { b =>
      h = ((h ^ BigInt(b & 0xff)) * BigInt("1099511628211")) % m
    }
    h = ((h ^ (h >> 31)) * (BigInt("18397679294719823053") % m)) % m
    h = ((h ^ (h >> 29)) * (BigInt("14181476777654086739") % m)) % m
    h = h ^ (h >> 32)
    val tail = h & ((BigInt(1) << 51) - 1)
    val rank = math.min(if (tail == 0) 52 else 52 - tail.bitLength, 30)
    ((h >> 51).toInt, rank)
  }

  test("a single value sets exactly the register the hash says") {
    val (_, rank) = bucketRank("hello")
    val r = sketchOf(Seq("hello"), 1)
    assert(r.getInt(1) == 1)
    assert(r.getLong(2) == 4095L * (1L << 30) + (1L << (30 - rank)))
  }

  test("two values in distinct buckets sum their register terms") {
    val vs = Seq("hello", "world")
    val Seq((b1, r1), (b2, r2)) = vs.map(bucketRank)
    assume(b1 != b2)
    val r = sketchOf(vs, 2)
    assert(r.getInt(1) == 2)
    assert(r.getLong(2) == 4094L * (1L << 30) + (1L << (30 - r1)) + (1L << (30 - r2)))
  }

  test("partitioning and duplication never change the sketch") {
    val vs = (0 until 2000).map(i => s"val_$i")
    val base = sketchOf(vs, 1)
    assert(sketchOf(vs, 32) == base)
    assert(sketchOf(vs ++ vs ++ vs, 7) == base) // dup-insensitive
  }

  test("caller-side linear-counting correction lands within 5% at n=5000") {
    // n = 5000 < 2.5m = 10240 sits in the small-range zone where the
    // raw estimator is biased high — the reason the sketch exposes
    // nonzero_buckets instead of baking a libm ln() into the aggregate
    val n = 5000
    val r = sketchOf((0 until n).map(i => s"user_$i"), 8)
    val (raw, zeros) = (r.getDouble(0), 4096 - r.getInt(1))
    val corrected =
      if (raw <= 2.5 * 4096 && zeros > 0) 4096.0 * math.log(4096.0 / zeros) else raw
    assert(math.abs(corrected - n) / n < 0.05, s"corrected $corrected vs exact $n")
    assert(math.abs(raw - n) / n < 0.35, s"raw $raw vs exact $n")
  }

  test("raw estimate is within 3% once past the small-range zone (n=50k)") {
    val n = 50000
    val est = sketchOf((0 until n).map(i => s"user_$i"), 8).getDouble(0)
    assert(math.abs(est - n) / n < 0.03, s"estimate $est vs exact $n")
  }

  test("nulls are ignored") {
    import spark.implicits._
    val withNulls = (Seq("a", "b") ++ Seq.fill(50)(null: String)).toDF("v")
      .agg(call_function(Hll.DistinctName, $"v").as("h"))
      .select($"h.register_sum_scaled").head().getLong(0)
    assert(withNulls == sketchOf(Seq("a", "b"), 1).getLong(2))
  }

  test("non-string input fails analysis, not silently hashes") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(1L, 2L).toDF("v").agg(call_function(Hll.DistinctName, $"v")).head()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
