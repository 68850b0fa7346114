package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bloom screen semantics: the no-false-negative superset guarantee
  * against the exact join, deterministic false positives at tiny m,
  * per-gram all-probes-must-hit counting, the ≤m bound on the bit
  * relation, and the join-free narrow plan of the bitmap screen.
  */
class BloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs today ok"),
    (3L, "the quick brown fox naps under the warm sun"),
    (4L, "completely unrelated vocabulary sentence number four here now"),
  )
  private val bench = Seq((100L, "the quick brown fox jumps high"))

  test("flagged grams are a superset of exact matches (no false negatives)") {
    val d = docs.toDF("doc_id", "text")
    val b = bench.toDF("doc_id", "text")
    val grams = TextDedup.shingles(d, 3)
    val benchGrams = TextDedup.shingles(b, 3).select($"sh").distinct()
    val exact = grams.join(benchGrams, "sh")
      .select($"doc_id", $"sh").as[(Long, String)].collect().toSet
    // even at an absurdly small m (guaranteed false positives) every
    // exact match must still be flagged
    for (m <- Seq(64, 256, 1 << 18)) {
      val words = Bloom.buildBits(TextDedup.shingles(b, 3), $"sh", m, 3)
      val flagged = Bloom
        .screenGrams(grams, $"doc_id", $"sh", words, m, 3)
        .filter($"hit" === 1)
        .select($"id", $"g").as[(Long, String)].collect().toSet
      assert(exact.subsetOf(flagged), s"m=$m lost an exact match")
    }
  }

  test("large m flags exactly the true matches; tiny m adds deterministic FPs") {
    val d = docs.toDF("doc_id", "text")
    val b = bench.toDF("doc_id", "text")
    val screenAt = (m: Int) =>
      Bloom.decontaminateScreen(d, b, n = 3, m = m, k = 3)
        .orderBy($"doc_id")
        .as[(Long, Long, Long, Double)].collect().toSeq
    // m = 2^18, a handful of bench grams: FP probability ~(4k/2^18)^3 —
    // effectively zero, so the screen equals the exact join here
    val wide = screenAt(1 << 18)
    // doc 1: grams {the quick brown, quick brown fox, brown fox jumps} hit 3;
    // doc 3 shares the first two; docs 2/4 share none
    assert(wide.map(r => r._1 -> r._3).toMap ==
      Map(1L -> 3L, 2L -> 0L, 3L -> 2L, 4L -> 0L))
    // tiny m: at least as many flags as wide, and bit-for-bit repeatable
    val tiny1 = screenAt(64)
    val tiny2 = screenAt(64)
    assert(tiny1 == tiny2)
    assert(tiny1.map(_._3).sum >= wide.map(_._3).sum)
  }

  test("a gram passes only when ALL its probed bits are set") {
    // build the filter from one gram, then verify a manual per-bit
    // reconstruction: flip any ONE of a candidate's set bits off and
    // the candidate must fail
    val m = 256
    val b = Seq((1L, "aa bb cc")).toDF("doc_id", "text")
    val words = Bloom.buildBits(TextDedup.shingles(b, 3), $"sh", m, 3)
    val cand = TextDedup.shingles(b, 3) // the identical gram
    val pass = Bloom.screenGrams(cand, $"doc_id", $"sh", words, m, 3)
      .as[(Long, String, Long)].collect()
    assert(pass.forall(_._3 == 1L))
    // clear one set bit: the gram can no longer pass
    val firstSet = words.indexWhere(_ != 0L)
    val mutated = words.clone()
    mutated(firstSet) = mutated(firstSet) & (mutated(firstSet) - 1) // drop lowest set bit
    val fail = Bloom.screenGrams(cand, $"doc_id", $"sh", mutated, m, 3)
      .as[(Long, String, Long)].collect()
    assert(fail.forall(_._3 == 0L))
  }

  test("bit relation is bounded by m; the screen is join-free with one doc-keyed exchange") {
    val b = docs.toDF("doc_id", "text") // every doc as "reference"
    val m = 64
    assert(Bloom.bits(TextDedup.shingles(b, 3), $"sh", m, 3).count() <= m)
    val words = Bloom.buildBits(TextDedup.shingles(b, 3), $"sh", m, 3)
    val screened = Bloom.screenGrams(
      TextDedup.shingles(docs.toDF("doc_id", "text"), 3),
      $"doc_id", $"sh", words, m, 3)
    val plan = screened.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"bitmap screen must be a narrow join-free map, got:\n$plan")
    val rollup = Bloom.decontaminateScreen(
      docs.toDF("doc_id", "text"), b, n = 3, m = m, k = 3)
    val rplan = rollup.queryExecution.executedPlan.toString
    assert(!rplan.contains("Join"),
      s"decontaminateScreen must stay join-free, got:\n$rplan")
    assert(rplan.linesIterator.count(_.contains("Exchange")) <= 2,
      s"expected only the doc_id rollup exchange (plus AQE read), got:\n$rplan")
  }
}
