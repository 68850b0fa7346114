package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Histogram-quantile semantics: bin placement, edge clamping, the
  * ceil(q·n) cumulative pick, the one-bin-width error bound, and
  * additivity of the sketch state.
  */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("quantile picks the first bin reaching ceil(q*n), reports its upper edge") {
    import spark.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val got = Sketches.histogramQuantiles(df, $"v", 0.0, 100.0, 10, Seq(0.5, 0.99))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // bin5 holds 50..59: cum 59 >= 50 → p50 edge 60; p99 → bin9, edge 100
    assert(got.toSeq == Seq((0.5, 5L, 60.0), (0.99, 9L, 100.0)))
  }

  test("values outside [lo, hi) clamp to the edge bins") {
    import spark.implicits._
    val bins = Sketches.histogram(
      Seq(-5.0, 0.0, 99.9, 100.0, 1e9).toDF("v"), $"v", 0.0, 100.0, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins(0L) == 2L) // -5 clamps in, 0.0 is bin 0
    assert(bins(9L) == 3L) // 99.9 plus the two clamped highs
  }

  test("approximate quantile is within one bin width of the exact one") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vals = Seq.fill(5000)(rnd.nextDouble() * 1000).sorted
    val df = vals.toDF("v")
    val width = 1000.0 / 128
    Sketches.histogramQuantiles(df, $"v", 0.0, 1000.0, 128, Seq(0.5, 0.9))
      .collect().foreach { r =>
        val exact = vals((r.getDouble(0) * vals.size).ceil.toInt - 1)
        val approx = r.getDouble(2)
        assert(approx >= exact && approx - exact <= width,
          s"q=${r.getDouble(0)}: approx $approx vs exact $exact")
      }
  }

  test("sketch state is additive: histogram(a ++ b) = histogram(a) + histogram(b)") {
    import spark.implicits._
    val a = (1 to 40).map(_.toDouble)
    val b = (30 to 90).map(_.toDouble)
    def h(xs: Seq[Double]) = Sketches.histogram(xs.toDF("v"), $"v", 0.0, 100.0, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = (h(a).keySet ++ h(b).keySet).map { k =>
      k -> (h(a).getOrElse(k, 0L) + h(b).getOrElse(k, 0L))
    }.toMap
    assert(h(a ++ b) == merged)
  }
}
