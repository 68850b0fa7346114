package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The KLL/MRL quantile sketch: mass conservation, the worst-case rank
  * bound under adversarial arrival orders (sorted, reversed, shuffled,
  * forced partial-aggregate merges), and the fixed-state scaling that
  * makes it a one-pass corpus-quantile sketch.
  */
class KllSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Weighted sample via the aggregate; returns (value, weight) pairs. */
  private def sample(values: Seq[Long], parts: Int = 1): Seq[(Long, Long)] = {
    val df = values.toDF("x").repartition(parts)
    df.agg(call_function(KllSketch.Name, $"x").as("s"))
      .select(explode($"s").as("p"))
      .select($"p.v", $"p.w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** Estimated value at quantile q: smallest sample value whose
    * cumulative weight reaches q·n. */
  private def estimate(pairs: Seq[(Long, Long)], q: Double, n: Long): Long = {
    val sorted = pairs.sortBy(_._1)
    var cum = 0L
    val target = math.ceil(q * n).toLong max 1L
    for ((v, w) <- sorted) {
      cum += w
      if (cum >= target) return v
    }
    sorted.last._1
  }

  /** Documented worst-case rank error: n·ceil(log₂(n/K))/(2K). */
  private def bound(n: Long): Long = {
    val h = math.max(1, math.ceil(math.log(n.toDouble / KllSketch.K) /
      math.log(2.0)).toInt)
    (n * h / (2L * KllSketch.K)) max 1L
  }

  test("small inputs are EXACT (no compaction below K) and mass-conserving") {
    val vals = (1L to 1000L).map(i => (i * 7919L) % 1000L)
    val pairs = sample(vals)
    assert(pairs.map(_._2).sum == 1000L)
    assert(pairs.forall(_._2 == 1L))
    assert(pairs.map(_._1).sorted == vals.sorted)
  }

  test("mass is conserved exactly through compactions and merges") {
    val n = 100000L
    for (parts <- Seq(1, 8)) {
      val pairs = sample((1L to n).map(i => (i * 2654435761L) % 1000000L), parts)
      assert(pairs.map(_._2).sum == n, s"parts=$parts")
      // state is sublinear: far fewer retained items than rows
      assert(pairs.size < 10 * KllSketch.K, s"retained ${pairs.size}")
    }
  }

  test("rank error stays within the documented worst-case bound under " +
    "adversarial arrival orders and forced merges") {
    val n = 60000L
    val orders: Seq[(String, Seq[Long], Int)] = Seq(
      ("sorted", (1L to n).toSeq, 1),
      ("reversed", (n to 1L by -1L).toSeq, 1),
      ("hashed", (1L to n).map(i => (i * 2654435761L) % n), 1),
      ("merged-16", (1L to n).toSeq, 16),
    )
    for ((name, vals, parts) <- orders) {
      val pairs = sample(vals, parts)
      val sortedVals = vals.sorted
      for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
        val est = estimate(pairs, q, n)
        // exact rank of est among the true values (count ≤ est)
        val rank = sortedVals.count(_ <= est).toLong
        val target = math.ceil(q * n).toLong
        assert(math.abs(rank - target) <= bound(n),
          s"$name q=$q est=$est rank=$rank target=$target bound=${bound(n)}")
      }
    }
  }

  test("per-group aggregation keeps sketches independent") {
    val df = ((1L to 5000L).map(i => ("a", i)) ++
      (1L to 5000L).map(i => ("b", i + 1000000L))).toDF("g", "x")
    val out = df.groupBy($"g")
      .agg(call_function(KllSketch.Name, $"x").as("s"))
      .select($"g", explode($"s").as("p"))
      .groupBy($"g").agg(min($"p.v").as("lo"), max($"p.v").as("hi"),
        sum($"p.w").as("mass"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out("a")._3 == 5000L && out("b")._3 == 5000L)
    assert(out("a")._2 <= 5000L && out("b")._1 >= 1000001L)
  }

  test("kll_state round-trips through bytes and kll_merge_state of halves " +
    "preserves mass and the rank bound (the sketch-lake path)") {
    val n = 40000L
    val df = (1L to n).map(i => (if (i % 2 == 0) "a" else "b",
      (i * 2654435761L) % 100000L)).toDF("h", "x")
    // two half sketches stored as binary, then rolled up
    val halves = df.groupBy($"h")
      .agg(call_function(KllSketch.StateName, $"x").as("st"))
    val merged = halves.agg(
      call_function(KllSketch.MergeName, $"st").as("st"))
    val pairs = merged
      .select(explode(call_function(KllSketch.SampleName, $"st")).as("p"))
      .select($"p.v", $"p.w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.map(_._2).sum == n) // exact mass through store + rollup
    val sortedVals = (1L to n).map(i => (i * 2654435761L) % 100000L).sorted
    for (q <- Seq(0.25, 0.5, 0.75)) {
      val est = estimate(pairs, q, n)
      val rank = sortedVals.count(_ <= est).toLong
      assert(math.abs(rank - math.ceil(q * n).toLong) <= bound(n),
        s"rolled-up sketch rank error at q=$q")
    }
  }

  test("malformed or wrong-K serialized states fail with a descriptive " +
    "error, not ArrayIndexOutOfBounds (ADVICE r9: versioned wire format)") {
    import graft.functions.KllSketch.Buffer
    val b = new Buffer(); (1L to 100L).foreach(b.add)
    val good = b.toBytes
    // round trip is exact
    assert(Buffer.fromBytes(good).weightedSample().toSeq ==
      b.weightedSample().toSeq)
    def msgOf(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException](Buffer.fromBytes(bytes)).getMessage
    // truncated header
    assert(msgOf(Array[Byte](1, 2, 3)).contains("header"))
    // wrong magic (pre-header / foreign binary)
    val wrongMagic = good.clone(); wrongMagic(0) = 0x00
    assert(msgOf(wrongMagic).contains("magic"))
    // wrong K
    val wrongK = good.clone()
    java.nio.ByteBuffer.wrap(wrongK).putInt(4, 512)
    assert(msgOf(wrongK).contains("K=512"))
    // truncated payload
    assert(msgOf(good.dropRight(8)).contains("length"))
    // corrupted level size past K
    val badSize = good.clone()
    java.nio.ByteBuffer.wrap(badSize).putInt(12, Int.MaxValue)
    assert(msgOf(badSize).toLowerCase.contains("size"))
  }

  test("nulls are ignored like every aggregate") {
    val df = Seq(Some(1L), None, Some(2L), None, Some(3L)).toDF("x")
    val mass = df.agg(call_function(KllSketch.Name, $"x").as("s"))
      .select(explode($"s").as("p")).agg(sum($"p.w")).collect().head.getLong(0)
    assert(mass == 3L)
  }
}
