package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SpaceSaving with per-item certificates: exact recovery under
  * capacity, bracket + coverage invariants under adversarial orders
  * and merge trees, the deficit theorem Δ ≤ n/(K+1), and the lake
  * rollup preserving everything.
  */
class SpaceSavingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private case class Summary(delta: Long, items: Map[String, (Long, Long)])

  private def summarize(values: Seq[String], parts: Int = 1): Summary = {
    val row = values.toDF("x").repartition(parts)
      .agg(call_function(SpaceSaving.Name, $"x").as("s"))
      .select($"s.delta", $"s.items").collect().head
    Summary(row.getLong(0),
      row.getSeq[org.apache.spark.sql.Row](1)
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
  }

  private def checkInvariants(values: Seq[String], s: Summary): Unit = {
    val truth = values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = values.size.toLong
    assert(s.delta * (SpaceSaving.K + 1) <= n,
      s"deficit theorem: delta=${s.delta}, n=$n")
    for ((item, (lb, ub)) <- s.items) {
      val t = truth.getOrElse(item, 0L)
      assert(lb <= t && t <= ub, s"bracket broken for '$item': [$lb,$ub] vs $t")
      assert(ub - lb <= s.delta, s"per-item slack exceeds delta for '$item'")
    }
    for ((item, t) <- truth if t > s.delta)
      assert(s.items.contains(item),
        s"coverage broken: '$item' (true=$t) absent with delta=${s.delta}")
    assert(s.items.size <= SpaceSaving.K)
  }

  test("distinct values within capacity are recovered EXACTLY " +
    "(delta = 0, lb = ub = true count)") {
    val values = (1 to 40).flatMap(i => Seq.fill(i)(s"v$i"))
    val s = summarize(values)
    assert(s.delta == 0L)
    assert(s.items == (1 to 40).map(i => s"v$i" -> ((i.toLong, i.toLong))).toMap)
  }

  test("invariants hold over capacity, under adversarial orders and " +
    "partitioned merge trees") {
    val heavy = (1 to 10).flatMap(i => Seq.fill(400)(s"h$i"))
    val tail = (1 to 3000).map(i => s"t$i")
    val base = heavy ++ tail
    for ((order, name) <- Seq(
        (base, "heavy-first"), (base.reverse, "tail-first"),
        (base.sortBy(_.hashCode), "hash-shuffled"))) {
      for (parts <- Seq(1, 8)) {
        val s = summarize(order, parts)
        checkInvariants(order, s)
        // the heavy items are far above delta → all covered with
        // nontrivial brackets
        for (i <- 1 to 10) assert(s.items.contains(s"h$i"), s"$name/$parts")
      }
    }
  }

  test("a proven top element: its lb exceeds every other ub") {
    val values = Seq.fill(5000)("king") ++ (1 to 2000).map(i => s"t${i % 300}")
    val s = summarize(values, parts = 4)
    checkInvariants(values, s)
    val (kingLb, _) = s.items("king")
    val othersMaxUb = (s.items - "king").values.map(_._2).max
    assert(kingLb > othersMaxUb,
      s"king lb=$kingLb should beat max other ub=$othersMaxUb")
  }

  test("ss_merge rollup of per-shard summaries preserves every invariant " +
    "(the lake leg)") {
    val heavy = (1 to 8).flatMap(i => Seq.fill(500)(s"h$i"))
    val tail = (1 to 4000).map(i => s"t$i")
    val values = heavy ++ tail
    val shards = values.zipWithIndex.map { case (v, i) => (i % 7, v) }
    val stored = shards.toDF("shard", "x")
      .groupBy($"shard")
      .agg(call_function(SpaceSaving.Name, $"x").as("s"))
    val row = stored.agg(call_function(SpaceSaving.MergeName, $"s").as("m"))
      .select($"m.delta", $"m.items").collect().head
    val s = Summary(row.getLong(0),
      row.getSeq[org.apache.spark.sql.Row](1)
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
    checkInvariants(values, s)
    for (i <- 1 to 8) assert(s.items.contains(s"h$i"))
  }

  test("nulls are ignored and a malformed stored summary fails loudly") {
    val s = Seq(Some("a"), None, Some("a"), None, Some("b")).toDF("x")
      .agg(call_function(SpaceSaving.Name, $"x").as("s"))
      .select($"s.items").collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(s.map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 2L, "b" -> 1L))
    val bad = Seq(("x", 5L, 3L)).toDF("item", "lb", "ub")
      .agg(collect_list(struct($"item", $"lb", $"ub")).as("items"))
      .select(struct(lit(0L).as("delta"), $"items").as("s"))
    val ex = intercept[Exception] {
      bad.agg(call_function(SpaceSaving.MergeName, $"s")).collect()
    }
    assert(ex.getMessage.contains("not a space_saving summary"), ex.getMessage)
  }

  private def certified(values: Seq[String], k: Int, parts: Int = 4): Seq[(Int, String, Long)] =
    graft.operators.Sketches.certifiedTopK(
      values.toDF("x").repartition(parts), "x", k)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      .sortBy(_._1)

  private def exactTop(values: Seq[String], k: Int): Seq[(Int, String, Long)] =
    values.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(k)
      .zipWithIndex.map { case ((w, c), i) => (i + 1, w, c) }

  test("certifiedTopK returns the exact top-k on a skewed stream, " +
    "invariant to partitioning (arrival order)") {
    val rnd = new scala.util.Random(41)
    // zipf-ish: item i appears ~ 3000/i times over 200 distinct items
    val values = rnd.shuffle(
      (1 to 200).flatMap(i => Seq.fill(3000 / i)(s"w$i")))
    val expect = exactTop(values, 10)
    assert(certified(values, 10) == expect)
    assert(certified(values, 10, parts = 1) == expect)
    assert(certified(values, 10, parts = 13) == expect)
  }

  test("certifiedTopK emits only the PROVEN prefix on near-uniform data " +
    "(never a guess), and every emitted row matches the exact ranking") {
    val rnd = new scala.util.Random(59)
    // 500 distinct items, all counts in [8, 12]: far more distinct than
    // counters, so delta is large and little (often nothing) is provable
    val values = rnd.shuffle(
      (1 to 500).flatMap(i => Seq.fill(8 + i % 5)(s"u$i")))
    val out = certified(values, 10)
    assert(out.size < 10, s"near-uniform data must not certify a full top-10: $out")
    val expect = exactTop(values, out.size)
    assert(out == expect, "whatever IS emitted must be the true prefix")
  }

  test("certifiedTopKGrouped: per-group proven prefixes equal per-group " +
    "ungrouped runs — skewed groups certify, near-uniform groups emit less") {
    val rnd = new scala.util.Random(67)
    val skewed = rnd.shuffle(
      (1 to 150).flatMap(i => Seq.fill(2000 / i)(s"w$i"))).map(("sk", _))
    val uniform = rnd.shuffle(
      (1 to 400).flatMap(i => Seq.fill(9 + i % 3)(s"u$i"))).map(("un", _))
    val rows = rnd.shuffle(skewed ++ uniform)
    val out = graft.operators.Sketches.certifiedTopKGrouped(
        rows.toDF("g", "x").repartition(5), "g", "x", 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq).toMap
    for (g <- Seq("sk", "un")) {
      val solo = certified(rows.filter(_._1 == g).map(_._2), 8)
      assert(out.getOrElse(g, Seq.empty) == solo, s"group $g")
    }
    assert(out("sk").size == 8, "the skewed group must certify a full top-8")
    assert(out.getOrElse("un", Seq.empty).size < 8,
      "the near-uniform group must emit only its proven prefix")
  }

  test("certifiedTopKGrouped: the bounded-groups precondition is " +
    "enforced in-plan, not prose") {
    spark.conf.set("spark.graft.certifiedTopKMaxGroups", "3")
    try {
      val rows = (1 to 5).flatMap(g => (1 to 30).map(i => (s"g$g", s"x${i % 4}")))
      val ex = intercept[Exception] {
        graft.operators.Sketches.certifiedTopKGrouped(
          rows.toDF("g", "x"), "g", "x", 2).collect()
      }
      assert(ex.getMessage.contains("certifiedTopKMaxGroups"), ex.getMessage)
      // under the cap the same shape passes
      val ok = (1 to 3).flatMap(g => (1 to 30).map(i => (s"g$g", s"x${i % 4}")))
      assert(graft.operators.Sketches.certifiedTopKGrouped(
        ok.toDF("g", "x"), "g", "x", 2).collect().nonEmpty)
    } finally spark.conf.unset("spark.graft.certifiedTopKMaxGroups")
  }
}
