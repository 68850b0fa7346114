package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Misra-Gries invariants under adversarial orders and forced merge
  * trees: counts never exceed truth, truth never exceeds count +
  * n/(K+1), and every item above the n/(K+1) frequency line is
  * guaranteed present — the properties the gate query pins.
  */
class MisraGriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def summary(values: Seq[String], parts: Int = 1): Map[String, Long] = {
    values.toDF("x").repartition(parts)
      .agg(call_function(MisraGries.Name, $"x").as("s"))
      .select(explode($"s").as("p"))
      .select($"p.item", $"p.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Zipf-ish stream: item i appears ~N/i times, plus a noise tail. */
  private def zipf(n: Int): Seq[String] =
    (1 to 40).flatMap(i => Seq.fill(n / i)(s"hot$i")) ++
      (1 to n).map(i => s"tail${i % (n / 2)}")

  test("exact below K distinct items, and counts are exact") {
    val vals = Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(5)("c")
    assert(summary(scala.util.Random.shuffle(vals)) ==
      Map("a" -> 30L, "b" -> 20L, "c" -> 5L))
  }

  test("invariants hold under sorted, reversed, shuffled orders and merges") {
    val base = zipf(4000)
    val n = base.size.toLong
    val slack = n / (MisraGries.K + 1)
    val truth = base.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val heavy = truth.filter(_._2 > slack).keySet
    assert(heavy.nonEmpty, "fixture must have guaranteed-heavy items")
    val orders = Seq(
      ("sorted", base.sorted, 1),
      ("reversed", base.sorted.reverse, 1),
      ("shuffled", new scala.util.Random(7).shuffle(base), 1),
      ("merged-16", base, 16),
    )
    for ((name, vals, parts) <- orders) {
      val s = summary(vals, parts)
      assert(s.size <= MisraGries.K, s"$name retained ${s.size} > K")
      for ((item, cnt) <- s) {
        val t = truth(item)
        assert(cnt <= t, s"$name: $item cnt=$cnt > true=$t")
        assert(t <= cnt + slack, s"$name: $item true=$t > cnt+slack=${cnt + slack}")
      }
      val missing = heavy -- s.keySet
      assert(missing.isEmpty, s"$name: guaranteed-heavy items missing: $missing")
    }
  }

  test("mg_merge of stored per-partition summaries keeps the full corpus " +
    "guarantees (the mergeable-summaries theorem, exercised as a rollup)") {
    val base = zipf(3000)
    val n = base.size.toLong
    val slack = n / (MisraGries.K + 1)
    val truth = base.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val heavy = truth.filter(_._2 > slack).keySet
    // 8 per-partition summaries "stored", then rolled up via mg_merge
    val parts = base.zipWithIndex.map { case (w, i) => (i % 8, w) }
    val stored = parts.toDF("part", "x").groupBy($"part")
      .agg(call_function(MisraGries.Name, $"x").as("s"))
    val rolled = stored.agg(call_function(MisraGries.MergeName, $"s").as("s"))
      .select(explode($"s").as("p")).select($"p.item", $"p.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled.size <= MisraGries.K)
    for ((item, cnt) <- rolled) {
      assert(cnt <= truth(item), s"$item over-counted through the rollup")
      assert(truth(item) <= cnt + slack, s"$item bound broken through the rollup")
    }
    assert((heavy -- rolled.keySet).isEmpty,
      "guaranteed-heavy items lost through the rollup")
  }

  test("per-group summaries are independent; nulls ignored") {
    val df = ((1 to 100).map(_ => ("g1", Some("x"))) ++
      (1 to 100).map(_ => ("g2", Some("y"))) ++
      Seq(("g1", None), ("g2", None))).toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(call_function(MisraGries.Name, $"v").as("s"))
      .select($"g", explode($"s").as("p"))
      .select($"g", $"p.item", $"p.cnt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSet == Set(("g1", "x", 100L), ("g2", "y", 100L)))
  }
}
