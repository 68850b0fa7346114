package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** bottomk_hash: exact agreement with a scalar re-derivation,
  * mergeable-state invariance (partitioning, duplication), k-trim,
  * and null/type handling.
  */
class BottomKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sketch(values: Seq[String], k: Int, parts: Int): Seq[Long] = {
    import spark.implicits._
    values.toDF("v").repartition(parts)
      .agg(call_function(BottomK.Name, $"v", lit(k)).as("hs"))
      .head().getSeq[Long](0)
  }

  private def ref(values: Seq[String], k: Int): Seq[Long] =
    values.distinct.map(v => Fnv63.hash(v.getBytes("UTF-8"))).distinct
      .sorted.take(k)

  test("k smallest distinct hashes, ascending — exact vs scalar re-derivation") {
    val vs = (0 until 1000).map(i => s"doc_$i")
    assert(sketch(vs, 50, 1) === ref(vs, 50))
  }

  test("partitioning and duplication never change the sketch") {
    val vs = (0 until 500).map(i => s"v$i")
    val base = sketch(vs, 64, 1)
    assert(sketch(vs, 64, 32) === base)
    assert(sketch(vs ++ vs ++ vs, 64, 7) === base)
  }

  test("fewer distinct values than k returns them all") {
    val vs = Seq("a", "b", "c", "a", "b")
    val got = sketch(vs, 100, 2)
    assert(got.length == 3)
    assert(got === ref(vs, 100))
  }

  test("nulls are ignored") {
    import spark.implicits._
    val got = (Seq("a", "b") ++ Seq.fill(10)(null: String)).toDF("v")
      .agg(call_function(BottomK.Name, $"v", lit(5)).as("hs"))
      .head().getSeq[Long](0)
    assert(got === ref(Seq("a", "b"), 5))
  }

  test("non-foldable or invalid k fails analysis") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq("a").toDF("v")
        .agg(call_function(BottomK.Name, $"v", lit(0))).head()
    }
    assert(e.getMessage.contains("k >= 1"))
  }
}
