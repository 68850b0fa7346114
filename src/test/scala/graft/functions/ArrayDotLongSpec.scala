package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.VectorSim

/** Native codegen'd dot product: equivalence with the HOF kernel,
  * null handling, and codegen participation.
  */
class ArrayDotLongSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native dot equals HOF dot on random vectors, nulls propagate") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 200).map { i =>
      (i.toLong,
        Seq.fill(64)(rnd.nextLong() % 1000),
        Seq.fill(64)(rnd.nextLong() % 1000))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
      VectorSim.qdot($"a", $"b").as("hof"),
      VectorSim.qdotNative($"a", $"b").as("native"))
    assert(both.filter($"hof" =!= $"native").count() == 0)

    val withNull = Seq((1L, Seq(1L, 2L), null: Seq[Long])).toDF("id", "a", "b")
    assert(withNull.select(VectorSim.qdotNative($"a", $"b")).head().isNullAt(0))
  }

  test("registration is idempotent and SQL-callable") {
    // a fresh session holds only what GraftExtensions injects
    val fresh = spark.newSession()
    val r = fresh.sql("SELECT array_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .head().getLong(0)
    assert(r == 4 + 10 + 18)
    // min-length zip semantics, same as zip_with
    val short = fresh.sql("SELECT array_dot_long(array(2L), array(10L, 99L)) AS d")
      .head().getLong(0)
    assert(short == 20)
  }

  test("the expression participates in whole-stage codegen") {
    val df = spark.range(10)
      .select(VectorSim.qdotNative(
        array(lit(1L), lit(2L)), array($"id", $"id")).as("d"))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expression fell out of codegen:\n$plan")
    assert(df.agg(sum($"d")).head().getLong(0) == (0 until 10).map(i => 3L * i).sum)
  }
}
