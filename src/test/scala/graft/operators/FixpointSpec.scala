package graft.operators

import org.apache.spark.JobDescriptions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** What every iterative operator's round loop relies on, pinned once on
  * a toy loop: a countdown whose rows tick `left` down to 0, flagging
  * the rows that moved (so round r changes the rows with left ≥ r, and
  * the loop drains after max(left) rounds).
  */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def countdown(op: String, lefts: Seq[Long], maxIters: Int,
      static: Option[DataFrame] = None): DataFrame =
    Fixpoint.run(op, lefts.toDF("left").withColumn("chg", lit(true)), maxIters) {
      (state, _) =>
      val s = static.fold(state)(t => state.crossJoin(t.select(max($"one").as("one")))
        .drop("one"))
      s.select(greatest($"left" - 1L, lit(0L)).as("left"), ($"left" > 0L).as("chg"))
    }

  private def rounds(descs: Seq[String], op: String): Map[Int, Int] =
    descs.filter(_.startsWith(s"$op round ")).groupBy(_.stripPrefix(s"$op round ").toInt)
      .map { case (r, jobs) => r -> jobs.size }

  test("one Spark job per round, attributed to the round by its job " +
    "description; the caller's description is restored") {
    spark.sparkContext.setJobDescription("caller")
    try {
      val (out, descs) = JobDescriptions.during(spark.sparkContext) {
        countdown("toy", Seq(3L, 1L, 0L, 2L), maxIters = 10).collect()
      }
      assert(out.map(_.getLong(0)).toSeq == Seq(0L, 0L, 0L, 0L))
      // rounds 1..3 tick the counters down, round 4 sees no change
      assert(rounds(descs, "toy") == (0 to 4).map(_ -> 1).toMap, descs)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller")
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("non-convergence throws naming the operator and maxIters, with no " +
    "partial result") {
    var got: Option[DataFrame] = None
    val ex = intercept[IllegalArgumentException] {
      got = Some(countdown("toyNoFix", Seq(9L), maxIters = 3))
    }
    assert(ex.getMessage.contains("toyNoFix did not converge in 3 rounds"), ex.getMessage)
    assert(got.isEmpty)
  }

  test("the label-cap guard raises before round r+1 launches any job") {
    val key = "spark.graft.temporalLabelMaxRows"
    spark.conf.set(key, "10")
    try {
      // 4 fresh labels per round: the total is 4, 8, 12 after rounds 0..2
      val (res, descs) = JobDescriptions.during(spark.sparkContext) {
        scala.util.Try(Fixpoint.run("toyCap",
          (1L to 4L).toDF("n").withColumn("chg", lit(true)), maxIters = 10,
          done = Fixpoint.labelCapped(spark, "toyCap", "shrink the toy")) {
          (state, r) => state.select(($"n" + 4L * r.index).as("n"), lit(true).as("chg"))
        }.collect())
      }
      val ex = res.failed.get
      assert(ex.isInstanceOf[IllegalArgumentException])
      assert(ex.getMessage.contains("temporalLabelMaxRows") &&
        ex.getMessage.contains("12 rows entering round 3") &&
        ex.getMessage.contains("shrink the toy"), ex.getMessage)
      assert(rounds(descs, "toyCap").keySet == Set(0, 1, 2), descs)
    } finally spark.conf.unset(key)
  }

  test("reliable mode leaves rdd-* dirs only for the live round and the " +
    "static tables") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_fixpoint_ck").toString
    spark.conf.set(Lineage.ReliableKey, "true")
    spark.conf.set(Lineage.DirKey, ckDir)
    try {
      // the context checkpoint dir is once-per-context: scan the real one
      def rddDirs(): Set[String] = {
        val actual = new java.io.File(new java.net.URI(
          spark.sparkContext.getCheckpointDir.getOrElse("file://" + ckDir)).getPath)
        Option(actual.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("rdd-")).map(_.getName).toSet
      }
      val before = rddDirs()
      val static = Lineage.cut(Seq(1L).toDF("one"))
      val out = countdown("toyReliable", Seq(5L, 2L), maxIters = 10, Some(static))
      assert(out.collect().map(_.getLong(0)).toSeq == Seq(0L, 0L))
      assert((rddDirs() -- before).size == 2, "expected the static table + the live round")
      // a failed loop releases its live round too
      intercept[IllegalArgumentException](countdown("toyReliable", Seq(5L), maxIters = 2))
      assert((rddDirs() -- before).size == 2)
      Seq(out, static).foreach(Lineage.release)
      assert((rddDirs() -- before).isEmpty)
    } finally {
      spark.conf.set(Lineage.ReliableKey, "false")
      spark.conf.unset(Lineage.DirKey)
    }
  }
}
