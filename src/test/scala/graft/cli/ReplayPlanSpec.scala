package graft.cli

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobDescriptions
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Tick
import graft.operators.BookReplay
import graft.sources.{FixtureLog, RawLogSource}

/** The CLI replay's plan shape and the ordered fold's order contract. */
class ReplayPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 6 hour files: the scan reads them as 4 contiguous runs on local[4]
  private lazy val day = {
    val d = Files.createTempDirectory("graft_replay_plan").toString
    FixtureLog.write(FixtureLog.Spec(dir = d, nFiles = 6, framesPerFile = 40))
    d
  }

  private def msgs = RawLogSource.feedMessagesIn(spark, day)

  test("cli replay of a day runs at most 2 jobs, writes no shuffle, and " +
    "plans no Exchange and no Sort") {
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val plans = new ConcurrentLinkedQueue[String]
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = Files.createTempDirectory("graft_replay_plan_out").toString + "/ticks"
    spark.listenerManager.register(planListener)
    try JobDescriptions.listening(spark.sparkContext, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(Main.run(spark, List("replay", "--in", day, "--out", out)))
    finally spark.listenerManager.unregister(planListener)
    assert(jobs.get <= 2, s"${jobs.get} jobs")
    assert(shuffleBytes.get == 0L)
    assert(!plans.isEmpty)
    plans.asScala.foreach { p =>
      assert(!p.contains("Exchange") && !p.contains("Sort ["), s"replay plan:\n$p")
    }
    assert(spark.read.parquet(out).count() == BookReplay.ticks(msgs).count())
  }

  test("ordered replay equals the shuffled fold put in arrival order, " +
    "also when one task reads every partition") {
    val shuffled = BookReplay.reference(BookReplay.ticks(msgs)
      .orderBy("file_hour", "line_no", "msg_idx", "emit_idx"))
      .collect().toSeq
    assert(shuffled.nonEmpty)
    assert(BookReplay.referenceTicks(msgs).collect().toSeq == shuffled)
    assert(BookReplay.referenceTicks(msgs).coalesce(1).collect().toSeq == shuffled)
  }

  test("ordered replay over a repartitioned scan fails on the order " +
    "contract, naming a partition") {
    val e = intercept[IllegalStateException](
      BookReplay.referenceTicks(msgs.repartition(3)).collect())
    assert(e.getMessage.matches("(?s).*partition \\d.*"), e.getMessage)
  }

  test("replay --partition-by-hour writes the shuffled fold's 11-column " +
    "tick multiset") {
    val out = Files.createTempDirectory("graft_replay_by_hour").toString + "/ticks"
    Main.run(spark, List("replay", "--in", day, "--partition-by-hour", "--out", out))
    val cols = Encoders.product[Tick].schema.fieldNames.toSeq
    def rows(df: DataFrame) =
      df.selectExpr(cols.map(c => s"CAST($c AS STRING) AS $c"): _*)
        .collect().map(_.toString).sorted.toSeq
    val written = rows(spark.read.parquet(out))
    assert(written.nonEmpty && written == rows(BookReplay.ticks(msgs).toDF()))
  }
}
