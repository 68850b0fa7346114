package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, expr, upper}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The scoped-conf helpers' restore contract: every key they touch is
  * restored after the scope — on success AND on failure — because the
  * hand-rolled sites they replaced kept leaking `noDataMicroBatches`
  * session-wide (set-without-restore) across ~30 gates. `streamGate`,
  * the one streaming-gate body, must also return what a batch run of
  * the same plan returns.
  */
class ScopedConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val PartsKey = "spark.sql.shuffle.partitions"
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  test("withShufflePartitions: fixed override inside, restored after, " +
    "also when the body throws") {
    val before = spark.conf.get(PartsKey)
    ScopedConf.withShufflePartitions(spark, 3) {
      assert(spark.conf.get(PartsKey) == "3")
    }
    assert(spark.conf.get(PartsKey) == before)
    intercept[RuntimeException] {
      ScopedConf.withShufflePartitions(spark, 5)(throw new RuntimeException("x"))
    }
    assert(spark.conf.get(PartsKey) == before)
  }

  /** A fresh directory with one text file per `lines` entry; its path. */
  private def textSource(lines: Seq[String]*): String = {
    val dir = Files.createTempDirectory("scopedconf-src")
    lines.zipWithIndex.foreach { case (ls, i) =>
      Files.write(dir.resolve(s"part$i.txt"), ls.mkString("", "\n", "\n").getBytes)
    }
    dir.toString
  }

  private def stream(dir: String): DataFrame =
    spark.readStream.schema("value STRING").text(dir)

  test("streamGate: partitions + noDataMicroBatches set while the plan " +
    "is built, BOTH restored after — including a previously-customized noData value") {
    val beforeParts = spark.conf.get(PartsKey)
    val dir = textSource(Seq("x"))
    spark.conf.set(NoDataKey, "false")
    try {
      val out = ScopedConf.streamGate(spark, "graft_scopedconf_spec_sink") {
        assert(spark.conf.get(PartsKey) == "8")
        assert(spark.conf.get(NoDataKey) == "true")
        stream(dir)
      }
      assert(out.count() == 1)
      assert(spark.conf.get(PartsKey) == beforeParts)
      assert(spark.conf.get(NoDataKey) == "false",
        "the hand-rolled sites leaked this key; the gate body must not")
    } finally spark.conf.unset(NoDataKey)
  }

  test("streamGate: rocksDb pins the provider while the plan is built and " +
    "restores the session's previous value, also when the plan throws") {
    val prev = spark.conf.getOption(ProviderKey)
    intercept[RuntimeException] {
      ScopedConf.streamGate(
        spark, "graft_scopedconf_spec_sink", partitions = 2, rocksDb = true) {
        assert(spark.conf.get(PartsKey) == "2")
        assert(spark.conf.get(ProviderKey).contains("RocksDB"))
        throw new RuntimeException("x")
      }
    }
    assert(spark.conf.getOption(ProviderKey) == prev)
  }

  test("streamGate: a finished query of the same sink name does not " +
    "collide, and the table holds only the new run's rows") {
    val sinkName = "graft_scopedconf_spec_stream"
    val q = stream(textSource(Seq("old")))
      .writeStream.format("memory").queryName(sinkName)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the finished-but-registered query must not break the next gate
    val out = ScopedConf.streamGate(spark, sinkName) {
      assert(!spark.streams.active.exists(x => Option(x.name).contains(sinkName)))
      stream(textSource(Seq("new1", "new2")))
    }
    assert(out.as[String](Encoders.STRING).collect().sorted.toSeq == Seq("new1", "new2"))
  }

  test("streamGate returns the table a batch run of the same plan " +
    "gives, in append and in complete mode") {
    val dir = textSource(Seq("a", "b", "a"), Seq("c", "a"), Seq("b"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def appendPlan(df: DataFrame) = df.select(upper(col("value")).as("v"))
    def completePlan(df: DataFrame) = df.groupBy(col("value")).count()
    val batch = spark.read.schema("value STRING").text(dir)
    assert(rows(ScopedConf.streamGate(spark, "graft_scopedconf_spec_append") {
      appendPlan(stream(dir))
    }) == rows(appendPlan(batch)))
    assert(rows(ScopedConf.streamGate(spark, "graft_scopedconf_spec_complete", "complete") {
      completePlan(stream(dir))
    }) == rows(completePlan(batch)))
  }

  test("streamGate: a query that fails at runtime makes the gate throw, " +
    "and every session setting is still restored") {
    val beforeParts = spark.conf.get(PartsKey)
    val prevProvider = spark.conf.getOption(ProviderKey)
    val dir = textSource(Seq("x"))
    spark.conf.set(NoDataKey, "false")
    try {
      val e = intercept[StreamingQueryException] {
        ScopedConf.streamGate(
          spark, "graft_scopedconf_spec_fail", partitions = 3, rocksDb = true) {
          stream(dir).select(expr("raise_error(concat('boom ', value))"))
        }
      }
      assert(e.getMessage.contains("boom x"))
      assert(spark.conf.get(PartsKey) == beforeParts)
      assert(spark.conf.get(NoDataKey) == "false")
      assert(spark.conf.getOption(ProviderKey) == prevProvider)
    } finally spark.conf.unset(NoDataKey)
  }
}
