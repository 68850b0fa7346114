package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** S5 custom streaming source: DataSourceV2 contract, offset slicing,
  * admission control, and stream ≡ batch equivalence through the full
  * parse → fold pipeline.
  */
class FeedSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("batch read: deterministic frames, short name registration") {
    val df = spark.read.format("graft-feed")
      .option("totalFrames", 40).option("numPartitions", 3).load()
    val lines = df.collect().map(_.getString(0))
    assert(lines.length == 40)
    // pure function of the index: same options → same bytes
    val again = spark.read.format("graft-feed")
      .option("totalFrames", 40).option("numPartitions", 5).load()
      .collect().map(_.getString(0))
    assert(lines.sorted.sameElements(again.sorted))
    assert(lines.head.contains("active_markets")) // dimension frame first
    assert(lines.exists(_.contains("PONG"))) // F5 fodder present
    assert(lines.exists(_.contains("last_trade_price")))
  }

  test("streaming: AvailableNow drains in framesPerBatch chunks and " +
    "the folded ticks equal the batch-path fold") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_feed_ckpt").toString
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")

    val streamLines = spark.readStream.format("graft-feed")
      .option("totalFrames", 300).option("framesPerBatch", 75).load()
    val ticks = graft.streaming.StreamingReplay.ticksStream(
      RawLogSource.feedMessagesFromLines(streamLines))
    val q = ticks.writeStream
      .format("memory").queryName("graft_feed_spec")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // offsets advanced in admission-controlled chunks: 300/75 = 4 data
    // micro-batches (plus possible empty batches)
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length == 4)
    // numInputRows counts SOURCE rows (frame lines); parse-stage drops
    // (PONG, dim frame, unknown events) happen downstream of the count
    assert(dataBatches.map(_.numInputRows).sum == 300)

    val streamed = spark.table("graft_feed_spec")
      .select($"asset", $"kind", $"side", $"price", $"size", $"line_no", $"msg_idx")
      .collect().map(_.toSeq).toSet

    // batch path: same table via spark.read, same parse, batch fold
    val batchLines = spark.read.format("graft-feed").option("totalFrames", 300).load()
    val batchTicks = graft.operators.BookReplay.ticks(
      RawLogSource.feedMessagesFromLines(batchLines))
      .select($"asset", $"kind", $"side", $"price", $"size", $"line_no", $"msg_idx")
      .collect().map(_.toSeq).toSet

    assert(streamed == batchTicks && streamed.nonEmpty)
  }

  test("checkpoint recovery: a restarted query resumes from committed " +
    "offsets and processes only newly-arrived frames") {
    val ckpt = Files.createTempDirectory("graft_feed_resume").toString
    val outDir = Files.createTempDirectory("graft_feed_resume_out").toString
    // the memory sink can't recover from a checkpoint; the file sink can
    def drain(totalFrames: Int): Long = {
      val lines = spark.readStream.format("graft-feed")
        .option("totalFrames", totalFrames).option("framesPerBatch", 60).load()
      val q = lines.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).count()
    }
    assert(drain(150) == 150)
    // "more frames arrived"; same checkpoint → only the delta flows
    assert(drain(220) == 220)
    // nothing new → no replay, the total stays put
    assert(drain(220) == 220)
    // and the drained rows are exactly the distinct 220 frames
    assert(spark.read.parquet(outDir).distinct().count() == 220)
  }

  test("a user-supplied schema that differs from the fixed source " +
    "schema is rejected, not silently ignored") {
    import org.apache.spark.sql.types._
    val wrong = StructType(Seq(StructField("payload", StringType)))
    // public path: Spark itself refuses user schemas for providers
    // without external-metadata support
    intercept[UnsupportedOperationException] {
      spark.read.format("graft-feed").schema(wrong).load().count()
    }
    // direct-API path (e.g. a catalog integration calling getTable):
    // the provider's own guard catches a mismatched schema...
    val provider = new GraftFeedProvider
    val ex = intercept[IllegalArgumentException] {
      provider.getTable(wrong, Array.empty, new java.util.HashMap[String, String]())
    }
    assert(ex.getMessage.contains("fixed schema"))
    // ...and accepts the real one
    assert(provider.getTable(GraftFeed.schema, Array.empty,
      new java.util.HashMap[String, String]()).schema() == GraftFeed.schema)
  }
}
