package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{Change, FeedMsg, Level}

/** Streaming fold semantics: state carryover across micro-batches is
  * the load-bearing behavior (batch N's diff must see batch N-1's
  * snapshot), plus the windowed analytics and observed metrics.
  */
class StreamingReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def msg(
      lineNo: Long,
      eventType: String,
      asset: String = "A1",
      side: String = null,
      price: String = null,
      size: String = null,
      asks: Seq[Level] = null,
      bids: Seq[Level] = null,
      changes: Seq[Change] = null,
  ): FeedMsg =
    FeedMsg("2025-07-01-14", lineNo, 0, eventType, "0xM1", asset,
      ts = (1751378400000L + lineNo * 1000).toString,
      side = side, price = price, size = size, asks = asks, bids = bids, changes = changes)

  test("book state carries across micro-batches; BBO matches batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FeedMsg]
    val query = StreamingReplay
      .ticksStream(input.toDS())
      .writeStream
      .format("memory")
      .queryName("ticks_stream_test")
      .outputMode("append")
      .start()

    // batch 1: snapshot
    input.addData(msg(0, "book",
      asks = Seq(Level("0.55", "100")), bids = Seq(Level("0.52", "40"))))
    query.processAllAvailable()
    // batch 2: diff deleting the ask + trade — must see batch 1's book
    input.addData(
      msg(1, "price_change", changes = Seq(Change("0.55", "0", "SELL"))),
      msg(2, "last_trade_price", side = "SELL", price = "0.53", size = "7"))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("ticks_stream_test")
      .as[graft.model.Tick].collect().toSeq
      .sortBy(t => (t.line_no, t.emit_idx))
    assert(out.map(t => (t.kind, t.side, t.price, t.size)) == Seq(
      ("BBO", "ASK", 0.55, 100.0),
      ("BBO", "BID", 0.52, 40.0),
      ("BBO", "ASK", 0.0, 0.0), // diff applied to carried-over book
      ("BBO", "BID", 0.52, 40.0),
      ("TRADE", "ASK", 0.53, 7.0),
    ))
  }

  test("watermarked 1-minute BBO agg finalizes windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FeedMsg]
    val ticks = StreamingReplay.ticksStream(input.toDS())
    val query = StreamingReplay.bboMinutely(ticks)
      .writeStream.format("memory").queryName("bbo_minutely_test")
      .outputMode("append").start()

    input.addData(
      msg(0, "book", asks = Seq(Level("0.55", "1")), bids = Seq(Level("0.50", "1"))),
      msg(1, "price_change", changes = Seq(Change("0.54", "2", "SELL"))))
    query.processAllAvailable()
    // push event time far past the watermark so the first minute closes
    input.addData(msg(600, "price_change", changes = Seq(Change("0.53", "1", "SELL"))))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("bbo_minutely_test")
      .select($"side", $"last_price", $"n_events").as[(String, Double, Long)]
      .collect().toSet
    // minute 1: ASK last = 0.54 (after diff), BID last = 0.50, 2 events each
    assert(rows == Set(("ASK", 0.54, 2L), ("BID", 0.50, 2L)))
  }

  test("a non-numeric exchange timestamp is classified dirty and dropped " +
    "by the windowed aggs — the long-running stream must NOT die on it " +
    "(the reference carries the timestamp as a raw string end-to-end)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[graft.model.Tick]
    def tick(ts: String, mmIdx: Int) = graft.model.Tick(
      ts, "BBO", "0xM0", "A0", "ASK", 0.55, 1.0, "2025-07-01-14", mmIdx.toLong, 0, 0)
    val query = StreamingReplay.bboMinutely(input.toDS())
      .writeStream.format("memory").queryName("bbo_dirty_ts_test")
      .outputMode("append").start()
    input.addData(
      tick("1751378405000", 1),
      tick("not-a-number", 2), // dirty: must drop, not throw under ANSI
      tick("1751378406000", 3))
    query.processAllAvailable()
    // advance event time past the watermark so the first minute closes
    input.addData(tick("1751379200000", 4))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("bbo_dirty_ts_test")
      .select($"side", $"last_price", $"n_events").as[(String, Double, Long)]
      .collect().toSet
    // 2 clean events in the closed minute; the dirty tick contributes nothing
    assert(rows == Set(("ASK", 0.55, 2L)))
  }

  test("observed ingest metrics surface per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    @volatile var observed: Option[(Long, Long)] = None
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get("ingest")
        if (m != null) observed = Some((m.getAs[Long]("n_messages"), m.getAs[Long]("approx_bytes")))
      }
    }
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[FeedMsg]
      val query = StreamingReplay
        .ticksStream(StreamingReplay.withIngestMetrics(input.toDS()))
        .writeStream.format("memory").queryName("metrics_test")
        .outputMode("append").start()
      input.addData(
        msg(0, "book", asks = Seq(Level("0.55", "1")), bids = Seq(Level("0.50", "1"))),
        msg(1, "last_trade_price", side = "BUY", price = "0.5", size = "1"))
      query.processAllAvailable()
      query.stop()
      assert(observed.exists(_._1 == 2L))
      assert(observed.exists(_._2 > 0L))
    } finally spark.streams.removeListener(listener)
  }
}
