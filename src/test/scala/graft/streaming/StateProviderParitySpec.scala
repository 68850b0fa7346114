package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{Change, FeedMsg, Level, Tick}
import graft.operators.BookReplay

/** The one stream book fold (`StreamingReplay.ticksStream`) gives the
  * same ticks on the RocksDB state store as on the default provider,
  * and as the batch fold over the same messages: the book state
  * carried across micro-batches round-trips exactly. TTL eviction on
  * RocksDB is spec'd in LiveIngestSpec.
  */
class StateProviderParitySpec extends AnyFunSuite {

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def session(provider: Option[String]) = {
    val s = TestSpark.spark.newSession()
    provider.foreach(s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def msg(
      lineNo: Long,
      eventType: String,
      asset: String,
      side: String = null,
      price: String = null,
      size: String = null,
      asks: Seq[Level] = null,
      bids: Seq[Level] = null,
      changes: Seq[Change] = null,
  ): FeedMsg =
    FeedMsg("2025-07-01-14", lineNo, 0, eventType, "0xM1", asset,
      ts = (1751378400000L + lineNo * 1000).toString,
      side = side, price = price, size = size,
      asks = asks, bids = bids, changes = changes)

  /** Three micro-batches. Each of these crosses a batch boundary in
    * the state: a zero-size snapshot level (C1's 0.60 ask, kept at
    * size 0), a `"0.550"` diff deleting the `"0.55"` level (C1), a bid
    * deleted by a `BUY` zero diff (B1), and a size with more than 18
    * fractional digits (A1's 0.53 bid).
    */
  private val batches = Seq(
    Seq(
      msg(0, "book", asset = "A1",
        asks = Seq(Level("0.55", "100")), bids = Seq(Level("0.52", "40"))),
      msg(1, "book", asset = "B1",
        asks = Seq(Level("0.70", "1")), bids = Seq(Level("0.30", "2")))),
    Seq(
      msg(2, "price_change", asset = "A1",
        changes = Seq(Change("0.55", "0", "SELL"))),
      msg(3, "last_trade_price", asset = "B1",
        side = "SELL", price = "0.31", size = "7"),
      msg(4, "price_change", asset = "A1",
        changes = Seq(Change("0.53", "0.00000000000000000012345", "BUY"))),
      msg(5, "book", asset = "C1",
        asks = Seq(Level("0.55", "7"), Level("0.60", "0")), bids = Seq(Level("0.40", "5")))),
    Seq(
      msg(6, "price_change", asset = "A1",
        changes = Seq(Change("0.58", "2", "SELL"))),
      msg(7, "price_change", asset = "B1",
        changes = Seq(Change("0.30", "0", "BUY"))),
      msg(8, "price_change", asset = "C1",
        changes = Seq(Change("0.550", "0", "SELL")))))

  private def rows(ticks: Seq[Tick]) = ticks
    .sortBy(t => (t.asset, t.line_no, t.emit_idx))
    .map(t => (t.asset, t.kind, t.side, t.price, t.size, t.line_no))

  /** `ticksStream` over the three micro-batches: the ticks, and whether
    * the state operator reported RocksDB metrics (the provider in force). */
  private def run(s: SparkSession, name: String) = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[FeedMsg]
    val q = StreamingReplay.ticksStream(input.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable()
    }
    val onRocks = q.lastProgress.stateOperators.head.customMetrics.keySet
      .toArray.exists(_.toString.startsWith("rocksdb"))
    q.stop()
    (rows(s.table(name).as[Tick].collect().toSeq), onRocks)
  }

  test("ticksStream on RocksDB equals ticksStream on the default provider " +
    "across micro-batches (state carryover parity)") {
    val (rocks, rocksOnRocks) = run(session(Some(RocksDb)), "rocks_parity")
    val (dflt, dfltOnRocks) = run(session(None), "default_parity")
    assert(rocksOnRocks && !dfltOnRocks)
    assert(rocks == dflt)
    val s = TestSpark.spark
    import s.implicits._
    assert(dflt == rows(BookReplay.ticks(batches.flatten.toDS()).collect().toSeq))
    // the third batch's ticks, each read from a book carried over a boundary
    assert(dflt.collect { case (a, _, side, p, sz, line) if line >= 6 => (a, side, p, sz) } == Seq(
      ("A1", "ASK", 0.58, 2.0),
      ("A1", "BID", 0.53, 1.2345e-19),
      ("B1", "ASK", 0.70, 1.0),
      ("B1", "BID", 0.0, 0.0),
      ("C1", "ASK", 0.60, 0.0),
      ("C1", "BID", 0.40, 5.0)))
  }
}
