package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{Change, FeedMsg, Level, Tick}

/** The one stream book fold (`StreamingReplay.ticksStream`) gives the
  * same ticks on the RocksDB state store as on the default provider,
  * with the book state carried across micro-batches. TTL eviction on
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
        side = "SELL", price = "0.31", size = "7")))

  /** `ticksStream` over the two micro-batches: the ticks, and whether
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
    val ticks = s.table(name).as[Tick].collect().toSeq
      .sortBy(t => (t.asset, t.line_no, t.emit_idx))
      .map(t => (t.asset, t.kind, t.side, t.price, t.size, t.line_no))
    (ticks, onRocks)
  }

  test("ticksStream on RocksDB equals ticksStream on the default provider " +
    "across micro-batches (state carryover parity)") {
    val (rocks, rocksOnRocks) = run(session(Some(RocksDb)), "rocks_parity")
    val (dflt, dfltOnRocks) = run(session(None), "default_parity")
    assert(rocksOnRocks && !dfltOnRocks)
    assert(rocks.nonEmpty && rocks == dflt)
  }
}
