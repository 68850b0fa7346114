package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{Change, FeedMsg, Level, Tick}

/** Golden + randomized semantics of the distributed book fold
  * (FIXTURES.md §4 checklist; reference `tick_generator.rs:318-362`).
  */
class BookReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def msg(
      lineNo: Long,
      eventType: String,
      asset: String = "A1",
      market: String = "0xM1",
      fileHour: String = "2025-07-01-14",
      side: String = null,
      price: String = null,
      size: String = null,
      asks: Seq[Level] = null,
      bids: Seq[Level] = null,
      changes: Seq[Change] = null,
  ): FeedMsg =
    FeedMsg(fileHour, lineNo, 0, eventType, market, asset,
      ts = (1751378400000L + lineNo).toString,
      side = side, price = price, size = size,
      asks = asks, bids = bids, changes = changes)

  private def replay(
      msgs: Seq[FeedMsg],
      filter: Option[Set[String]] = None,
  ): Seq[Tick] = {
    import spark.implicits._
    BookReplay
      .ticks(spark.createDataset(msgs), filter)
      .collect()
      .toSeq
      .sortBy(t => (t.asset, t.file_hour, t.line_no, t.msg_idx, t.emit_idx))
  }

  private def brief(t: Tick) = (t.kind, t.side, t.price, t.size)

  test("golden: snapshot -> diff -> trade (FIXTURES.md §3)") {
    val out = replay(Seq(
      msg(0, "book",
        asks = Seq(Level("0.55", "100"), Level("0.60", "25")),
        bids = Seq(Level("0.52", "40"), Level("0.50", "200"))),
      msg(1, "price_change",
        changes = Seq(Change("0.55", "0", "SELL"), Change("0.53", "10", "BUY"))),
      msg(2, "last_trade_price", side = "BUY", price = "0.54", size = "15"),
    ))
    assert(out.map(brief) == Seq(
      ("BBO", "ASK", 0.55, 100.0),
      ("BBO", "BID", 0.52, 40.0),
      ("BBO", "ASK", 0.60, 25.0),
      ("BBO", "BID", 0.53, 10.0),
      ("TRADE", "BID", 0.54, 15.0), // wire BUY -> stored BID
    ))
    assert(out.forall(_.timestamp.nonEmpty))
    assert(out.head.timestamp == "1751378400000") // exchange-ms passthrough
  }

  test("diffs before any snapshot apply to an empty book (or_default)") {
    val out = replay(Seq(
      msg(0, "price_change", changes = Seq(Change("0.53", "10", "BUY")))))
    assert(out.map(brief) == Seq(
      ("BBO", "ASK", 0.0, 0.0), // never-touched side
      ("BBO", "BID", 0.53, 10.0),
    ))
  }

  test("deleting the last level empties the side -> (0,0)") {
    val out = replay(Seq(
      msg(0, "book", asks = Seq(Level("0.55", "1")), bids = Seq(Level("0.50", "1"))),
      msg(1, "price_change", changes = Seq(Change("0.55", "0", "SELL"))),
    ))
    assert(out.drop(2).map(brief) == Seq(
      ("BBO", "ASK", 0.0, 0.0),
      ("BBO", "BID", 0.50, 1.0),
    ))
  }

  test("re-snapshot fully resets prior state") {
    val out = replay(Seq(
      msg(0, "book", asks = Seq(Level("0.10", "9")), bids = Seq(Level("0.05", "9"))),
      msg(1, "book", asks = Seq(Level("0.70", "3")), bids = Seq(Level("0.60", "4"))),
    ))
    assert(out.drop(2).map(brief) == Seq(
      ("BBO", "ASK", 0.70, 3.0),
      ("BBO", "BID", 0.60, 4.0),
    ))
  }

  test("state carries across files within one run") {
    val out = replay(Seq(
      msg(0, "book", fileHour = "2025-07-01-14",
        asks = Seq(Level("0.55", "100")), bids = Seq(Level("0.52", "40"))),
      msg(0, "price_change", fileHour = "2025-07-01-15",
        changes = Seq(Change("0.54", "5", "SELL"))),
    ))
    // the second file's diff sees the first file's book
    assert(out.drop(2).map(brief) == Seq(
      ("BBO", "ASK", 0.54, 5.0),
      ("BBO", "BID", 0.52, 40.0),
    ))
  }

  test("market filter drops messages before they mutate state (F2)") {
    val wanted = Seq(
      msg(0, "book", asset = "A1", market = "0xM1",
        asks = Seq(Level("0.55", "1")), bids = Seq(Level("0.50", "1"))))
    val unwanted = Seq(
      // same ASSET id under a filtered-out market: must not leak state
      msg(1, "price_change", asset = "A1", market = "0xM2",
        changes = Seq(Change("0.10", "99", "SELL"))),
      msg(2, "last_trade_price", asset = "A9", market = "0xM2",
        side = "SELL", price = "0.9", size = "1"),
    )
    val out = replay(wanted ++ unwanted, filter = Some(Set("0xM1")))
    assert(out.map(brief) == Seq(
      ("BBO", "ASK", 0.55, 1.0),
      ("BBO", "BID", 0.50, 1.0),
    ))
  }

  test("BBO rows are emitted after every book event even if unchanged") {
    val out = replay(Seq(
      msg(0, "book", asks = Seq(Level("0.55", "1")), bids = Seq(Level("0.50", "1"))),
      msg(1, "price_change", changes = Seq(Change("0.80", "7", "SELL"))), // not top
    ))
    assert(out.size == 4)
    assert(out.drop(2).map(brief) == Seq(
      ("BBO", "ASK", 0.55, 1.0), // unchanged but re-emitted
      ("BBO", "BID", 0.50, 1.0),
    ))
  }

  /** Randomized oracle: after an arbitrary snapshot/diff sequence, each
    * emitted BBO equals min/max of an independently-maintained map
    * (SURVEY.md §5 property (b)).
    */
  test("randomized: BBO always equals recomputed top of a model book") {
    val rnd = new Random(7)
    def px(i: Int) = f"0.${1 + i}%02d"
    val msgs = (0 until 300).map { i =>
      if (rnd.nextInt(10) == 0)
        msg(i.toLong, "book",
          asks = Seq.fill(rnd.nextInt(4))(Level(px(50 + rnd.nextInt(40)), (1 + rnd.nextInt(99)).toString)),
          bids = Seq.fill(rnd.nextInt(4))(Level(px(rnd.nextInt(49)), (1 + rnd.nextInt(99)).toString)))
      else
        msg(i.toLong, "price_change",
          changes = Seq.fill(1 + rnd.nextInt(3))(Change(
            px(rnd.nextInt(90)),
            if (rnd.nextInt(4) == 0) "0" else (1 + rnd.nextInt(99)).toString,
            if (rnd.nextBoolean()) "BUY" else "SELL")))
    }
    val out = replay(msgs)

    // model: plain sorted maps, same semantics re-derived
    var asks = Map.empty[BigDecimal, BigDecimal]
    var bids = Map.empty[BigDecimal, BigDecimal]
    val expected = msgs.flatMap { m =>
      if (m.eventType == "book") {
        asks = Option(m.asks).getOrElse(Nil).map(l => BigDecimal(l.price) -> BigDecimal(l.size)).toMap
        bids = Option(m.bids).getOrElse(Nil).map(l => BigDecimal(l.price) -> BigDecimal(l.size)).toMap
      } else {
        m.changes.foreach { c =>
          val zero = BigDecimal(c.size) == 0
          if (c.side == "BUY") bids = if (zero) bids - BigDecimal(c.price) else bids + (BigDecimal(c.price) -> BigDecimal(c.size))
          else asks = if (zero) asks - BigDecimal(c.price) else asks + (BigDecimal(c.price) -> BigDecimal(c.size))
        }
      }
      val (ap, as) = asks.minByOption(_._1).map { case (p, s) => (p.toDouble, s.toDouble) }.getOrElse((0.0, 0.0))
      val (bp, bs) = bids.maxByOption(_._1).map { case (p, s) => (p.toDouble, s.toDouble) }.getOrElse((0.0, 0.0))
      Seq(("BBO", "ASK", ap, as), ("BBO", "BID", bp, bs))
    }
    assert(out.map(brief) == expected)
  }

  /** Property (c): an asset's ticks are invariant under interleaving
    * with other assets' messages.
    */
  test("randomized: per-asset output independent of other assets") {
    val rnd = new Random(11)
    def mk(asset: String, market: String, n: Int, offset: Int) =
      (0 until n).map { i =>
        msg((offset + i).toLong, "price_change", asset = asset, market = market,
          changes = Seq(Change(f"0.${1 + rnd.nextInt(98)}%02d",
            (rnd.nextInt(5)).toString, if (rnd.nextBoolean()) "BUY" else "SELL")))
      }
    val a = mk("A1", "0xM1", 50, 0)
    val b = mk("B1", "0xM2", 50, 1000)
    val aloneA = replay(a).filter(_.asset == "A1").map(brief)
    val mixed = replay(rnd.shuffle(a ++ b): Seq[FeedMsg]).filter(_.asset == "A1").map(brief)
    assert(aloneA == mixed)
  }

  test("ticksPreDistributed debug contract check catches a non-co-located input") {
    import spark.implicits._
    val msgs = (0 until 100).map(i =>
      msg(i.toLong, "price_change", asset = s"A${i % 5}",
        changes = Seq(Change("0.50", "1", "BUY"))))
    // round-robin partitioning scatters every asset across partitions —
    // exactly the silent-partial-book misuse the flag must catch
    val scattered = spark.createDataset(msgs).repartition(4)
    // co-located: hash-partitioned on the contract key
    val coLocated = spark.createDataset(msgs).repartition($"assetId")
    spark.conf.set("spark.graft.replay.assertPreDistributed", "true")
    spark.conf.set("spark.graft.replay.assertSampleMod", "1") // sample all
    try {
      val e = intercept[IllegalArgumentException] {
        BookReplay.ticksPreDistributed(scattered).collect()
      }
      assert(e.getMessage.contains("span multiple partitions"))
      // the same flag lets a correctly distributed input through
      assert(BookReplay.ticksPreDistributed(coLocated).collect().nonEmpty)
      // and the check is opt-in: off by default, misuse stays silent
      spark.conf.set("spark.graft.replay.assertPreDistributed", "false")
      BookReplay.ticksPreDistributed(scattered).collect()
    } finally {
      spark.conf.unset("spark.graft.replay.assertPreDistributed")
      spark.conf.unset("spark.graft.replay.assertSampleMod")
    }
  }

  test("a bucketed lake whose bucket spans several files replays like the shuffled fold") {
    import spark.implicits._
    // every diff adds a lower bid, so the best bid stays the asset's
    // first one and a fold that starts part-way through reads lower
    val msgs = (0 until 60).map(i =>
      msg(i.toLong, "price_change", asset = s"A${i % 2}",
        changes = Seq(Change(f"0.${70 - i}%02d", "1", "BUY"))))
    val wh = java.nio.file.Files.createTempDirectory("graft_multi_file_lake").toString
    try {
      // four round-robin writer tasks: the one bucket is four files
      // (an append to a lake leaves such buckets; `writeBucketedLake`
      // itself writes one file per bucket)
      spark.createDataset(msgs).repartition(4).write.mode("overwrite")
        .option("path", wh)
        .bucketBy(1, "assetId")
        .sortBy("assetId", "fileHour", "lineNo", "msgIdx")
        .saveAsTable("graft_multi_file_lake")
      val lake = graft.sources.Sinks.readBucketedLake(spark, "graft_multi_file_lake")
      assert(BookReplay.ticksPreDistributed(lake).collect().toSeq.sortBy(_.toString) ==
        replay(msgs).sortBy(_.toString))
    } finally spark.sql("DROP TABLE IF EXISTS graft_multi_file_lake")
  }

  test("writeBucketedLake writes one file per non-empty bucket") {
    import spark.implicits._
    val msgs = (0 until 40).map(i =>
      msg(i.toLong, "last_trade_price", asset = s"A${i % 4}", side = "BUY",
        price = "0.5", size = "1"))
    val wh = java.nio.file.Files.createTempDirectory("graft_lake_files").toString
    try {
      // four round-robin partitions, each holding every asset
      graft.sources.Sinks.writeBucketedLake(
        spark.createDataset(msgs).repartition(4), "graft_lake_files", wh, nBuckets = 3)
      val buckets = new java.io.File(wh).list().toSeq.filter(_.endsWith(".parquet"))
        .flatMap(org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId)
      assert(buckets.nonEmpty && buckets.size == buckets.distinct.size, s"bucket files: $buckets")
      assert(buckets.distinct.size == graft.sources.Sinks.readBucketedLake(spark, "graft_lake_files")
        .selectExpr("pmod(hash(assetId), 3)").distinct().count())
    } finally spark.sql("DROP TABLE IF EXISTS graft_lake_files")
  }
}
