package graft.sources

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import com.github.luben.zstd.ZstdOutputStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Scan-layer semantics over generated reference-format logs
  * (FIXTURES.md §1-2): stable line numbers, frame/message parsing,
  * PONG + unknown-event filtering, hour-range discovery, open-schema
  * market dim, the scan's task layout and batch-file order.
  */
class RawLogSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir =
    Files.createTempDirectory("graft_rawlog_spec").toString
  private lazy val spec = FixtureLog.Spec(dir = dir, nFiles = 3, framesPerFile = 80)
  private lazy val paths = FixtureLog.write(spec)

  test("fileHourOf parses the hour key from a path") {
    assert(RawLogSource.fileHourOf("/x/y/2025-07-01-14.jsonl.zst") == "2025-07-01-14")
  }

  test("discover prunes by hour range and sorts (S7/F4)") {
    paths // force write
    val all = RawLogSource.discover(dir)
    assert(all.size == 3 && all == all.sorted)
    val pruned = RawLogSource.discover(dir,
      startHour = Some("2025-07-01-11"), endHour = Some("2025-07-01-11"))
    assert(pruned.map(RawLogSource.fileHourOf) == Seq("2025-07-01-11"))
    assert(RawLogSource.discover(dir, startHour = Some("2025-07-01-12")).size == 1)
  }

  test("discover orders mixed legacy .bN and zero-padded .bNNNNNNNNN " +
    "batch files numerically within an hour") {
    val d = Files.createTempDirectory("graft_batch_order").toString
    // legacy names (pre-padding sink) interleaved with current names:
    // plain lexicographic order would put EVERY padded name before
    // EVERY legacy name ('0' < any digit)
    val names = Seq(
      "2025-07-01-10.b2.jsonl.zst",         // legacy batch 2
      "2025-07-01-10.b000000010.jsonl.zst", // padded batch 10
      "2025-07-01-10.b10.jsonl.zst",        // legacy batch 10 (dup id ok)
      "2025-07-01-10.b000000003.jsonl.zst", // padded batch 3
      "2025-07-01-11.b000000001.jsonl.zst", // later hour, earlier batch
      "2025-07-01-10.b1.jsonl.zst",         // legacy batch 1
    )
    names.foreach(n => Files.createFile(java.nio.file.Paths.get(d, n)))
    val got = RawLogSource.discover(d).map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(got == Seq(
      "2025-07-01-10.b1.jsonl.zst",
      "2025-07-01-10.b2.jsonl.zst",
      "2025-07-01-10.b000000003.jsonl.zst",
      "2025-07-01-10.b000000010.jsonl.zst", // padded-vs-legacy tie on 10:
      "2025-07-01-10.b10.jsonl.zst",        // key-equal, input order kept
      "2025-07-01-11.b000000001.jsonl.zst",
    ) || got == Seq(
      "2025-07-01-10.b1.jsonl.zst",
      "2025-07-01-10.b2.jsonl.zst",
      "2025-07-01-10.b000000003.jsonl.zst",
      "2025-07-01-10.b10.jsonl.zst",
      "2025-07-01-10.b000000010.jsonl.zst",
      "2025-07-01-11.b000000001.jsonl.zst",
    ), s"got $got")
  }

  test("replayOrderKey re-pads ADJACENT batch segments (the terminator " +
    "dot is shared, so the match must not consume it)") {
    // `.b1.b2.` — the first segment's trailing dot IS the second's
    // leading dot; a consuming regex would leave `.b2.` lexicographic
    val k = RawLogSource.replayOrderKey("2025-07-01-10.b1.b2.jsonl.zst")
    assert(k == "2025-07-01-10.b" + "0" * 17 + "1.b" + "0" * 17 + "2.jsonl.zst", k)
  }

  test("frames: stable per-file line numbers, strict field decode") {
    val frames = RawLogSource.frames(spark, paths).collect()
    // one frame per written line
    assert(frames.length == 3 * (spec.framesPerFile + 3))
    val byFile = frames.groupBy(_.fileHour)
    assert(byFile.keySet == Set("2025-07-01-10", "2025-07-01-11", "2025-07-01-12"))
    byFile.values.foreach { fs =>
      val lines = fs.map(_.lineNo).sorted
      assert(lines.toSeq == (0L until fs.length).toSeq) // dense, zero-based
    }
    // first line after rotation is the dimension frame
    assert(byFile("2025-07-01-10").minBy(_.lineNo).messageType == "active_markets")
    assert(frames.forall(_.frameTs.nonEmpty))
    // object payloads preserved as JSON text
    val dim = frames.find(_.messageType == "active_markets").get
    assert(dim.content.startsWith("{") && dim.content.contains("\"markets\""))
  }

  test("feedMessages: PONG skipped (F5), unknown events dropped (F6)") {
    val frames = RawLogSource.frames(spark, paths)
    val raw = frames.collect()
    val nPong = raw.count(f => f.messageType == "feed_message" && f.content == "PONG")
    assert(nPong > 0, "fixture must contain PONGs")
    val msgs = RawLogSource.feedMessages(frames).collect()
    assert(msgs.nonEmpty)
    assert(msgs.forall(m => Set("book", "price_change", "last_trade_price")(m.eventType)))
    // no message came from a PONG or operational frame
    val feedLines = raw.filter(f =>
      f.messageType == "feed_message" && f.content != "PONG").map(f => (f.fileHour, f.lineNo)).toSet
    assert(msgs.forall(m => feedLines((m.fileHour, m.lineNo))))
    // double-encoded payload fields land typed
    val book = msgs.find(_.eventType == "book").get
    assert(book.asks.nonEmpty && book.asks.head.price.startsWith("0."))
    val trade = msgs.find(_.eventType == "last_trade_price").get
    assert(Set("BUY", "SELL")(trade.side) && trade.ts.forall(_.isDigit))
  }

  test("markets dim: typed core + open-schema remainder (S2/F1/F7)") {
    val frames = RawLogSource.frames(spark, paths.take(1))
    val ms = MarketsDim.markets(frames).collect()
    assert(ms.nonEmpty)
    assert(ms.forall(_.other_json.contains("neg_risk"))) // unmodeled key kept
    assert(ms.forall(_.tokens.forall(_.other_json.contains("extra_tag"))))
    // F1: the fixture's last market is closed -> filtered out
    val active = MarketsDim.activeMarkets(
      MarketsDim.markets(frames)).collect()
    assert(active.map(_.condition_id).toSet == Set("0xM0"))
    // F7: token dim of ACTIVE markets only
    val dim = MarketsDim.tokenDim(MarketsDim.activeMarkets(MarketsDim.markets(frames))).collect()
    assert(dim.map(_.getAs[String]("token_id")).sorted.toSeq == Seq("A0", "A1"))
    assert(dim.map(_.getAs[String]("outcome")).sorted.toSeq == Seq("No", "Yes"))
  }

  test("full pipeline ticks are deterministic across reads") {
    val t1 = graft.operators.BookReplay
      .referenceTicks(RawLogSource.feedMessages(RawLogSource.frames(spark, paths)))
      .collect().toSeq
    val t2 = graft.operators.BookReplay
      .referenceTicks(RawLogSource.feedMessages(RawLogSource.frames(spark, paths)))
      .collect().toSeq
    assert(t1 == t2 && t1.nonEmpty)
  }

  test("a 24-file fixture day names valid, increasing hours past midnight " +
    "and the line parse keeps every message") {
    val day = FixtureLog.Spec(
      dir = Files.createTempDirectory("graft_fixture_day").toString,
      nFiles = 24, framesPerFile = 20, compress = false)
    val hours = FixtureLog.write(day).map(RawLogSource.fileHourOf)
    val strict = java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd-HH")
      .withResolverStyle(java.time.format.ResolverStyle.STRICT)
    hours.foreach(h => strict.parse(h)) // throws on hour 24 and above
    assert(hours.zip(hours.tail).forall { case (a, b) => a < b })
    assert(hours.head == "2025-07-01-10" && hours(14) == "2025-07-02-00")
    val msgs = RawLogSource.feedMessagesFromLines(spark.read.text(day.dir))
    val expected = FixtureLog.feedMessages(day)
    assert(msgs.count() == expected.size)
    // receipt times bucket into the hour the file is named after
    assert(msgs.select("fileHour").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      expected.map(_.file_hour).distinct.sorted)
  }

  /** One zstd log file of feed frames, each carrying `content` verbatim. */
  private def writeFeedLog(file: File, contents: Seq[String]): Unit = {
    val mapper = new ObjectMapper()
    val out = new OutputStreamWriter(
      new ZstdOutputStream(new FileOutputStream(file)), StandardCharsets.UTF_8)
    try contents.foreach { c =>
      val frame = mapper.createObjectNode()
        .put("timestamp", "2025-07-01T10:00:00+00:00")
        .put("message_type", "feed_message")
        .put("content", c)
      out.write(mapper.writeValueAsString(frame) + "\n")
    } finally out.close()
  }

  test("the batch files of one hour fold one after another, not line by line") {
    val d = Files.createTempDirectory("graft_batch_fold").toFile
    val head = """"asset_id":"A1","market":"0xM1","timestamp":"1751378400000""""
    def askChange(size: String) =
      s"""[{"event_type":"price_change",$head,"changes":[{"price":"0.55","size":"$size","side":"SELL"}]}]"""
    writeFeedLog(new File(d, "2025-07-01-10.b000000000.jsonl.zst"), Seq(
      s"""[{"event_type":"book",$head,"asks":[{"price":"0.60","size":"10"}],"bids":[]}]""",
      askChange("1")))
    writeFeedLog(new File(d, "2025-07-01-10.b000000001.jsonl.zst"), Seq(askChange("0")))
    val files = RawLogSource.discover(d.getPath)
    val asks = graft.operators.BookReplay
      .referenceTicks(RawLogSource.feedMessages(RawLogSource.frames(spark, files)))
      .filter("kind = 'BBO' AND side = 'ASK'")
      .collect().map(r => (r.getAs[Double]("price"), r.getAs[Double]("size"))).toSeq
    // book → 0.60×10, set 0.55 to 1 → 0.55×1, delete 0.55 → 0.60×10
    assert(asks == Seq((0.60, 10.0), (0.55, 1.0), (0.60, 10.0)), s"got $asks")
    // the first file keeps plain line numbers; the second starts at 1 << 32
    assert(RawLogSource.frames(spark, files).collect().map(_.lineNo).sorted.toSeq ==
      Seq(0L, 1L, 1L << 32))
  }

  test("frames reads a log directory whose name holds a comma") {
    val base = Files.createTempDirectory("graft_comma_path").toFile
    val day = FixtureLog.Spec(
      dir = new File(base, "comma,dir").getPath, nFiles = 2, framesPerFile = 20)
    val files = FixtureLog.write(day)
    assert(RawLogSource.frames(spark, files).count() == 2 * (day.framesPerFile + 3))
    assert(RawLogSource.feedMessagesIn(spark, day.dir).count() ==
      FixtureLog.feedMessages(day).size)
  }

  test("scan layout: one task per contiguous run of files in discover order") {
    val day = FixtureLog.Spec(
      dir = Files.createTempDirectory("graft_scan_layout").toString,
      nFiles = 24, framesPerFile = 2)
    val files = FixtureLog.write(day)
    def hoursByPartition(paths: Seq[String]): Seq[Seq[String]] =
      RawLogSource.frames(spark, paths).rdd.map(_.fileHour).glom()
        .collect().map(_.toSeq.distinct).toSeq
    val parts = hoursByPartition(files)
    // TestSpark is local[4]: min(24 files, 4 cores) tasks of 6 files each
    assert(parts.map(_.size) == Seq(6, 6, 6, 6), s"got $parts")
    assert(parts.flatten == files.map(RawLogSource.fileHourOf))
    assert(hoursByPartition(files.take(1)) == Seq(Seq(RawLogSource.fileHourOf(files.head))))
  }
}
