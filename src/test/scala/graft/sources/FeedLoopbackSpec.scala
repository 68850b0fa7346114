package graft.sources

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The REAL live-feed transport against an in-process loopback server —
  * the analog of the reference's `tests/feed_integration_test.rs:11-94`:
  * subscribe frames, the 25-asset sharding, all-connections-opened
  * bookkeeping, keepalive pings, reconnect after a server-side drop,
  * the ≥20-flap split policy, and clean shutdown. Every test speaks
  * through actual sockets on 127.0.0.1 ([[Loopback.feed]]); no
  * transport code is mocked.
  */
class FeedLoopbackSpec extends AnyFunSuite {

  private def fastCfg(port: Int): LiveFeed.Config = LiveFeed.Config(
    host = "127.0.0.1", port = port,
    initialReadTimeoutMs = 3000, pingIntervalMs = 10000L,
    longLivedMs = 60000L, idlePaceMs = 5L, errorBackoffUnitMs = 20L)

  /** Drain client events until `pred` returns true or the timeout. */
  private def awaitEvent(
      q: LinkedBlockingQueue[LiveFeed.Event], timeoutMs: Long)(
      pred: LiveFeed.Event => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      val e = q.poll(50, TimeUnit.MILLISECONDS)
      if (e != null && pred(e)) return true
    }
    false
  }

  test("sharding + subscribe + all-connections-opened + clean shutdown " +
    "(the feed_integration_test shape): 60 assets open as 3 connections " +
    "of 25/25/10, each subscribe lists exactly its shard, frames flow, " +
    "and cancel drains to zero open") {
    val server = Loopback.feed("ndjson")((idx, _, io) => {
      (1 to 5).foreach(i => io.send(s"""{"frame":"$idx-$i"}"""))
      io.listen(30000) // hold the connection open until the client closes
    })
    val assets = (1 to 60).map(i => s"A$i")
    val client = new LiveFeedClient(assets, fastCfg(server.port))
    try {
      client.start()
      var frames = 0
      val allOpened = awaitEvent(client.events, 15000) {
        case LiveFeed.ConnectionOpened(_, nOpen, nTotal) => nOpen == 3 && nTotal == 3
        case LiveFeed.FeedMessage(_) => frames += 1; false
        case _ => false
      }
      assert(allOpened, "all 3 connections should open")
      // exact subscribe frames: one per shard, reference wire shape
      val subs = server.subscribes.asScala.toSet
      val expected = MarketsConnector.shardAssets(assets, 25)
        .map(MarketsConnector.subscribeMessage).toSet
      assert(subs == expected)
      // frames keep flowing after open
      awaitEvent(client.events, 5000) {
        case LiveFeed.FeedMessage(_) => frames += 1; frames >= 15
        case _ => false
      }
      assert(frames >= 15, s"expected all 15 frames, got $frames")
      client.stop()
      val drained = awaitEvent(client.events, 10000) {
        case LiveFeed.ConnectionClosed(_, nOpen, _) => nOpen == 0
        case _ => false
      }
      assert(drained, "shutdown should close every connection")
    } finally { client.stop(); server.close() }
  }

  test("reconnect with pacing after a server-side drop: the connection " +
    "re-opens and re-subscribes") {
    val stable = new CountDownLatch(1)
    val server = Loopback.feed("ndjson")((idx, _, io) => {
      io.send(s"""{"frame":"hello-$idx"}""")
      if (idx == 0) () // first connection: return = close immediately (drop)
      else { stable.countDown(); io.listen(30000) }
    })
    val client = new LiveFeedClient(Seq("A1", "A2"), fastCfg(server.port))
    try {
      client.start()
      assert(stable.await(15, TimeUnit.SECONDS),
        "client should reconnect after the drop")
      assert(server.connectionsSeen >= 2)
      assert(server.subscribes.size >= 2)
      // lifecycle events arrived in order: opened, closed, re-opened
      val reopened = awaitEvent(client.events, 10000) {
        case LiveFeed.ConnectionOpened(_, nOpen, _) => nOpen == 1
        case _ => false
      }
      assert(reopened)
    } finally { client.stop(); server.close() }
  }

  test("keepalive pings arrive on the configured cadence") {
    val server = Loopback.feed("ndjson")((_, _, io) => {
      io.send("""{"frame":"hi"}""")
      io.listen(3000)
    })
    val cfg = fastCfg(server.port).copy(pingIntervalMs = 100L)
    val client = new LiveFeedClient(Seq("A1"), cfg)
    try {
      client.start()
      val deadline = System.currentTimeMillis() + 5000
      while (server.pings.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(server.pings.size >= 3,
        s"expected >= 3 pings at 100ms cadence, got ${server.pings.size}")
      assert(server.pings.asScala.forall(_.contains("\"type\":\"ping\"")))
    } finally { client.stop(); server.close() }
  }

  test("end-to-end: readStream off the live socket source — frames from " +
    "a real loopback server arrive as rows through the full DSv2 path") {
    val spark = graft.TestSpark.spark
    val nFrames = 40
    val server = Loopback.feed("ndjson")((idx, _, io) => {
      (1 to nFrames).foreach(i => io.send(s"""{"frame":"$idx-$i"}"""))
      io.listen(30000)
    })
    val sinkName = "graft_live_loopback_sink"
    try {
      val stream = spark.readStream
        .format("graft.sources.GraftFeedProvider")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("assets", "A1,A2,A3")
        .option("idlePaceMs", "5")
        .load()
      val query = stream.writeStream
        .format("memory").queryName(sinkName)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        var rows = 0L
        while (rows < nFrames && System.currentTimeMillis() < deadline) {
          Thread.sleep(200)
          rows = spark.table(sinkName).count()
        }
        assert(rows >= nFrames, s"expected $nFrames live rows, got $rows")
        val vals = spark.table(sinkName)
          .collect().map(_.getString(0)).toSet
        (1 to nFrames).foreach(i =>
          assert(vals.contains(s"""{"frame":"0-$i"}"""), s"missing frame $i"))
      } finally query.stop()
    } finally {
      server.close()
      spark.catalog.dropTempView(sinkName)
      ()
    }
  }

  test("reconnect storm: while the server withholds first messages, the " +
    "error-count backoff ENGAGES (max observed grows past 1) and the " +
    "client heals completely when the server recovers (count back to 0, " +
    "connection open, frames flowing)") {
    val healthy = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = Loopback.feed("ndjson")((idx, _, io) => {
      if (healthy.get()) {
        io.send(s"""{"frame":"recovered-$idx"}""")
        io.listen(30000)
      }
      // storm mode: accept + read the subscribe, then say NOTHING —
      // await_first_msg times out, a genuine connect failure
    })
    // short first-message timeout so storm rounds cycle fast; tiny
    // error-backoff unit so the test doesn't sleep real seconds
    val cfg = fastCfg(server.port)
      .copy(initialReadTimeoutMs = 60, errorBackoffUnitMs = 5L)
    val client = new LiveFeedClient(Seq("A1", "A2"), cfg)
    try {
      client.start()
      val stormDeadline = System.currentTimeMillis() + 20000
      while (client.maxObservedErrorCount < 2 &&
        System.currentTimeMillis() < stormDeadline) Thread.sleep(20)
      assert(client.maxObservedErrorCount >= 2,
        s"backoff never engaged (max=${client.maxObservedErrorCount})")
      healthy.set(true)
      val opened = awaitEvent(client.events, 20000) {
        case LiveFeed.ConnectionOpened(_, nOpen, _) => nOpen == 1
        case _ => false
      }
      assert(opened, "client should heal when the server recovers")
      val healDeadline = System.currentTimeMillis() + 10000
      while (client.observedErrorCount != 0 &&
        System.currentTimeMillis() < healDeadline) Thread.sleep(20)
      assert(client.observedErrorCount == 0,
        "a clean round must reset the error count")
      val frame = awaitEvent(client.events, 5000) {
        case LiveFeed.FeedMessage(t) => t.contains("recovered")
        case _ => false
      }
      assert(frame, "frames should flow after recovery")
    } finally { client.stop(); server.close() }
  }

  test("the >=20-flap split policy: a connection that repeatedly opens " +
    "and dies splits into two half-shards, which then both open") {
    val afterSplit = new ConcurrentLinkedQueue[String]()
    val server = Loopback.feed("ndjson")((idx, sub, io) => {
      // asset count in the subscribe tells us which phase this is
      val nAssets = "\"A\\d+\"".r.findAllIn(sub).size
      if (nAssets >= 10) {
        io.send(s"""{"frame":"flap-$idx"}""") // open, then die at once
      } else {
        afterSplit.add(sub)
        io.send(s"""{"frame":"stable-$idx"}""")
        io.listen(30000)
      }
    })
    val assets = (1 to 10).map(i => s"A$i")
    val client = new LiveFeedClient(assets, fastCfg(server.port))
    try {
      client.start()
      val deadline = System.currentTimeMillis() + 60000
      while (afterSplit.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(afterSplit.size >= 2, "the flapping connection should split")
      val (h1, h2) = MarketsConnector.splitMarkets(assets)
      val expected = Set(h1, h2).map(MarketsConnector.subscribeMessage)
      assert(afterSplit.asScala.toSet == expected,
        "split halves should match split_markets exactly")
      assert(client.connectionAssets.values.toSet == Set(h1, h2))
      // both halves reach open simultaneously
      val bothOpen = awaitEvent(client.events, 15000) {
        case LiveFeed.ConnectionOpened(_, nOpen, _) => nOpen == 2
        case _ => false
      }
      assert(bothOpen, "both split halves should open")
    } finally { client.stop(); server.close() }
  }
}
