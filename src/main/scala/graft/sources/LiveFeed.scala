package graft.sources

import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

/** S5's REAL transport: the live-feed client over an actual socket —
  * connect, subscribe, await-first-message, read loop with keepalive
  * pings, reconnect with backoff, and the failure-driven connection
  * split — mirroring the reference's client behaviorally
  * (`collector/src/client/connection.rs:77-360`,
  * `reconnecter.rs:69-262`, `mod.rs:136-218`), with plain TCP +
  * newline-delimited JSON framing in place of TLS WebSocket (the
  * framing is the only part a zero-egress sandbox cannot exercise;
  * every lifecycle rule — the 25-asset sharding, the ≥20-failure
  * split, the >30 s long-lived reset, the ping cadence, the
  * error-count backoff — runs for real against a loopback server in
  * FeedLoopbackSpec, the analog of the reference's own
  * `tests/feed_integration_test.rs:11-94`).
  *
  * All timing constants are [[LiveFeed.Config]] fields so the spec can
  * run the full lifecycle in milliseconds; the defaults are the
  * reference's (`mod.rs:9-17`).
  */
object LiveFeed {

  final case class Config(
      host: String,
      port: Int,
      /** MAX_ASSETS_PER_CONNECTION (`mod.rs:9`). */
      maxAssetsPerConnection: Int = 25,
      /** Split threshold (`connection.rs:193-208`). */
      splitThreshold: Int = 20,
      /** INITIAL_READ_TIMEOUT (`mod.rs:13`). */
      initialReadTimeoutMs: Int = 10000,
      /** PING_INTERVAL (`mod.rs:15`). */
      pingIntervalMs: Long = 15000L,
      /** Long-lived reset threshold (`connection.rs:160-178`). */
      longLivedMs: Long = 30000L,
      /** No-error reconnect pace (`reconnecter.rs:backoff_duration`). */
      idlePaceMs: Long = 500L,
      /** Error backoff unit: max(3, errorCount) × this (reference: 1 s). */
      errorBackoffUnitMs: Long = 1000L,
      /** MAX_PARALLELISM (`mod.rs:17`). */
      maxParallelism: Int = 50,
      /** RFC 6455 framing ([[WsChannel]]) instead of newline-delimited
        * JSON — the reference's actual wire minus TLS; the full
        * lifecycle runs identically over either channel.
        */
      wsFraming: Boolean = false,
      /** TLS (`wss://`): wrap the TCP socket in this context before
        * the channel's handshake — with [[wsFraming]] this is the
        * reference's complete wire stack (TCP → TLS → HTTP Upgrade →
        * RFC 6455 frames, `connection.rs:80-135`). Reconnects rerun
        * the FULL stack: fresh TCP connect, fresh TLS handshake,
        * fresh ws Upgrade.
        */
      sslContext: Option[javax.net.ssl.SSLContext] = None,
  )

  /** Client-level events, the reference's `FeedEvent` (`mod.rs`):
    * opened/closed carry (id, nOpen, bestEffortTotal).
    */
  sealed trait Event
  final case class FeedMessage(text: String) extends Event
  final case class ConnectionOpened(id: Long, nOpen: Int, nTotal: Int) extends Event
  final case class ConnectionClosed(id: Long, nOpen: Int, nTotal: Int) extends Event
}

/** Raw per-connection events (the reference's `ConnectionEvent`). */
private[sources] sealed trait ConnEvent
private[sources] final case class RawMsg(id: Long, text: String) extends ConnEvent
private[sources] final case class RawOpened(id: Long) extends ConnEvent
private[sources] final case class RawClosed(id: Long) extends ConnEvent

/** One feed connection covering ≤ maxAssetsPerConnection assets
  * (`connection.rs`): connect() opens the socket, sends the subscribe
  * frame ([[MarketsConnector.subscribeMessage]] — the reference wire
  * shape), blocks for the FIRST message (a connection only counts as
  * open once the server has actually said something,
  * `await_first_msg`), then hands the socket to a reader thread that
  * forwards lines and writes `{"type":"ping"}` every ping interval.
  */
private[sources] final class LiveConnection(
    val id: Long,
    val assetIds: Seq[String],
    cfg: LiveFeed.Config,
    events: LinkedBlockingQueue[ConnEvent],
) {
  @volatile var hasEverOpened = false
  @volatile private var openedAtMs = -1L
  private val failures = new AtomicInteger(0)
  @volatile private var shutdown = false
  @volatile private var socket: Socket = _
  @volatile private var reader: Thread = _

  def consecutiveFailures: Int = failures.get

  /** `connection.rs:193-208` via the shared policy function. */
  def shouldSplit: Boolean = MarketsConnector.shouldSplit(
    failures.get, hasEverOpened, assetIds.size, cfg.splitThreshold)

  /** `process_connection_closed` (`connection.rs:160-178`): long-lived
    * connections reset the failure count, short-lived ones count as a
    * failure. Evaluated against the LAST successful open, exactly as
    * the reference does (code-as-spec: a never-again-opening
    * connection stops accumulating once the last open ages past the
    * threshold — the split path is the FLAPPING one, repeated
    * short-lived opens).
    */
  def processConnectionClosed(): Unit = if (openedAtMs > 0) {
    val dur = System.currentTimeMillis() - openedAtMs
    if (dur > cfg.longLivedMs) failures.set(0)
    else { failures.incrementAndGet(); () }
  }

  /** Open or re-open; throws on failure after bumping the counter
    * (`connect`, `connection.rs:77-135`). The caller (reconnecter)
    * emits the Closed event for failed attempts, as the reference's
    * `Reconnecter::connect` does.
    */
  def connect(): Unit = {
    close()
    shutdown = false
    try {
      val s0 = new Socket()
      s0.connect(new InetSocketAddress(cfg.host, cfg.port), cfg.initialReadTimeoutMs)
      s0.setSoTimeout(cfg.initialReadTimeoutMs)
      // TLS layers UNDER the framing channel: the SSLSocket wraps the
      // connected TCP socket and handshakes eagerly (under the initial
      // timeout), so WsChannel's Upgrade bytes ride the encrypted
      // stream — the wss:// stack, each layer explicit
      val s = cfg.sslContext match {
        case Some(ctx) =>
          val tls = ctx.getSocketFactory
            .createSocket(s0, cfg.host, cfg.port, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          tls.setSoTimeout(cfg.initialReadTimeoutMs)
          tls.setUseClientMode(true)
          tls.startHandshake()
          tls
        case None => s0
      }
      // the channel is the framing layer: WsChannel runs the RFC 6455
      // Upgrade handshake in its constructor (under the initial
      // timeout), LineChannel is plain NDJSON
      val chan: FeedChannel =
        if (cfg.wsFraming) new WsChannel(s, cfg.host) else new LineChannel(s)
      chan.send(MarketsConnector.subscribeMessage(assetIds))
      val first = chan.receive() // times out per soTimeout
      if (first == null)
        throw new java.io.IOException("socket closed before first message")
      openedAtMs = System.currentTimeMillis()
      hasEverOpened = true
      socket = s
      events.put(RawOpened(id))
      events.put(RawMsg(id, first))
      val t = new Thread(() => readLoop(s, chan), s"graft-live-feed-$id")
      t.setDaemon(true)
      t.start()
      reader = t
    } catch {
      case e: Exception =>
        failures.incrementAndGet()
        throw e
    }
  }

  /** `spawn_msg_handler` (`connection.rs:288-360`): forward text
    * lines, ping on the interval, emit Closed once on exit (server
    * close, error, or client shutdown).
    */
  private def readLoop(s: Socket, chan: FeedChannel): Unit = {
    var lastPing = System.currentTimeMillis()
    try {
      s.setSoTimeout(20) // poll so shutdown + ping cadence stay responsive
      var done = false
      while (!done && !shutdown) {
        try {
          val line = chan.receive()
          if (line == null) done = true
          else events.put(RawMsg(id, line))
        } catch {
          case _: SocketTimeoutException => // idle poll (ws: partial bytes retained)
        }
        val now = System.currentTimeMillis()
        if (!done && !shutdown && now - lastPing >= cfg.pingIntervalMs) {
          lastPing = now
          try chan.send("{\"type\":\"ping\"}")
          catch { case _: Exception => done = true }
        }
      }
    } catch {
      case _: Exception => ()
    } finally {
      try chan.close() catch { case _: Exception => () }
      try s.close() catch { case _: Exception => () }
      events.put(RawClosed(id))
    }
  }

  def close(): Unit = {
    shutdown = true
    val s = socket
    if (s != null) { try s.close() catch { case _: Exception => () } }
    val r = reader
    if (r != null) { r.join(5000); reader = null }
    socket = null
  }
}

/** The client + reconnecter pair (`mod.rs:into_stream` +
  * `reconnecter.rs`): shards assets across connections
  * ([[MarketsConnector.shardAssets]], ≤ 25 each), opens them in
  * parallel, aggregates every connection's messages into one
  * [[events]] queue with open/closed bookkeeping, re-enqueues closed
  * connections for reconnection with the reference's backoff rule
  * (500 ms pace; max(3, errorCount) units after majority-failure
  * rounds), and SPLITS a connection that flaps ≥ splitThreshold times
  * into two halves ([[MarketsConnector.splitMarkets]]).
  */
final class LiveFeedClient(assets: Seq[String], cfg: LiveFeed.Config) {

  val events = new LinkedBlockingQueue[LiveFeed.Event]()

  private val connEvents = new LinkedBlockingQueue[ConnEvent]()
  private val connections = new ConcurrentHashMap[Long, LiveConnection]()
  private val requests = new LinkedBlockingQueue[java.lang.Long]()
  private val cancelled = new AtomicBoolean(false)
  private val nextId = new AtomicLong(0L)
  @volatile private var initialCount = 0
  @volatile private var pumpThread: Thread = _
  @volatile private var reconThread: Thread = _
  /** Backoff observability for soak tests: the reconnecter's CURRENT
    * error-count (0 after a clean round) and the maximum it ever
    * reached — growing max + recovered-to-0 current is the
    * deterministic signature of "the storm engaged the backoff and
    * the client healed", with no wall-clock assertions.
    */
  @volatile var observedErrorCount: Long = 0L
  @volatile var maxObservedErrorCount: Long = 0L

  def connectionCount: Int = connections.size()
  def connectionAssets: Map[Long, Seq[String]] = {
    val b = Map.newBuilder[Long, Seq[String]]
    connections.forEach((k, v) => b += (k.toLong -> v.assetIds))
    b.result()
  }

  def start(): Unit = {
    val shards = MarketsConnector.shardAssets(assets, cfg.maxAssetsPerConnection)
    shards.foreach { shard =>
      val id = nextId.getAndIncrement()
      connections.put(id, new LiveConnection(id, shard, cfg, connEvents))
    }
    initialCount = shards.size
    connections.forEach((id, _) => requests.put(id))
    val p = new Thread(() => pump(), "graft-live-feed-pump")
    p.setDaemon(true); p.start(); pumpThread = p
    val r = new Thread(() => reconnecterLoop(), "graft-live-feed-reconnecter")
    r.setDaemon(true); r.start(); reconThread = r
  }

  /** The client event loop (`mod.rs:136-205`): open/closed counters
    * with the best-effort total under splits, reconnect requests on
    * close.
    */
  private def pump(): Unit = {
    var nOpen = 0
    val idIsOpen = scala.collection.mutable.Set.empty[Long]
    while (!cancelled.get() || !connEvents.isEmpty || nOpen > 0) {
      val ev = connEvents.poll(50, TimeUnit.MILLISECONDS)
      if (ev != null) ev match {
        case RawMsg(_, text) => events.put(LiveFeed.FeedMessage(text))
        case RawOpened(id) =>
          nOpen += 1
          idIsOpen += id
          val pending = math.max(0, initialCount - nOpen)
          events.put(LiveFeed.ConnectionOpened(id, nOpen, idIsOpen.size + pending))
        case RawClosed(id) =>
          if (idIsOpen.remove(id)) nOpen -= 1
          val pending = math.max(0, initialCount - nOpen)
          if (!cancelled.get()) requests.put(id)
          events.put(LiveFeed.ConnectionClosed(id, nOpen, idIsOpen.size + pending))
      }
    }
  }

  /** `Reconnecter::run` (`reconnecter.rs:69-110`): backoff, batch up
    * to maxParallelism requests, split check per request, parallel
    * connect, error-count update (reset on clean rounds, grow only on
    * majority-failure rounds).
    */
  private def reconnecterLoop(): Unit = {
    var errorCount = 0L
    while (!cancelled.get()) {
      observedErrorCount = errorCount
      maxObservedErrorCount = math.max(maxObservedErrorCount, errorCount)
      val pace =
        if (errorCount > 0) cfg.errorBackoffUnitMs * math.max(3L, errorCount)
        else cfg.idlePaceMs
      val deadline = System.currentTimeMillis() + pace
      while (System.currentTimeMillis() < deadline && !cancelled.get())
        Thread.sleep(math.min(20L, math.max(1L, deadline - System.currentTimeMillis())))
      if (!cancelled.get()) {
        val first = requests.poll(100, TimeUnit.MILLISECONDS)
        if (first != null) {
          val batch = scala.collection.mutable.ArrayBuffer[Long](first.toLong)
          while (batch.size < cfg.maxParallelism && !requests.isEmpty) {
            val nxt = requests.poll()
            if (nxt != null) batch += nxt.toLong
          }
          // split check per request (`open_all`, reconnecter.rs:200-236)
          val finalIds = batch.flatMap { id =>
            val conn = connections.get(id)
            if (conn == null) Seq(id)
            else {
              conn.processConnectionClosed()
              if (conn.shouldSplit) {
                val (a, b) = MarketsConnector.splitMarkets(conn.assetIds)
                connections.remove(id)
                val ia = nextId.getAndIncrement()
                val ib = nextId.getAndIncrement()
                connections.put(ia, new LiveConnection(ia, a, cfg, connEvents))
                connections.put(ib, new LiveConnection(ib, b, cfg, connEvents))
                Seq(ia, ib)
              } else Seq(id)
            }
          }
          val outcomes = finalIds.map { id =>
            val t = new java.util.concurrent.FutureTask[Boolean](() => {
              val conn = connections.get(id)
              if (conn == null) true
              else try { conn.connect(); true }
              catch {
                case _: Exception =>
                  connEvents.put(RawClosed(id))
                  false
              }
            })
            val th = new Thread(t, s"graft-live-feed-connect-$id")
            th.setDaemon(true); th.start()
            t
          }
          val nErrors = outcomes.count(!_.get())
          errorCount =
            if (nErrors == 0) 0L
            else if (nErrors < finalIds.size / 2) errorCount
            else errorCount + 1L
        }
      }
    }
  }

  /** Cancel + close everything; events drain, then the pump exits. */
  def stop(): Unit = {
    cancelled.set(true)
    val r = reconThread
    if (r != null) r.join(10000)
    connections.forEach((_, c) => c.close())
    val p = pumpThread
    if (p != null) p.join(10000)
  }
}
