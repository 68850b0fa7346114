package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** RFC 6455 client framing: the codec against the RFC's OWN published
  * example vectors (§1.3 handshake, §5.7 framing), then the full
  * live-feed client lifecycle over a real loopback WebSocket server —
  * handshake, masked subscribe, control-frame handshakes (server ping
  * → client pong), fragmentation reassembly, and delivery through the
  * exact client stack the NDJSON loopback tests drive. Only TLS is
  * absent vs the reference's `wss://`.
  */
class WsFramesSpec extends AnyFunSuite {

  // --- RFC 6455 published vectors -----------------------------------------

  test("Sec-WebSocket-Accept matches the RFC 6455 §1.3/§4.2.2 example") {
    assert(WsCodec.acceptKey("dGhlIHNhbXBsZSBub25jZQ==") ==
      "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
  }

  test("frame codec reproduces the §5.7 example vectors bit for bit") {
    // single-frame unmasked text "Hello"
    val unmasked = Array(0x81, 0x05, 0x48, 0x65, 0x6c, 0x6c, 0x6f).map(_.toByte)
    assert(WsCodec.encodeFrame(WsCodec.OpText,
      "Hello".getBytes(StandardCharsets.UTF_8), None).sameElements(unmasked))
    // single-frame masked text "Hello" with mask 37 fa 21 3d
    val mask = Array(0x37, 0xfa, 0x21, 0x3d).map(_.toByte)
    val masked = Array(0x81, 0x85, 0x37, 0xfa, 0x21, 0x3d,
      0x7f, 0x9f, 0x4d, 0x51, 0x58).map(_.toByte)
    assert(WsCodec.encodeFrame(WsCodec.OpText,
      "Hello".getBytes(StandardCharsets.UTF_8), Some(mask)).sameElements(masked))
    // both decode back to "Hello"
    for (wire <- Seq(unmasked, masked)) {
      val Some((fin, op, payload, used)) = WsCodec.decodeFrame(wire, 0)
      assert(fin && op == WsCodec.OpText && used == wire.length)
      assert(new String(payload, StandardCharsets.UTF_8) == "Hello")
    }
    // 256-byte payload takes the 16-bit extended length path
    val big = Array.fill(256)('x'.toByte)
    val enc = WsCodec.encodeFrame(WsCodec.OpBinary, big, None)
    assert((enc(1) & 0x7f) == 126 &&
      ((enc(2) & 0xff) << 8 | (enc(3) & 0xff)) == 256)
    val Some((_, _, back, _)) = WsCodec.decodeFrame(enc, 0)
    assert(back.sameElements(big))
  }

  test("incremental decode: a frame split at every byte boundary still " +
    "parses exactly once (the soTimeout-mid-frame property)") {
    val wire = WsCodec.encodeFrame(WsCodec.OpText,
      "split me".getBytes(StandardCharsets.UTF_8),
      Some(Array(1, 2, 3, 4).map(_.toByte)))
    for (cut <- 1 until wire.length) {
      assert(WsCodec.decodeFrame(wire.take(cut), 0).isEmpty, s"cut $cut")
      val Some((_, _, payload, used)) = WsCodec.decodeFrame(wire, 0)
      assert(used == wire.length &&
        new String(payload, StandardCharsets.UTF_8) == "split me")
    }
  }

  // --- a real loopback WebSocket server ([[Loopback.feed]]) ---------------

  /** A whole message as two hand-built frames: `op` with FIN clear,
    * then a continuation with FIN set (the codec always sets FIN).
    */
  private def fragmented(op: Int, a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val f1 = WsCodec.encodeFrame(op, a, None)
    f1(0) = (f1(0) & 0x7f).toByte // clear FIN
    f1 ++ WsCodec.encodeFrame(WsCodec.OpCont, b, None)
  }

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  private def cfg(port: Int) = LiveFeed.Config(
    host = "127.0.0.1", port = port,
    initialReadTimeoutMs = 5000, pingIntervalMs = 120L,
    longLivedMs = 400L, idlePaceMs = 30L, errorBackoffUnitMs = 20L,
    wsFraming = true)

  private def drainMessages(
      client: LiveFeedClient, want: Int, ms: Long): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val deadline = System.currentTimeMillis() + ms
    while (out.size < want && System.currentTimeMillis() < deadline) {
      val ev = client.events.poll(50, TimeUnit.MILLISECONDS)
      ev match {
        case LiveFeed.FeedMessage(t) => out += t
        case _ => ()
      }
    }
    out.toSeq
  }

  test("the full client lifecycle over real RFC 6455 frames: handshake, " +
    "masked subscribe, delivery, keepalive pings as ws frames, clean stop") {
    val served = new LinkedBlockingQueue[Unit]()
    val server = Loopback.feed("ws")({ (_, sub, io) =>
      assert(sub.contains("\"assets_ids\"") || sub.toLowerCase.contains("subscribe"),
        s"subscribe frame shape: $sub")
      (1 to 20).foreach(i => io.send(s"""{"seq":$i}"""))
      served.put(())
      io.listen(1500) // keep open; record client pings (as ws text frames)
    })
    val client = new LiveFeedClient(Seq("A1", "A2", "A3"), cfg(server.port))
    try {
      client.start()
      val msgs = drainMessages(client, 20, 8000)
      assert(msgs.size == 20, s"got ${msgs.size}")
      assert(msgs.toSet == (1 to 20).map(i => s"""{"seq":$i}""").toSet)
      served.poll(2000, TimeUnit.MILLISECONDS)
      // the keepalive ping must arrive as a MASKED client text frame
      val deadline = System.currentTimeMillis() + 3000
      while (!server.pings.asScala.exists(_.contains("\"ping\"")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(server.pings.asScala.exists(_.contains("\"ping\"")),
        "keepalive ping did not arrive through the ws framing")
    } finally {
      client.stop()
      server.close()
    }
  }

  test("server ping gets a client pong; fragmented server text reassembles") {
    val server = Loopback.feed("ws")({ (_, _, io) =>
      io.send("""{"seq":1}""")
      io.write(WsCodec.encodeFrame(WsCodec.OpPing, utf8("hb-42"), None))
      io.write(fragmented(WsCodec.OpText, utf8("""{"seq":"""), utf8("""2}""")))
      io.listen(1200)
    })
    val client = new LiveFeedClient(Seq("B1"), cfg(server.port))
    try {
      client.start()
      val msgs = drainMessages(client, 2, 6000)
      assert(msgs.contains("""{"seq":1}"""))
      assert(msgs.contains("""{"seq":2}"""), s"fragmented message lost: $msgs")
      val deadline = System.currentTimeMillis() + 3000
      while (server.pongs.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(server.pongs.asScala.toSeq == Seq("hb-42"),
        "ping payload must echo back in the pong")
    } finally {
      client.stop()
      server.close()
    }
  }

  test("wss: lifecycle and reconnect over real TLS — fresh TLS + ws " +
    "handshake per reopen; pinned trust rejects a foreign certificate") {
    val (ksPath, ksPass) = TlsLoopback.genKeystore()
    val sctx = TlsLoopback.serverContext(ksPath, ksPass)
    def tlsServer(behavior: (Int, String, Loopback.Conn) => Unit) =
      Loopback.feed("ws", Some(sctx))(behavior)
    val server = tlsServer({ (idx, _, io) =>
      if (idx == 0) io.send("""{"seq":1}""") // then return → close
      else { io.send("""{"seq":2}"""); io.listen(1500) }
    })
    val client = new LiveFeedClient(Seq("E1"), cfg(server.port)
      .copy(sslContext = Some(TlsLoopback.clientContext(ksPath, ksPass))))
    try {
      client.start()
      val msgs = drainMessages(client, 2, 10000)
      assert(msgs.toSet == Set("""{"seq":1}""", """{"seq":2}"""), s"got $msgs")
      assert(server.connectionsSeen >= 2,
        "the server drop must reopen through a fresh TLS + ws handshake")
    } finally {
      client.stop()
      server.close()
    }
    // pinned trust is load-bearing: a client trusting a DIFFERENT
    // fresh keystore must fail the TLS handshake and deliver nothing
    val (otherKs, otherPass) = TlsLoopback.genKeystore()
    val server2 = tlsServer({ (_, _, io) =>
      io.send("""{"seq":9}"""); io.listen(300)
    })
    val bad = new LiveFeedClient(Seq("E1"), cfg(server2.port)
      .copy(sslContext = Some(TlsLoopback.clientContext(otherKs, otherPass))))
    try {
      bad.start()
      val got = drainMessages(bad, 1, 1500)
      assert(got.isEmpty, s"untrusted certificate must not deliver: $got")
    } finally {
      bad.stop()
      server2.close()
    }
  }

  test("a fragmented BINARY message is dropped whole: its continuation " +
    "frames must not leak into text reassembly or corrupt the next text") {
    val server = Loopback.feed("ws")({ (_, _, io) =>
      // binary fragments whose bytes LOOK like text — if the client
      // appends the continuation to its text buffer, the next real
      // message arrives corrupted (prefixed with `garbage}`)
      // (the continuation carries no opcode, RFC 6455 §5.4, so a
      // text-only client has to remember the message was binary)
      io.write(fragmented(WsCodec.OpBinary, utf8("{\"bin\":"), utf8("garbage}")))
      io.send("""{"seq":1}""")
      io.write(fragmented(WsCodec.OpText, utf8("""{"seq":"""), utf8("""2}""")))
      io.listen(1200)
    })
    val client = new LiveFeedClient(Seq("D1"), cfg(server.port))
    try {
      client.start()
      val msgs = drainMessages(client, 2, 6000)
      assert(msgs == Seq("""{"seq":1}""", """{"seq":2}"""),
        s"binary fragments must vanish and text must arrive intact: $msgs")
    } finally {
      client.stop()
      server.close()
    }
  }

  test("ws reconnect: a server-side drop reopens through a fresh " +
    "handshake and delivery resumes") {
    val server = Loopback.feed("ws")({ (idx, _, io) =>
      if (idx == 0) io.send("""{"seq":1}""") // then return → close
      else { io.send("""{"seq":2}"""); io.listen(1500) }
    })
    val client = new LiveFeedClient(Seq("C1"), cfg(server.port))
    try {
      client.start()
      val msgs = drainMessages(client, 2, 8000)
      assert(msgs.contains("""{"seq":1}""") && msgs.contains("""{"seq":2}"""))
      assert(server.connectionsSeen >= 2, "no reconnection happened")
      assert(server.subscribes.size >= 2, "reconnect must re-subscribe")
    } finally {
      client.stop()
      server.close()
    }
  }
}
