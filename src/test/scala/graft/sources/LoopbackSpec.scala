package graft.sources

import java.net.{ConnectException, Socket}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The loopback kit's own lifecycle: a feed connection is held until
  * the client leaves (a quiet client is not dropped), and an HTTP
  * server's `close()` releases its port and every pool thread.
  */
class LoopbackSpec extends AnyFunSuite {

  for (framing <- Seq("ndjson", "ws"))
    test(s"$framing: a quiet client keeps its one connection — 60 frames, " +
      "each exactly once, and the connection still open after 1.5 s") {
      val server = Loopback.feed(framing) { (_, _, conn) =>
        (1 to 60).foreach(i => conn.send(s"""{"seq":$i}"""))
        conn.hold()
      }
      val client = new LiveFeedClient(Seq("A1"), LiveFeed.Config(
        host = "127.0.0.1", port = server.port,
        initialReadTimeoutMs = 3000, pingIntervalMs = 10000L,
        idlePaceMs = 5L, errorBackoffUnitMs = 20L,
        wsFraming = framing == "ws"))
      try {
        client.start()
        val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
        var closed = 0
        def drain(until: Long, stopAt: Int): Unit =
          while (msgs.size < stopAt && System.currentTimeMillis() < until)
            client.events.poll(50, TimeUnit.MILLISECONDS) match {
              case LiveFeed.FeedMessage(t) => msgs += t
              case LiveFeed.ConnectionClosed(_, _, _) => closed += 1
              case _ => ()
            }
        drain(System.currentTimeMillis() + 10000, 60)
        assert(msgs == (1 to 60).map(i => s"""{"seq":$i}"""))
        // 1.5 s of client silence: no close, no reconnect, no re-serve
        drain(System.currentTimeMillis() + 1500, Int.MaxValue)
        val served = msgs.size
        assert(served == 60, "frames were re-served")
        assert(closed == 0, "the connection was dropped")
        assert(server.connectionsSeen == 1 && server.openConnections == 1)
      } finally {
        client.stop()
        server.close()
      }
    }

  test("http close(): within 2 s no pool thread is alive and the port " +
    "refuses connections") {
    val server = Loopback.http("/x" -> { ex =>
      Thread.sleep(20)
      Loopback.respond(ex, 200, "ok".getBytes("UTF-8"))
    })
    val prefix = s"graft-loopback-http-${server.port}-"
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(prefix) && t.isAlive)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val gets = (1 to 4).map(_ => scala.concurrent.Future {
      val c = java.net.URI.create(s"${server.base}/x").toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try c.getResponseCode finally c.disconnect()
    })
    gets.foreach(f => assert(
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(10, "s")) == 200))
    assert(poolThreads.nonEmpty)
    server.close()
    val deadline = System.currentTimeMillis() + 2000
    while (poolThreads.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(poolThreads.isEmpty, s"pool threads alive: ${poolThreads.map(_.getName)}")
    intercept[ConnectException](new Socket("127.0.0.1", server.port).close())
  }
}
