package graft.sources

import java.io.IOException
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import javax.net.ssl.{SSLContext, SSLSocket}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The in-process servers every transport gate and loopback spec
  * drives: one live-feed server ([[feed]], NDJSON or RFC 6455, plain or
  * TLS) and one HTTP server ([[http]]) with the two protocol fakes built
  * on it, the GCS JSON-API bucket ([[gcsBucket]]) and the markets pager
  * ([[marketPages]]). Everything binds 127.0.0.1 on an ephemeral port
  * and speaks through real sockets; every thread is a daemon and
  * `close()` releases the port and all threads.
  */
object Loopback {

  private def loopback = InetAddress.getLoopbackAddress

  /** `now + ms` without overflow, so `Long.MaxValue` means "no deadline". */
  private def deadlineAfter(ms: Long): Long =
    System.currentTimeMillis() + math.min(ms, Long.MaxValue / 2)

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t
  }

  // --- the live feed --------------------------------------------------------

  /** A feed server speaking `framing` (`"ndjson"` or `"ws"`), over TLS
    * when `tls` is given. Each connection runs on its own daemon thread:
    * `ws` first runs the Upgrade handshake, then the server reads the
    * client's subscribe and calls `behavior(connIdx, subscribe, conn)`.
    * The connection closes when `behavior` returns.
    */
  def feed(framing: String, tls: Option[SSLContext] = None)(
      behavior: (Int, String, Conn) => Unit): Feed = {
    require(framing == "ndjson" || framing == "ws", s"unknown framing '$framing'")
    new Feed(framing == "ws", tls, behavior)
  }

  final class Feed private[Loopback] (
      ws: Boolean, tls: Option[SSLContext], behavior: (Int, String, Conn) => Unit) {
    private val server: ServerSocket = tls.fold(new ServerSocket(0, 64, loopback))(
      _.getServerSocketFactory.createServerSocket(0, 64, loopback))
    val port: Int = server.getLocalPort
    /** Every client subscribe, in arrival order. */
    val subscribes = new ConcurrentLinkedQueue[String]()
    /** Client text messages carrying a ping. */
    val pings = new ConcurrentLinkedQueue[String]()
    /** Payloads of the client's ws pong frames. */
    val pongs = new ConcurrentLinkedQueue[String]()
    private val nConn = new AtomicInteger(0)
    private val live = ConcurrentHashMap.newKeySet[Socket]()
    @volatile private var closed = false

    def connectionsSeen: Int = nConn.get()
    def openConnections: Int = live.size()

    daemon(s"graft-loopback-feed-$port") {
      try {
        while (!closed) {
          val sock = server.accept()
          live.add(sock)
          if (closed) sock.close()
          val idx = nConn.getAndIncrement()
          daemon(s"graft-loopback-feed-$port-$idx")(handle(idx, sock)).start()
        }
      } catch { case _: Exception => () } // listener closed
    }.start()

    private def handle(idx: Int, sock: Socket): Unit = {
      try {
        sock.setSoTimeout(10000) // TLS and ws handshakes, before polling
        sock match { case s: SSLSocket => s.startHandshake(); case _ => () }
        val conn = new Conn(sock, ws, this)
        if (ws) conn.upgrade()
        val sub = conn.readText(10000)
        if (sub != null) {
          subscribes.add(sub)
          behavior(idx, sub, conn)
        }
      } catch { case _: Exception => () }
      finally {
        live.remove(sock)
        try sock.close() catch { case _: Exception => () }
      }
    }

    /** Close the listener and every live connection. */
    def close(): Unit = {
      closed = true
      try server.close() catch { case _: Exception => () }
      live.forEach(s => try s.close() catch { case _: Exception => () })
    }
  }

  /** One accepted feed connection, as `behavior` sees it. */
  final class Conn private[Loopback] (sock: Socket, ws: Boolean, feed: Feed) {
    private val in = sock.getInputStream
    private val out = sock.getOutputStream
    // bytes read but not yet consumed: a read timeout mid-message keeps
    // the partial bytes, and the next read resumes after them
    private var buf = Array.emptyByteArray
    private var off = 0

    /** Raw bytes, for hand-built frames. */
    def write(bytes: Array[Byte]): Unit = out.synchronized { out.write(bytes); out.flush() }

    /** One text message: a line, or an unmasked ws text frame. */
    def send(text: String): Unit = write(
      if (ws) WsCodec.encodeFrame(WsCodec.OpText, text.getBytes(UTF_8), None)
      else (text + "\n").getBytes(UTF_8))

    private def fill(): Boolean = {
      val tmp = new Array[Byte](4096)
      val k = in.read(tmp)
      if (k < 0) false
      else { buf = buf.drop(off) ++ tmp.take(k); off = 0; true }
    }

    /** The next buffered message as (opcode, payload); lines are text. */
    private def decode(): Option[(Int, Array[Byte])] =
      if (ws) WsCodec.decodeFrame(buf, off).map { case (_, op, payload, used) =>
        off += used; (op, payload)
      }
      else {
        val nl = buf.indexOf('\n'.toByte, off)
        if (nl < 0) None
        else {
          val line = java.util.Arrays.copyOfRange(buf, off, nl)
          off = nl + 1
          Some((WsCodec.OpText, line))
        }
      }

    /** Server side of the RFC 6455 Upgrade: a `GET` with
      * `Upgrade: websocket`, answered with the Key → Accept challenge.
      */
    private[Loopback] def upgrade(): Unit = {
      var end = -1
      while (end < 0) {
        end = new String(buf, ISO_8859_1).indexOf("\r\n\r\n", off)
        if (end < 0 && !fill()) throw new IOException("eof in ws handshake")
      }
      val req = new String(buf, off, end - off, ISO_8859_1)
      off = end + 4
      require(req.startsWith("GET "), "ws server: not an HTTP GET")
      require(req.toLowerCase.contains("upgrade: websocket"), "ws server: no Upgrade")
      val key = req.linesIterator
        .find(_.toLowerCase.startsWith("sec-websocket-key:"))
        .map(_.split(":", 2)(1).trim)
        .getOrElse(throw new IOException("ws server: no Sec-WebSocket-Key"))
      write(("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: ${WsCodec.acceptKey(key)}\r\n\r\n").getBytes(ISO_8859_1))
    }

    /** The next client text within `ms`, recording pings and pongs on
      * the way; null on EOF, a close frame, or the deadline. A read
      * timeout only means "nothing yet".
      */
    def readText(ms: Long): String = {
      sock.setSoTimeout(20)
      val deadline = deadlineAfter(ms)
      while (System.currentTimeMillis() < deadline) {
        decode() match {
          case Some((WsCodec.OpText, payload)) =>
            val t = new String(payload, UTF_8)
            if (t.contains("ping")) feed.pings.add(t)
            return t
          case Some((WsCodec.OpPong, payload)) => feed.pongs.add(new String(payload, UTF_8))
          case Some((WsCodec.OpClose, _)) => return null
          case Some(_) => ()
          case None =>
            try { if (!fill()) return null }
            catch { case _: SocketTimeoutException => () }
        }
      }
      null
    }

    /** Drain client messages for up to `ms`; returns early on EOF, a
      * close frame, or the server's `close()`.
      */
    def listen(ms: Long): Unit = {
      val deadline = deadlineAfter(ms)
      while (System.currentTimeMillis() < deadline)
        if (readText(deadline - System.currentTimeMillis()) == null) return
    }

    /** Hold the connection until the client leaves or the server closes. */
    def hold(): Unit = listen(Long.MaxValue)
  }

  // --- HTTP -----------------------------------------------------------------

  /** A client request as the server received it: raw path, raw query
    * (empty when absent), and the Authorization header.
    */
  final case class Request(path: String, query: String, authorization: Option[String])

  /** An HTTP server with one context per route. Each handler runs on a
    * 16-thread daemon pool; the exchange is closed after it returns.
    */
  def http(routes: (String, HttpExchange => Unit)*): Http = new Http(routes)

  final class Http private[Loopback] (routes: Seq[(String, HttpExchange => Unit)]) {
    private val server = HttpServer.create(new InetSocketAddress(loopback, 0), 64)
    val port: Int = server.getAddress.getPort
    val base: String = s"http://127.0.0.1:$port"
    /** Every request, in arrival order. */
    val requests = new ConcurrentLinkedQueue[Request]()
    /** The most requests ever in a handler at once. */
    val maxInFlight = new AtomicInteger(0)
    private val inFlight = new AtomicInteger(0)
    private val threads = new AtomicInteger(0)
    private val pool: ExecutorService = Executors.newFixedThreadPool(16,
      r => daemon(s"graft-loopback-http-$port-${threads.getAndIncrement()}")(r.run()))

    routes.foreach { case (path, handler) =>
      server.createContext(path, (ex: HttpExchange) => {
        val cur = inFlight.incrementAndGet()
        maxInFlight.updateAndGet(m => math.max(m, cur))
        try {
          val uri = ex.getRequestURI
          requests.add(Request(uri.getRawPath, Option(uri.getRawQuery).getOrElse(""),
            Option(ex.getRequestHeaders.getFirst("Authorization"))))
          handler(ex)
        } finally {
          inFlight.decrementAndGet()
          ex.close()
        }
      })
    }
    server.setExecutor(pool)
    server.start()

    /** Stop the server, then the pool (`HttpServer.stop` leaves a custom
      * executor running).
      */
    def close(): Unit = {
      server.stop(0)
      pool.shutdownNow()
      pool.awaitTermination(2, TimeUnit.SECONDS)
    }
  }

  /** Send `status` with `body`; an empty body sends no body at all. */
  def respond(ex: HttpExchange, status: Int, body: Array[Byte] = Array.emptyByteArray): Unit = {
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
  }

  /** Query parameter `k` of the request, URL-decoded. */
  private def param(ex: HttpExchange, k: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").collectFirst {
      case kv if kv.startsWith(k + "=") => java.net.URLDecoder.decode(kv.drop(k.length + 1), UTF_8)
    }

  /** Bucket `logs` of the GCS JSON API: a paginated listing at
    * `/storage/v1/b/logs/o` (`prefix`, `pageToken`, `pageSize` items a
    * page) and media at `/download/storage/v1/b/logs/o/<name>` with the
    * name as one percent-encoded segment. An absent object is a 404;
    * a name ending in `boom` is a 500 (a transport error, not absence).
    */
  def gcsBucket(objects: Map[String, Array[Byte]], pageSize: Int = 2): Http = {
    val names = objects.keys.toSeq.sorted
    def jstr(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
    http(
      "/storage/v1/b/logs/o" -> { ex =>
        val start = param(ex, "pageToken").map(_.toInt).getOrElse(0)
        val matching = names.filter(_.startsWith(param(ex, "prefix").getOrElse("")))
        val items = matching.slice(start, start + pageSize)
          .map(n => s"""{"name":${jstr(n)},"size":${objects(n).length}}""").mkString(",")
        val nextTok =
          if (start + pageSize < matching.size) s""","nextPageToken":"${start + pageSize}""""
          else ""
        respond(ex, 200,
          s"""{"kind":"storage#objects","items":[$items]$nextTok}""".getBytes(UTF_8))
      },
      "/download/storage/v1/b/logs/o/" -> { ex =>
        val name = java.net.URLDecoder.decode(
          ex.getRequestURI.getRawPath.stripPrefix("/download/storage/v1/b/logs/o/"), UTF_8)
        if (name.endsWith("boom")) respond(ex, 500)
        else objects.get(name) match {
          case Some(bytes) => respond(ex, 200, bytes)
          case None => respond(ex, 404)
        }
      })
  }

  /** The markets REST pager at `/markets`: `total` rows `row(i)` in
    * `pageSize` pages, cursor = base64 row offset, `next_cursor` null
    * on the last page. `failFirst` 500s the first request for every
    * cursor (the retry path).
    */
  def marketPages(
      total: Int, pageSize: Int, failFirst: Boolean = false)(row: Int => String): Http =
    http("/markets" -> pager(total, pageSize, failFirst)(row))

  /** The `/markets` handler of [[marketPages]]. */
  def pager(
      total: Int, pageSize: Int, failFirst: Boolean = false)(row: Int => String)
      : HttpExchange => Unit = {
    val failed = ConcurrentHashMap.newKeySet[String]()
    ex => {
      val cursor = param(ex, "next_cursor").getOrElse("")
      if (failFirst && failed.add(cursor)) respond(ex, 500)
      else {
        val offset = new String(java.util.Base64.getDecoder.decode(cursor), UTF_8).toInt
        val rows = (offset until math.min(offset + pageSize, total)).map(row)
        val next =
          if (offset + pageSize >= total) "null"
          else "\"" + MarketsConnector.cursorFor(offset / pageSize + 1, pageSize) + "\""
        respond(ex, 200,
          s"""{"data":[${rows.mkString(",")}],"next_cursor":$next}""".getBytes(UTF_8))
      }
    }
  }
}
