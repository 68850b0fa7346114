package graft.sources

import java.io.{InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets

/** RFC 6455 WebSocket framing, client side — the wire layer between
  * the loopback TCP lifecycle and the reference's real `wss://`
  * connections (`collector/src/client/connection.rs:80-135`): the
  * HTTP/1.1 Upgrade handshake with the Sec-WebSocket-Key/-Accept
  * SHA-1 challenge (RFC 6455 §4.1/§4.2.2), masked client frames
  * (§5.1-5.3: every client→server frame carries a 4-byte XOR mask),
  * fragmentation reassembly (§5.4), and the ping/pong + close control
  * handshakes (§5.5). Only TLS remains environment-bound; everything
  * below it on the wire is exercised for real by the `ws` framing
  * mode of [[LiveConnection]].
  *
  * The decoder is INCREMENTAL: bytes are accumulated in an internal
  * buffer and a frame is consumed only when complete, so the 20 ms
  * soTimeout polling the read loop uses cannot corrupt state — a
  * timeout mid-frame retains the partial bytes and the next poll
  * resumes where it left off (the property newline framing gets for
  * free from BufferedReader and a frame codec must provide itself).
  *
  * Mask keys come from a per-connection LCG, not SecureRandom: the
  * mask exists to defeat proxy cache poisoning (§10.3), not for
  * secrecy, and a deterministic sequence keeps the byte stream
  * reproducible under test.
  */
private[graft] object WsCodec {
  val Guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  /** §4.2.2 step 5.4: base64(SHA1(key ++ GUID)). */
  def acceptKey(secWebSocketKey: String): String = {
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    java.util.Base64.getEncoder.encodeToString(
      sha1.digest((secWebSocketKey + Guid).getBytes(StandardCharsets.ISO_8859_1)))
  }

  val OpCont = 0x0
  val OpText = 0x1
  val OpBinary = 0x2
  val OpClose = 0x8
  val OpPing = 0x9
  val OpPong = 0xA

  /** One frame: FIN always set by this encoder (fragmentation is
    * handled on decode only — the client's messages are small).
    * `mask = None` is the server direction; `Some(key)` the client's.
    */
  def encodeFrame(op: Int, payload: Array[Byte], mask: Option[Array[Byte]]): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream(payload.length + 14)
    bb.write(0x80 | op)
    val maskBit = if (mask.isDefined) 0x80 else 0x00
    val len = payload.length
    if (len < 126) bb.write(maskBit | len)
    else if (len < 65536) {
      bb.write(maskBit | 126); bb.write((len >> 8) & 0xff); bb.write(len & 0xff)
    } else {
      bb.write(maskBit | 127)
      var i = 7
      while (i >= 0) { bb.write((len.toLong >> (8 * i)).toInt & 0xff); i -= 1 }
    }
    mask match {
      case Some(key) =>
        bb.write(key, 0, 4)
        var i = 0
        while (i < len) { bb.write(payload(i) ^ key(i & 3)); i += 1 }
      case None => bb.write(payload, 0, len)
    }
    bb.toByteArray
  }

  /** Try to decode one complete frame at `off`; returns
    * (fin, op, payload, bytesConsumed) or None if the buffer does not
    * yet hold a whole frame. Accepts masked and unmasked frames (the
    * codec serves both directions).
    */
  def decodeFrame(buf: Array[Byte], off: Int): Option[(Boolean, Int, Array[Byte], Int)] = {
    val avail = buf.length - off
    if (avail < 2) return None
    val b0 = buf(off) & 0xff
    val b1 = buf(off + 1) & 0xff
    val fin = (b0 & 0x80) != 0
    val op = b0 & 0x0f
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    var p = off + 2
    if (len == 126) {
      if (avail < 4) return None
      len = ((buf(off + 2) & 0xffL) << 8) | (buf(off + 3) & 0xffL)
      p = off + 4
    } else if (len == 127) {
      if (avail < 10) return None
      len = 0L
      var i = 0
      while (i < 8) { len = (len << 8) | (buf(off + 2 + i) & 0xffL); i += 1 }
      p = off + 10
    }
    require(len <= 16 * 1024 * 1024,
      s"ws frame of $len bytes exceeds the 16 MiB sanity bound")
    val maskLen = if (masked) 4 else 0
    if (buf.length - p < maskLen + len.toInt) return None
    val payload = new Array[Byte](len.toInt)
    if (masked) {
      val key = java.util.Arrays.copyOfRange(buf, p, p + 4)
      var i = 0
      while (i < len.toInt) { payload(i) = (buf(p + 4 + i) ^ key(i & 3)).toByte; i += 1 }
    } else {
      System.arraycopy(buf, p, payload, 0, len.toInt)
    }
    Some((fin, op, payload, p + maskLen + len.toInt - off))
  }
}

/** The channel a [[LiveConnection]] speaks through: `receive()` blocks
  * up to the socket's soTimeout (throwing [[SocketTimeoutException]]
  * with NO state corruption), returns null on orderly close.
  */
private[sources] trait FeedChannel {
  def send(text: String): Unit
  def receive(): String
  def close(): Unit
}

/** Newline-delimited JSON over the raw socket — the default framing. */
private[sources] final class LineChannel(s: Socket) extends FeedChannel {
  private val in = new java.io.BufferedReader(
    new java.io.InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
  private val out = new java.io.OutputStreamWriter(
    s.getOutputStream, StandardCharsets.UTF_8)
  def send(text: String): Unit =
    out.synchronized { out.write(text); out.write("\n"); out.flush() }
  def receive(): String = in.readLine()
  def close(): Unit = ()
}

/** RFC 6455 client channel: Upgrade handshake on construction, masked
  * text frames out, incremental decode + control-frame handling in.
  */
private[sources] final class WsChannel(s: Socket, host: String) extends FeedChannel {
  private val in: InputStream = s.getInputStream
  private val out: OutputStream = s.getOutputStream
  // LCG mask/key source — see the codec scaladoc on why not SecureRandom
  private var seed = 0x9E3779B97F4A7C15L ^ System.identityHashCode(this)
  private def nextBytes(n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var i = 0
    while (i < n) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      a(i) = (seed >>> 33).toByte
      i += 1
    }
    a
  }
  private var buf = Array.emptyByteArray
  private var bufOff = 0
  private val fragments = new StringBuilder
  // true while a fragmented BINARY message is in progress: its OpCont
  // frames belong to the skipped binary payload, not the text
  // reassembly buffer (RFC 6455 §5.4 — continuations carry no type)
  private var binaryInProgress = false
  @volatile private var closeSent = false

  handshake()

  private def handshake(): Unit = {
    val key = java.util.Base64.getEncoder.encodeToString(nextBytes(16))
    val req = "GET / HTTP/1.1\r\n" +
      s"Host: $host\r\n" +
      "Upgrade: websocket\r\n" +
      "Connection: Upgrade\r\n" +
      s"Sec-WebSocket-Key: $key\r\n" +
      "Sec-WebSocket-Version: 13\r\n\r\n"
    out.write(req.getBytes(StandardCharsets.ISO_8859_1))
    out.flush()
    val hdr = new java.io.ByteArrayOutputStream
    var done = false
    while (!done) {
      val b = in.read()
      if (b < 0) throw new java.io.IOException("socket closed during ws handshake")
      hdr.write(b)
      val a = hdr.toByteArray
      val n = a.length
      done = n >= 4 && a(n - 4) == '\r' && a(n - 3) == '\n' &&
        a(n - 2) == '\r' && a(n - 1) == '\n'
    }
    val resp = new String(hdr.toByteArray, StandardCharsets.ISO_8859_1)
    if (!resp.startsWith("HTTP/1.1 101"))
      throw new java.io.IOException(
        s"ws handshake rejected: ${resp.linesIterator.next()}")
    val accept = resp.linesIterator
      .find(_.toLowerCase.startsWith("sec-websocket-accept:"))
      .map(_.split(":", 2)(1).trim)
      .getOrElse(throw new java.io.IOException("ws handshake: no Sec-WebSocket-Accept"))
    if (accept != WsCodec.acceptKey(key))
      throw new java.io.IOException("ws handshake: Sec-WebSocket-Accept mismatch")
  }

  private def sendFrame(op: Int, payload: Array[Byte]): Unit = out.synchronized {
    out.write(WsCodec.encodeFrame(op, payload, Some(nextBytes(4))))
    out.flush()
  }

  def send(text: String): Unit =
    sendFrame(WsCodec.OpText, text.getBytes(StandardCharsets.UTF_8))

  /** Read more bytes into the buffer; throws SocketTimeoutException on
    * soTimeout (buffer intact), returns false on EOF.
    */
  private def fill(): Boolean = {
    val tmp = new Array[Byte](8192)
    val k = in.read(tmp) // may throw SocketTimeoutException
    if (k < 0) false
    else {
      val merged = new Array[Byte](buf.length - bufOff + k)
      System.arraycopy(buf, bufOff, merged, 0, buf.length - bufOff)
      System.arraycopy(tmp, 0, merged, buf.length - bufOff, k)
      buf = merged
      bufOff = 0
      true
    }
  }

  def receive(): String = {
    while (true) {
      WsCodec.decodeFrame(buf, bufOff) match {
        case Some((fin, op, payload, used)) =>
          bufOff += used
          op match {
            case WsCodec.OpText =>
              binaryInProgress = false
              fragments.append(new String(payload, StandardCharsets.UTF_8))
              if (fin) {
                val msg = fragments.toString
                fragments.setLength(0)
                return msg
              }
            case WsCodec.OpCont if binaryInProgress =>
              // continuation of a skipped binary message — drop it,
              // and the final fragment ends the binary message
              if (fin) binaryInProgress = false
            case WsCodec.OpCont =>
              fragments.append(new String(payload, StandardCharsets.UTF_8))
              if (fin) {
                val msg = fragments.toString
                fragments.setLength(0)
                return msg
              }
            case WsCodec.OpPing => sendFrame(WsCodec.OpPong, payload)
            case WsCodec.OpPong => () // keepalive answer — nothing to do
            case WsCodec.OpClose =>
              if (!closeSent) {
                closeSent = true
                try sendFrame(WsCodec.OpClose, payload)
                catch { case _: Exception => () }
              }
              return null
            case WsCodec.OpBinary =>
              // feed is text-only; skip — but a FRAGMENTED binary
              // message must mark its continuations as binary too
              if (!fin) binaryInProgress = true
            case other =>
              throw new java.io.IOException(s"ws: unknown opcode $other")
          }
        case None =>
          if (!fill()) return null // EOF
      }
    }
    null // unreachable
  }

  def close(): Unit = {
    if (!closeSent) {
      closeSent = true
      try sendFrame(WsCodec.OpClose, Array.emptyByteArray)
      catch { case _: Exception => () }
    }
  }
}
