package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}

import com.sun.net.httpserver.HttpExchange

/** A loopback handler that holds the first request until a second one
  * arrives (at most 10 s), so a client that really sends requests
  * concurrently always overlaps on the wire, whatever the scheduling. A
  * sequential client never overlaps: its first request waits out the
  * hold, or fails first on a shorter read timeout.
  */
object HoldFirst {
  def apply(handler: HttpExchange => Unit): HttpExchange => Unit = {
    val arrived = new CountDownLatch(2)
    ex => {
      arrived.countDown()
      arrived.await(10, TimeUnit.SECONDS)
      handler(ex)
    }
  }
}
