package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** S3/S4's REST pagination against a real in-process HTTP server on
  * 127.0.0.1 ([[Loopback.marketPages]]): the windowed-concurrent and
  * sequential-with-retry paginators drive actual HTTP GETs with the
  * reference's base64 row-offset cursors, and the retry path sees a
  * server that genuinely 500s. Completes the loopback story from
  * FeedLoopbackSpec for the HTTP half of the connector surface.
  */
class HttpPaginationLoopbackSpec extends AnyFunSuite {

  private def rowJson(i: Int) = s"""{"id":"$i"}"""

  private def httpFetch(server: Loopback.Http) =
    MarketsConnector.httpFetch(s"${server.base}/markets") _

  test("S3 windowed-concurrent pagination over real HTTP: every row " +
    "exactly once, requests actually overlap") {
    val server = Loopback.http(
      "/markets" -> HoldFirst(Loopback.pager(total = 1237, pageSize = 100)(rowJson)))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val rows = MarketsConnector.fetchAllMarkets(
        httpFetch(server), pageSize = 100, concurrency = 8)
      assert(rows.size == 1237)
      assert(rows.toSet == (0 until 1237).map(rowJson).toSet)
      assert(server.maxInFlight.get() > 1,
        "concurrent pagination should overlap requests on the wire")
    } finally server.close()
  }

  test("S4 sequential pagination over real HTTP follows next_cursor to " +
    "the end and retries a genuine 500 per page") {
    val server = Loopback.marketPages(total = 250, pageSize = 100, failFirst = true)(rowJson)
    try {
      val rows = MarketsConnector.fetchAllSequential(
        httpFetch(server), firstCursor = MarketsConnector.cursorFor(0, 100))
      assert(rows.size == 250)
      // each of the 3 cursors was requested at least twice (500 then 200)
      val counts = server.requests.asScala.groupMapReduce(_.query)(_ => 1)(_ + _)
      assert(counts.size == 3 && counts.values.forall(_ >= 2),
        s"every page should see a failed then retried request: $counts")
    } finally server.close()
  }

  test("httpFetch URL-encodes the cursor: base64 '+' and '=' survive a " +
    "standards-decoding server byte-for-byte") {
    // 'MTI+MA==' raw in a query value reads back as 'MTI MA==' on any
    // server applying standard application/x-www-form-urlencoded
    // decoding ('+' → space); only %2B/%3D escaping round-trips it
    val want = "MTI+MA=="
    val server = Loopback.http("/m" -> (ex =>
      Loopback.respond(ex, 200,
        """{"data":["ok"],"next_cursor":null}""".getBytes(StandardCharsets.UTF_8))))
    try {
      val page = MarketsConnector.httpFetch(s"${server.base}/m")(want)
      assert(page.data == Seq("ok") && page.nextCursor.isEmpty)
      // a standard server: RAW query, then form-urlencoded decode
      val seen = server.requests.asScala.toSeq.map(r => java.net.URLDecoder
        .decode(r.query.stripPrefix("next_cursor="), StandardCharsets.UTF_8))
      assert(seen == Seq(want), s"the server must recover the cursor exactly: $seen")
    } finally server.close()
  }

  test("S4 exhausts retries on a permanently failing page and surfaces " +
    "the error") {
    val server = Loopback.marketPages(total = 100, pageSize = 100)(rowJson)
    server.close() // connection refused = permanent transport failure
    val ex = intercept[Exception] {
      MarketsConnector.fetchAllSequential(
        httpFetch(server), firstCursor = MarketsConnector.cursorFor(0, 100),
        maxRetries = 2)
    }
    assert(ex.isInstanceOf[java.io.IOException] ||
      ex.getMessage != null)
  }
}
