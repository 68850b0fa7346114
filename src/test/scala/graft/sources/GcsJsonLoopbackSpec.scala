package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The GCS JSON API wire against a real loopback HTTP server
  * ([[Loopback.gcsBucket]]): paginated
  * listing, percent-encoded media paths (the %2F requirement pinned on
  * the RAW request path), absent-object 404s, and the whole
  * [[HourCache]] flow fetching over the protocol — the in-sandbox
  * stand-in for `gcloud storage cp` (`cli/src/gcs_downloader.rs`).
  */
class GcsJsonLoopbackSpec extends AnyFunSuite {

  private def bytesOf(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("listing follows nextPageToken to the end and honors the prefix") {
    val objs = (0 until 5).map(i =>
      s"raw/2024-01-01-0$i.jsonl.zst" -> bytesOf(s"hour $i")).toMap +
      ("other/x.bin" -> bytesOf("not ours"))
    val server = Loopback.gcsBucket(objs, pageSize = 2)
    try {
      val listed = GcsJsonClient.listObjects(server.base, "logs", "raw/")
      assert(listed.map(_.name) ==
        (0 until 5).map(i => s"raw/2024-01-01-0$i.jsonl.zst"))
      assert(listed.map(_.size) == (0 until 5).map(i => s"hour $i".length.toLong))
      // 5 matches at pageSize 2 = 3 requests, 2 of them token-bearing
      assert(server.requests.asScala.count(_.query.contains("pageToken=")) == 2)
    } finally server.close()
  }

  test("the Authorization header passes through to BOTH the list and " +
    "media requests — the run-book's bearer-token seam, wire-checked") {
    val name = "raw/a.jsonl.zst"
    val server = Loopback.gcsBucket(Map(name -> bytesOf("x")))
    try {
      val hdrs = Map("Authorization" -> "Bearer fixture-token-123")
      GcsJsonClient.listObjects(server.base, "logs", "raw/", headers = hdrs)
      val dest = File.createTempFile("gcs-dl", ".bin")
      dest.deleteOnExit()
      assert(GcsJsonClient.download(server.base, "logs", name, dest, headers = hdrs))
      assert(server.requests.asScala.flatMap(_.authorization).toSeq ==
        Seq("Bearer fixture-token-123", "Bearer fixture-token-123"),
        s"got ${server.requests.asScala.flatMap(_.authorization).toSeq}")
    } finally server.close()
  }

  test("a server that echoes an unchanged nextPageToken aborts loudly " +
    "instead of looping forever; an item missing 'name' is a protocol " +
    "error, not an NPE") {
    // `body` is by name: evaluated once per request
    def listing(body: => String) = Loopback.http("/storage/v1/b/logs/o" ->
      (ex => Loopback.respond(ex, 200, bytesOf(body))))
    // same token on every page — no progress
    val echo = listing(
      """{"items":[{"name":"raw/a","size":1}],"nextPageToken":"stuck"}""")
    try {
      val ex = intercept[java.io.IOException] {
        GcsJsonClient.listObjects(echo.base, "logs", "raw/")
      }
      assert(ex.getMessage.contains("repeated"), ex.getMessage)
    } finally echo.close()
    // an A/B token CYCLE also makes no progress — the seen-set must
    // catch it (an unchanged-token-only check would loop forever)
    val flip = new java.util.concurrent.atomic.AtomicInteger(0)
    val cyc = listing {
      val t = if (flip.getAndIncrement() % 2 == 0) "A" else "B"
      s"""{"items":[],"nextPageToken":"$t"}"""
    }
    try {
      val ex = intercept[java.io.IOException] {
        GcsJsonClient.listObjects(cyc.base, "logs", "raw/")
      }
      assert(ex.getMessage.contains("repeated"), ex.getMessage)
      assert(flip.get() <= 4, s"must abort on the first repeat: ${flip.get()} pages")
    } finally cyc.close()
    // item with no name field
    val anon = listing("""{"items":[{"size":7}]}""")
    try {
      val ex = intercept[java.io.IOException] {
        GcsJsonClient.listObjects(anon.base, "logs", "raw/")
      }
      assert(ex.getMessage.contains("missing 'name'"), ex.getMessage)
    } finally anon.close()
  }

  test("a REISSUED token with NEW objects on every page is progress, not " +
    "an abort — opaque tokens carry no distinctness guarantee") {
    val page = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = Loopback.http("/storage/v1/b/logs/o" -> { ex =>
      val i = page.getAndIncrement()
      val tok = if (i < 2) ""","nextPageToken":"same"""" else ""
      Loopback.respond(ex, 200, bytesOf(s"""{"items":[{"name":"raw/p$i","size":$i}]$tok}"""))
    })
    try {
      val objs = GcsJsonClient.listObjects(srv.base, "logs", "raw/")
      assert(objs.map(_.name) == Seq("raw/p0", "raw/p1", "raw/p2"))
    } finally srv.close()
  }

  test("media requests percent-encode the object name as one segment " +
    "(%2F on the raw path) and bytes round-trip exactly") {
    val name = "raw/2024-01-01-00.jsonl.zst"
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val server = Loopback.gcsBucket(Map(name -> payload))
    try {
      val dest = File.createTempFile("gcs-dl", ".bin")
      dest.deleteOnExit()
      assert(GcsJsonClient.download(server.base, "logs", name, dest))
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(dest.toPath), payload))
      val raw = server.requests.asScala.head.path
      assert(raw.contains("raw%2F2024-01-01-00.jsonl.zst"),
        s"object name must be one percent-encoded segment: $raw")
    } finally server.close()
  }

  test("absent object → false (the skip-an-hour contract); a 500 " +
    "throws instead of reading as absence") {
    val server = Loopback.gcsBucket(Map("raw/a.jsonl.zst" -> bytesOf("x")))
    try {
      val dest = File.createTempFile("gcs-dl", ".bin")
      dest.deleteOnExit()
      assert(!GcsJsonClient.download(server.base, "logs", "raw/missing.zst", dest))
      val ex = intercept[java.io.IOException] {
        GcsJsonClient.download(server.base, "logs", "raw/boom", dest)
      }
      assert(ex.getMessage.contains("500"))
    } finally server.close()
  }

  test("HourCache.ensureRange over the GCS wire: cached hours skipped, " +
    "missing fetched through the protocol, an absent hour tolerated") {
    val hours = Seq("2024-01-01-00", "2024-01-01-01", "2024-01-01-02",
      "2024-01-01-03")
    // hour 02 has no object (collector downtime)
    val objs = (hours.toSet - "2024-01-01-02").map(h =>
      s"raw/$h.jsonl.zst" -> bytesOf(s"content of $h")).toMap
    val server = Loopback.gcsBucket(objs, pageSize = 2)
    val cacheDir = java.nio.file.Files.createTempDirectory("gcs-cache").toFile
    try {
      // hour 00 pre-cached with DIFFERENT bytes — it must not be re-fetched
      val pre = new File(cacheDir, "2024-01-01-00.jsonl.zst")
      java.nio.file.Files.write(pre.toPath, bytesOf("pre-cached"))
      val got = HourCache.ensureRange(
        cacheDir.getPath,
        Instant.parse("2024-01-01T00:10:00Z"),
        Instant.parse("2024-01-01T03:10:00Z"),
        GcsJsonClient.hourFetcher(server.base, "logs", "raw/"))
      assert(got.map(new File(_).getName) ==
        Seq("2024-01-01-00.jsonl.zst", "2024-01-01-01.jsonl.zst",
          "2024-01-01-03.jsonl.zst"))
      assert(new String(java.nio.file.Files.readAllBytes(pre.toPath),
        StandardCharsets.UTF_8) == "pre-cached")
      assert(new String(java.nio.file.Files.readAllBytes(
        new File(cacheDir, "2024-01-01-01.jsonl.zst").toPath),
        StandardCharsets.UTF_8) == "content of 2024-01-01-01")
      assert(!new File(cacheDir, "2024-01-01-02.jsonl.zst").exists())
    } finally {
      server.close()
      cacheDir.listFiles().foreach(_.delete())
      cacheDir.delete()
    }
  }
}
