package graft.sources

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** S6's download-and-cache path over a REAL HTTP object store on
  * 127.0.0.1 ([[Loopback.http]]) — the loopback complement to
  * HourCacheSpec's injected fetcher: actual GETs, actual files on disk, a genuinely missing
  * object (collector downtime) skipped, the 4-wide batch parallelism
  * observed on the wire, and the anti-join cache check keeping
  * already-cached hours off the network entirely.
  */
class HourCacheLoopbackSpec extends AnyFunSuite {

  /** Object store serving /objects/<hour>.jsonl.zst; hours in
    * `missing404` return 404.
    */
  private def objectServer(missing404: Set[String]) = Loopback.http("/objects/" -> { ex =>
    Thread.sleep(30) // let batch-mates overlap measurably
    val hour = hourOf(ex.getRequestURI.getPath)
    if (missing404.contains(hour)) Loopback.respond(ex, 404)
    else Loopback.respond(ex, 200, s"payload-for-$hour\n".getBytes("UTF-8"))
  })

  private def hourOf(path: String) = path.stripPrefix("/objects/").stripSuffix(".jsonl.zst")

  private def requested(server: Loopback.Http) =
    server.requests.asScala.toSeq.map(r => hourOf(r.path))

  /** The real fetch: GET the object, stream it to the target file;
    * false (skip) on 404, like the reference tolerating an absent
    * hour.
    */
  private def httpFetch(base: String)(hour: String, target: File): Boolean = {
    val conn = URI.create(s"$base/objects/$hour.jsonl.zst")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(3000)
    conn.setReadTimeout(3000)
    try {
      if (conn.getResponseCode != 200) false
      else {
        java.nio.file.Files.copy(conn.getInputStream, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        true
      }
    } finally conn.disconnect()
  }

  test("fetchMissing over real HTTP: 6 hours with one 404 → 5 files on " +
    "disk with the served bytes, the 404 hour skipped cleanly, and the " +
    "4-wide batches genuinely overlap on the wire") {
    val hours = HourCache.requiredHours(
      Instant.parse("2025-07-01T03:10:00Z"), Instant.parse("2025-07-01T08:10:00Z"))
    assert(hours.size == 6)
    val gone = hours(2)
    val server = objectServer(Set(gone))
    val dir = java.nio.file.Files.createTempDirectory("graft_s6_loopback").toFile
    try {
      val fetched = HourCache.fetchMissing(
        dir.getPath, hours, httpFetch(server.base), batchSize = 4)
      assert(fetched.toSet == hours.toSet - gone)
      assert(requested(server).toSet == hours.toSet)
      for (h <- hours if h != gone) {
        val f = new File(dir, s"$h.jsonl.zst")
        assert(f.isFile, s"missing $f")
        assert(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          == s"payload-for-$h\n")
      }
      assert(!new File(dir, s"$gone.jsonl.zst").exists(),
        "a 404'd hour must leave no file behind")
      assert(server.maxInFlight.get() > 1,
        "batch fetches should overlap on the wire")
    } finally { server.close(); dir.listFiles().foreach(_.delete()); dir.delete(); () }
  }

  test("the cache anti-join keeps already-cached hours off the network: " +
    "a second sweep fetches ONLY the hour that 404'd before") {
    val hours = HourCache.requiredHours(
      Instant.parse("2025-07-01T00:00:00Z"), Instant.parse("2025-07-01T03:00:00Z"))
    val flaky = hours.last
    val server1 = objectServer(Set(flaky))
    val dir = java.nio.file.Files.createTempDirectory("graft_s6_cache").toFile
    try {
      val p1 = HourCache.partitionByCache(dir.getPath, hours)
      assert(p1.cached.isEmpty && p1.missing == hours)
      HourCache.fetchMissing(dir.getPath, p1.missing, httpFetch(server1.base))
      server1.close()
      // the object appears (collector caught up); only it gets fetched
      val server2 = objectServer(Set.empty)
      try {
        val p2 = HourCache.partitionByCache(dir.getPath, hours)
        assert(p2.cached.toSet == hours.toSet - flaky)
        assert(p2.missing == Seq(flaky))
        val fetched = HourCache.fetchMissing(
          dir.getPath, p2.missing, httpFetch(server2.base))
        assert(fetched == Seq(flaky))
        assert(requested(server2) == Seq(flaky),
          "cached hours must not touch the network")
      } finally server2.close()
    } finally { dir.listFiles().foreach(_.delete()); dir.delete(); () }
  }
}
