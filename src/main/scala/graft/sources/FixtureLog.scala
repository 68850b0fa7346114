package graft.sources

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import com.github.luben.zstd.ZstdOutputStream

import graft.model.{Change, Level}

/** Structured form of one wire feed message, as the fixture generators
  * DEFINE it — the ground truth from which the wire JSON is rendered.
  * Dumped to parquet by `graft.queries.FixtureOracle` so the DuckDB
  * correctness oracle can reconstruct the expected tick stream without
  * touching the Spark parse/fold under test.
  *
  * `(file_hour, line_no, msg_idx)` is the same arrival key the scan
  * layer assigns (`RawLogSource.readFile`); for the live-feed generator
  * `line_no` is the frame index (arrival order is all the fold needs).
  */
final case class WireMsg(
    file_hour: String,
    line_no: Long,
    msg_idx: Int,
    event_type: String,
    market: String,
    asset: String,
    ts: String,
    side: String,
    price: String,
    size: String,
    asks: Seq[Level],
    bids: Seq[Level],
    changes: Seq[Change],
)

object WireMsg {
  def trade(market: String, asset: String, ts: String,
      side: String, price: String, size: String): WireMsg =
    WireMsg(null, -1, 0, "last_trade_price", market, asset, ts,
      side, price, size, null, null, null)

  def book(market: String, asset: String, ts: String,
      asks: Seq[Level], bids: Seq[Level]): WireMsg =
    WireMsg(null, -1, 0, "book", market, asset, ts,
      null, null, null, asks, bids, null)

  def diff(market: String, asset: String, ts: String,
      changes: Seq[Change]): WireMsg =
    WireMsg(null, -1, 0, "price_change", market, asset, ts,
      null, null, null, null, null, changes)
}

/** Renders the reference wire format (`collector/src/main.rs:18-69`,
  * feed union `cli/src/tick_generator.rs:379-443`) from structured
  * messages — shared by the recorded-log fixture (FixtureLog) and the
  * live-feed generator (GraftFeed) so dump and wire can never drift.
  */
object WireJson {
  /** JSON string-escape for embedding one JSON text inside another
    * (the double-encoded `content` field).
    */
  def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  def feedFrame(frameTs: String, innerPlain: String): String =
    s"""{"timestamp":"$frameTs","message_type":"feed_message","content":"[${escape(innerPlain)}]"}"""

  private def lv(ls: Seq[Level]): String =
    ls.map(l => s"""{"price":"${l.price}","size":"${l.size}"}""").mkString(",")

  private def ch(cs: Seq[Change]): String =
    cs.map(c => s"""{"price":"${c.price}","size":"${c.size}","side":"${c.side}"}""")
      .mkString(",")

  /** The message as plain (un-embedded) JSON, reference field order. */
  def inner(m: WireMsg): String = m.event_type match {
    case "last_trade_price" =>
      s"""{"event_type":"last_trade_price","asset_id":"${m.asset}","market":"${m.market}","timestamp":"${m.ts}","side":"${m.side}","price":"${m.price}","size":"${m.size}"}"""
    case "book" =>
      s"""{"event_type":"book","asset_id":"${m.asset}","market":"${m.market}","timestamp":"${m.ts}","asks":[${lv(m.asks)}],"bids":[${lv(m.bids)}]}"""
    case "price_change" =>
      s"""{"event_type":"price_change","asset_id":"${m.asset}","market":"${m.market}","timestamp":"${m.ts}","changes":[${ch(m.changes)}]}"""
    case other =>
      throw new IllegalArgumentException(s"unrenderable event_type: $other")
  }

  def frame(frameTs: String, m: WireMsg): String = feedFrame(frameTs, inner(m))
}

/** One market×token row of the fixture's `active_markets` dimension
  * frame, in generator ground-truth form (for the markets-dim oracle).
  */
final case class MarketTokenRow(
    condition_id: String,
    question_id: String,
    question: String,
    outcome: String,
    token_price: Double,
    token_id: String,
    winner: Boolean,
    closed: Boolean,
    accepting_orders: Boolean,
    active: Boolean,
    archived: Boolean,
    enable_order_book: Boolean,
)

/** Deterministic generator of reference-format raw logs
  * (FIXTURES.md §1-2): hourly `YYYY-MM-DD-HH.jsonl.zst` files of JSON
  * frames, including every frame/message variant the replayer must
  * handle — snapshots, diffs (with delete-on-zero), trades, PONGs,
  * unknown event types, operational frames, and an `active_markets`
  * dimension frame with unmodeled extra keys.
  *
  * Seeded `Random` makes output a pure function of the parameters, so
  * pipeline queries built on these fixtures are driver-reproducible.
  * Generation is structured-first: each known feed event is built as a
  * [[WireMsg]] and rendered by [[WireJson]]; `feedMessages` exposes the
  * structured stream (with the scan layer's arrival key) as the
  * independent input of the DuckDB replay oracle.
  */
object FixtureLog {

  final case class Spec(
      dir: String,
      nFiles: Int = 3,
      framesPerFile: Int = 120,
      nMarkets: Int = 2,
      assetsPerMarket: Int = 2,
      seed: Long = 42L,
      compress: Boolean = true, // false → plain .jsonl (streaming text source)
  )

  def assets(spec: Spec): Seq[(String, String)] = // (market, asset)
    for {
      m <- 0 until spec.nMarkets
      a <- 0 until spec.assetsPerMarket
    } yield (s"0xM$m", s"A${m * spec.assetsPerMarket + a}")

  /** One generated log line: wire JSON plus, for known feed events,
    * the structured message (line_no already assigned).
    */
  private final case class GenLine(json: String, msg: Option[WireMsg])

  /** Write the fixture files (idempotent — same spec, same bytes) and
    * return their paths in hour order.
    */
  def write(spec: Spec): Seq[String] = {
    val dir = new File(spec.dir)
    dir.mkdirs()
    val written = writeFiles(spec, dir)
    // the fixture dir persists across JVM runs (tmpdir): drop stray
    // files from older specs so directory-globbing readers (the
    // streaming gate) see exactly this spec's files
    val keep = written.map(p => new File(p).getName).toSet
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filterNot(f => keep(f.getName))
      .foreach(f => f.delete(): Unit)
    written
  }

  /** Every known feed message the fixture contains, in arrival order,
    * with the same `(file_hour, line_no, msg_idx)` key the scan layer
    * assigns — the replay oracle's ground truth. Pure function of the
    * spec (PONG / unknown-event / operational lines carry no message).
    */
  def feedMessages(spec: Spec): Seq[WireMsg] =
    (0 until spec.nFiles).flatMap { fi =>
      genFile(spec, hourOf(fi), fi).flatMap(_.msg)
    }

  /** The dimension frame's market×token rows (identical in every file
    * of a spec) — ground truth for the markets-dim oracle.
    */
  def marketTokens(spec: Spec): Seq[MarketTokenRow] =
    for {
      m <- 0 until spec.nMarkets
      closed = m == spec.nMarkets - 1 && spec.nMarkets > 1
      a <- 0 until spec.assetsPerMarket
    } yield MarketTokenRow(
      condition_id = s"0xM$m",
      question_id = s"0xQ$m",
      question = s"Fixture question $m?",
      outcome = if (a == 0) "Yes" else "No",
      token_price = 0.5,
      token_id = s"A${m * spec.assetsPerMarket + a}",
      winner = false,
      closed = closed,
      accepting_orders = !closed,
      active = true,
      archived = false,
      enable_order_book = true,
    )

  /** File `fi` covers the hour from 2025-07-01T10:00Z + `fi` hours. Its
    * hour key and every receipt time in it derive from that one instant,
    * so a day of more than 14 files rolls over to 2025-07-02.
    */
  private def hourStart(fi: Int): Instant =
    Instant.parse("2025-07-01T10:00:00Z").plus(Duration.ofHours(fi.toLong))

  private def fmt(pattern: String) =
    DateTimeFormatter.ofPattern(pattern).withZone(ZoneOffset.UTC)
  private val HourKey = fmt("yyyy-MM-dd-HH")
  private val ReceiptTs = fmt("yyyy-MM-dd'T'HH:mm:ssxxx")

  private def hourOf(fi: Int): String = HourKey.format(hourStart(fi))

  private def writeFiles(spec: Spec, dir: File): Seq[String] = {
    (0 until spec.nFiles).map { fi =>
      val hour = hourOf(fi)
      val path =
        new File(dir, s"$hour.jsonl" + (if (spec.compress) ".zst" else ""))
      val raw = new FileOutputStream(path)
      val out = new OutputStreamWriter(
        if (spec.compress) new ZstdOutputStream(raw) else raw,
        StandardCharsets.UTF_8)
      try genFile(spec, hour, fi).foreach(l => out.write(l.json + "\n"))
      finally out.close()
      path.getPath
    }
  }

  private def genFile(spec: Spec, hour: String, fileIdx: Int): Vector[GenLine] = {
    val rnd = new Random(spec.seed + fileIdx)
    val pairs = assets(spec)
    val lines = mutable.ArrayBuffer.empty[GenLine]
    def add(json: String, msg: Option[WireMsg] = None): Unit = {
      val withKey = msg.map(_.copy(file_hour = hour, line_no = lines.size.toLong))
      lines += GenLine(json, withKey)
    }
    // receipt timestamps strictly increase with the line index (minute
    // then second), like a real single-writer collector log — the
    // streaming path keys arrival order on receipt time
    def frameTs(i: Int) =
      ReceiptTs.format(hourStart(fileIdx).plusSeconds((i % 3600).toLong))
    def msgTs(i: Int) = (1751378400000L + fileIdx * 3600000L + i * 1000L).toString

    // dimension frame first, as after each rotation
    // (`collector/src/main.rs:178-179`)
    add(activeMarketsFrame(spec, frameTs(0)))
    add(
      s"""{"timestamp":"${frameTs(0)}","message_type":"all_connections_ready","content":{"connection_count":2,"markets_count":${spec.nMarkets}}}""")

    for (i <- 1 to spec.framesPerFile) {
      val (market, asset) = pairs(rnd.nextInt(pairs.size))
      val ts = msgTs(i)
      rnd.nextInt(10) match {
        case 0 => // server keepalive — must be skipped (F5)
          add(s"""{"timestamp":"${frameTs(i)}","message_type":"feed_message","content":"PONG"}""")
        case 1 => // unknown event type — must be dropped (F6)
          add(WireJson.feedFrame(frameTs(i),
            s"""{"event_type":"tick_size_change","asset_id":"$asset","market":"$market","timestamp":"$ts","old_tick_size":"0.01","new_tick_size":"0.001"}"""))
        case 2 | 3 => // full snapshot
          val asks = levels(rnd, 2 + rnd.nextInt(3), 50 + rnd.nextInt(30), +1)
          val bids = levels(rnd, 2 + rnd.nextInt(3), 45 - rnd.nextInt(30), -1)
          val m = WireMsg.book(market, asset, ts, asks, bids)
          add(WireJson.frame(frameTs(i), m), Some(m))
        case 4 => // trade
          val px = cents(30 + rnd.nextInt(40))
          val sz = (1 + rnd.nextInt(500)).toString
          val side = if (rnd.nextBoolean()) "BUY" else "SELL"
          val m = WireMsg.trade(market, asset, ts, side, px, sz)
          add(WireJson.frame(frameTs(i), m), Some(m))
        case _ => // diff, ~1/4 of whose changes are level deletes
          val n = 1 + rnd.nextInt(3)
          val chs = (0 until n).map { _ =>
            val px = cents(20 + rnd.nextInt(60))
            val sz = if (rnd.nextInt(4) == 0) "0" else (1 + rnd.nextInt(300)).toString
            val side = if (rnd.nextBoolean()) "BUY" else "SELL"
            Change(px, sz, side)
          }
          val m = WireMsg.diff(market, asset, ts, chs)
          add(WireJson.frame(frameTs(i), m), Some(m))
      }
    }
    add(
      s"""{"timestamp":"${frameTs(spec.framesPerFile + 1)}","message_type":"shutdown_initiated","content":{"signal":"SIGTERM"}}""")
    lines.toVector
  }

  private def cents(c: Int): String = f"0.${c}%02d"

  private def levels(rnd: Random, n: Int, base: Int, dir: Int): Seq[Level] =
    (0 until n).map { k =>
      val px = cents(math.max(1, math.min(99, base + dir * k)))
      Level(px, (1 + rnd.nextInt(400)).toString)
    }

  /** Two-token markets with an unmodeled `neg_risk` key, exercising the
    * open-schema path (`collector/src/lib.rs:40-41,63-65`). One market
    * is intentionally inactive (closed) to exercise F1. Rendered from
    * the same `marketTokens` rows the oracle dump uses.
    */
  private def activeMarketsFrame(spec: Spec, ts: String): String = {
    val markets = marketTokens(spec)
      .groupBy(r => (r.condition_id, r.question_id, r.question, r.closed,
        r.accepting_orders, r.active, r.archived, r.enable_order_book))
      .toSeq
      .sortBy(_._1._1) // condition_id "0xM<m>" — generator order
      .map { case ((cid, qid, q, closed, acc, active, arch, eob), toks) =>
        val tokens = toks.sortBy(_.token_id).zipWithIndex
          .map { case (t, a) =>
            s"""{"outcome":"${t.outcome}","price":${t.token_price},"token_id":"${t.token_id}","winner":${t.winner},"extra_tag":"t$a"}"""
          }
          .mkString(",")
        val id = cid.stripPrefix("0xM")
        s"""{"closed":$closed,"accepting_orders":$acc,"active":$active,"archived":$arch,"enable_order_book":$eob,"id":"$id","condition_id":"$cid","question_id":"$qid","question":"$q","description":"fixture","tokens":[$tokens],"neg_risk":false}"""
      }
      .mkString(",")
    s"""{"timestamp":"$ts","message_type":"active_markets","content":{"count":${spec.nMarkets},"markets":[$markets]}}"""
  }
}
