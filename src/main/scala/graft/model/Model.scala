package graft.model

/** Typed data model for the raw-log → tick pipeline.
  *
  * Shapes mirror the reference's wire structs (SURVEY.md §1.1):
  * frames `collector/src/main.rs:18-23`, feed union
  * `cli/src/tick_generator.rs:379-443`, tick row
  * `cli/src/tick_generator.rs:50-58,197-207`. Prices/sizes stay decimal
  * STRINGS through the pipeline — they become the book's exact-decimal
  * keys — and are cast to Double only in the emitted tick, the one
  * sanctioned lossy cast (`tick_generator.rs:89-90`).
  */

/** One raw log line: RFC3339 receipt time + frame type + payload.
  * `content` is the verbatim JSON value: a plain string for
  * feed_message frames (double-encoded JSON / "PONG"), compact-rendered
  * JSON for object payloads (active_markets etc.).
  */
final case class Frame(
    fileHour: String,
    lineNo: Long,
    frameTs: String,
    messageType: String,
    content: String,
)

/** One price level (`tick_generator.rs:415-428`). */
final case class Level(price: String, size: String)

/** One diff entry; `side` is wire-encoded BUY(bid)/SELL(ask)
  * (`tick_generator.rs:407-413,430-443`).
  */
final case class Change(price: String, size: String, side: String)

/** Flattened feed-message union (tag = `eventType`), plus the stable
  * arrival-order key `(fileHour, lineNo, msgIdx)` — file hours sort
  * lexicographically = chronologically, line numbers are assigned
  * sequentially within one file read (offset by `rank << 32` for the
  * later batch files of one hour), msgIdx indexes inside one frame's
  * double-encoded array.
  */
final case class FeedMsg(
    fileHour: String,
    lineNo: Long,
    msgIdx: Int,
    eventType: String,
    market: String,
    assetId: String,
    ts: String, // exchange epoch-ms string, passed through to ticks
    side: String, // last_trade_price only (wire BUY/SELL)
    price: String, // last_trade_price only
    size: String, // last_trade_price only
    asks: Seq[Level], // book only
    bids: Seq[Level], // book only
    changes: Seq[Change], // price_change only
)

/** Output tick row. First seven columns = the reference's Parquet
  * schema exactly (`tick_generator.rs:50-58`; side written BID/ASK per
  * `:85-88`); the trailing seq columns are our deterministic
  * within-asset emission order (the reference relies on file append
  * order, which a distributed engine must carry explicitly).
  */
final case class Tick(
    timestamp: String,
    kind: String, // "BBO" | "TRADE"
    market: String,
    asset: String,
    side: String, // "BID" | "ASK"
    price: Double,
    size: Double,
    file_hour: String,
    line_no: Long,
    msg_idx: Int,
    emit_idx: Int, // 0 = ASK bbo / trade row, 1 = BID bbo
)

object Tick {
  /** The reference's exact 7-column output projection. */
  val referenceColumns: Seq[String] =
    Seq("timestamp", "kind", "market", "asset", "side", "price", "size")
}
