package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{FeedMsg, Tick}

/** B1/B2/B3 — order-book reconstruction (SURVEY.md §2.4), the
  * reference's core operator (`MarketState::update`,
  * `cli/src/tick_generator.rs:318-362`). Book state is keyed solely by
  * `asset_id`, and every batch replay runs one fold, [[foldRun]], of
  * the one emission rule, [[applyMsg]], over each asset's messages in
  * arrival order `(fileHour, lineNo, msgIdx)`.
  *
  * The fold's contract is per asset: inside a partition, each asset's
  * messages ascend by arrival key, and the partitions that hold an
  * asset do not overlap in its key range. A book event is a
  * last-writer-wins assignment per (side, price) and a snapshot resets
  * the book, so an asset's net change over one partition is a
  * composable [[BookEffect]], and replay is a segmented exclusive
  * prefix scan with one segment per asset (Blelloch 1990):
  *   - pass 1, one job: each partition reports, per asset, its first
  *     and last arrival key, whether the keys ascend, and the effect;
  *   - Spark driver: checks the contract (else it fails, naming the
  *     asset and the partitions, and never folds partial books), then
  *     composes each asset's effects in key order into the seed of each
  *     of its partitions and broadcasts them;
  *   - pass 2, the consumer's job: each partition folds its messages in
  *     input order, each asset from its seed.
  *
  * A `RawLogSource.frames` scan meets the contract in its own layout
  * (partition i holds a contiguous run of hour files), and its ticks
  * come out in reference order, so a write needs no exchange and no
  * sort. So does a lake read through `Sinks.readBucketedLake`, and
  * [[ticks]]' shuffle, which puts each asset in one partition and so
  * needs no seeds and no pass 1.
  *
  * Memory contract: a pass-2 task holds the books of every asset of its
  * partition; the Spark driver holds assets × partitions seeds (each at
  * most an asset's live levels). At 100 TB the driver-side prefix
  * becomes a keyed running fold over (asset, partition) effects, which
  * shuffles effects, not messages. The market filter (F2) is applied
  * before any state or shuffle: filtered messages neither move nor
  * mutate state, matching the reference's filter-before-state placement
  * (`tick_generator.rs:322-351`).
  */
object BookReplay {

  /** Full tick stream (BBO + TRADE) with arrival-order seq columns, for
    * any input layout, in one job: `repartition(assetId)` +
    * `sortWithinPartitions(assetId, arrival key)` puts each asset's
    * messages in one partition in key order, so [[foldRun]] needs no
    * seeds. The sort runs through Spark's spillable external sorter;
    * rows come out grouped by asset.
    */
  def ticks(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]] = None,
  ): Dataset[Tick] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    inMarkets(msgs, marketFilter)
      .repartition($"assetId")
      .sortWithinPartitions($"assetId", $"fileHour", $"lineNo", $"msgIdx")
      .mapPartitions(it => foldRun(None, it))
  }

  /** F2, the one market filter of every replay (batch and stream): an
    * IN-set on the `market` column, placed upstream of any state or
    * shuffle so Catalyst can push it into the scan where possible.
    */
  private[graft] def inMarkets(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]],
  ): Dataset[FeedMsg] =
    marketFilter.fold(msgs)(ids => msgs.filter(col("market").isin(ids.toSeq: _*)))

  /** Reference-schema projection (7 columns, `tick_generator.rs:50-58`)
    * of [[orderedTicks]]; over a `RawLogSource.frames` scan, ordered like
    * a single-threaded replay would append. Reads `msgs` twice.
    */
  def referenceTicks(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]] = None,
  ): DataFrame = reference(orderedTicks(msgs, marketFilter))

  /** The reference's 7 output columns of a tick stream. */
  def reference(ticks: Dataset[Tick]): DataFrame =
    ticks.select(Tick.referenceColumns.map(col): _*)

  /** Replay of `msgs` in its own layout (see the object doc): runs
    * pass 1 now, failing on a broken contract, and returns pass 2, which
    * adds no exchange and no sort. `msgs` is read by both passes;
    * [[withOrderedTicks]] reads it once.
    */
  def orderedTicks(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]] = None,
  ): Dataset[Tick] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    val kept = inMarkets(msgs, marketFilter)
    val runs = kept.rdd.mapPartitions(it => Iterator(summarize(it))).collect().toSeq
    val seeds = spark.sparkContext.broadcast(seedsOf(runs))
    kept.mapPartitions(it => foldRun(Some(seeds.value), it))
  }

  /** [[orderedTicks]] handed to `sink`, with the market-filtered
    * messages persisted across the two passes, so the logs are decoded
    * once. The messages are released once `sink` returns or fails, so
    * `sink` must consume the ticks (write them) before returning.
    */
  def withOrderedTicks[A](
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]],
  )(sink: Dataset[Tick] => A): A = {
    val kept = inMarkets(msgs, marketFilter).persist()
    try sink(orderedTicks(kept))
    finally kept.unpersist()
  }

  /** One message's arrival key `(fileHour, lineNo, msgIdx)`, ordered
    * like the reference's replay.
    */
  private[operators] type Arrival = (String, Long, Int)
  private def arrival(m: FeedMsg): Arrival = (m.fileHour, m.lineNo, m.msgIdx)
  private val order = Ordering[Arrival]

  /** A seed book effect per (asset, arrival key of the asset's first
    * message in a partition).
    */
  private[operators] type Seeds = Map[(String, Arrival), BookEffect]

  /** Pass 1's report on one asset in one partition: its first and last
    * arrival keys, whether they strictly ascend, and its net book
    * effect.
    */
  private[operators] final class Span(val first: Arrival) extends Serializable {
    var last: Arrival = null
    var ascending = true
    val effect = new BookEffect
  }

  private[operators] def summarize(it: Iterator[FeedMsg]): Map[String, Span] = {
    val spans = mutable.HashMap.empty[String, Span]
    it.foreach { m =>
      val k = arrival(m)
      val span = spans.getOrElseUpdate(m.assetId, new Span(k))
      if (span.last != null && order.lteq(k, span.last)) span.ascending = false
      span.last = k
      bookEvent(span.effect, m)
    }
    spans.toMap
  }

  /** The Spark-driver step over pass 1's reports, one per partition:
    * check the contract asset by asset, then map each of an asset's
    * spans to its seed, the composition of the asset's effects in
    * every span before it in key order.
    */
  private[operators] def seedsOf(runs: Seq[Map[String, Span]]): Seeds = {
    def violated(asset: String, why: String) = throw new IllegalStateException(
      s"book replay needs each asset's messages ascending by arrival key in every " +
        s"partition, with disjoint key ranges across partitions: asset $asset $why; " +
        "folding it would write partial books")
    runs.zipWithIndex
      .flatMap { case (spans, p) => spans.map { case (asset, span) => (asset, (p, span)) } }
      .groupMap(_._1)(_._2)
      .flatMap { case (asset, held) =>
        val inOrder = held.sortBy(_._2.first)(order)
        inOrder.foreach { case (p, s) =>
          if (!s.ascending) violated(asset, s"does not ascend in partition $p")
        }
        inOrder.zip(inOrder.drop(1)).foreach { case ((p, a), (q, b)) =>
          if (order.lteq(b.first, a.last))
            violated(asset, s"starts at ${b.first} in partition $q, not after its " +
              s"last key ${a.last} in partition $p")
        }
        val seeds = inOrder.scanLeft(new BookEffect) { case (seed, (_, s)) =>
          s.effect.applyTo(seed.applyTo(new BookEffect))
        }
        inOrder.zip(seeds).map { case ((_, s), seed) => (asset, s.first) -> seed }
      }
  }

  /** The one fold, pass 2 over one partition: fold its messages in
    * input order, each asset's book from its seed, found by the key of
    * the asset's first message here, not by task partition id: a
    * downstream `coalesce` runs several partitions in one task. `seeds`
    * is None when each asset sits in one partition, so every book
    * starts empty.
    */
  private[operators] def foldRun(seeds: Option[Seeds], it: Iterator[FeedMsg]): Iterator[Tick] = {
    val books = mutable.HashMap.empty[String, Book]
    it.flatMap { m =>
      val book = books.getOrElseUpdate(m.assetId, seeds.fold(new Book)(
        _.getOrElse((m.assetId, arrival(m)), throw new IllegalStateException(
          s"book replay: no pass-1 partition starts asset ${m.assetId} at " +
            s"${arrival(m)}, where pass 2 does; the input must read the same on every pass"))
          .applyTo(new Book)))
      applyMsg(book, m)
    }
  }

  /** One message against the live book, the emission rule shared by
    * the batch fold and the stream fold (`MarketState::update`,
    * `tick_generator.rs:318-362`).
    */
  private[graft] def applyMsg(book: Book, m: FeedMsg): Seq[Tick] = m.eventType match {
    case "last_trade_price" if m.price != null && m.size != null =>
      // B3: passthrough (`tick_generator.rs:209-221`); wire side
      // BUY/SELL → stored BID/ASK (`tick_generator.rs:85-88`).
      val side = if (m.side == "BUY") "BID" else "ASK"
      Seq(
        Tick(m.ts, "TRADE", m.market, m.assetId, side,
          new java.math.BigDecimal(m.price).doubleValue,
          new java.math.BigDecimal(m.size).doubleValue,
          m.fileHour, m.lineNo, m.msgIdx, 0))
    case _ => if (bookEvent(book, m)) bbo(book, m) else Nil
  }

  /** One message's change to a book or an effect: a snapshot resets, a
    * diff updates, anything else (a trade) leaves it alone. Returns
    * whether the message was a book event.
    */
  private def bookEvent(levels: Levels, m: FeedMsg): Boolean = m.eventType match {
    case "book" =>
      levels.resetFromSnapshot(m.asks, m.bids)
      true
    case "price_change" =>
      levels.updateFromDiff(m.changes)
      true
    case _ => false
  }

  /** B2: two BBO rows after every book event, ASK first then BID
    * (`Book::write_bbo`, `tick_generator.rs:283-315`), (0,0) for an
    * empty side.
    */
  private def bbo(book: Book, m: FeedMsg): Seq[Tick] = {
    val (ap, as) = book.topAsk
    val (bp, bs) = book.topBid
    Seq(
      Tick(m.ts, "BBO", m.market, m.assetId, "ASK", ap, as,
        m.fileHour, m.lineNo, m.msgIdx, 0),
      Tick(m.ts, "BBO", m.market, m.assetId, "BID", bp, bs,
        m.fileHour, m.lineNo, m.msgIdx, 1),
    )
  }
}
