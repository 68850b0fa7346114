package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{FeedMsg, Tick}

/** B1/B2/B3 — order-book reconstruction (SURVEY.md §2.4), the
  * reference's core operator (`MarketState::update`,
  * `cli/src/tick_generator.rs:318-362`). Book state is keyed solely by
  * `asset_id`, and every fold below runs the one emission rule,
  * [[applyMsg]], over each asset's messages in arrival order
  * `(fileHour, lineNo, msgIdx)`.
  *
  * Ordered replay ([[orderedTicks]], [[referenceTicks]], and the CLI
  * through [[withOrderedTicks]]) keeps the scan's own layout:
  * `RawLogSource.frames` gives partition i a contiguous run of hour
  * files in `discover` order. A book event is a last-writer-wins
  * assignment per (side, price) and a snapshot resets the book, so a
  * run's net change to each asset's book is a composable
  * [[BookEffect]] (an exclusive prefix scan over an associative
  * operator, Blelloch 1990):
  *   - pass 1, one job: each partition reports its first and last
  *     arrival key, whether its keys ascend, and one effect per asset;
  *   - Spark driver: checks that keys ascend inside each partition and that
  *     partitions do not overlap (else it fails, naming the partition,
  *     and never folds partial books), then composes the effects into
  *     each partition's seed books and broadcasts them, keyed by the
  *     partition's first arrival key;
  *   - pass 2, the consumer's job: each partition folds its messages in
  *     input order from its seeded books. The ticks come out in
  *     reference order, so the write needs no exchange and no sort.
  *
  * Memory contract: a pass-2 task holds the books of every asset of its
  * run of hours, not one asset's book; the Spark driver holds assets ×
  * scan-partitions seeds (each at most an asset's live levels). At
  * 100 TB the driver-side prefix becomes a keyed running fold over
  * (asset, run) effects, which shuffles effects, not messages.
  *
  * [[ticks]] is the fold for an arbitrary input layout: one shuffle on
  * `assetId`, then a secondary sort and a streaming fold that holds one
  * book at a time. The market filter (F2) is applied before any state
  * or shuffle: filtered messages neither move nor mutate state,
  * matching the reference's filter-before-state placement
  * (`tick_generator.rs:322-351`).
  */
object BookReplay {

  /** Full tick stream (BBO + TRADE) with arrival-order seq columns, for
    * any input layout: `repartition(assetId)` +
    * `sortWithinPartitions(assetId, arrival key)` + `mapPartitions`, the
    * secondary-sort shape. The sort runs through Spark's spillable
    * external sorter and the fold walks each partition holding one
    * book at a time; rows come out grouped by asset.
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
      .mapPartitions(foldPartition)
  }

  /** Replay WITHOUT the shuffle, for inputs whose partitioning already
    * co-locates every asset's messages — a message lake bucketed by
    * `assetId` (`bucketBy(n, "assetId")`), or an upstream repartition
    * shared by several consumers. The exchange disappears from the
    * plan entirely; what remains is the in-partition spillable sort
    * and the fold. This is the incremental-tick-generation shape at
    * scale: parse once into a bucketed table, then every replay/
    * reprocess over it is shuffle-free.
    *
    * Caller contract: each partition must hold all of its assets'
    * messages (bucketed scans guarantee this). A violated contract
    * silently folds per-partition partial books — the data-path plan
    * cannot check it without the shuffle being avoided, so the check
    * lives in an OPT-IN side job: set
    * `spark.graft.replay.assertPreDistributed=true` (CI/debug) and the
    * operator first verifies single-partition residency for a sample of
    * assets (`spark.graft.replay.assertSampleMod`, default 8 — every
    * asset whose hash ≡ 0 mod it; 1 = all) and fails fast with the
    * offending asset ids. The side job shuffles only distinct
    * (asset, partition) pairs — bounded by asset cardinality, never by
    * message volume — and leaves the replay plan itself untouched.
    */
  def ticksPreDistributed(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]] = None,
  ): Dataset[Tick] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    val filtered = inMarkets(msgs, marketFilter)
    if (spark.conf.getOption("spark.graft.replay.assertPreDistributed")
        .exists(_.toBoolean)) {
      val mod = spark.conf.getOption("spark.graft.replay.assertSampleMod")
        .map(_.toInt).getOrElse(8)
      assertCoLocated(filtered, mod)
    }
    filtered
      .sortWithinPartitions($"assetId", $"fileHour", $"lineNo", $"msgIdx")
      .mapPartitions(foldPartition)
  }

  /** Debug-mode contract check: every sampled asset must live in exactly
    * one partition of `msgs` AS PARTITIONED NOW. Emits one (asset,
    * partitionId) pair per distinct sampled asset per partition, then
    * looks for assets spanning >1 partition.
    */
  private def assertCoLocated(msgs: Dataset[FeedMsg], sampleMod: Int): Unit = {
    val spark = msgs.sparkSession
    import spark.implicits._
    require(sampleMod >= 1, s"assertSampleMod must be >= 1, got $sampleMod")
    val offending = msgs
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val seen = scala.collection.mutable.HashSet.empty[String]
        it.foreach { m =>
          if (m.assetId != null && (m.assetId.hashCode & 0x7fffffff) % sampleMod == 0)
            seen += m.assetId
        }
        seen.iterator.map(a => (a, pid))
      }
      .toDF("assetId", "pid")
      .groupBy($"assetId")
      .agg(countDistinct($"pid").as("n_parts"))
      .filter($"n_parts" > 1)
      .limit(5)
      .collect()
    require(offending.isEmpty,
      "ticksPreDistributed contract violated: asset(s) " +
        offending.map(r => s"${r.getString(0)} (${r.getLong(1)} partitions)")
          .mkString(", ") +
        " span multiple partitions — the fold would emit partial books. " +
        "Bucket the input by assetId (bucketBy(n, \"assetId\")) or use " +
        "BookReplay.ticks, which shuffles.")
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
    * of the ordered replay, ordered like a single-threaded replay would
    * append. Reads `msgs` twice (see [[orderedTicks]]).
    */
  def referenceTicks(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]] = None,
  ): DataFrame = reference(orderedTicks(msgs, marketFilter))

  /** The reference's 7 output columns of a tick stream. */
  def reference(ticks: Dataset[Tick]): DataFrame =
    ticks.select(Tick.referenceColumns.map(col): _*)

  /** Ordered replay of a scan in arrival order (see the object doc):
    * runs pass 1 now and returns pass 2, whose ticks come out in
    * reference order with no exchange and no sort. `msgs` must be a
    * `RawLogSource.frames` scan, or keep its layout: keys ascending
    * inside each partition and partitions not overlapping; anything
    * else fails here, naming the partition. `msgs` is read by both
    * passes; [[withOrderedTicks]] reads it once.
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
    kept.mapPartitions(it => foldRun(seeds.value, it))
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

  /** Pass 1's report on one partition: its first and last arrival keys
    * (null when it is empty), whether its keys strictly ascend, and each
    * asset's net book effect.
    */
  private[operators] final case class Run(
      first: Arrival,
      last: Arrival,
      ascending: Boolean,
      effects: Map[String, BookEffect],
  )

  private[operators] def summarize(it: Iterator[FeedMsg]): Run = {
    val effects = mutable.HashMap.empty[String, BookEffect]
    var first, last: Arrival = null
    var ascending = true
    it.foreach { m =>
      val k = arrival(m)
      if (first == null) first = k else if (order.lteq(k, last)) ascending = false
      last = k
      bookEvent(effects.getOrElseUpdate(m.assetId, new BookEffect), m)
    }
    Run(first, last, ascending, effects.toMap)
  }

  /** The Spark-driver step: check the order contract over the runs, then map
    * the first key of each non-empty run i to its seed, the composition
    * of every asset's effects in runs 0 until i.
    */
  private[operators] def seedsOf(runs: Seq[Run]): Map[Arrival, Map[String, BookEffect]] = {
    def violated(why: String) = throw new IllegalStateException(
      s"ordered replay needs a scan in arrival order (RawLogSource.frames over " +
        s"discover order, no repartition): $why; folding it would write partial books")
    runs.zipWithIndex.foreach { case (r, i) =>
      if (!r.ascending) violated(s"the arrival keys of partition $i do not ascend")
    }
    val filled = runs.zipWithIndex.filter(_._1.first != null)
    filled.zip(filled.drop(1)).foreach { case ((a, i), (b, j)) =>
      if (order.lteq(b.first, a.last))
        violated(s"partition $j starts at ${b.first}, not after partition $i's last key ${a.last}")
    }
    val seeds = runs.scanLeft(Map.empty[String, BookEffect]) { (seed, r) =>
      seed ++ r.effects.map { case (asset, e) =>
        asset -> e.applyTo(seed.get(asset).fold(new BookEffect)(_.applyTo(new BookEffect)))
      }
    }
    runs.zip(seeds).collect { case (r, seed) if r.first != null => r.first -> seed }.toMap
  }

  /** Pass 2 over one run: fold its messages in input order, each asset
    * from the seed book of the run that starts at the first message
    * (empty when no earlier run touched the asset). The seed is found by
    * that key, not by task partition id: a downstream `coalesce` runs
    * several runs in one task.
    */
  private[operators] def foldRun(
      seeds: Map[Arrival, Map[String, BookEffect]],
      it: Iterator[FeedMsg],
  ): Iterator[Tick] = {
    val books = mutable.HashMap.empty[String, Book]
    var seed: Map[String, BookEffect] = null
    it.flatMap { m =>
      if (seed == null) seed = seeds.getOrElse(arrival(m), throw new IllegalStateException(
        s"ordered replay: no pass-1 partition starts at ${arrival(m)}, where a pass-2 " +
          "partition starts; the input must read the same on every pass"))
      val book = books.getOrElseUpdate(m.assetId,
        seed.get(m.assetId).fold(new Book)(_.applyTo(new Book)))
      applyMsg(book, m)
    }
  }

  /** Walk one partition of asset-contiguous, arrival-ordered messages,
    * folding a single live book and emitting ticks. Assets arrive
    * grouped (partition is sorted by assetId first), so book state is
    * dropped as soon as its asset's run ends.
    */
  private[graft] def foldPartition(iter: Iterator[FeedMsg]): Iterator[Tick] = {
    var started = false
    var currentAsset: String = null
    var book: Book = null
    iter.flatMap { m =>
      // `started` (not a null sentinel) so the very first message
      // always allocates a book — even a dirty null-asset message that
      // slipped past an upstream gate folds instead of NPE-ing
      if (!started || m.assetId != currentAsset) {
        started = true
        currentAsset = m.assetId
        book = new Book
      }
      applyMsg(book, m)
    }
  }

  /** One message against the live book, the emission rule shared by
    * the batch fold and both streaming folds (`MarketState::update`,
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
