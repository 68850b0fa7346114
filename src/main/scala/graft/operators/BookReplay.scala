package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{FeedMsg, Tick}

/** B1/B2/B3 — order-book reconstruction (SURVEY.md §2.4), the
  * reference's core operator (`MarketState::update`,
  * `cli/src/tick_generator.rs:318-362`).
  *
  * Distribution argument: book state is keyed solely by `asset_id`, so
  * replaying each asset's messages in arrival order is equivalent to
  * the reference's single-threaded global-order replay — only the
  * interleaving of *different* assets' output rows differs (SURVEY.md
  * §2.4 B1). That makes the operator shard perfectly: one shuffle on
  * `assetId`, then a streaming fold per key.
  *
  * Physical plan: `repartition(assetId)` + `sortWithinPartitions(assetId,
  * arrival key)` + `mapPartitions` — the classic secondary-sort shape.
  * Unlike `groupByKey.flatMapGroups` (which materializes each group),
  * the sort runs through Spark's spillable external sorter and the fold
  * walks the partition as one pass holding exactly ONE book at a time.
  * Memory per task is O(one asset's live levels), independent of
  * message count — this is what survives a 100 TB replay.
  *
  * The market filter (F2) is applied *before* the shuffle: filtered
  * messages neither move nor mutate state, matching the reference's
  * filter-before-state placement (`tick_generator.rs:322-351`) and
  * shrinking the shuffle to exactly the requested markets.
  */
object BookReplay {

  /** Full tick stream (BBO + TRADE) with arrival-order seq columns. */
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
    * IN-set on the `market` column, placed upstream of the shuffle so
    * Catalyst can push it into the scan where possible.
    */
  private[graft] def inMarkets(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]],
  ): Dataset[FeedMsg] =
    marketFilter.fold(msgs)(ids => msgs.filter(col("market").isin(ids.toSeq: _*)))

  /** Reference-schema projection (7 columns, `tick_generator.rs:50-58`),
    * ordered like a single-threaded replay would append.
    */
  def referenceTicks(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]] = None,
  ): DataFrame =
    ticks(msgs, marketFilter)
      .orderBy(col("file_hour"), col("line_no"), col("msg_idx"), col("emit_idx"))
      .select(Tick.referenceColumns.map(col): _*)

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
    case "book" =>
      book.resetFromSnapshot(m.asks, m.bids)
      bbo(book, m)
    case "price_change" =>
      book.updateFromDiff(m.changes)
      bbo(book, m)
    case _ => Nil
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
