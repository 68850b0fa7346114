package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.model.{FeedMsg, Tick}
import graft.operators.{Book, BookReplay}

/** Structured Streaming variant of the book replay (SURVEY.md §2.7):
  * the same fold as BookReplay, with the book held in per-key
  * `GroupState` instead of a partition-local variable — state lives
  * across micro-batches exactly like the reference's long-running
  * collector state lives across messages.
  *
  * State: the live [[Book]] itself, stored with
  * `Encoders.javaSerialization` (the serialization that already
  * carries `BookEffect` seeds to the batch fold), so exact decimal
  * levels cross a batch boundary unchanged. A checkpoint written with
  * the earlier state schema (two lists of decimal-string levels)
  * cannot be resumed: Spark's state-schema check refuses it, so such
  * a query restarts from a fresh checkpoint.
  *
  * Ordering: within one micro-batch a key's messages are sorted by the
  * arrival key before folding. Across micro-batches, ordering is the
  * source's append order (hourly files in hour order / a log-ordered
  * queue), which matches the reference's replay contract. Books need
  * no watermark: periodic `book` snapshots self-heal any divergence
  * (`tick_generator.rs:241-254`); windowed analytics set watermarks on
  * the exchange timestamp instead.
  *
  * Scale: state per key is one book (a few hundred levels); the
  * streaming shuffle is the same HashPartitioning(assetId) as batch.
  * For dead assets, pass a `stateTtl` so books of delisted markets
  * are dropped (documented deviation from the reference, which keeps
  * them forever in a 2 GB-capped process). Note that with a TTL the
  * engine schedules batches every trigger interval even with no data
  * (that is how pending timeouts fire), so pair `stateTtl` with an
  * explicit `Trigger.ProcessingTime(...)` — under the default 0 ms
  * trigger the query busy-spins and `processAllAvailable` never
  * returns. Eviction under RocksDB is spec'd in LiveIngestSpec.
  *
  * `ticksStream` is the ONE stream fold of the book. It runs on both
  * state-store providers (the default HDFS-backed one and RocksDB, the
  * production provider); their parity is spec'd in
  * StateProviderParitySpec and gated by q_stream_replay_ticks_tws.
  */
object StreamingReplay {

  def ticksStream(
      msgs: Dataset[FeedMsg],
      marketFilter: Option[Set[String]] = None,
      stateTtl: Option[String] = None,
  ): Dataset[Tick] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    implicit val bookEncoder: Encoder[Book] = Encoders.javaSerialization[Book]
    val timeout = stateTtl
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())

    BookReplay.inMarkets(msgs, marketFilter)
      .groupByKey(_.assetId)
      .flatMapGroupsWithState[Book, Tick](OutputMode.Append(), timeout) {
        (_: String, it: Iterator[FeedMsg], state: GroupState[Book]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val book = state.getOption.getOrElse(new Book)
            val ordered = it.toSeq.sortBy(m => (m.fileHour, m.lineNo, m.msgIdx))
            val out = ordered.iterator.flatMap(m => BookReplay.applyMsg(book, m)).toVector
            state.update(book)
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Adds `event_ts`, the exchange timestamp read as epoch millis, and
    * drops the rows whose timestamp is not a number. try_cast, not
    * cast: the reference carries the exchange timestamp as a raw
    * string end-to-end (tick_generator.rs:51), so a non-numeric one can
    * reach a long-running stream, and under ANSI a plain cast would
    * throw and kill the query instead of dropping the dirty tick.
    */
  def withEventTs(ticks: Dataset[_]): DataFrame =
    ticks
      .withColumn("event_ts", timestamp_millis(expr("try_cast(timestamp AS LONG)")))
      .filter(col("event_ts").isNotNull)

  /** A1 streaming: last BBO price per (1-minute tumbling window, side)
    * with a watermark on the exchange timestamp — late data beyond the
    * delay is dropped, windows finalize incrementally
    * (`notebooks/bbo.ipynb` cell 2's `resample('1min').last()`).
    * `max_by` over the total arrival key makes "last" deterministic.
    */
  def bboMinutely(ticks: Dataset[Tick], watermark: String = "2 minutes"): DataFrame = {
    val spark = ticks.sparkSession
    import spark.implicits._
    withEventTs(ticks.filter($"kind" === "BBO"))
      .withWatermark("event_ts", watermark)
      .groupBy(window($"event_ts", "1 minute"), $"asset", $"side")
      .agg(
        max_by($"price", struct($"file_hour", $"line_no", $"msg_idx")).as("last_price"),
        count(lit(1)).as("n_events"),
      )
      .select($"window.start".as("minute"), $"asset", $"side", $"last_price", $"n_events")
  }

  /** A2 streaming: hourly traded volume per asset (watermarked sum). */
  def hourlyVolume(ticks: Dataset[Tick], watermark: String = "2 minutes"): DataFrame = {
    val spark = ticks.sparkSession
    import spark.implicits._
    withEventTs(ticks.filter($"kind" === "TRADE"))
      .withWatermark("event_ts", watermark)
      .groupBy(window($"event_ts", "1 hour"), $"asset")
      .agg(sum($"size").as("volume"), count(lit(1)).as("n_trades"))
      .select($"window.start".as("hour"), $"asset", $"volume", $"n_trades")
  }

  /** A5: per-batch observable metrics (messages + bytes-ish volume),
    * readable from a StreamingQueryListener's `observedMetrics` — the
    * streaming analog of the reference's 15 s msgs/sec log
    * (`collector/src/main.rs:275-290`).
    */
  def withIngestMetrics(msgs: Dataset[FeedMsg]): Dataset[FeedMsg] =
    msgs.observe("ingest",
      count(lit(1)).as("n_messages"),
      sum(length(col("ts")) + length(col("market")) + length(col("assetId")))
        .as("approx_bytes"))

  /** Periodic dimension refresh (SURVEY.md §2.7 "market discovery"):
    * the reference re-fetches the markets dimension by RESTARTING the
    * collector every 6 hours (`deploy/src/main.rs:111-112`); the
    * streaming analog restarts nothing — `foreachBatch` re-resolves
    * the dimension source at EVERY micro-batch, so a refreshed dim
    * (new tokens, flipped winners, delisted markets) joins against the
    * next batch without touching the query or its state.
    *
    * `readDim` must re-READ the source (e.g. a fresh
    * `spark.read.parquet(dimPath)`) rather than capture a DataFrame:
    * a captured plan pins the file listing from the time it was built,
    * which is exactly the staleness this operator exists to avoid.
    * The dim is broadcast per batch (J1 is a classic small-dim join).
    */
  def sinkWithRefreshedDim(
      ticks: Dataset[Tick],
      readDim: SparkSession => DataFrame,
      write: (DataFrame, Long) => Unit,
  ): DataStreamWriter[Tick] =
    ticks.writeStream.foreachBatch { (batch: Dataset[Tick], batchId: Long) =>
      val dim = readDim(batch.sparkSession)
      val joined = batch.toDF()
        .join(broadcast(dim), batch("asset") === dim("token_id"), "left")
        .drop("token_id")
      write(joined, batchId)
    }
}
