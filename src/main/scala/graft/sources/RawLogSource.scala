package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.github.luben.zstd.ZstdInputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.model.{FeedMsg, Frame}

/** Scan layer for the hourly `YYYY-MM-DD-HH.jsonl.zst` raw logs
  * (SURVEY.md §2.1 S1/S2/S7, §2.2 F4/F5/F6).
  *
  * Design notes for scale:
  *   - The unit of work is the hourly file — the same unit the
  *     reference processes sequentially (`cli/src/tick_generator.rs:164-195`).
  *     The path list is sliced into `min(files, defaultParallelism)`
  *     contiguous runs in `discover` order, one task per run; a task
  *     opens its files one after another through the Hadoop
  *     `FileSystem` (its `Configuration` broadcast once per scan) and
  *     streams each, so no file is ever materialized in memory and a
  *     cluster with N cores decodes N runs of hours concurrently. Paths
  *     are taken verbatim: no comma splitting, no glob expansion.
  *   - Line numbers are assigned while streaming one file start-to-end,
  *     which is the only way to get a stable arrival-order key out of a
  *     non-splittable compressed file. An hour the sink wrote as several
  *     `.bNNNNNNNNN` batch files offsets each file's line numbers by
  *     `rank << 32`, its rank among the hour's files in `discover`
  *     order, so the batches fold one after another instead of line by
  *     line; an hour with one file keeps plain line numbers.
  *     `(fileHour, lineNo, msgIdx)` is then a total order identical to
  *     the reference's replay order.
  *   - Hour-range pruning (F4, `cli/src/file_reader.rs:93-99`) happens
  *     at file-listing time — the distributed scan never opens a file
  *     outside the range, the moral equivalent of partition pruning.
  *   - Frame parse uses Jackson per line (the same work `from_json`
  *     would do) because `content` is polymorphic: a JSON string for
  *     feed frames but a JSON object for dimension frames. We keep the
  *     object form as compact JSON text so downstream stays
  *     schema-on-read (SURVEY.md §1.3).
  */
object RawLogSource {

  /** Hour key from a log file name, e.g. "2025-07-01-14" from
    * ".../2025-07-01-14.jsonl.zst" (`cli/src/file_reader.rs:52-73`).
    */
  def fileHourOf(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name.takeWhile(c => c.isDigit || c == '-')
  }

  private val HourPattern = """^\d{4}-\d{2}-\d{2}-\d{2}$""".r

  // lookahead for the terminating dot so it is NOT consumed: adjacent
  // segments like `.b1.b2.` must BOTH be re-padded (a consumed
  // boundary dot would make the scan resume past it, leaving the
  // second segment lexicographic)
  private val BatchSuffix = """\.b(\d+)(?=\.)""".r

  /** Sort key that reads batch-file suffixes NUMERICALLY: `.b<digits>.`
    * segments are re-padded to a fixed 18 digits before the
    * lexicographic compare, so a directory mixing legacy bare `.bN`
    * names with the sink's current zero-padded `.bNNNNNNNNN` names
    * still replays in true batch order within an hour ('0' < any
    * digit would otherwise sort EVERY padded name before EVERY legacy
    * name). Identical to plain lexicographic order for directories
    * written entirely by the current sink.
    */
  private[sources] def replayOrderKey(path: String): String =
    BatchSuffix.replaceAllIn(path, m => {
      val digits = m.group(1).dropWhile(_ == '0')
      val n = if (digits.isEmpty) "0" else digits
      "." + "b" + ("0" * math.max(0, 18 - n.length)) + n
    })

  /** S7/F4: enumerate a directory, keep files whose hour overlaps
    * `[startHour, endHour]` (inclusive hour-key compare — hour files are
    * half-open hour intervals, mirroring `file_reader.rs:93-99`), sorted
    * lexicographically = chronologically (`file_reader.rs:47-49`), with
    * batch suffixes compared numerically (see [[replayOrderKey]]).
    */
  def discover(
      dir: String,
      startHour: Option[String] = None,
      endHour: Option[String] = None,
  ): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.iterator
      .map(_.getPath)
      .filter { p =>
        val h = fileHourOf(p)
        HourPattern.matches(h) &&
        startHour.forall(h >= _) && endHour.forall(h <= _)
      }
      .toSeq
      .sortBy(replayOrderKey)
  }

  /** S1: stream-decode log files into typed frames with stable
    * per-file line numbers. `paths` is taken in `discover` order: it
    * fixes each batch file's rank within its hour (see the design
    * notes above).
    *
    * `permissive = false` (default) mirrors the reference: a malformed
    * line is an error (`tick_generator.rs:179-186` would bail).
    * `permissive = true` is the engine mode for dirty data at scale: a
    * malformed line becomes a `messageType = "_corrupt"` frame carrying
    * the raw text (count them, don't die at hour 90,000 of a 100 TB
    * replay); downstream feed filters drop them naturally.
    */
  def frames(
      spark: SparkSession,
      paths: Seq[String],
      permissive: Boolean = false,
  ): Dataset[Frame] = {
    import spark.implicits._
    require(paths.nonEmpty, "RawLogSource.frames: no input files")
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    sc.parallelize(paths.zip(hourRanks(paths)), math.min(paths.size, sc.defaultParallelism))
      .flatMap { case (path, rank) =>
        val p = new Path(path)
        readFile(path, rank, p.getFileSystem(conf.value.value).open(p), permissive)
      }
      .toDS()
  }

  /** Each path's rank among the paths of its hour, in the given order:
    * 0 for the only (or first) file of an hour.
    */
  private def hourRanks(paths: Seq[String]): Seq[Int] = {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    paths.map { p =>
      val hour = fileHourOf(p)
      seen(hour) += 1
      seen(hour) - 1
    }
  }

  val CorruptType = "_corrupt"

  private def readFile(
      path: String,
      rank: Int,
      raw: InputStream,
      permissive: Boolean,
  ): Iterator[Frame] = {
    val in =
      if (path.endsWith(".zst")) new ZstdInputStream(raw)
      else raw
    val reader = new BufferedReader(
      new InputStreamReader(in, StandardCharsets.UTF_8))
    // a limit()/take() or downstream failure abandons the iterator
    // before exhaustion — close on task completion so file handles and
    // native zstd buffers don't leak on long-lived executors
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ =>
        try reader.close() catch { case _: Exception => () }))
    val hour = fileHourOf(path)
    val mapper = new ObjectMapper()
    var lineNo = (rank.toLong << 32) - 1
    new Iterator[Frame] {
      private var nextLine: String = reader.readLine()
      override def hasNext: Boolean = {
        if (nextLine == null) reader.close()
        nextLine != null
      }
      override def next(): Frame = {
        val line = nextLine
        nextLine = reader.readLine()
        lineNo += 1
        if (permissive)
          try parseFrame(mapper, hour, lineNo, line)
          catch {
            case _: Exception => Frame(hour, lineNo, null, CorruptType, line)
          }
        else parseFrame(mapper, hour, lineNo, line)
      }
    }
  }

  /** Strict frame parse, mirroring the reference's serde decode of
    * `{timestamp, message_type, content}` (`collector/src/main.rs:18-23`):
    * a malformed line is an error, not a silent drop
    * (`tick_generator.rs:179-186`).
    */
  private[sources] def parseFrame(
      mapper: ObjectMapper,
      fileHour: String,
      lineNo: Long,
      line: String,
  ): Frame = {
    val node = mapper.readTree(line)
    val content = node.get("content") match {
      case null => null
      case c if c.isTextual => c.asText()
      case c => c.toString // keep object payloads as compact JSON text
    }
    Frame(
      fileHour = fileHour,
      lineNo = lineNo,
      frameTs = Option(node.get("timestamp")).map(_.asText()).orNull,
      messageType = Option(node.get("message_type")).map(_.asText()).orNull,
      content = content,
    )
  }

  /** Schema of one feed message inside the double-encoded array
    * (`cli/src/tick_generator.rs:379-443`). Everything is a string on
    * the wire; unknown event types simply leave their branch columns
    * null.
    */
  val feedMessageSchema: ArrayType = ArrayType(
    StructType(
      Seq(
        StructField("event_type", StringType),
        StructField("market", StringType),
        StructField("asset_id", StringType),
        StructField("timestamp", StringType),
        StructField("side", StringType),
        StructField("price", StringType),
        StructField("size", StringType),
        StructField(
          "asks",
          ArrayType(StructType(Seq(
            StructField("price", StringType),
            StructField("size", StringType)))),
        ),
        StructField(
          "bids",
          ArrayType(StructType(Seq(
            StructField("price", StringType),
            StructField("size", StringType)))),
        ),
        StructField(
          "changes",
          ArrayType(StructType(Seq(
            StructField("price", StringType),
            StructField("size", StringType),
            StructField("side", StringType)))),
        ),
      )))

  private val KnownEvents = Seq("last_trade_price", "book", "price_change")

  /** Structural validity of one exploded feed message (column `m`),
    * mirroring the reference serde's required fields exactly
    * (`tick_generator.rs:397-443`): every known event needs
    * `market`/`asset_id`/`timestamp`; a trade needs `side` ∈
    * {BUY,SELL} plus `price`/`size`; a snapshot needs both complete
    * sides; a diff needs complete changes with valid sides. Each
    * subterm is null-safe by construction (isNull guards precede value
    * checks), so the predicate never evaluates to SQL NULL — strict
    * and permissive modes agree on what "invalid" means.
    */
  private[sources] def invalidFeedMessage: Column = {
    def f(n: String) = col("m").getField(n)
    val badLevel = (l: Column) =>
      l.getField("price").isNull || l.getField("size").isNull
    val badChange = (c: Column) =>
      c.getField("price").isNull || c.getField("size").isNull ||
        c.getField("side").isNull || !c.getField("side").isin("BUY", "SELL")
    (f("asset_id").isNull || f("market").isNull || f("timestamp").isNull) ||
    (f("event_type") === "last_trade_price" &&
      (f("price").isNull || f("size").isNull ||
        f("side").isNull || !f("side").isin("BUY", "SELL"))) ||
    (f("event_type") === "book" &&
      (f("asks").isNull || f("bids").isNull ||
        exists(f("asks"), badLevel) || exists(f("bids"), badLevel))) ||
    (f("event_type") === "price_change" &&
      (f("changes").isNull || exists(f("changes"), badChange)))
  }

  /** F5 + F6 + the inner `from_json` + posexplode: frames →
    * arrival-keyed feed messages. This stage is pure Catalyst (codegen,
    * prunable, pushdown-friendly) — only the outer frame decode needed
    * custom code.
    *
    * `strict = true` (default, reference parity): a known-event message
    * the reference's serde would reject — missing
    * `market`/`asset_id`/`timestamp`, a trade without price/size/side,
    * a snapshot without both sides, a diff without changes, or a
    * level/change entry with missing fields or a side that is neither
    * BUY nor SELL (`tick_generator.rs:397-443`) — raises an error.
    * `strict = false` drops such messages instead, the dirty-data
    * companion to `frames(..., permissive = true)`: a malformed
    * message must never reach the book fold, where a null asset id or
    * half-formed snapshot would poison a whole partition's replay.
    */
  def feedMessages(frames: Dataset[Frame], strict: Boolean = true): Dataset[FeedMsg] = {
    val spark = frames.sparkSession
    import spark.implicits._
    val invalid = invalidFeedMessage
    val structureGate =
      if (strict)
        when(invalid,
          raise_error(concat(
            lit("malformed feed message (strict mode): "), col("m").cast("string"))))
          .otherwise(true)
      else !invalid
    explodeFeed(
      // F5: only feed frames, and skip logged server PONGs
      // (`tick_generator.rs:181-186`)
      frames.filter($"messageType" === "feed_message" && $"content" =!= "PONG").toDF(),
      structureGate)
  }

  /** Inner `from_json` + posexplode of the feed frames' `content`
    * (columns `fileHour`, `lineNo`, `content`), F6's known-event filter,
    * the structure `gate`, and the projection to [[FeedMsg]]'s 13
    * columns: the parse shared by the batch and the streaming path.
    */
  private def explodeFeed(frames: DataFrame, gate: Column): Dataset[FeedMsg] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames
      .select(
        $"fileHour",
        $"lineNo",
        posexplode(from_json($"content", feedMessageSchema)).as(Seq("msgIdx", "m")),
      )
      // F6: drop unknown event types (`tick_generator.rs:391-392`)
      .filter($"m.event_type".isin(KnownEvents: _*))
      // strict: error on structurally-invalid known events; permissive: drop
      .filter(gate)
      .select(
        $"fileHour",
        $"lineNo",
        $"msgIdx",
        $"m.event_type".as("eventType"),
        $"m.market".as("market"),
        $"m.asset_id".as("assetId"),
        $"m.timestamp".as("ts"),
        $"m.side".as("side"),
        $"m.price".as("price"),
        $"m.size".as("size"),
        $"m.asks".as("asks"),
        $"m.bids".as("bids"),
        $"m.changes".as("changes"),
      )
      .as[FeedMsg]
  }

  /** Streaming-compatible frame→feed parse for LIVE ingest: takes a
    * (possibly streaming) DataFrame of raw frame lines (column
    * `value`, e.g. from `readStream.text` on uncompressed logs or a
    * socket/queue bridge) and produces the same FeedMsg shape as the
    * batch path — pure Catalyst expressions, no custom iteration, so
    * it plans inside a streaming query.
    *
    * A live stream has no file/line coordinates; the arrival key is
    * the frame RECEIPT time in microseconds — the collector stamps
    * each frame with `Utc::now` at append time
    * (`collector/src/main.rs:28`), so receipt order IS the log-append
    * order the reference replays in. (The exchange epoch-ms timestamp
    * stays in `ts` for event-time analytics.) The hour bucket (C4) is
    * computed via an explicit UTC conversion so it matches the batch
    * path's UTC filenames regardless of `spark.sql.session.timeZone`.
    * Residual limitation (documented): two frames stamped in the SAME
    * microsecond fold in undefined relative order — a true ingest
    * sequence number needs a source that provides one (e.g. a Kafka
    * offset or the file path's line index).
    *
    * Object-content frames (dimension/operational) null out under the
    * string schema and are dropped by the feed filter, mirroring
    * F5/F6; structurally-invalid messages are dropped by the same
    * gate as `feedMessages(strict = false)` — live ingest is
    * inherently dirty-data territory.
    */
  def feedMessagesFromLines(lines: DataFrame): Dataset[FeedMsg] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val frameSchema = StructType(Seq(
      StructField("timestamp", StringType),
      StructField("message_type", StringType),
      StructField("content", StringType)))
    // try_to_timestamp, not to_timestamp: under ANSI mode a PRESENT
    // but malformed timestamp string would throw and kill the whole
    // stream instead of classifying as dirty (null) — the isNotNull
    // drop below only works if the parse is non-throwing
    val receiptTs = try_to_timestamp($"f.timestamp")
    val frames = lines
      .select(from_json($"value", frameSchema).as("f"))
      .filter($"f.message_type" === "feed_message" &&
        $"f.content".isNotNull && $"f.content" =!= "PONG" &&
        // a frame whose receipt timestamp doesn't parse has no arrival
        // key — drop it like any other dirty frame rather than letting
        // null fileHour/lineNo rows into the fold's ordering
        receiptTs.isNotNull)
      .select(
        // session-tz-independent UTC hour bucket: instant → UTC wall
        // clock (TIMESTAMP_NTZ) → format, so an embedder session
        // without spark.sql.session.timeZone=UTC still buckets like
        // the batch path's UTC filenames
        date_format(
          convert_timezone(lit("UTC"), receiptTs.cast("timestamp_ntz")),
          "yyyy-MM-dd-HH").as("fileHour"),
        unix_micros(receiptTs).as("lineNo"), // receipt order = append order
        $"f.content".as("content"))
    explodeFeed(frames, !invalidFeedMessage)
  }

  /** Convenience: full scan path from a directory + hour range. */
  def feedMessagesIn(
      spark: SparkSession,
      dir: String,
      startHour: Option[String] = None,
      endHour: Option[String] = None,
  ): Dataset[FeedMsg] =
    feedMessages(frames(spark, discover(dir, startHour, endHour)))
}
