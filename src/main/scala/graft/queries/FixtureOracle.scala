package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.sources.{FixtureLog, GraftFeed}

/** Independent DuckDB oracle for the full raw-log replay pipeline
  * (VERDICT r2 "next round" #1/#2).
  *
  * The fixture generators are structured-first: each known feed event
  * exists as a [[graft.sources.WireMsg]] BEFORE it is rendered to wire
  * JSON. This object dumps that ground truth to parquet (under the
  * JVM's tmpdir, next to the fixture logs) and builds oracle SQL that
  * replays the book from it — per-event BBO as cumulative
  * last-write-wins over (asset, side, level) with snapshot cutoffs,
  * plus trade passthrough (`cli/src/tick_generator.rs:318-362`).
  *
  * The Spark side under test sees ONLY the wire bytes (zstd JSONL scan
  * → frame parse → double-encoded explode → keyed fold); the oracle
  * sees ONLY the structured dump. A divergence anywhere in scan,
  * parse, filter, explode, ordering, or fold semantics breaks the
  * hash-match.
  *
  * The oracle SQL embeds absolute dump paths computed at Verify
  * runtime (the oracle check executes the SQL on the same host right after;
  * each JVM dumps to its own directory, see [[ensureDumps]]),
  * which is what lets a non-sf-table input participate in the DuckDB
  * gate at all.
  */
object FixtureOracle {

  /** Canonical gate fixture specs (shared by batch + streaming gate
    * queries — same seed/shape, so one dump oracles both).
    */
  val batchSpec: FixtureLog.Spec = FixtureLog.Spec(
    dir = new File(sys.props("java.io.tmpdir"), "graft_fixture_logs").getPath)
  val streamSpec: FixtureLog.Spec = FixtureLog.Spec(
    dir = new File(sys.props("java.io.tmpdir"), "graft_fixture_logs_plain").getPath,
    compress = false)

  /** The live-feed gate query's generator bounds (must match the
    * readStream options in `Replay.streamLiveSource`).
    */
  val LiveTotalFrames = 400L
  val LiveNMarkets = 2
  val LiveAssetsPerMarket = 2

  /** The three oracle dumps, written under `dir`. */
  private[graft] final class Dumps(val dir: File) {
    val fixtureMsgsPath: String = new File(dir, "fixture_msgs").getPath
    val fixtureMarketsPath: String = new File(dir, "fixture_markets").getPath
    val liveMsgsPath: String = new File(dir, "live_msgs").getPath

    /** Overwrite the dumps: same spec, same rows. */
    def write(spark: SparkSession): Unit = {
      import spark.implicits._
      val writeConf = (df: org.apache.spark.sql.DataFrame, path: String) =>
        df.coalesce(1).write.mode("overwrite").parquet(path)
      writeConf(FixtureLog.feedMessages(batchSpec).toDF(), fixtureMsgsPath)
      writeConf(FixtureLog.marketTokens(batchSpec).toDF(), fixtureMarketsPath)
      writeConf(
        (1L until LiveTotalFrames)
          .flatMap(i => GraftFeed.structuredMsg(i, LiveNMarkets, LiveAssetsPerMarket))
          .toDF(),
        liveMsgsPath)
    }
  }

  /** Dumps in a fresh directory under `java.io.tmpdir`. */
  private[graft] def newDumps(): Dumps = new Dumps(Files.createTempDirectory(
    new File(sys.props("java.io.tmpdir")).toPath, "graft_oracle").toFile)

  /** This JVM's dumps, in a directory of its own created once (on first
    * use), so another JVM that runs a replay gate (a test run during an
    * oracle check, say) never rewrites the files this JVM's oracle SQL
    * reads. The SQL below is built from these paths.
    */
  private lazy val dumps = newDumps()
  lazy val fixtureMsgsPath: String = dumps.fixtureMsgsPath
  lazy val fixtureMarketsPath: String = dumps.fixtureMarketsPath
  lazy val liveMsgsPath: String = dumps.liveMsgsPath

  @volatile private var written = false

  /** Write this JVM's three oracle dumps once. Called by every fixture
    * gate query before returning its plan, so a Verify run always
    * leaves fresh dumps for the DuckDB oracle check.
    */
  def ensureDumps(spark: SparkSession): Unit = synchronized {
    if (written) return
    dumps.write(spark)
    written = true
  }

  private def glob(dir: String) = s"$dir/*.parquet"

  /** CTE prelude reconstructing the reference tick stream from a
    * structured-message dump:
    *
    *   - `msgs`: known events in arrival order (row_number = the fold's
    *     total order), optionally market-filtered (F2 sits BEFORE state
    *     on both sides).
    *   - `writes`: every level write — snapshot levels and diff
    *     changes, with an intra-event ordinal (a diff may touch the
    *     same level twice; array order wins, `Book::updateFromDiff`).
    *   - `cutoff`: each book event's latest snapshot at-or-before it
    *     (a snapshot RESETS the book, so earlier writes are dead).
    *   - `state`: per (event, side, level) last-write-wins size over
    *     the live write window.
    *   - `ticks`: two BBO rows per book event (ASK then BID, (0,0) for
    *     an empty side — `Book::top` `unwrap_or_default`) + trade
    *     passthrough with BUY→BID / SELL→ASK side mapping.
    */
  private def ticksCte(msgsGlob: String, marketPred: String): String =
    s"""WITH msgs AS (
       |  SELECT row_number() OVER (ORDER BY file_hour, line_no, msg_idx) AS k, *
       |  FROM read_parquet('$msgsGlob')
       |  WHERE event_type IN ('book', 'price_change', 'last_trade_price')
       |    AND ($marketPred)
       |),
       |book_ev AS (SELECT * FROM msgs WHERE event_type IN ('book', 'price_change')),
       |snaps AS (SELECT asset, k FROM msgs WHERE event_type = 'book'),
       |writes AS (
       |  SELECT m.k, m.asset, 'ASK' AS side, CAST(u.l.price AS DECIMAL(9,4)) AS pcv,
       |         CAST(u.l.size AS DOUBLE) AS sz, 0 AS ord
       |  FROM book_ev m, UNNEST(m.asks) AS u(l) WHERE m.event_type = 'book'
       |  UNION ALL
       |  SELECT m.k, m.asset, 'BID', CAST(u.l.price AS DECIMAL(9,4)),
       |         CAST(u.l.size AS DOUBLE), 0
       |  FROM book_ev m, UNNEST(m.bids) AS u(l) WHERE m.event_type = 'book'
       |  UNION ALL
       |  SELECT m.k, m.asset,
       |         CASE WHEN m.changes[g.i].side = 'BUY' THEN 'BID' ELSE 'ASK' END,
       |         CAST(m.changes[g.i].price AS DECIMAL(9,4)),
       |         CAST(m.changes[g.i].size AS DOUBLE), g.i
       |  FROM book_ev m, UNNEST(generate_series(1, len(m.changes))) AS g(i)
       |  WHERE m.event_type = 'price_change'
       |),
       |cutoff AS (
       |  SELECT e.k, coalesce(max(s.k), 0) AS snap_k
       |  FROM book_ev e LEFT JOIN snaps s ON s.asset = e.asset AND s.k <= e.k
       |  GROUP BY e.k
       |),
       |state AS (
       |  SELECT e.k AS ek, w.side, w.pcv, max_by(w.sz, w.k * 10 + w.ord) AS last_sz
       |  FROM book_ev e
       |  JOIN cutoff c ON c.k = e.k
       |  JOIN writes w ON w.asset = e.asset AND w.k <= e.k AND w.k >= c.snap_k
       |  GROUP BY 1, 2, 3
       |),
       |best AS (
       |  SELECT ek, side,
       |         CASE WHEN side = 'ASK' THEN CAST(min(pcv) AS DOUBLE)
       |              ELSE CAST(max(pcv) AS DOUBLE) END AS bp,
       |         CASE WHEN side = 'ASK' THEN min_by(last_sz, pcv)
       |              ELSE max_by(last_sz, pcv) END AS bs
       |  FROM state WHERE last_sz > 0
       |  GROUP BY ek, side
       |),
       |ticks AS (
       |  SELECT e.ts AS timestamp, 'BBO' AS kind, e.market, e.asset, sd.side,
       |         coalesce(b.bp, 0.0) AS price, coalesce(b.bs, 0.0) AS size,
       |         e.k, CASE sd.side WHEN 'ASK' THEN 0 ELSE 1 END AS emit_idx
       |  FROM book_ev e CROSS JOIN (VALUES ('ASK'), ('BID')) sd(side)
       |  LEFT JOIN best b ON b.ek = e.k AND b.side = sd.side
       |  UNION ALL
       |  SELECT m.ts, 'TRADE', m.market, m.asset,
       |         CASE m.side WHEN 'BUY' THEN 'BID' ELSE 'ASK' END,
       |         CAST(m.price AS DOUBLE), CAST(m.size AS DOUBLE), m.k, 0
       |  FROM msgs m WHERE m.event_type = 'last_trade_price'
       |)""".stripMargin

  /** Reference 7-column tick stream (q_replay_fixture_ticks and the
    * stream≡batch queries; row order is irrelevant — the gate compare
    * sorts rows).
    */
  def referenceTicksSql(msgsDir: String, marketPred: String = "TRUE"): String =
    ticksCte(glob(msgsDir), marketPred) +
      "\nSELECT timestamp, kind, market, asset, side, price, size FROM ticks"

  /** Ticks + J1 outcome lookup (q_replay_ticks_with_outcome). */
  def ticksWithOutcomeSql: String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |dim AS (
         |  SELECT DISTINCT token_id, outcome
         |  FROM read_parquet('${glob(fixtureMarketsPath)}')
         |)
         |SELECT t.timestamp, t.kind, t.market, t.asset, t.side, t.price, t.size,
         |       d.outcome
         |FROM ticks t LEFT JOIN dim d ON t.asset = d.token_id""".stripMargin

  /** The notebook headline query (q_notebook_bbo_minutely): BBO rows of
    * one market's YES token, last price per (minute, side) in arrival
    * order. `k * 2 + emit_idx` is the same total order as the Spark
    * side's (file_hour, line_no, msg_idx, emit_idx) struct.
    */
  def notebookBboMinutelySql: String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |yes_tokens AS (
         |  SELECT DISTINCT token_id
         |  FROM read_parquet('${glob(fixtureMarketsPath)}')
         |  WHERE outcome = 'Yes' AND condition_id = '0xM0'
         |)
         |SELECT strftime(date_trunc('minute', epoch_ms(CAST(t.timestamp AS BIGINT))),
         |                '%Y-%m-%d %H:%M:%S') AS minute,
         |       t.side,
         |       max_by(t.price, t.k * 2 + t.emit_idx) AS last_price,
         |       count(*) AS n
         |FROM ticks t JOIN yes_tokens y ON t.asset = y.token_id
         |WHERE t.kind = 'BBO'
         |GROUP BY 1, 2""".stripMargin

  /** The plot-geometry twin of [[notebookBboMinutelySql]]
    * (q_notebook_bbo_plot): same series, scaled into the 960×480 /
    * 40 px-pad viewport with the IDENTICAL left-associative IEEE
    * expressions the Spark side uses, coordinates rounded to 2 dp and
    * rendered through DECIMAL(10,2), polylines assembled with
    * string_agg ORDER BY the minute index.
    */
  def notebookBboPlotSql: String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |yes_tokens AS (
         |  SELECT DISTINCT token_id
         |  FROM read_parquet('${glob(fixtureMarketsPath)}')
         |  WHERE outcome = 'Yes' AND condition_id = '0xM0'
         |),
         |bbo AS (
         |  SELECT CAST(epoch_ms(date_trunc('minute',
         |           epoch_ms(CAST(t.timestamp AS BIGINT)))) // 60000 AS BIGINT) AS mi,
         |         t.side,
         |         max_by(t.price, t.k * 2 + t.emit_idx) AS last_price
         |  FROM ticks t JOIN yes_tokens y ON t.asset = y.token_id
         |  WHERE t.kind = 'BBO'
         |  GROUP BY 1, 2
         |),
         |ext AS (
         |  SELECT min(mi) AS mi0, max(mi) AS mi1,
         |         min(last_price) AS p0, max(last_price) AS p1
         |  FROM bbo
         |),
         |pts AS (
         |  SELECT b.side, b.mi,
         |         CAST(CAST(round(40.0 +
         |           ((b.mi - e.mi0) * 880.0) / greatest(e.mi1 - e.mi0, 1), 2)
         |           AS DECIMAL(10,2)) AS VARCHAR) || ',' ||
         |         CAST(CAST(round(440.0 -
         |           ((b.last_price - e.p0) * 400.0) / greatest(e.p1 - e.p0, 1e-9), 2)
         |           AS DECIMAL(10,2)) AS VARCHAR) AS pt
         |  FROM bbo b CROSS JOIN ext e
         |)
         |SELECT side, CAST(count(*) AS BIGINT) AS n_points,
         |       string_agg(pt, ' ' ORDER BY mi) AS points
         |FROM pts
         |GROUP BY side
         |ORDER BY side""".stripMargin

  /** The notebook's SECOND chart (q_notebook_volume_plot): the 1-hour
    * TRADE volume bars of `bbo.ipynb` cell 2 (`ax2.bar(..., width=1h,
    * align='edge')`) as verifiable rect geometry. Volumes sum EXACTLY
    * (centi-size longs — the q_tick_vwap trick, so engine sum order
    * can't flip the hash); each bar scales into the same 960×480 /
    * 40 px-pad viewport as the line gate with one float division,
    * align='edge' semantics (bar i spans its hour slot, width =
    * 880 / n_slots), baseline at volume 0. Quadruples rounded to 2 dp
    * through DECIMAL(10,2) and assembled with string_agg ORDER BY the
    * hour index.
    */
  def notebookVolumePlotSql: String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |yes_tokens AS (
         |  SELECT DISTINCT token_id
         |  FROM read_parquet('${glob(fixtureMarketsPath)}')
         |  WHERE outcome = 'Yes' AND condition_id = '0xM0'
         |),
         |vol AS (
         |  SELECT CAST(epoch_ms(date_trunc('hour',
         |           epoch_ms(CAST(t.timestamp AS BIGINT)))) // 3600000 AS BIGINT) AS hi,
         |         sum(CAST(round(t.size * 100) AS BIGINT)) AS vol_c
         |  FROM ticks t JOIN yes_tokens y ON t.asset = y.token_id
         |  WHERE t.kind = 'TRADE'
         |  GROUP BY 1
         |),
         |ext AS (
         |  SELECT min(hi) AS hi0, max(hi) AS hi1, max(vol_c) AS vmax FROM vol
         |),
         |rects AS (
         |  SELECT v.hi,
         |         CAST(CAST(round(40.0 +
         |           ((v.hi - e.hi0) * 880.0) / (e.hi1 - e.hi0 + 1), 2)
         |           AS DECIMAL(10,2)) AS VARCHAR) || ',' ||
         |         CAST(CAST(round(440.0 -
         |           (v.vol_c * 400.0) / greatest(e.vmax, 1), 2)
         |           AS DECIMAL(10,2)) AS VARCHAR) || ',' ||
         |         CAST(CAST(round(880.0 / (e.hi1 - e.hi0 + 1), 2)
         |           AS DECIMAL(10,2)) AS VARCHAR) || ',' ||
         |         CAST(CAST(round((v.vol_c * 400.0) / greatest(e.vmax, 1), 2)
         |           AS DECIMAL(10,2)) AS VARCHAR) AS rect
         |  FROM vol v CROSS JOIN ext e
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_bars,
         |       string_agg(rect, ' ' ORDER BY hi) AS rects
         |FROM rects
         |ORDER BY n_bars""".stripMargin

  /** Streaming minute-BBO agg (q_stream_bbo_minutely): same aggregation
    * plus the watermark cutoff — with AvailableNow + a terminal no-data
    * micro-batch, append mode emits exactly the windows whose end is at
    * or below `max(event_ts) - delay`.
    */
  def streamBboMinutelySql(delaySeconds: Int = 120): String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |bbo AS (
         |  SELECT *, epoch_ms(CAST(timestamp AS BIGINT)) AS ets
         |  FROM ticks WHERE kind = 'BBO'
         |),
         |wm AS (SELECT max(ets) - INTERVAL $delaySeconds SECOND AS w FROM bbo)
         |SELECT date_trunc('minute', ets) AS minute, asset, side,
         |       max_by(price, k * 2 + emit_idx) AS last_price,
         |       count(*) AS n_events
         |FROM bbo
         |GROUP BY 1, 2, 3
         |HAVING minute + INTERVAL 1 MINUTE <= (SELECT w FROM wm)""".stripMargin

  /** Trades with prevailing BBO (q_tick_trades_bbo): the same
    * carry-last-quote-forward window as
    * `TickAnalytics.tradesWithPrevailingBbo`, over the oracle's own
    * tick reconstruction — `k * 2 + emit_idx` is the identical total
    * arrival order as the Spark side's (file_hour, line_no, msg_idx,
    * emit_idx) struct.
    */
  def tradesWithPrevailingBboSql: String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |ordered AS (SELECT *, k * 2 + emit_idx AS ord FROM ticks),
         |annotated AS (
         |  SELECT *,
         |    last_value(CASE WHEN kind = 'BBO' AND side = 'ASK' THEN price END IGNORE NULLS)
         |      OVER w AS prev_ask_price,
         |    last_value(CASE WHEN kind = 'BBO' AND side = 'ASK' THEN size END IGNORE NULLS)
         |      OVER w AS prev_ask_size,
         |    last_value(CASE WHEN kind = 'BBO' AND side = 'BID' THEN price END IGNORE NULLS)
         |      OVER w AS prev_bid_price,
         |    last_value(CASE WHEN kind = 'BBO' AND side = 'BID' THEN size END IGNORE NULLS)
         |      OVER w AS prev_bid_size
         |  FROM ordered
         |  WINDOW w AS (PARTITION BY asset ORDER BY ord
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT timestamp, market, asset, side, price, size,
         |       prev_ask_price, prev_ask_size, prev_bid_price, prev_bid_size
         |FROM annotated WHERE kind = 'TRADE'""".stripMargin

  /** Hourly VWAP / volume / order-flow imbalance over trades
    * (q_tick_vwap): integer cents×centi-size notionals summed exactly,
    * one float division at the end.
    */
  def tickVwapSql: String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |tr AS (
         |  SELECT strftime(date_trunc('hour', epoch_ms(CAST(timestamp AS BIGINT))),
         |                  '%Y-%m-%d %H:%M:%S') AS hour,
         |         asset, side,
         |         CAST(round(price * 100) AS BIGINT) AS pc,
         |         CAST(round(size * 100) AS BIGINT) AS sc
         |  FROM ticks WHERE kind = 'TRADE'
         |)
         |SELECT hour, asset, CAST(count(*) AS BIGINT) AS n_trades,
         |       round(CAST(sum(pc * sc) AS DOUBLE) / sum(sc) / 100.0, 4) AS vwap,
         |       round(sum(sc) / 100.0, 2) AS volume,
         |       round(sum(CASE WHEN side = 'BID' THEN sc ELSE -sc END) / 100.0, 2)
         |         AS imbalance
         |FROM tr GROUP BY hour, asset
         |ORDER BY hour, asset""".stripMargin

  /** Time-weighted average spread oracle (q_tick_twa_spread): the
    * same carry-forward + lead-duration windows as
    * `TickAnalytics.timeWeightedSpread`, over the oracle's own tick
    * reconstruction; integer cents × ms summed exactly.
    */
  def tickTwaSpreadSql: String =
    ticksCte(glob(fixtureMsgsPath), "TRUE") +
      s""",
         |ordered AS (SELECT *, k * 2 + emit_idx AS ord FROM ticks),
         |bbo AS (
         |  SELECT asset, ord, CAST(timestamp AS BIGINT) AS ts_ms,
         |    last_value(CASE WHEN side = 'ASK'
         |                    THEN CAST(round(price * 100) AS BIGINT) END IGNORE NULLS)
         |      OVER w AS ask_c,
         |    last_value(CASE WHEN side = 'BID'
         |                    THEN CAST(round(price * 100) AS BIGINT) END IGNORE NULLS)
         |      OVER w AS bid_c
         |  FROM ordered WHERE kind = 'BBO'
         |  WINDOW w AS (PARTITION BY asset ORDER BY ord
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |teed AS (
         |  SELECT *, lead(ts_ms) OVER (PARTITION BY asset ORDER BY ord) - ts_ms AS dur
         |  FROM bbo
         |)
         |SELECT asset, CAST(count(*) AS BIGINT) AS n_states,
         |       CAST(sum(dur) AS BIGINT) AS ms_quoted,
         |       round(CAST(sum((ask_c - bid_c) * dur) AS DOUBLE) / sum(dur) / 100.0, 4)
         |         AS twa_spread
         |FROM teed
         |WHERE dur IS NOT NULL AND ask_c IS NOT NULL AND bid_c IS NOT NULL
         |  AND ask_c > 0 AND bid_c > 0
         |GROUP BY asset
         |ORDER BY asset""".stripMargin

  /** Markets-dim oracle (q_markets_active_tokens): the F1 activity
    * predicate over generator ground truth (`collector/src/lib.rs:68-72`
    * — note `active` itself is NOT consulted).
    */
  def marketsActiveTokensSql: String =
    s"""SELECT condition_id, question_id, question, outcome, token_price,
       |       token_id, winner
       |FROM read_parquet('${glob(fixtureMarketsPath)}')
       |WHERE enable_order_book AND accepting_orders AND NOT archived AND NOT closed
       |ORDER BY condition_id, token_id""".stripMargin

  /** F7 oracle (q_markets_token_ids): the bare token-id projection the
    * collector subscribes with (`collector/src/lib.rs:74-79`) — active
    * markets' token ids, nothing else.
    */
  def marketsTokenIdsSql: String =
    s"""SELECT token_id
       |FROM read_parquet('${glob(fixtureMarketsPath)}')
       |WHERE enable_order_book AND accepting_orders AND NOT archived AND NOT closed
       |ORDER BY token_id""".stripMargin

  /** O3 oracle (q_cli_file_choice): earliest/latest hour-file selection
    * (`cli/src/main.rs:180-185`) with each chosen file's known feed
    * message count, from the structured dump's file_hour key.
    */
  def fileChoiceSql: String =
    s"""WITH h AS (
       |  SELECT file_hour, count(*) AS n
       |  FROM read_parquet('${glob(fixtureMsgsPath)}')
       |  GROUP BY file_hour
       |),
       |b AS (SELECT min(file_hour) AS lo, max(file_hour) AS hi FROM h)
       |SELECT m.mode, f.file_hour, CAST(f.n AS BIGINT) AS n_feed_msgs
       |FROM (VALUES ('earliest'), ('latest')) m(mode)
       |JOIN b ON TRUE
       |JOIN h f ON f.file_hour = CASE m.mode WHEN 'earliest' THEN b.lo ELSE b.hi END
       |ORDER BY m.mode""".stripMargin
}
