package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, Tables}
import graft.operators.ScopedConf
import graft.model.{FeedMsg, Tick}
import graft.operators.BookReplay
import graft.streaming.StreamingReplay
import graft.sources.{FixtureLog, GcsJsonClient, HourCache, Loopback, MarketsConnector,
  MarketsDim, RawLogSource, TlsLoopback}

/** Order-book replay queries (SURVEY.md §2.4 B1/B2/B3) — the
  * reference's core operator, exposed through the driver's correctness
  * gate two ways:
  *
  *  1. `q_replay_final_bbo`: the book fold over a synthetic feed derived
  *     deterministically from the `events` table, with a full DuckDB
  *     oracle. Because the feed is diff-only, the final top-of-book is
  *     SQL-expressible (last-write-wins per level + min/max over live
  *     levels), so the fold's upsert/delete/empty-side semantics get a
  *     hash-checked oracle at every scale factor.
  *  2. `q_replay_fixture_*`: the full raw-log pipeline (zstd JSONL scan
  *     → frame parse → double-encoded feed explode → keyed fold) over
  *     generated reference-format fixture files — rows-only checked,
  *     covering the parts an SQL oracle can't express (BBO-after-every-
  *     event, snapshot resets, PONG/unknown-frame filtering).
  */
object Replay {

  /** events → synthetic feed; every derived column is a pure integer
    * function of (event_id, user_id) so Spark and DuckDB agree
    * bit-for-bit. `withSnapshots = false`: one price_change diff per
    * row. `withSnapshots = true`: every 53rd event is instead a book
    * snapshot (2 asks + 2 bids). The diff leg's formulas are shared —
    * one source of truth for both oracle-checked queries.
    */
  private def syntheticFeed(s: SparkSession, dir: String, withSnapshots: Boolean) = {
    import s.implicits._
    val levelArr = "array<struct<price:string,size:string>>"
    def pc(c: org.apache.spark.sql.Column) = format_string("0.%02d", c)
    val snap = if (withSnapshots) $"event_id" % 53 === 0 else lit(false)
    val diffChanges = array(struct(
      pc(lit(1) + pmod($"event_id" * 37 + $"user_id", lit(97))).as("price"),
      when($"event_id" % 5 === 0, lit("0"))
        .otherwise((lit(1) + pmod($"event_id", lit(997))).cast("string")).as("size"),
      when($"event_id" % 2 === 0, lit("BUY")).otherwise(lit("SELL")).as("side"),
    ))
    Tables(s, dir).events.select(
      lit("2024-01-01-00").as("fileHour"),
      $"event_id".as("lineNo"),
      lit(0).as("msgIdx"),
      when(snap, "book").otherwise("price_change").as("eventType"),
      concat(lit("M"), $"user_id" % 4).as("market"),
      concat(lit("A"), $"user_id" % 16).as("assetId"),
      $"event_id".cast("string").as("ts"),
      lit(null).cast("string").as("side"),
      lit(null).cast("string").as("price"),
      lit(null).cast("string").as("size"),
      when(snap, array(
        struct(pc(lit(50) + $"event_id" % 29).as("price"),
          (lit(1) + $"event_id" % 89).cast("string").as("size")),
        struct(pc(lit(57) + $"event_id" % 29).as("price"),
          (lit(1) + $"event_id" % 83).cast("string").as("size")),
      )).otherwise(lit(null).cast(levelArr)).as("asks"),
      when(snap, array(
        struct(pc(lit(45) - $"event_id" % 29).as("price"),
          (lit(1) + $"event_id" % 79).cast("string").as("size")),
        struct(pc(lit(38) - $"event_id" % 29).as("price"),
          (lit(1) + $"event_id" % 73).cast("string").as("size")),
      )).otherwise(lit(null).cast(levelArr)).as("bids"),
      when(snap, lit(null).cast("array<struct<price:string,size:string,side:string>>"))
        .otherwise(diffChanges).as("changes"),
    ).as[FeedMsg]
  }

  /** Final BBO per (asset, side) from a synthetic feed's fold. */
  private def finalBbo(feed: org.apache.spark.sql.Dataset[FeedMsg]) = {
    val s = feed.sparkSession
    import s.implicits._
    BookReplay
      .ticks(feed)
      .filter($"kind" === "BBO")
      .groupBy($"asset", $"side")
      .agg(
        max_by($"price", $"line_no").as("best_price"),
        max_by($"size", $"line_no").as("best_size"),
      )
      .orderBy($"asset", $"side")
  }

  private val replayFinalBbo = Q(
    "q_replay_final_bbo",
    (s, dir) => finalBbo(syntheticFeed(s, dir, withSnapshots = false)),
    // Last-write-wins per (asset, side, level); a side's final BBO is the
    // min (ask) / max (bid) live level, (0, 0) when empty — exactly
    // `Book::top`'s `unwrap_or_default` (`tick_generator.rs:274-281`).
    Some("""WITH feed AS (
           |  SELECT event_id,
           |         'A' || (user_id % 16) AS asset,
           |         CASE WHEN event_id % 2 = 0 THEN 'BID' ELSE 'ASK' END AS side,
           |         1 + (event_id * 37 + user_id) % 97 AS pc,
           |         CASE WHEN event_id % 5 = 0 THEN 0 ELSE 1 + (event_id % 997) END AS sz
           |  FROM events
           |),
           |levels AS (
           |  SELECT asset, side, pc, max_by(sz, event_id) AS last_sz
           |  FROM feed GROUP BY asset, side, pc
           |),
           |live AS (SELECT * FROM levels WHERE last_sz > 0),
           |spine AS (
           |  SELECT DISTINCT asset, s.side
           |  FROM feed, (VALUES ('BID'), ('ASK')) s(side)
           |),
           |best AS (
           |  SELECT asset, side,
           |         CASE WHEN side = 'ASK' THEN min(pc) ELSE max(pc) END AS best_pc
           |  FROM live GROUP BY asset, side
           |)
           |SELECT sp.asset, sp.side,
           |       coalesce(b.best_pc / 100.0, 0.0) AS best_price,
           |       CAST(coalesce(l.last_sz, 0) AS DOUBLE) AS best_size
           |FROM spine sp
           |LEFT JOIN best b ON b.asset = sp.asset AND b.side = sp.side
           |LEFT JOIN live l ON l.asset = sp.asset AND l.side = sp.side AND l.pc = b.best_pc
           |ORDER BY sp.asset, sp.side""".stripMargin),
  )

  /** Like q_replay_final_bbo but the synthetic feed interleaves BOOK
    * SNAPSHOTS (every 53rd event: 2 asks + 2 bids, all fields integer
    * functions of event_id) with diffs — so the fold's clear-and-
    * rebuild reset (`tick_generator.rs:241-254`) is oracle-verified at
    * scale, not just in unit goldens. SQL equivalence: a level is live
    * iff its last write AFTER the asset's last snapshot is non-zero,
    * where the snapshot's own levels count as writes at snapshot time.
    */
  private val replaySnapshotsBbo = Q(
    "q_replay_snapshots_bbo",
    (s, dir) => finalBbo(syntheticFeed(s, dir, withSnapshots = true)),
    Some("""WITH feed AS (
           |  SELECT event_id, user_id,
           |         'A' || (user_id % 16) AS asset,
           |         event_id % 53 = 0 AS is_snap,
           |         CASE WHEN event_id % 2 = 0 THEN 'BID' ELSE 'ASK' END AS dside,
           |         1 + (event_id * 37 + user_id) % 97 AS dpc,
           |         CASE WHEN event_id % 5 = 0 THEN 0 ELSE 1 + (event_id % 997) END AS dsz
           |  FROM events
           |),
           |last_snap AS (
           |  SELECT asset, max(event_id) AS snap_id FROM feed WHERE is_snap GROUP BY asset
           |),
           |snap_levels AS (
           |  SELECT f.asset,
           |         CASE WHEN t.k < 2 THEN 'ASK' ELSE 'BID' END AS side,
           |         CASE t.k WHEN 0 THEN 50 + f.event_id % 29
           |                  WHEN 1 THEN 57 + f.event_id % 29
           |                  WHEN 2 THEN 45 - f.event_id % 29
           |                  ELSE 38 - f.event_id % 29 END AS pc,
           |         CASE t.k WHEN 0 THEN 1 + f.event_id % 89
           |                  WHEN 1 THEN 1 + f.event_id % 83
           |                  WHEN 2 THEN 1 + f.event_id % 79
           |                  ELSE 1 + f.event_id % 73 END AS sz
           |  FROM feed f
           |  JOIN last_snap ls ON f.asset = ls.asset AND f.event_id = ls.snap_id,
           |       unnest(range(0, 4)) AS t(k)
           |),
           |diff_last AS (
           |  SELECT f.asset, f.dside AS side, f.dpc AS pc,
           |         max_by(f.dsz, f.event_id) AS last_sz
           |  FROM feed f LEFT JOIN last_snap ls ON f.asset = ls.asset
           |  WHERE NOT f.is_snap AND f.event_id > coalesce(ls.snap_id, -1)
           |  GROUP BY 1, 2, 3
           |),
           |live AS (
           |  SELECT asset, side, pc, last_sz AS sz FROM diff_last WHERE last_sz > 0
           |  UNION ALL
           |  SELECT sl.asset, sl.side, sl.pc, sl.sz
           |  FROM snap_levels sl
           |  LEFT JOIN diff_last d
           |    ON d.asset = sl.asset AND d.side = sl.side AND d.pc = sl.pc
           |  WHERE d.pc IS NULL
           |),
           |spine AS (
           |  SELECT DISTINCT asset, s.side FROM feed, (VALUES ('BID'), ('ASK')) s(side)
           |),
           |best AS (
           |  SELECT asset, side,
           |         CASE WHEN side = 'ASK' THEN min(pc) ELSE max(pc) END AS bpc
           |  FROM live GROUP BY asset, side
           |)
           |SELECT sp.asset, sp.side,
           |       coalesce(b.bpc / 100.0, 0.0) AS best_price,
           |       CAST(coalesce(l.sz, 0) AS DOUBLE) AS best_size
           |FROM spine sp
           |LEFT JOIN best b ON b.asset = sp.asset AND b.side = sp.side
           |LEFT JOIN live l ON l.asset = sp.asset AND l.side = sp.side AND l.pc = b.bpc
           |ORDER BY sp.asset, sp.side""".stripMargin),
  )

  /** Deterministic fixture logs under [[Scratch]]; written lazily
    * once per JVM (same spec → same bytes, so rewrites are harmless).
    * The spec lives in [[FixtureOracle]], which also dumps the
    * generator's structured ground truth for the DuckDB oracle.
    */
  private def fixtureSpec: FixtureLog.Spec = FixtureOracle.batchSpec

  /** Full pipeline: scan → parse → fold → reference-schema ticks.
    * Oracle: per-event BBO reconstructed in DuckDB from the generator's
    * structured dump (cumulative last-write-wins with snapshot
    * cutoffs) — fully independent of the Spark scan/parse/fold.
    */
  private val replayFixtureTicks = Q(
    "q_replay_fixture_ticks",
    (s, _) => {
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val msgs = RawLogSource.feedMessages(RawLogSource.frames(s, paths))
      BookReplay.referenceTicks(msgs)
    },
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.fixtureMsgsPath)),
  )

  /** The fixture feed parsed once and written as an assetId-bucketed
    * lake (`Sinks.writeBucketedLake`), then replayed SHUFFLE-FREE by
    * `BookReplay.orderedTicks` over the lake read in each bucket's
    * arrival order — the 100-TB ingest shape: parse raw logs once,
    * bucket by the fold key, and every downstream replay/reprocess
    * reads co-located buckets with zero exchanges. Shared by the gate
    * query and PlanShapeSpec's zero-Exchange assert so the plan the
    * spec checks IS the gated plan. Overwrite-mode writes make repeated
    * calls idempotent.
    */
  private[graft] def bucketedFixtureTicks(s: SparkSession): Dataset[Tick] = {
    FixtureOracle.ensureDumps(s)
    val paths = FixtureLog.write(fixtureSpec)
    val msgs = RawLogSource.feedMessages(RawLogSource.frames(s, paths))
    graft.sources.Sinks.writeBucketedLake(
      msgs, "graft_fixture_bucketed", Scratch.path("fixture_bucketed_lake"), nBuckets = 8)
    BookReplay.orderedTicks(graft.sources.Sinks.readBucketedLake(s, "graft_fixture_bucketed"))
  }

  /** B1 over a bucketed lake, under the gate: identical output to
    * q_replay_fixture_ticks (same oracle, same hash) but the replay
    * plan contains NO exchange — each asset sits in one bucket, which
    * meets the fold's per-asset contract, so only the in-partition sort
    * and fold remain. This gates the headline scale claim: the one shuffle a
    * replay needs can be paid once at ingest and amortized over every
    * read (`tick_generator.rs:318-362` replays a pre-sorted local file
    * the same way; the lake is that file's distributed analog).
    */
  private val replayBucketed = Q(
    "q_replay_bucketed",
    (s, _) => {
      bucketedFixtureTicks(s)
        .orderBy(col("file_hour"), col("line_no"), col("msg_idx"), col("emit_idx"))
        .select(Tick.referenceColumns.map(col): _*)
    },
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.fixtureMsgsPath)),
  )

  /** Same pipeline with the reference's `-m` market filter applied
    * before state (F2, `tick_generator.rs:322-351`).
    */
  private val replayFixtureFiltered = Q(
    "q_replay_fixture_market_filter",
    (s, _) => {
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val msgs = RawLogSource.feedMessages(RawLogSource.frames(s, paths))
      BookReplay.referenceTicks(msgs, marketFilter = Some(Set("0xM0")))
    },
    Some(FixtureOracle.referenceTicksSql(
      FixtureOracle.fixtureMsgsPath, marketPred = "market = '0xM0'")),
  )

  /** S2/F1/F7: markets dim → active filter → exploded token dim from
    * the fixture's `active_markets` frames (earliest file's frame,
    * `cli/src/main.rs:180-185`). Oracle: the F1 predicate over the
    * generator's market×token ground truth.
    */
  private val marketsActiveTokens = Q(
    "q_markets_active_tokens",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val frames = RawLogSource.frames(s, paths.take(1))
      MarketsDim
        .tokenDim(MarketsDim.activeMarkets(MarketsDim.markets(frames)))
        .orderBy($"condition_id", $"token_id")
    },
    Some(FixtureOracle.marketsActiveTokensSql),
  )

  /** J1: tick → token-dim broadcast join, the notebook's asset→outcome
    * lookup (`bbo.ipynb` cell 1), over the fixture pipeline.
    */
  private val replayTicksWithOutcome = Q(
    "q_replay_ticks_with_outcome",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val frames = RawLogSource.frames(s, paths)
      val ticks = BookReplay.referenceTicks(RawLogSource.feedMessages(frames))
      val dim = MarketsDim.tokenDim(MarketsDim.markets(frames))
        .select($"token_id", $"outcome").distinct()
      ticks
        .join(broadcast(dim), ticks("asset") === dim("token_id"), "left")
        .drop("token_id")
        .orderBy($"market", $"asset", $"timestamp", $"kind", $"side", $"price", $"size")
    },
    Some(FixtureOracle.ticksWithOutcomeSql),
  )

  /** The notebook's headline query end-to-end (SURVEY.md §7.2): raw
    * logs → frames → feed explode → book fold → J1 token-dim lookup →
    * F8 filters (one market's YES token, BBO rows) → A1 1-minute last
    * price per side. Rows-only (the BBO stream itself is stateful).
    */
  private val notebookBboMinutely = Q(
    "q_notebook_bbo_minutely",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val frames = RawLogSource.frames(s, paths)
      val ticks = BookReplay.orderedTicks(RawLogSource.feedMessages(frames))
      val yesTokens = MarketsDim
        .tokenDim(MarketsDim.markets(frames))
        .filter($"outcome" === "Yes" && $"condition_id" === "0xM0")
        .select($"token_id").distinct()
      ticks
        .filter($"kind" === "BBO")
        .join(broadcast(yesTokens), ticks("asset") === yesTokens("token_id"), "left_semi")
        .withColumn("minute",
          date_format(
            date_trunc("minute", timestamp_millis($"timestamp".cast("long"))),
            "yyyy-MM-dd HH:mm:ss"))
        .groupBy($"minute", $"side")
        .agg(
          max_by($"price",
            struct($"file_hour", $"line_no", $"msg_idx", $"emit_idx")).as("last_price"),
          count(lit(1)).as("n"),
        )
        .orderBy($"minute", $"side")
    },
    Some(FixtureOracle.notebookBboMinutelySql),
  )

  /** The notebook's PLOT under the driver hash — the matplotlib cell
    * (`bbo.ipynb`, final cell) re-expressed as verifiable geometry:
    * the same minute-BBO series as [[notebookBboMinutely]], scaled
    * into a 960×480 / 40 px-pad viewport with engine-replicable
    * arithmetic (minute index and price normalized by the GLOBAL
    * extents — one broadcast 1-row aggregate — identical
    * left-associative IEEE expressions on both sides, coordinates
    * rounded to 2 dp and rendered through DECIMAL(10,2) so the
    * string forms match exactly), then assembled per side into the
    * SVG polyline `points` attribute by an ordered aggregation. The
    * oracle computes the same string with string_agg ORDER BY the
    * minute index. Wrapping these strings in SVG markup is inert
    * boilerplate, so the whole plot geometry is under the hash.
    */
  private val notebookBboPlot = Q(
    "q_notebook_bbo_plot",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val frames = RawLogSource.frames(s, paths)
      val ticks = BookReplay.orderedTicks(RawLogSource.feedMessages(frames))
      val yesTokens = MarketsDim
        .tokenDim(MarketsDim.markets(frames))
        .filter($"outcome" === "Yes" && $"condition_id" === "0xM0")
        .select($"token_id").distinct()
      val bbo = ticks
        .filter($"kind" === "BBO")
        .join(broadcast(yesTokens), ticks("asset") === yesTokens("token_id"), "left_semi")
        .withColumn("mi",
          (unix_millis(date_trunc("minute",
            timestamp_millis($"timestamp".cast("long")))) / lit(60000L)).cast("long"))
        .groupBy($"mi", $"side")
        .agg(max_by($"price",
          struct($"file_hour", $"line_no", $"msg_idx", $"emit_idx")).as("last_price"))
      val ext = bbo.agg(
        min($"mi").as("mi0"), max($"mi").as("mi1"),
        min($"last_price").as("p0"), max($"last_price").as("p1"))
      def dec(c: org.apache.spark.sql.Column) =
        c.cast("decimal(10,2)").cast("string")
      bbo.crossJoin(broadcast(ext))
        .withColumn("x", round(lit(40.0) +
          (($"mi" - $"mi0") * lit(880.0)) /
            greatest($"mi1" - $"mi0", lit(1L)), 2))
        .withColumn("y", round(lit(440.0) -
          (($"last_price" - $"p0") * lit(400.0)) /
            greatest($"p1" - $"p0", lit(1e-9)), 2))
        .withColumn("pt", concat(dec($"x"), lit(","), dec($"y")))
        .groupBy($"side")
        .agg(
          count(lit(1)).as("n_points"),
          array_join(
            transform(
              array_sort(collect_list(struct($"mi", $"pt"))),
              c => c.getField("pt")),
            " ").as("points"))
        .orderBy($"side")
    },
    Some(FixtureOracle.notebookBboPlotSql),
  )

  /** The notebook's SECOND chart under the driver hash — cell 2's
    * 1-hour TRADE volume bars (`ax2.bar(volbars.index, volbars.values,
    * width=1h, align='edge')`, `bbo.ipynb`) as verifiable RECT
    * geometry, completing the notebook's plotting parity next to
    * [[notebookBboPlot]]'s line panel. Volumes sum exactly
    * (centi-size longs, the q_tick_vwap trick — engine sum order
    * cannot flip the hash); each hour bar scales into the same
    * 960×480 / 40 px-pad viewport with align='edge' semantics (bar i
    * spans its hour slot, width = 880 / n_slots) and baseline at
    * volume 0, one float division per coordinate, rounded to 2 dp
    * through DECIMAL(10,2) so the string forms match the oracle
    * exactly. Wrapping these "x,y,w,h" quadruples in `<rect>` markup
    * is inert boilerplate, so the whole bar geometry is under the hash.
    */
  /** The yes-token dimension of the fixture's 0xM0 market — the
    * static dim both volume-bars gates (batch + streaming twin)
    * broadcast against their TRADE side.
    */
  private def fixtureYesTokens(s: SparkSession): DataFrame = {
    import s.implicits._
    val paths = FixtureLog.write(fixtureSpec)
    MarketsDim
      .tokenDim(MarketsDim.markets(RawLogSource.frames(s, paths)))
      .filter($"outcome" === "Yes" && $"condition_id" === "0xM0")
      .select($"token_id").distinct()
  }

  /** Shared rect-geometry finish of the volume bars (batch gate +
    * streaming twin): (hi, vol_c) → (n_bars, rects). Each hour bar
    * scales into the 960×480 / 40 px-pad viewport with align='edge'
    * semantics (bar i spans its hour slot, width = 880 / n_slots),
    * baseline at volume 0, one float division per coordinate, 2 dp
    * through DECIMAL(10,2) so string forms match the oracle exactly.
    */
  private def volumeRects(vol: DataFrame): DataFrame = {
    val s = vol.sparkSession
    import s.implicits._
    val ext = vol.agg(
      min($"hi").as("hi0"), max($"hi").as("hi1"), max($"vol_c").as("vmax"))
    def dec(c: org.apache.spark.sql.Column) =
      c.cast("decimal(10,2)").cast("string")
    // greatest(vmax, 1): all-zero volume would otherwise divide 0/0
    // into NaN→NULL here while the oracle errors on CAST(NaN AS
    // DECIMAL) — the same structural guard the line gate puts on its
    // price denominator, mirrored in the oracle SQL
    vol.crossJoin(broadcast(ext))
      .withColumn("x", round(lit(40.0) +
        (($"hi" - $"hi0") * lit(880.0)) / ($"hi1" - $"hi0" + lit(1L)), 2))
      .withColumn("y", round(lit(440.0) -
        ($"vol_c" * lit(400.0)) / greatest($"vmax", lit(1L)), 2))
      .withColumn("w", round(lit(880.0) / ($"hi1" - $"hi0" + lit(1L)), 2))
      .withColumn("h", round(($"vol_c" * lit(400.0)) / greatest($"vmax", lit(1L)), 2))
      .withColumn("rect", concat(dec($"x"), lit(","), dec($"y"),
        lit(","), dec($"w"), lit(","), dec($"h")))
      .agg(
        count(lit(1)).as("n_bars"),
        array_join(
          transform(
            array_sort(collect_list(struct($"hi", $"rect"))),
            c => c.getField("rect")),
          " ").as("rects"))
      .orderBy($"n_bars")
  }

  private val notebookVolumePlot = Q(
    "q_notebook_volume_plot",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val frames = RawLogSource.frames(s, paths)
      val ticks = BookReplay.orderedTicks(RawLogSource.feedMessages(frames))
      val yesTokens = fixtureYesTokens(s)
      val vol = ticks
        .filter($"kind" === "TRADE")
        .join(broadcast(yesTokens), ticks("asset") === yesTokens("token_id"), "left_semi")
        .withColumn("hi",
          (unix_millis(date_trunc("hour",
            timestamp_millis($"timestamp".cast("long")))) / lit(3600000L)).cast("long"))
        .groupBy($"hi")
        .agg(sum(round($"size" * 100).cast("long")).as("vol_c"))
      volumeRects(vol)
    },
    Some(FixtureOracle.notebookVolumePlotSql),
  )

  /** The volume bars' LIVE TWIN — the notebook's second chart
    * (`bbo.ipynb` cell 2's 1-hour TRADE bars over the stream the
    * collector's feed loop delivers, `collector/src/main.rs:358-397`)
    * computed by a REAL streaming query and hash-gated against the
    * SAME rect oracle as the batch gate, closing the "every notebook
    * artifact has a live twin" loop next to q_stream_bbo_minutely.
    *
    * Mode choice, reasoned not defaulted: the rect geometry needs
    * GLOBAL extents (hi0, hi1, vmax), so finalized-window append
    * output cannot feed it (the last hours sit above any watermark).
    * Instead the STREAMING leg maintains the hourly centi-volume sums
    * in complete mode — the aggregate is a mergeable SUM keyed by
    * hour bucket, so state is bar-count-sized (the
    * q_stream_temporal_anf shape: tiny mergeable state, batch
    * finish) — and the BATCH finish reuses [[volumeRects]] verbatim
    * on the settled sums. The yes-token dimension joins
    * stream-static broadcast, the production shape for dims. Volumes
    * sum exactly (centi-size longs), so micro-batch boundaries
    * cannot flip the hash.
    */
  private val streamVolumePlot = Q(
    "q_stream_volume_plot",
    (s, _) => {
      import s.implicits._
      val yesTokens = fixtureYesTokens(s)
      volumeRects(runStreamToTable(s, "graft_stream_volume_gate", outputMode = "complete")(tks =>
        StreamingReplay.withEventTs(tks.filter($"kind" === "TRADE")
          .join(broadcast(yesTokens), tks("asset") === yesTokens("token_id"), "left_semi"))
          .withColumn("hi",
            (unix_millis(date_trunc("hour", $"event_ts")) / lit(3600000L)).cast("long"))
          .groupBy($"hi")
          .agg(sum(round($"size" * 100).cast("long")).as("vol_c"))))
    },
    Some(FixtureOracle.notebookVolumePlotSql),
  )

  /** Every trade annotated with the PREVAILING top-of-book
    * (`TickAnalytics.tradesWithPrevailingBbo` — the as-of join
    * specialized to the tick stream, one window pass per asset; the
    * notebook's 1-minute grid is the approximation of exactly this,
    * `bbo.ipynb` trade-overlay cell). The oracle reconstructs ticks
    * independently, then applies the SAME carry-forward window, so
    * both the book replay and the prevailing-quote semantics are
    * under one hash. Effective-spread/markout studies start from this
    * table.
    */
  private val tickTradesBbo = Q(
    "q_tick_trades_bbo",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val ticks = BookReplay.orderedTicks(RawLogSource.feedMessages(RawLogSource.frames(s, paths)))
      graft.operators.TickAnalytics.tradesWithPrevailingBbo(ticks)
        .drop("file_hour", "line_no", "msg_idx")
        .orderBy($"timestamp", $"asset", $"price", $"size")
    },
    Some(FixtureOracle.tradesWithPrevailingBboSql),
  )

  /** Hourly VWAP, traded volume, and order-flow imbalance per asset
    * (buy = BID-side trades positive) — the canonical trade-bar
    * aggregation downstream of replay (A2's volume bars carry count+
    * volume; VWAP adds the price-weighted numerator). Exactness:
    * integer cents × centi-size notionals summed exactly (order-free),
    * one float division at the end, mirrored shape in the oracle. One
    * map-side-combinable aggregation at any scale.
    */
  private val tickVwap = Q(
    "q_tick_vwap",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val ticks = BookReplay.orderedTicks(RawLogSource.feedMessages(RawLogSource.frames(s, paths)))
      ticks.filter($"kind" === "TRADE")
        .select(
          date_format(
            date_trunc("hour", timestamp_millis($"timestamp".cast("long"))),
            "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"asset", $"side",
          round($"price" * 100).cast("long").as("pc"),
          round($"size" * 100).cast("long").as("sc"))
        .groupBy($"hour", $"asset")
        .agg(count(lit(1)).as("n_trades"),
          sum($"pc" * $"sc").as("notional"),
          sum($"sc").as("volume_c"),
          sum(when($"side" === "BID", $"sc").otherwise(-$"sc")).as("imb_c"))
        .select($"hour", $"asset", $"n_trades",
          round($"notional".cast("double") / $"volume_c" / 100.0, 4).as("vwap"),
          round($"volume_c" / 100.0, 2).as("volume"),
          round($"imb_c" / 100.0, 2).as("imbalance"))
        .orderBy($"hour", $"asset")
    },
    Some(FixtureOracle.tickVwapSql),
  )

  /** Structured Streaming under the correctness gate: the
    * flatMapGroupsWithState fold runs as a REAL streaming query
    * (file source → AvailableNow trigger → memory sink) over
    * uncompressed fixture logs, and the sink contents are the query
    * result. Deterministic (fixture-derived), rows-only checked —
    * every verify round now executes the streaming engine end-to-end,
    * not just its unit specs.
    */
  private def streamFixtureSpec: FixtureLog.Spec = FixtureOracle.streamSpec

  /** Run a streaming plan built on the fixture tick stream (the
    * `ticksStream` fold over the plain-text fixture logs) through
    * [[ScopedConf.streamGate]], returning the sink table. `outputMode`
    * is "append" for the fold/window gates, "complete" for
    * global-extent finishes (the volume-bars twin) whose state is
    * mergeable and bucket-count-sized; `rocksDb` pins the RocksDB
    * state-store provider for the run.
    */
  private def runStreamToTable(
      s: SparkSession,
      sinkName: String,
      outputMode: String = "append",
      rocksDb: Boolean = false,
  )(plan: Dataset[Tick] => DataFrame): DataFrame = {
    FixtureOracle.ensureDumps(s)
    FixtureLog.write(streamFixtureSpec)
    ScopedConf.streamGate(s, sinkName, outputMode, rocksDb = rocksDb) {
      val lines = s.readStream.schema("value STRING").text(streamFixtureSpec.dir)
      plan(StreamingReplay.ticksStream(RawLogSource.feedMessagesFromLines(lines.toDF())))
    }
  }

  private val streamReplayTicks = Q(
    "q_stream_replay_ticks",
    (s, _) => {
      import s.implicits._
      runStreamToTable(s, "graft_stream_replay_gate")(_.toDF())
        .orderBy($"asset", $"line_no", $"msg_idx", $"emit_idx")
        .select(Tick.referenceColumns.map(col): _*)
    },
    // stream ≡ batch ≡ oracle: the plain-text fixture carries the same
    // logical messages as the zstd one (same spec/seed), so the same
    // structured-dump oracle hash-checks the streaming fold.
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.fixtureMsgsPath)),
  )

  /** The same fixture fold on the RocksDB state store: `ticksStream`
    * with the RocksDB provider pinned for the run, hash-checked
    * against the same structured-dump oracle as the default-provider
    * gate — so both state-store providers are verified equal to the
    * reference semantics every round.
    */
  private val streamReplayTicksTws = Q(
    "q_stream_replay_ticks_tws",
    (s, _) => {
      import s.implicits._
      runStreamToTable(s, "graft_stream_replay_tws_gate", rocksDb = true)(_.toDF())
        .orderBy($"asset", $"line_no", $"msg_idx", $"emit_idx")
        .select(Tick.referenceColumns.map(col): _*)
    },
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.fixtureMsgsPath)),
  )

  /** Streaming watermarked windowed aggregation under the gate: the
    * A1 minute-BBO agg over the streaming fold, append mode — only
    * windows finalized below the terminal watermark emit, which is
    * deterministic for a fixed fixture. Covers watermark + window
    * close semantics every verify round.
    */
  private val streamBboMinutely = Q(
    "q_stream_bbo_minutely",
    (s, _) => {
      import s.implicits._
      runStreamToTable(s, "graft_stream_bbo_gate")(
        StreamingReplay.bboMinutely(_))
        .orderBy($"minute", $"asset", $"side")
    },
    // Watermark + window-close semantics under oracle: append mode
    // emits exactly the windows finalized below the terminal
    // watermark, which the SQL reproduces as max(event_ts) - delay.
    Some(FixtureOracle.streamBboMinutelySql()),
  )

  /** S5 under the gate: the CUSTOM DataSourceV2 streaming source
    * (graft-feed — the live-socket stand-in, see
    * graft.sources.GraftFeedProvider) drained with AvailableNow in
    * admission-controlled chunks, parsed and folded by the same
    * pipeline as recorded logs. Deterministic (the source is a pure
    * function of the frame index), rows-only checked — every verify
    * round exercises the full custom-source contract: offsets,
    * admission control, partition slicing, recovery-safe replay.
    */
  private val streamLiveSource = Q(
    "q_stream_live_source",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      ScopedConf.streamGate(s, "graft_stream_live_gate") {
        val lines = s.readStream.format("graft-feed")
          .option("totalFrames", FixtureOracle.LiveTotalFrames)
          .option("framesPerBatch", 100).load()
        StreamingReplay.ticksStream(RawLogSource.feedMessagesFromLines(lines)).toDF()
      }.orderBy($"asset", $"line_no", $"msg_idx", $"emit_idx")
        .select(Tick.referenceColumns.map(col): _*)
    },
    // The custom-source gate folds the generator's pure-function
    // frames; the oracle replays the same generator's structured dump.
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.liveMsgsPath)),
  )

  /** A5 under the gate: the `observe()`-based ingest metrics
    * (`StreamingReplay.withIngestMetrics` — the streaming analog of
    * the reference's 15 s msgs/sec log, `collector/src/main.rs:275-290`)
    * accumulated across micro-batches by a StreamingQueryListener and
    * oracled against the structured dump: the total parsed-message
    * count and approx byte volume must equal what DuckDB derives from
    * the ground truth. Totals are batch-boundary-invariant, so the
    * gate is deterministic however the file source slices batches.
    * Closes the last spec-only §2 aggregation item (A5 was previously
    * listener-spec'd but never driver-verified).
    */
  private val streamIngestMetrics = Q(
    "q_stream_ingest_metrics",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      FixtureLog.write(streamFixtureSpec)
      val totals =
        new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val om = e.progress.observedMetrics.get("ingest")
          if (om != null) {
            totals.updateAndGet { case (n, b) =>
              (n + om.getAs[Long]("n_messages"), b + om.getAs[Long]("approx_bytes"))
            }
            ()
          }
        }
      }
      s.streams.addListener(listener)
      try {
        val expected = ScopedConf.streamGate(s, "graft_stream_ingest_metrics_gate") {
          val lines = s.readStream.schema("value STRING").text(streamFixtureSpec.dir)
          StreamingReplay.withIngestMetrics(RawLogSource.feedMessagesFromLines(lines.toDF()))
            .toDF().select($"eventType")
        }.count()
        // The listener bus is async: progress events can land after
        // the query terminates. The sink row count is ground truth
        // for "every batch reported" (observe counts the same rows the
        // sink receives), so wait until the observed total catches up,
        // bounded by a deadline.
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (totals.get()._1 < expected && System.nanoTime() < deadline)
          Thread.sleep(50)
      } finally s.streams.removeListener(listener)
      val (n, b) = totals.get()
      Seq((n, b)).toDF("n_messages", "approx_bytes")
    },
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_messages,
           |       CAST(sum(length(ts) + length(market) + length(asset)) AS BIGINT) AS approx_bytes
           |FROM read_parquet('${FixtureOracle.fixtureMsgsPath}/*.parquet')""".stripMargin),
  )

  /** Time-weighted average quoted spread per asset
    * (`TickAnalytics.timeWeightedSpread`): each top-of-book state
    * weighted by how long it prevailed — the liquidity metric
    * effective-spread studies baseline against. Oracle replays the
    * identical carry-forward + lead-duration windows over its own
    * independent tick reconstruction.
    */
  private val tickTwaSpread = Q(
    "q_tick_twa_spread",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val ticks = BookReplay.orderedTicks(RawLogSource.feedMessages(RawLogSource.frames(s, paths)))
      graft.operators.TickAnalytics.timeWeightedSpread(ticks)
        .orderBy($"asset")
    },
    Some(FixtureOracle.tickTwaSpreadSql),
  )

  /** K2 under the gate (VERDICT r5 #3): the fixture frames pushed
    * through the rotating zstd-JSONL sink (`Sinks.writeFramesJsonlZst`,
    * hourly rotation per `collector/src/main.rs:137-183`), then the
    * WRITTEN files re-scanned, re-parsed, and replayed from scratch.
    * Hash-matching the same independent DuckDB oracle as
    * q_replay_fixture_ticks proves the sink's output is
    * byte-format-compatible with the collector's log: every frame
    * variant (feed, dimension, operational, keepalive) survives the
    * round trip in arrival order, or the re-assigned line numbers —
    * and with them the fold's total order — would drift and break the
    * hash.
    */
  private val sinkJsonlRoundtrip = Q(
    "q_sink_jsonl_roundtrip",
    (s, _) => {
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val outDir = Scratch.path("sink_jsonl_roundtrip")
      graft.sources.Sinks.writeFramesJsonlZst(
        RawLogSource.frames(s, paths), outDir)
      val rewritten = RawLogSource.discover(outDir)
      require(rewritten.size == paths.size,
        s"jsonl sink round-trip: wrote ${rewritten.size} hour files, expected ${paths.size}")
      BookReplay.referenceTicks(
        RawLogSource.feedMessages(RawLogSource.frames(s, rewritten)))
    },
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.fixtureMsgsPath)),
  )

  /** F7 under the gate: the bare token→id projection the collector
    * derives its subscription list from (`collector/src/lib.rs:74-79`)
    * — active markets only, token ids only.
    */
  private val marketsTokenIds = Q(
    "q_markets_token_ids",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      val paths = FixtureLog.write(fixtureSpec)
      val frames = RawLogSource.frames(s, paths.take(1))
      MarketsDim
        .tokenDim(MarketsDim.activeMarkets(MarketsDim.markets(frames)))
        .select($"token_id")
        .orderBy($"token_id")
    },
    Some(FixtureOracle.marketsTokenIdsSql),
  )

  /** O3 under the gate: earliest-vs-latest hour-file selection over the
    * sorted discovery listing (`cli/src/main.rs:180-185` — a requested
    * range reads the earliest file, no range reads the latest), proven
    * non-vacuously by counting each chosen file's parsed feed messages.
    */
  private val cliFileChoice = Q(
    "q_cli_file_choice",
    (s, _) => {
      import s.implicits._
      FixtureOracle.ensureDumps(s)
      FixtureLog.write(fixtureSpec)
      val files = RawLogSource.discover(fixtureSpec.dir)
      def countIn(path: String): Long =
        RawLogSource.feedMessages(RawLogSource.frames(s, Seq(path))).count()
      Seq(
        ("earliest", RawLogSource.fileHourOf(files.head), countIn(files.head)),
        ("latest", RawLogSource.fileHourOf(files.last), countIn(files.last)),
      ).toDF("mode", "file_hour", "n_feed_msgs").orderBy($"mode")
    },
    Some(FixtureOracle.fileChoiceSql),
  )

  /** Exactly-once for the K2-equivalent FILE SINK under an injected
    * crash (VERDICT r5 #5; q_stream_checkpoint_resume covers the
    * query/state side — this covers the collector's rotating log
    * itself, `collector/src/main.rs:137-210`). A checkpointed
    * streaming ingest writes hour-rotated raw-frame files via
    * `FrameSink` (idempotent per-(hour,batch) files); the first
    * incarnation is CRASHED at the worst point — batch 1's output
    * fully on disk, checkpoint not yet committed — and a second
    * incarnation resumes from the same checkpoint, replaying batch 1
    * over its own leftovers. The written log is then re-scanned and
    * fully REPLAYED against the same independent oracle as
    * q_replay_fixture_ticks: a duplicated frame (append instead of
    * idempotent overwrite), a lost frame, or a reordering all break
    * the hash.
    */
  private val streamSinkExactlyOnce = Q(
    "q_stream_sink_exactly_once",
    (s, _) => {
      FixtureOracle.ensureDumps(s)
      FixtureLog.write(FixtureOracle.streamSpec)
      val base = new java.io.File(Scratch.path("stream_sink_gate"))
      org.apache.commons.io.FileUtils.deleteQuietly(base)
      val outDir = new java.io.File(base, "out").getPath
      val ckpt = new java.io.File(base, "ckpt").getPath
      // one source file per micro-batch → 3 batches over the 3 fixture
      // hours, so the crash point sits between committed batches
      def lines = s.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1")
        .text(FixtureOracle.streamSpec.dir).toDF()
      val crashed =
        try {
          graft.streaming.FrameSink
            .start(lines, outDir, ckpt, failAfterBatch = Some(1L))
            .awaitTermination()
          false
        } catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            // only the INJECTED crash counts; a genuine failure in the
            // sink path must not be silently retried into a pass
            val chain = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null)
              .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
            require(chain.contains("graft-injected"),
              s"unexpected streaming failure (not the injected crash): $chain")
            true
        }
      require(crashed,
        "injected crash did not surface — the failure path was not exercised")
      graft.streaming.FrameSink.start(lines, outDir, ckpt, None)
        .awaitTermination()
      val files = RawLogSource.discover(outDir)
      require(files.size == FixtureOracle.streamSpec.nFiles,
        s"exactly-once sink: ${files.size} hour files, expected ${FixtureOracle.streamSpec.nFiles}")
      BookReplay.referenceTicks(
        RawLogSource.feedMessages(RawLogSource.frames(s, files)))
    },
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.fixtureMsgsPath)),
  )

  /** S5's live transport under the correctness gate: the real client
    * stack (LiveConnection, LiveFeedClient, the graft-feed DSv2 live
    * mode) carries 60 frames from a [[graft.sources.Loopback]] feed
    * server into a streaming query, and the delivered seqs must match
    * the served set. `_ws` adds RFC 6455 framing and `_wss` adds TLS
    * with pinned trust in a fresh keystore, so the last one runs the
    * reference's whole `wss://` stack (`connection.rs:80-135`).
    * Delivery across reconnects is at-least-once by design, so the
    * gates compare distinct seqs.
    */
  private def liveLoopbackGate(name: String, framing: String, tls: Boolean) = Q(
    name,
    (s, _) => {
      import s.implicits._
      val nFrames = 60
      val keystore = if (tls) Some(TlsLoopback.genKeystore()) else None
      val tlsContext = keystore.map { case (path, pass) => TlsLoopback.serverContext(path, pass) }
      val server = Loopback.feed(framing, tlsContext) { (_, _, conn) =>
        (1 to nFrames).foreach(i => conn.send(s"""{"seq":$i}"""))
        conn.hold()
      }
      // not streamGate: a ProcessingTime trigger, polled, then stopped
      val sinkName = s"graft_${name.stripPrefix("q_")}_sink"
      s.streams.active.filter(q => Option(q.name).contains(sinkName)).foreach(_.stop())
      s.catalog.dropTempView(sinkName)
      val seqs = get_json_object($"value", "$.seq").cast("long").as("seq")
      try {
        val query = s.readStream
          .format("graft.sources.GraftFeedProvider")
          .option("host", "127.0.0.1")
          .option("port", server.port.toString)
          .option("assets", "T1,T2,T3")
          .option("framing", framing)
          .option("idlePaceMs", "5")
          .options(keystore.fold(Map.empty[String, String]) { case (path, pass) =>
            Map("tlsTruststore" -> path, "tlsStorePass" -> pass) })
          .load()
          .writeStream
          .format("memory").queryName(sinkName)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
          .start()
        try {
          val deadline = System.currentTimeMillis() + 60000
          while (System.currentTimeMillis() < deadline &&
            s.table(sinkName).select(seqs).distinct().count() < nFrames) Thread.sleep(200)
        } finally query.stop()
        s.table(sinkName).select(seqs).distinct().orderBy($"seq")
      } finally server.close()
    },
    Some("""SELECT CAST(x + 1 AS BIGINT) AS seq
           |FROM range(60) t(x)
           |ORDER BY seq""".stripMargin),
  )

  private val streamLiveLoopback =
    liveLoopbackGate("q_stream_live_loopback", "ndjson", tls = false)
  private val streamLiveLoopbackWs =
    liveLoopbackGate("q_stream_live_loopback_ws", "ws", tls = false)
  private val streamLiveLoopbackWss =
    liveLoopbackGate("q_stream_live_loopback_wss", "ws", tls = true)

  /** S3/S4 under the correctness gate over real HTTP: the
    * windowed-concurrent paginator (S3, `fetchAllMarkets`) and the
    * sequential one (S4, `fetchAllSequential`, against a pager that
    * 500s every cursor's first request) both walk 1 237 market records
    * through the real `MarketsConnector.httpFetch`, must agree row for
    * row, and the rows then flow through the real dim pipeline (S2
    * parse → F1 activity predicate → F7 token dim).
    */
  private val sourceMarketsHttp = Q(
    "q_source_markets_http",
    (s, _) => {
      import s.implicits._
      val total = 1237
      val pageSize = 100
      def marketJson(i: Int): String = {
        val p = (i % 100) / 100.0
        s"""{"id":"m$i","condition_id":"c$i","question_id":"qid$i",""" +
          s""""question":"Q $i?","description":"d$i",""" +
          s""""closed":${i % 7 == 0},"accepting_orders":${i % 5 != 0},""" +
          s""""active":true,"archived":${i % 11 == 0},""" +
          s""""enable_order_book":true,"tokens":[""" +
          s"""{"outcome":"YES","price":$p,"token_id":"T${i}y","winner":${i % 2 == 0}},""" +
          s"""{"outcome":"NO","price":${1.0 - p},"token_id":"T${i}n","winner":${i % 2 == 1}}""" +
          s"""],"extra":$i}"""
      }
      val plain = Loopback.marketPages(total, pageSize)(marketJson)
      val flaky = Loopback.marketPages(total, pageSize, failFirst = true)(marketJson)
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        val viaConcurrent = MarketsConnector.fetchAllMarkets(
          MarketsConnector.httpFetch(s"${plain.base}/markets"),
          pageSize = pageSize, concurrency = 8)
        val viaSequential = MarketsConnector.fetchAllSequential(
          MarketsConnector.httpFetch(s"${flaky.base}/markets"),
          firstCursor = MarketsConnector.cursorFor(0, pageSize))
        require(viaConcurrent.sorted == viaSequential.sorted,
          "S3 and S4 paginations must return the identical row set")
        require(viaConcurrent.size == total,
          s"expected $total markets, got ${viaConcurrent.size}")
        val frames = Seq(graft.model.Frame(
          fileHour = "2024-01-01-00", lineNo = 0L, frameTs = "0",
          messageType = "active_markets",
          content = s"""{"markets":[${viaConcurrent.mkString(",")}]}"""))
          .toDS()
        MarketsDim.tokenDim(MarketsDim.activeMarkets(MarketsDim.markets(frames)))
          .orderBy($"condition_id", $"token_id")
      } finally {
        plain.close()
        flaky.close()
      }
    },
    Some("""WITH idx AS (SELECT CAST(x AS INTEGER) AS i FROM range(1237) t(x)),
           |act AS (
           |  SELECT i FROM idx
           |  WHERE i % 5 <> 0 AND i % 11 <> 0 AND i % 7 <> 0),
           |tok AS (
           |  SELECT i, 'YES' AS outcome, (i % 100) / 100.0 AS token_price,
           |         'T' || i || 'y' AS token_id, (i % 2 = 0) AS winner
           |  FROM act
           |  UNION ALL
           |  SELECT i, 'NO', 1.0 - (i % 100) / 100.0,
           |         'T' || i || 'n', (i % 2 = 1)
           |  FROM act)
           |SELECT 'c' || i AS condition_id, 'qid' || i AS question_id,
           |       'Q ' || i || '?' AS question, outcome, token_price,
           |       token_id, winner
           |FROM tok
           |ORDER BY condition_id, token_id""".stripMargin),
  )

  /** S6 over the real GCS JSON API (minus only hostname and OAuth):
    * the fixture hour logs sit in a [[graft.sources.Loopback]] bucket,
    * are discovered with `GcsJsonClient.listObjects` (S7 on the wire,
    * paginated), fetched by `HourCache.fetchMissing` with the protocol
    * fetcher into a cleaned cache dir, and replayed through the same
    * scan→parse→fold as q_replay_fixture_ticks under the same oracle.
    */
  private val sourceGcsHttp = Q(
    "q_source_gcs_http",
    (s, _) => {
      FixtureOracle.ensureDumps(s)
      val srcPaths = FixtureLog.write(FixtureOracle.batchSpec)
      val byName = srcPaths.map { p =>
        val f = new java.io.File(p)
        s"raw/${f.getName}" -> java.nio.file.Files.readAllBytes(f.toPath)
      }.toMap
      val names = byName.keys.toSeq.sorted
      // pageSize 2 forces the pagination loop on the tiny set
      val server = Loopback.gcsBucket(byName, pageSize = 2)
      try {
        // S7 on the wire: discovery must see exactly the bucket's hours
        val listed = GcsJsonClient.listObjects(server.base, "logs", "raw/")
        require(listed.map(_.name) == names,
          s"GCS listing mismatch: ${listed.map(_.name)} vs $names")
        val hours = names.map(_.stripPrefix("raw/").stripSuffix(".jsonl.zst"))
        val cacheDir = new java.io.File(Scratch.path("gcs_gate_cache"))
        // clean: every run must exercise the fetch path, not stale cache
        Option(cacheDir.listFiles()).foreach(_.foreach(_.delete()))
        val fetched = HourCache.fetchMissing(cacheDir.getPath, hours,
          GcsJsonClient.hourFetcher(server.base, "logs", "raw/"))
        require(fetched.sorted == hours.sorted,
          s"expected ${hours.size} hours fetched, got ${fetched.size}")
        val paths = hours.sorted.map(h =>
          new java.io.File(cacheDir, s"$h.jsonl.zst").getPath)
        val msgs = RawLogSource.feedMessages(RawLogSource.frames(s, paths))
        BookReplay.referenceTicks(msgs)
      } finally server.close()
    },
    Some(FixtureOracle.referenceTicksSql(FixtureOracle.fixtureMsgsPath)),
  )

  val all: Seq[Q] = Seq(
    streamLiveLoopback, streamLiveLoopbackWs, streamLiveLoopbackWss,
    sourceGcsHttp, sourceMarketsHttp,
    streamIngestMetrics,
    streamSinkExactlyOnce,
    sinkJsonlRoundtrip,
    marketsTokenIds,
    cliFileChoice,
    tickTradesBbo,
    tickTwaSpread,
    tickVwap,
    replayFinalBbo,
    replaySnapshotsBbo,
    replayFixtureTicks,
    replayBucketed,
    replayFixtureFiltered,
    marketsActiveTokens,
    replayTicksWithOutcome,
    notebookBboMinutely,
    notebookBboPlot,
    notebookVolumePlot,
    streamVolumePlot,
    streamReplayTicks,
    streamReplayTicksTws,
    streamBboMinutely,
    streamLiveSource,
  )
}
