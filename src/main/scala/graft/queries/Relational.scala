package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.ScopedConf

/** Relational operator inventory (SURVEY.md §2.2, §2.3, §2.4 A1–A4,
  * §2.5, §2.6) expressed over the driver's TPC-H-ish tables.
  *
  * Each query is a declarative DataFrame plan — filters and projections
  * sit directly on the parquet scan so Catalyst pushes them into the
  * reader; dimension joins are explicitly broadcast; aggregations get
  * map-side partial aggregation for free. At 100 TB the same plans
  * hold: the only shuffles are the groupBy/join keys themselves.
  */
object Relational {

  /** F1-style boolean filter + TPC-H Q1-shaped aggregation (A4).
    * Reference analog: pricing-summary style rollup over the tick
    * table (`notebooks/bbo.ipynb` cell 2-3 aggregates).
    */
  private val aggPricingSummary = Q(
    "q_agg_pricing_summary",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).lineitem
        .filter($"l_quantity" <= 45.0)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
          round(avg($"l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"),
        )
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(sum(l_quantity), 2) AS sum_qty,
           |  round(sum(l_extendedprice), 2) AS sum_base_price,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           |  round(avg(l_quantity), 4) AS avg_qty,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_quantity <= 45.0
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin),
  )

  /** F2: IN-set membership filter (reference: market-id filter,
    * `cli/src/tick_generator.rs:323-351`) + projection pushed to scan.
    */
  private val filterInSet = Q(
    "q_filter_in_set",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).lineitem
        .filter($"l_returnflag".isin("A", "R") && $"l_quantity" > 48.0)
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
           |FROM lineitem
           |WHERE l_returnflag IN ('A', 'R') AND l_quantity > 48.0
           |ORDER BY l_orderkey, l_linenumber""".stripMargin),
  )

  /** F3: case-insensitive substring filter (reference:
    * `question.to_lowercase().contains`, `cli/src/main.rs:217-220`).
    */
  private val filterSubstring = Q(
    "q_filter_substring",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).part
        .filter(lower($"p_name").contains("red"))
        .select($"p_partkey", $"p_name", $"p_brand")
        .orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey, p_name, p_brand
           |FROM part
           |WHERE lower(p_name) LIKE '%red%'
           |ORDER BY p_partkey""".stripMargin),
  )

  /** F4: half-open time-range predicate (reference: file-overlap check
    * `cli/src/file_reader.rs:93-99`); at scale this is the partition-
    * pruning predicate.
    */
  private val filterTimeRange = Q(
    "q_filter_time_range",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .filter(
          $"ts" >= lit("2024-01-03 00:00:00").cast("timestamp") &&
            $"ts" < lit("2024-01-05 00:00:00").cast("timestamp"))
        .select($"event_id", $"event_type", $"user_id")
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, event_type, user_id
           |FROM events
           |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts < TIMESTAMP '2024-01-05 00:00:00'
           |ORDER BY event_id""".stripMargin),
  )

  /** J1: fact-to-dimension broadcast hash join (reference: token→outcome
    * dict lookup, `notebooks/bbo.ipynb` cell 1). `broadcast()` keeps the
    * 100 TB fact table shuffle-free.
    */
  private val joinBroadcastDim = Q(
    "q_join_broadcast_dim",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      t.lineitem
        .join(broadcast(t.part), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(
          round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .orderBy($"p_brand")
    },
    Some("""SELECT p_brand,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           |  count(*) AS n_items
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand
           |ORDER BY p_brand""".stripMargin),
  )

  /** Multiway join: fact tables shuffle on their keys, dims broadcast
    * (TPC-H Q5 shape; exercises Catalyst join reorder + AQE).
    */
  private val joinMultiway = Q(
    "q_join_multiway",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      t.customer
        .join(t.orders, $"c_custkey" === $"o_custkey")
        .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
        .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .orderBy($"r_name", $"n_name")
    },
    Some("""SELECT r_name, n_name,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           |  count(*) AS n_items
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name, n_name
           |ORDER BY r_name, n_name""".stripMargin),
  )

  /** J2: anti join (reference: required-files minus cached-files,
    * `cli/src/gcs_downloader.rs:48-57`).
    */
  private val joinAnti = Q(
    "q_join_anti",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      t.customer
        .join(
          t.orders.filter($"o_orderpriority" === "1-URGENT"),
          $"c_custkey" === $"o_custkey",
          "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment
           |FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders
           |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
           |ORDER BY c_custkey""".stripMargin),
  )

  /** Semi join (EXISTS): orders having at least one max-quantity line. */
  private val joinSemi = Q(
    "q_join_semi",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      t.orders
        .join(t.lineitem.filter($"l_quantity" >= 49.0), $"o_orderkey" === $"l_orderkey", "left_semi")
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey, o_totalprice, o_orderstatus
           |FROM orders
           |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
           |ORDER BY o_orderkey""".stripMargin),
  )

  /** W1/A1: last observation per tumbling minute (pandas
    * `resample('1min').last()`, `notebooks/bbo.ipynb` cell 2).
    * `max_by(value, event_id)` = last-in-arrival-order; arrival order is
    * the unique monotone event_id, exactly the reference's log order.
    */
  private val windowLastPerMinute = Q(
    "q_window_last_per_minute",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .groupBy(
          date_format(date_trunc("minute", $"ts"), "yyyy-MM-dd HH:mm:ss").as("minute"),
          $"event_type")
        .agg(max_by($"value", $"event_id").as("last_value"), count(lit(1)).as("n"))
        .orderBy($"minute", $"event_type")
    },
    Some("""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
           |  event_type,
           |  max_by(value, event_id) AS last_value,
           |  count(*) AS n
           |FROM events
           |GROUP BY 1, 2
           |ORDER BY 1, 2""".stripMargin),
  )

  /** A2: tumbling hourly volume bars (pandas `resample('1h').sum()`,
    * `notebooks/bbo.ipynb` cell 2).
    */
  private val aggHourlyVolume = Q(
    "q_agg_hourly_volume",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .groupBy(
          date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"event_type")
        .agg(round(sum($"value"), 2).as("volume"), count(lit(1)).as("n_events"))
        .orderBy($"hour", $"event_type")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           |  event_type,
           |  round(sum(value), 2) AS volume,
           |  count(*) AS n_events
           |FROM events
           |GROUP BY 1, 2
           |ORDER BY 1, 2""".stripMargin),
  )

  /** A3: summary statistics (pandas `describe()`, `notebooks/bbo.ipynb`
    * cell 3) with EXACT interpolated percentiles (Spark `percentile`,
    * not `approx_percentile`) to match pandas/DuckDB quantile semantics.
    */
  private val summaryStats = Q(
    "q_summary_stats",
    (s, dir) => {
      import s.implicits._
      // one exact-percentile aggregate evaluating all three quantiles
      // from a single buffered column — three separate percentile()
      // calls would each buffer and sort the full column
      Tables(s, dir).lineitem
        .agg(
          count($"l_quantity").as("cnt"),
          round(avg($"l_quantity"), 4).as("mean_qty"),
          round(stddev($"l_quantity"), 4).as("std_qty"),
          min($"l_quantity").as("min_qty"),
          percentile($"l_quantity", array(lit(0.25), lit(0.5), lit(0.75))).as("ps"),
          max($"l_quantity").as("max_qty"),
        )
        .select(
          $"cnt", $"mean_qty", $"std_qty", $"min_qty",
          round(element_at($"ps", 1), 4).as("p25_qty"),
          round(element_at($"ps", 2), 4).as("p50_qty"),
          round(element_at($"ps", 3), 4).as("p75_qty"),
          $"max_qty",
        )
    },
    Some("""SELECT count(l_quantity) AS cnt,
           |  round(avg(l_quantity), 4) AS mean_qty,
           |  round(stddev(l_quantity), 4) AS std_qty,
           |  min(l_quantity) AS min_qty,
           |  round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
           |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           |  round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
           |  max(l_quantity) AS max_qty
           |FROM lineitem""".stripMargin),
  )

  /** O1/O3/O4: total sort + deterministic top-k (reference: filename
    * sort `file_reader.rs:47-49`, first/last selection, take-n).
    */
  private val sortTopK = Q(
    "q_sort_topk",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).orders
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(25)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
           |FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey
           |LIMIT 25""".stripMargin),
  )

  /** U1 + distinct: union of page-style result sets
    * (`collector/src/client/mod.rs:320`).
    */
  private val unionDistinct = Q(
    "q_union_distinct",
    (s, dir) => {
      import s.implicits._
      val o = Tables(s, dir).orders
      val hi = o.filter($"o_totalprice" > 450000.0).select($"o_custkey")
      val urgent = o.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
      hi.union(urgent).distinct().orderBy($"o_custkey")
    },
    Some("""SELECT DISTINCT o_custkey FROM (
           |  SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0
           |  UNION ALL
           |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           |) ORDER BY o_custkey""".stripMargin),
  )

  /** C1/C4/C6/C7/C8/C9 scalar-function surface: hour-bucket formatting
    * (`collector/src/main.rs:132-135`), epoch-ms extraction
    * (`bbo.ipynb` cell 0), base64 cursor (`mod.rs:363-366`), JSON field
    * extraction (`main.rs:66-69`), lowercase/contains
    * (`cli/src/main.rs:217-220`), and format→parse round-trip
    * (`cli/src/main.rs:270-287`).
    */
  private val scalarFuncs = Q(
    "q_scalar_funcs",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .filter($"event_id" < 500)
        .select(
          $"event_id",
          date_format($"ts", "yyyy-MM-dd-HH").as("hour_bucket"),
          unix_millis($"ts").as("epoch_ms"),
          base64(concat($"user_id".cast("string"), lit(":"), $"event_type").cast("binary")).as("cursor"),
          get_json_object($"props", "$.k").as("prop_k"),
          contains($"event_type", lit("c")).as("has_c"),
          date_format(
            to_timestamp(date_format($"ts", "yyyy-MM-dd-HH"), "yyyy-MM-dd-HH"),
            "yyyy-MM-dd HH:mm:ss").as("hour_parsed"),
        )
        .orderBy($"event_id")
    },
    Some("""SELECT event_id,
           |  strftime(ts, '%Y-%m-%d-%H') AS hour_bucket,
           |  epoch_ms(ts) AS epoch_ms,
           |  to_base64(encode(cast(user_id AS VARCHAR) || ':' || event_type)) AS cursor,
           |  json_extract_string(props, '$.k') AS prop_k,
           |  contains(event_type, 'c') AS has_c,
           |  strftime(strptime(strftime(ts, '%Y-%m-%d-%H'), '%Y-%m-%d-%H'), '%Y-%m-%d %H:%M:%S') AS hour_parsed
           |FROM events
           |WHERE event_id < 500
           |ORDER BY event_id""".stripMargin),
  )

  /** C2/C3 under the gate: duration-string parse
    * (`cli/src/main.rs:243-268`) and the `--since` window's
    * trunc-to-hour −1 min end-cap (`cli/src/main.rs:259-262`), run
    * through the REAL `cli.TimeArgs` code — argument parsing is
    * inherently driver-side (it parses CLI flags, not data), so the
    * Spark side evaluates TimeArgs per duration constant against
    * `now` = max(events.ts) (one bounded 1-row fetch) and ships the
    * results as a DataFrame; the oracle re-derives the same windows
    * and C4 hour keys independently in SQL. A disagreement in parse
    * semantics, the end-cap, or the hour-bucket format flips the hash.
    */
  private val cliTimeArgs = Q(
    "q_cli_time_args",
    (s, dir) => {
      import s.implicits._
      val nowMicros = Tables(s, dir).events
        .agg(max(unix_micros($"ts"))).head().getLong(0)
      val now = java.time.Instant.EPOCH
        .plus(nowMicros, java.time.temporal.ChronoUnit.MICROS)
      val rows = Seq("90s", "30m", "12h", "2d", "45m", "7h").map { d =>
        val dur = graft.cli.TimeArgs.parseDuration(d)
        val (lo, hi) = graft.cli.TimeArgs.sinceRange(dur, now)
        (d, dur.toSeconds,
          java.sql.Timestamp.from(lo), java.sql.Timestamp.from(hi),
          graft.cli.TimeArgs.hourKey(lo), graft.cli.TimeArgs.hourKey(hi))
      }
      rows.toDF("dur", "dur_secs", "window_lo", "window_hi",
          "hour_key_lo", "hour_key_hi")
        .orderBy($"dur")
    },
    Some("""WITH nw AS (SELECT max(ts) AS now FROM events),
           |d AS (SELECT unnest(['90s','30m','12h','2d','45m','7h']) AS dur),
           |p AS (
           |  SELECT dur,
           |         CAST(substr(dur, 1, length(dur)-1) AS BIGINT) *
           |         CASE substr(dur, length(dur), 1)
           |           WHEN 's' THEN 1 WHEN 'm' THEN 60
           |           WHEN 'h' THEN 3600 WHEN 'd' THEN 86400 END AS dur_secs
           |  FROM d
           |)
           |SELECT dur, dur_secs,
           |       now - dur_secs * INTERVAL 1 SECOND AS window_lo,
           |       date_trunc('hour', now) - INTERVAL 1 MINUTE AS window_hi,
           |       strftime(now - dur_secs * INTERVAL 1 SECOND, '%Y-%m-%d-%H') AS hour_key_lo,
           |       strftime(date_trunc('hour', now) - INTERVAL 1 MINUTE, '%Y-%m-%d-%H') AS hour_key_hi
           |FROM p, nw
           |ORDER BY dur""".stripMargin),
  )

  /** A1 with pandas gap semantics: `resample('1min').last()` emits a
    * row for EVERY minute in the observed range, value-less minutes as
    * NULL/NaN. Spine = `sequence(min_minute, max_minute, 1 min)`
    * exploded, cross-joined with the type dim, left-joined to the
    * per-minute last-value agg (SURVEY.md §2.4 A1 gap note).
    */
  private val windowMinuteSpine = Q(
    "q_window_minute_spine",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
        .select(date_trunc("minute", $"ts").as("m"), $"event_type", $"value", $"event_id")
      val agg = ev.groupBy($"m", $"event_type")
        .agg(max_by($"value", $"event_id").as("last_value"))
      val spine = ev.agg(min($"m").as("lo"), max($"m").as("hi"))
        .select(explode(sequence($"lo", $"hi", expr("interval 1 minute"))).as("m"))
      val types = ev.select($"event_type").distinct()
      spine
        .crossJoin(broadcast(types))
        .join(agg, Seq("m", "event_type"), "left")
        .select(
          date_format($"m", "yyyy-MM-dd HH:mm:ss").as("minute"),
          $"event_type", $"last_value")
        .orderBy($"minute", $"event_type")
    },
    Some("""WITH ev AS (
           |  SELECT date_trunc('minute', ts) AS m, event_type, value, event_id FROM events
           |),
           |agg AS (
           |  SELECT m, event_type, max_by(value, event_id) AS last_value
           |  FROM ev GROUP BY m, event_type
           |),
           |spine AS (
           |  SELECT unnest(generate_series(min(m), max(m), INTERVAL 1 MINUTE)) AS m FROM ev
           |),
           |types AS (SELECT DISTINCT event_type FROM ev)
           |SELECT strftime(s.m, '%Y-%m-%d %H:%M:%S') AS minute, t.event_type AS event_type, a.last_value AS last_value
           |FROM spine s
           |CROSS JOIN types t
           |LEFT JOIN agg a ON a.m = s.m AND a.event_type = t.event_type
           |ORDER BY minute, t.event_type""".stripMargin),
  )

  /** Forward-fill over the minute spine — pandas
    * `resample().last().ffill()` semantics, the gap-handling step the
    * notebook's downsample implies (SURVEY A1): empty minutes carry
    * the most recent observation per series, with an `is_gap` marker
    * preserving which values are observations vs carries. One window
    * pass per series (partitionBy type, orderBy minute, running
    * `last(ignoreNulls)`) — at scale the partition key is the series
    * id, so fill never crosses series and parallelism = #series.
    */
  private val windowGapFill = Q(
    "q_window_gap_fill",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
        .select(date_trunc("minute", $"ts").as("m"), $"event_type", $"value", $"event_id")
      val agg = ev.groupBy($"m", $"event_type")
        .agg(max_by($"value", $"event_id").as("lv"))
      val spine = ev.agg(min($"m").as("lo"), max($"m").as("hi"))
        .select(explode(sequence($"lo", $"hi", expr("interval 1 minute"))).as("m"))
      val types = ev.select($"event_type").distinct()
      spine
        .crossJoin(broadcast(types))
        .join(agg, Seq("m", "event_type"), "left")
        .withColumn("filled_value",
          last($"lv", ignoreNulls = true).over(
            Window.partitionBy($"event_type").orderBy($"m")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(
          date_format($"m", "yyyy-MM-dd HH:mm:ss").as("minute"),
          $"event_type",
          $"filled_value",
          when($"lv".isNull, 1L).otherwise(0L).as("is_gap"))
        .orderBy($"minute", $"event_type")
    },
    Some("""WITH ev AS (
           |  SELECT date_trunc('minute', ts) AS m, event_type, value, event_id FROM events
           |),
           |agg AS (
           |  SELECT m, event_type, max_by(value, event_id) AS lv
           |  FROM ev GROUP BY m, event_type
           |),
           |spine AS (
           |  SELECT unnest(generate_series(min(m), max(m), INTERVAL 1 MINUTE)) AS m FROM ev
           |),
           |types AS (SELECT DISTINCT event_type FROM ev),
           |j AS (
           |  SELECT s.m, t.event_type, a.lv
           |  FROM spine s
           |  CROSS JOIN types t
           |  LEFT JOIN agg a ON a.m = s.m AND a.event_type = t.event_type
           |)
           |SELECT strftime(m, '%Y-%m-%d %H:%M:%S') AS minute, event_type,
           |       last_value(lv IGNORE NULLS) OVER (
           |         PARTITION BY event_type ORDER BY m
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           |       CAST(CASE WHEN lv IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
           |FROM j
           |ORDER BY minute, event_type""".stripMargin),
  )

  /** STREAMING forward-fill under the gate: the `transformWithState`
    * carry-forward over the minute spine (graft.streaming.GapFill),
    * completing the streaming side of the A1 gap family — per-minute
    * last observations accumulate in per-series MapState (max_by
    * tie-break, commutative across micro-batch slicings), and an
    * event-time timer at the spine's high bound emits each series'
    * filled spine once the terminal watermark passes it. Hash-checked
    * against the SAME oracle as the batch q_window_gap_fill, so batch
    * window, streaming state machine, and DuckDB agree row for row.
    */
  private val streamGapFill = Q(
    "q_stream_gap_fill",
    (s, dir) => {
      import s.implicits._
      // ≈ series keys / task; RocksDB: transformWithState requires it
      ScopedConf.streamGate(s, "graft_stream_gap_fill_gate", rocksDb = true) {
        // spine bounds: the same 1-row aggregate the batch plan runs,
        // surfaced to the driver because the timer needs a Long
        val bounds = Tables(s, dir).events
          .agg(
            min(expr("(cast(ts as bigint) div 60) * 60000")).as("lo"),
            max(expr("(cast(ts as bigint) div 60) * 60000")).as("hi"))
          .head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        graft.streaming.GapFill.filledSpine(
          Tables.normalizeEventTs(Tables.streamTable(s, dir, "events")), lo, hi)
      }.orderBy($"minute", $"event_type")
    },
    Some("""WITH ev AS (
           |  SELECT date_trunc('minute', ts) AS m, event_type, value, event_id FROM events
           |),
           |agg AS (
           |  SELECT m, event_type, max_by(value, event_id) AS lv
           |  FROM ev GROUP BY m, event_type
           |),
           |spine AS (
           |  SELECT unnest(generate_series(min(m), max(m), INTERVAL 1 MINUTE)) AS m FROM ev
           |),
           |types AS (SELECT DISTINCT event_type FROM ev),
           |j AS (
           |  SELECT s.m, t.event_type, a.lv
           |  FROM spine s
           |  CROSS JOIN types t
           |  LEFT JOIN agg a ON a.m = s.m AND a.event_type = t.event_type
           |)
           |SELECT strftime(m, '%Y-%m-%d %H:%M:%S') AS minute, event_type,
           |       last_value(lv IGNORE NULLS) OVER (
           |         PARTITION BY event_type ORDER BY m
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           |       CAST(CASE WHEN lv IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
           |FROM j
           |ORDER BY minute, event_type""".stripMargin),
  )

  /** Rollup (hierarchical subtotals + grand total) — beyond the
    * reference's flat aggs, table stakes for an analytics engine.
    * Group columns coalesced to 'ALL' so the output is null-free and
    * totally ordered.
    */
  private val aggRollup = Q(
    "q_agg_rollup",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).lineitem
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"),
        )
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("flag"),
          coalesce($"l_linestatus", lit("ALL")).as("status"),
          $"sum_qty", $"n")
        .orderBy($"flag", $"status")
    },
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
           |       coalesce(l_linestatus, 'ALL') AS status,
           |       round(sum(l_quantity), 2) AS sum_qty,
           |       count(*) AS n
           |FROM lineitem
           |GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY flag, status""".stripMargin),
  )

  /** GROUPING SETS (the general form rollup/cube specialize): an
    * explicitly chosen lattice — (flag, status), (status), and the
    * grand total, but NOT (flag) — exercising Spark 4's
    * `groupingSets` Dataset API. One pass over the fact table; the
    * expand operator fans each row into its grouping combinations
    * before one partial-aggregated shuffle.
    */
  private val aggGroupingSets = Q(
    "q_agg_grouping_sets",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).lineitem
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_linestatus"), Seq()),
          $"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n"),
        )
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("flag"),
          coalesce($"l_linestatus", lit("ALL")).as("status"),
          $"sum_qty", $"sum_price", $"n")
        .orderBy($"flag", $"status")
    },
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
           |       coalesce(l_linestatus, 'ALL') AS status,
           |       round(sum(l_quantity), 2) AS sum_qty,
           |       round(sum(l_extendedprice), 2) AS sum_price,
           |       count(*) AS n
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
           |ORDER BY flag, status""".stripMargin),
  )

  /** CUBE (every grouping combination) — the remaining member of the
    * rollup / grouping-sets family, over a DIFFERENT fact table
    * (orders) so the family isn't three reads of the same data. Money
    * summed as integer cents (o_totalprice is 2-dp by construction)
    * then presented at 2 dp — no float accumulation order in the
    * hash. Same Expand-then-one-shuffle plan as rollup: each row fans
    * into its 4 grouping combinations map-side, partial aggregation
    * collapses before the single exchange.
    */
  private val aggCube = Q(
    "q_agg_cube",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).orders
        .select($"o_orderstatus", $"o_orderpriority",
          round($"o_totalprice" * 100).cast("long").as("cents"))
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(
          round(sum($"cents") / 100.0, 2).as("sum_price"),
          count(lit(1)).as("n"),
        )
        .select(
          coalesce($"o_orderstatus", lit("ALL")).as("status"),
          coalesce($"o_orderpriority", lit("ALL")).as("priority"),
          $"sum_price", $"n")
        .orderBy($"status", $"priority")
    },
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
           |       coalesce(o_orderpriority, 'ALL') AS priority,
           |       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS sum_price,
           |       count(*) AS n
           |FROM orders
           |GROUP BY CUBE (o_orderstatus, o_orderpriority)
           |ORDER BY status, priority""".stripMargin),
  )

  /** Frame-based window functions: 7-row moving average + lag delta
    * per event_type in event_id order. Values quantized to integer
    * cents before the windowed sum so frame aggregation is
    * order-exact across engines.
    */
  private val windowMovingAvg = Q(
    "q_window_moving_avg",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"event_id")
      Tables(s, dir).events
        .select($"event_id", $"event_type",
          round($"value" * 100).cast("long").as("cents"))
        .select(
          $"event_id", $"event_type",
          round(avg($"cents").over(w.rowsBetween(-6, 0)) / 100.0, 4).as("mavg7"),
          ($"cents" - coalesce(lag($"cents", 1).over(w), lit(0L))).as("delta_cents"),
        )
        .orderBy($"event_id")
    },
    Some("""WITH c AS (
           |  SELECT event_id, event_type,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events
           |)
           |SELECT event_id, event_type,
           |       round(avg(cents) OVER (PARTITION BY event_type ORDER BY event_id
           |                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 4) AS mavg7,
           |       cents - coalesce(lag(cents, 1) OVER (PARTITION BY event_type ORDER BY event_id), 0) AS delta_cents
           |FROM c
           |ORDER BY event_id""".stripMargin),
  )

  /** Gap-based sessionization over the event stream: a new session
    * starts when a user's inter-event gap exceeds the threshold. The
    * classic lag-flag + running-sum formulation — one shuffle on the
    * user key, both window passes share it (same partitioning and
    * ordering, so Catalyst plans a single exchange+sort). The
    * training-data analog is conversation/document sessionization.
    */
  private val windowSessionize = Q(
    "q_window_sessionize",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir).events
        .select(pmod($"user_id", lit(50)).as("u"), $"event_id".as("t"))
      val w = Window.partitionBy($"u").orderBy($"t")
      ev
        .withColumn("new_sess",
          when(lag($"t", 1).over(w).isNull ||
            $"t" - lag($"t", 1).over(w) > 100, 1).otherwise(0))
        .withColumn("sid",
          sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"u", $"sid")
        .agg(
          count(lit(1)).as("n_events"),
          min($"t").as("t_start"),
          max($"t").as("t_end"),
        )
        .orderBy($"u", $"sid")
    },
    Some("""WITH ev AS (SELECT user_id % 50 AS u, event_id AS t FROM events),
           |flags AS (
           |  SELECT u, t,
           |         CASE WHEN lag(t) OVER (PARTITION BY u ORDER BY t) IS NULL
           |                OR t - lag(t) OVER (PARTITION BY u ORDER BY t) > 100
           |              THEN 1 ELSE 0 END AS new_sess
           |  FROM ev
           |),
           |sess AS (
           |  SELECT u, t,
           |         CAST(sum(new_sess) OVER (PARTITION BY u ORDER BY t
           |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           |  FROM flags
           |)
           |SELECT u, sid, count(*) AS n_events, min(t) AS t_start, max(t) AS t_end
           |FROM sess GROUP BY u, sid
           |ORDER BY u, sid""".stripMargin),
  )

  /** Deterministic hash-stratified sampling: keep documents whose
    * content-independent hash (md5 of the id) lands in a fixed bucket
    * — reproducible across engines and runs, composable with any
    * downstream stage, and (unlike rand()-based sampling) exactly
    * re-derivable at 100 TB without materializing the sample. ~1/16
    * per first hex digit.
    */
  private val sampleStratified = Q(
    "q_sample_stratified",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).documents
        .filter(substring(md5($"doc_id".cast("string")), 1, 1) === "0")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_sampled"),
          sum($"n_chars").as("sampled_chars"),
        )
        .orderBy($"source")
    },
    Some("""SELECT source, count(*) AS n_sampled,
           |       CAST(sum(n_chars) AS BIGINT) AS sampled_chars
           |FROM documents
           |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
           |GROUP BY source
           |ORDER BY source""".stripMargin),
  )

  /** Deterministic bottom-k (KMV) sampling: order documents by the
    * cross-engine fnv63 hash of their id (`functions/Fnv63.scala`, a
    * native codegen'd expression) and keep the k smallest. Unlike
    * rand()-sampling this is reproducible across engines and runs, and
    * unlike LIMIT it is uniform; bottom-k sets are MERGEABLE (bottom-k
    * of a union = bottom-k of the per-shard bottom-ks), which is
    * exactly how Spark executes it — TakeOrderedAndProject keeps k
    * rows per task and merges on the driver, no full shuffle, no
    * global sort. Fixed k-row state per task at any scale. The k-th
    * smallest hash doubles as the KMV distinct-count estimator
    * D ≈ (k−1)·2⁶³/h₍ₖ₎ (Bar-Yossef et al., "Counting distinct
    * elements in a data stream"), riding along as a constant column.
    * The oracle re-derives hash, sample membership, and estimator.
    */
  private val sampleBottomK = Q(
    "q_sample_bottomk",
    (s, dir) => {
      import s.implicits._
      val k = 100
      val sampled = Tables(s, dir).documents
        .select($"doc_id", $"source",
          call_function(graft.functions.Fnv63Hash.name,
            $"doc_id".cast("string")).as("h"))
        .orderBy($"h")
        .limit(k)
      val kth = sampled.agg(max($"h").as("kth_hash"), count(lit(1)).as("k"))
      sampled.crossJoin(broadcast(kth))
        .select($"h", $"doc_id", $"source", $"kth_hash",
          round(($"k" - 1).cast("double") * lit(8.0 * (1L << 60)) / $"kth_hash", 4)
            .as("est_distinct"))
        .orderBy($"h")
    },
    Some(s"""WITH h AS (
           |  SELECT doc_id, source,
           |         ${fnv63Sql("CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents
           |),
           |s AS (SELECT * FROM h ORDER BY h LIMIT 100),
           |kth AS (SELECT max(h) AS kth_hash, count(*) AS k FROM s)
           |SELECT s.h AS h, s.doc_id, s.source, kth.kth_hash,
           |       round((kth.k - 1) * (8.0 * (CAST(1 AS BIGINT) << 60)) / kth.kth_hash, 4) AS est_distinct
           |FROM s, kth
           |ORDER BY h""".stripMargin),
  )

  /** Hierarchy flattening under the gate: a 10-root forest over the
    * documents ids (parent = id div 2; ids < 10 are roots, depths up
    * to ~9 at sf0.01) resolved to (id, root, depth) by
    * `Hierarchy.flattenForest` — pointer doubling, ⌈log₂ depth⌉
    * keyed self-joins instead of a depth-long chain or the recursive
    * CTE Spark lacks. The oracle IS a recursive CTE, so the two
    * engines reach the same fixpoint by entirely different
    * algorithms — a disagreement in root resolution or hop counting
    * anywhere breaks the hash.
    */
  private val graphHierarchy = Q(
    "q_graph_hierarchy",
    (s, dir) => {
      import s.implicits._
      val nodes = Tables(s, dir).documents.select(
        $"doc_id".as("id"),
        when($"doc_id" < 10, $"doc_id")
          .otherwise(expr("doc_id div 2")).as("parent"))
      graft.operators.Hierarchy.flattenForest(nodes, "id", "parent")
        .orderBy($"id")
    },
    Some("""WITH RECURSIVE walk(id, root, depth) AS (
           |  SELECT doc_id, doc_id, CAST(0 AS BIGINT) FROM documents WHERE doc_id < 10
           |  UNION ALL
           |  SELECT d.doc_id, w.root, w.depth + 1
           |  FROM documents d JOIN walk w ON w.id = d.doc_id // 2
           |  WHERE d.doc_id >= 10
           |)
           |SELECT id, root, depth FROM walk ORDER BY id""".stripMargin),
  )

  /** Weekly retention cohorts — the product-analytics complement of
    * the funnel: users grouped by first-seen week, activity counted
    * per (cohort, weeks-since-cohort) cell. An explicit user_id
    * repartition feeds everything: HashPartitioning(user_id) satisfies
    * the (user_id, week) dedup's clustering (subset rule — the dedup
    * never shuffles on the wide key, plan-asserted), the cohort
    * min-agg rides the same partitioning, AQE reuses the identical
    * exchanges at runtime, and the cohort join needs no further
    * event-sized shuffle (broadcast at this SF; co-partitioned SMJ at
    * scale). The only other exchange is the cells-sized final
    * aggregation. The distinct-(user, week) pass means n_users is a
    * plain count(*), never a count-distinct over the event grain.
    */
  private val eventsRetention = Q(
    "q_events_retention",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
        .select($"user_id", date_trunc("week", $"ts").as("w"))
        .repartition($"user_id")
      val cohort = ev.groupBy($"user_id").agg(min($"w").as("cw"))
      val act = ev.distinct()
      act.join(cohort, "user_id")
        .select($"cw",
          (datediff($"w", $"cw") / 7).cast("long").as("week_offset"))
        .groupBy($"cw", $"week_offset")
        .agg(count(lit(1)).as("n_users"))
        .select(date_format($"cw", "yyyy-MM-dd").as("cohort_week"),
          $"week_offset", $"n_users")
        .orderBy($"cohort_week", $"week_offset")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, date_trunc('week', ts) AS w FROM events
           |),
           |cohort AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY user_id),
           |act AS (SELECT DISTINCT user_id, w FROM ev)
           |SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week,
           |       CAST(date_diff('day', c.cw, a.w) // 7 AS BIGINT) AS week_offset,
           |       CAST(count(*) AS BIGINT) AS n_users
           |FROM act a JOIN cohort c USING (user_id)
           |GROUP BY 1, 2
           |ORDER BY cohort_week, week_offset""".stripMargin),
  )

  /** Deterministic weighted (priority) sampling — the biased
    * complement of q_sample_bottomk: each document's priority is
    * fnv63(id) / weight (integer division; weight = n_chars, so
    * longer documents sample proportionally more often — the
    * "sample by token mass" shape mixture tuning wants), and the k
    * smallest priorities win. Same TakeOrderedAndProject execution as
    * the uniform sampler: per-task k rows, no full sort, reproducible
    * across engines and runs. Priorities are integer-exact, so the
    * oracle rebuilds the identical sample — no float tie-break
    * ambiguity (ties broken by doc_id in both engines).
    */
  private val sampleWeighted = Q(
    "q_sample_weighted",
    (s, dir) => {
      import s.implicits._
      val k = 100
      Tables(s, dir).documents
        .filter($"n_chars" > 0)
        .select($"doc_id", $"source", $"n_chars",
          // `div`, not `/`: Long / Long would widen to double and lose
          // bits past the 53-bit mantissa at fnv63's 2⁶³ range
          expr("fnv63(CAST(doc_id AS STRING)) div n_chars").as("priority"))
        .orderBy($"priority", $"doc_id")
        .limit(k)
    },
    Some(s"""WITH p AS (
           |  SELECT doc_id, source, n_chars,
           |         ${fnv63Sql("CAST(doc_id AS VARCHAR)")} // n_chars AS priority
           |  FROM documents WHERE n_chars > 0
           |)
           |SELECT doc_id, source, n_chars, priority
           |FROM p
           |ORDER BY priority, doc_id
           |LIMIT 100""".stripMargin),
  )

  /** Ordered conversion funnel signup → view → purchase per user: each
    * stage's earliest event strictly after the previous stage's.
    * Every shuffle keys on user_id (one partitioning reused across all
    * stages); per-user state is one timestamp per stage, never an
    * event list.
    */
  private val eventsFunnel = Q(
    "q_events_funnel",
    (s, dir) => {
      import s.implicits._
      graft.operators.Funnel
        .funnel(Tables(s, dir).events, Seq("signup", "view", "purchase"))
        .orderBy($"user_id")
    },
    Some("""WITH s1 AS (
           |  SELECT user_id, min(ts) AS t_signup
           |  FROM events WHERE event_type = 'signup' GROUP BY user_id
           |),
           |s2 AS (
           |  SELECT e.user_id, min(e.ts) AS t_view
           |  FROM events e JOIN s1 USING (user_id)
           |  WHERE e.event_type = 'view' AND e.ts > s1.t_signup
           |  GROUP BY e.user_id
           |),
           |s3 AS (
           |  SELECT e.user_id, min(e.ts) AS t_purchase
           |  FROM events e JOIN s2 USING (user_id)
           |  WHERE e.event_type = 'purchase' AND e.ts > s2.t_view
           |  GROUP BY e.user_id
           |)
           |SELECT s1.user_id, s1.t_signup, s2.t_view, s3.t_purchase,
           |       CASE WHEN s3.user_id IS NOT NULL THEN 3
           |            WHEN s2.user_id IS NOT NULL THEN 2
           |            ELSE 1 END AS stage
           |FROM s1
           |LEFT JOIN s2 ON s2.user_id = s1.user_id
           |LEFT JOIN s3 ON s3.user_id = s1.user_id
           |ORDER BY s1.user_id""".stripMargin),
  )

  /** The skew tool under the gate: two-phase salted aggregation over a
    * deliberately hot key (l_returnflag — 3 values for 60 k rows, the
    * AQE-can't-split aggregation-skew case). Values are cast to
    * DECIMAL before summing so both phases are EXACT integer-scaled
    * arithmetic — aggregation order (which salting perturbs by
    * construction) cannot move a bit, which is what makes a salted
    * plan oracle-comparable at all. Oracle is the plain one-phase
    * GROUP BY.
    */
  private val aggSaltedSkew = Q(
    "q_agg_salted_skew",
    (s, dir) => {
      import s.implicits._
      graft.operators.Scale
        .saltedSumCount(
          Tables(s, dir).lineitem,
          $"l_returnflag",
          $"l_quantity".cast("decimal(20,2)"),
          buckets = 32)
        // exact decimal inside both phases; one deterministic cast out
        .select($"key", $"sum".cast("double").as("sum"), $"cnt")
        .orderBy($"key")
    },
    Some("""SELECT l_returnflag AS key,
           |       CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum,
           |       count(l_quantity) AS cnt
           |FROM lineitem
           |GROUP BY l_returnflag
           |ORDER BY key""".stripMargin),
  )

  /** Pivot: per-user event-type counts as columns (the wide-format
    * export a feature store asks for). Spark's pivot with an EXPLICIT
    * value list — never the value-discovery pre-query, which is a
    * driver-side distinct scan at 100 TB; the oracle is the portable
    * CASE-sum formulation.
    */
  private val aggPivot = Q(
    "q_agg_pivot",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"user_id")
    },
    Some("""SELECT user_id,
           |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
           |FROM events
           |GROUP BY user_id
           |ORDER BY user_id""".stripMargin),
  )

  /** ntile + cumulative distribution: quartile assignment and exact
    * percent_rank over per-user event volume — the feature-bucketing
    * window pair. Total ordering (count desc, user_id) keeps ranks
    * engine-independent.
    *
    * The unpartitioned window is INHERENT to these semantics: exact
    * ntile/percent_rank are defined against the one global ordering,
    * so every engine serializes the ranked rows somewhere (DuckDB's
    * window over the same CTE does too). The window input is the
    * per-user AGGREGATE (|users|, not |events|) — pre-shrunk before
    * the single partition. When exactness isn't required at billions
    * of users, the scale path is quantile BOUNDARIES (approx or
    * exact percentile on the aggregate) broadcast back as range
    * predicates — the shape q_agg_histogram_quantiles and the RFM
    * boundaries-not-sort alternative in q_events_rfm use; exact
    * per-row rank at that scale is the wrong ask.
    */
  private val windowNtile = Q(
    "q_window_ntile",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy($"n".desc, $"user_id")
      Tables(s, dir).events
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"))
        .select(
          $"user_id",
          $"n",
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pct_rank"))
        .orderBy($"user_id")
    },
    Some("""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
           |SELECT user_id, n,
           |       ntile(4) OVER (ORDER BY n DESC, user_id) AS quartile,
           |       round(percent_rank() OVER (ORDER BY n DESC, user_id), 4) AS pct_rank
           |FROM c
           |ORDER BY user_id""".stripMargin),
  )

  /** DYNAMIC-gap streaming sessionization: `session_window` with a
    * per-event Column gap (engaged events — click/view — tolerate a
    * 2-hour silence; everything else 6 hours), the adaptive-timeout
    * semantics a real engagement pipeline wants. Dynamic gaps change
    * the MERGE rule from the fixed-gap lag test to interval overlap —
    * each event contributes [ts, ts+gap(event)) and overlapping
    * intervals coalesce — so the oracle switches to the running-max
    * formulation: a new session starts exactly when ts ≥ max over all
    * earlier events of (ts + gap), and a session's end is its max
    * (ts + gap). Same append-mode emission cutoff as the fixed-gap
    * gate. A fixed-gap mistake in either engine (e.g. applying the
    * lag rule) flips session counts and breaks the hash.
    */
  private val streamSessionizeDynamic = Q(
    "q_stream_sessionize_dynamic",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_sess_dyn_gate") {
        val gap = when($"event_type".isin("click", "view"), "2 hours")
          .otherwise("6 hours")
        graft.Tables.normalizeEventTs(Tables.streamTable(s, dir, "events"))
          .withWatermark("ts", "1 hour")
          .groupBy(session_window($"ts", gap), $"user_id")
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events")
      }.orderBy($"user_id", $"session_start")
    },
    Some("""WITH g AS (
           |  SELECT user_id, ts,
           |         ts + CASE WHEN event_type IN ('click', 'view')
           |                   THEN INTERVAL 2 HOUR ELSE INTERVAL 6 HOUR END AS w_end
           |  FROM events
           |),
           |f AS (
           |  SELECT user_id, ts, w_end,
           |         CASE WHEN max(w_end) OVER (
           |                PARTITION BY user_id ORDER BY ts
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           |           OR ts >= max(w_end) OVER (
           |                PARTITION BY user_id ORDER BY ts
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |         THEN 1 ELSE 0 END AS ns
           |  FROM g
           |),
           |s AS (
           |  SELECT user_id, ts, w_end,
           |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts
           |                       ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM f
           |),
           |agg AS (
           |  SELECT user_id,
           |         min(ts) AS session_start,
           |         max(w_end) AS session_end,
           |         count(*) AS n_events
           |  FROM s GROUP BY user_id, sid
           |),
           |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
           |SELECT user_id, session_start, session_end, n_events
           |FROM agg WHERE session_end <= (SELECT w FROM wm)
           |ORDER BY user_id, session_start""".stripMargin),
  )

  /** STREAMING session windows under the gate: the event stream (file
    * source over the events table) sessionized by `session_window`
    * with a 6-hour gap and a 1-hour watermark, append mode — emitted
    * sessions are exactly those whose end (last event + gap) closed
    * below the terminal watermark max(ts) − delay, which the oracle
    * reproduces relationally (gaps-and-islands + the watermark
    * filter). Covers the MERGING-window state operator streaming-side;
    * the batch q_window_sessionize covers the islands formulation.
    */
  private val streamSessionize = Q(
    "q_stream_sessionize",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_sessionize_gate") { // ≈ state keys / task
        graft.Tables.normalizeEventTs(Tables.streamTable(s, dir, "events"))
          .withWatermark("ts", "1 hour")
          .groupBy(session_window($"ts", "6 hours"), $"user_id")
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events")
      }.orderBy($"user_id", $"session_start")
    },
    Some("""WITH f AS (
           |  SELECT user_id, ts,
           |         -- >= : session_window is half-open [start, last+gap),
           |         -- so an event exactly gap after the last does NOT merge
           |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
           |                   >= INTERVAL 6 HOUR
           |              THEN 1 ELSE 0 END AS ns
           |  FROM events
           |),
           |s AS (
           |  SELECT user_id, ts,
           |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts
           |                       ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM f
           |),
           |agg AS (
           |  SELECT user_id,
           |         min(ts) AS session_start,
           |         max(ts) + INTERVAL 6 HOUR AS session_end,
           |         count(*) AS n_events
           |  FROM s GROUP BY user_id, sid
           |),
           |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
           |SELECT user_id, session_start, session_end, n_events
           |FROM agg WHERE session_end <= (SELECT w FROM wm)
           |ORDER BY user_id, session_start""".stripMargin),
  )

  /** STREAM-STREAM interval join under the gate (the attribution
    * join): the purchase stream inner-joined to the view stream on
    * user within a 6-hour event-time window, both sides watermarked.
    * For an INNER join the watermark only bounds state (views older
    * than buy_ts − 6 h can be dropped; nothing is withheld), so the
    * complete replay equals the batch join — which is the oracle.
    * Covers the last big Structured Streaming operator family the
    * gate didn't: two-sided streaming state with time-bound eviction.
    */
  private val streamJoinAttribution = Q(
    "q_stream_join_attribution",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_attr_gate") {
        def src = graft.Tables.normalizeEventTs(
          Tables.streamTable(s, dir, "events"))
        val views = src.filter($"event_type" === "view")
          .select($"user_id", $"ts".as("view_ts"), $"event_id".as("view_id"))
          .withWatermark("view_ts", "1 hour")
        val buys = src.filter($"event_type" === "purchase")
          .select($"user_id".as("buyer_id"), $"ts".as("buy_ts"),
            $"event_id".as("buy_id"), $"value".as("amount"))
          .withWatermark("buy_ts", "1 hour")
        buys.join(views,
          $"buyer_id" === $"user_id" &&
            $"buy_ts" >= $"view_ts" &&
            $"buy_ts" <= $"view_ts" + expr("INTERVAL 6 HOURS"))
          .select($"buyer_id".as("user_id"), $"buy_id", $"view_id",
            $"buy_ts", $"view_ts", round($"amount", 2).as("amount"))
      }.orderBy($"buy_id", $"view_id")
    },
    Some("""SELECT b.user_id, b.buy_id, v.view_id, b.buy_ts, v.view_ts,
           |       round(b.amount, 2) AS amount
           |FROM (SELECT user_id, ts AS buy_ts, event_id AS buy_id, value AS amount
           |      FROM events WHERE event_type = 'purchase') b
           |JOIN (SELECT user_id, ts AS view_ts, event_id AS view_id
           |      FROM events WHERE event_type = 'view') v
           |  ON b.user_id = v.user_id
           | AND b.buy_ts >= v.view_ts
           | AND b.buy_ts <= v.view_ts + INTERVAL 6 HOUR
           |ORDER BY buy_id, view_id""".stripMargin),
  )

  /** Stream-stream LEFT OUTER join under the gate — the null-emission
    * semantics the inner attribution gate can't exercise: every
    * purchase appears, matched to qualifying views or NULL-extended
    * when none exist. An outer null CANNOT emit eagerly (a future view
    * might still match); it emits only when the watermark proves no
    * future right row can satisfy the join condition (view_ts ≤
    * buy_ts ⇒ a buy finalizes once the watermark passes buy_ts). So
    * the deterministic replay is: all matches, plus null-extensions
    * for unmatched buys with buy_ts strictly below the terminal
    * GLOBAL watermark — which is the MIN over the per-input
    * watermarks, i.e. least(max view_ts, max buy_ts) − 1 h, NOT
    * max(ts) − 1 h (empirically pinned: two boundary buys flip if the
    * oracle uses the overall max). Unmatched buys above that cutoff
    * stay withheld. This is the state-eviction contract that bounds
    * outer-join state at any stream length.
    */
  private val streamJoinAttributionOuter = Q(
    "q_stream_join_attribution_outer",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_attr_outer_gate") {
        def src = graft.Tables.normalizeEventTs(
          Tables.streamTable(s, dir, "events"))
        val views = src.filter($"event_type" === "view")
          .select($"user_id", $"ts".as("view_ts"), $"event_id".as("view_id"))
          .withWatermark("view_ts", "1 hour")
        val buys = src.filter($"event_type" === "purchase")
          .select($"user_id".as("buyer_id"), $"ts".as("buy_ts"),
            $"event_id".as("buy_id"), $"value".as("amount"))
          .withWatermark("buy_ts", "1 hour")
        buys.join(views,
          $"buyer_id" === $"user_id" &&
            $"buy_ts" >= $"view_ts" &&
            $"buy_ts" <= $"view_ts" + expr("INTERVAL 6 HOURS"),
          "left_outer")
          .select($"buyer_id", $"buy_id", $"view_id",
            $"buy_ts", $"view_ts", round($"amount", 2).as("amount"))
      }.orderBy($"buy_id", $"view_id")
    },
    Some("""WITH b AS (
           |  SELECT user_id, ts AS buy_ts, event_id AS buy_id, value AS amount
           |  FROM events WHERE event_type = 'purchase'
           |),
           |v AS (
           |  SELECT user_id AS v_user, ts AS view_ts, event_id AS view_id
           |  FROM events WHERE event_type = 'view'
           |),
           |wm AS (
           |  SELECT least((SELECT max(view_ts) FROM v),
           |               (SELECT max(buy_ts) FROM b)) - INTERVAL 1 HOUR AS w
           |),
           |j AS (
           |  SELECT b.user_id AS buyer_id, b.buy_id, v.view_id, b.buy_ts,
           |         v.view_ts, round(b.amount, 2) AS amount
           |  FROM b JOIN v
           |    ON b.user_id = v.v_user
           |   AND b.buy_ts >= v.view_ts
           |   AND b.buy_ts <= v.view_ts + INTERVAL 6 HOUR
           |),
           |matched AS (SELECT DISTINCT buy_id FROM j)
           |SELECT * FROM j
           |UNION ALL
           |SELECT b.user_id AS buyer_id, b.buy_id, CAST(NULL AS BIGINT) AS view_id,
           |       b.buy_ts, CAST(NULL AS TIMESTAMP) AS view_ts,
           |       round(b.amount, 2) AS amount
           |FROM b LEFT JOIN matched m USING (buy_id), wm
           |WHERE m.buy_id IS NULL AND b.buy_ts < wm.w
           |ORDER BY buy_id, view_id""".stripMargin),
  )

  /** DuckDB twin of `Fnv63.hash` (`functions/Fnv63.scala`):
    * the identical FNV-1a-63 byte fold + 63-bit xor-shift finalizer
    * over the UTF-8 bytes of `expr`. The accumulator rides in BIGINT
    * (everything stays < 2⁶³); each multiply widens through HUGEINT
    * and mods back down, exactly mirroring the JVM's
    * `(x * p) & Long.MaxValue`. Nested single-element list_transform
    * lambdas bind each finalizer stage once so the whole hash is ONE
    * self-contained SQL expression.
    */
  private[queries] def fnv63Sql(expr: String): String = {
    val hex = s"hex(encode($expr))"
    val fold = "list_reduce(list_prepend(CAST(5472609002491880229 AS BIGINT), " +
      s"list_transform(range(1, octet_length(encode($expr)) + 1), " +
      s"i -> CAST(strpos('0123456789ABCDEF', substr($hex, 2*i-1, 1)) - 1 AS BIGINT) * 16 " +
      s"+ (strpos('0123456789ABCDEF', substr($hex, 2*i, 1)) - 1))), " +
      "(acc, b) -> CAST((CAST(xor(acc, b) AS HUGEINT) * 1099511628211) % 9223372036854775808 AS BIGINT))"
    s"list_transform([$fold], h0 -> " +
      "list_transform([CAST((CAST(xor(h0, h0 >> 31) AS HUGEINT) * 9174307257865047245) % 9223372036854775808 AS BIGINT)], h1 -> " +
      "list_transform([CAST((CAST(xor(h1, h1 >> 29) AS HUGEINT) * 4958104740799310931) % 9223372036854775808 AS BIGINT)], h2 -> " +
      "xor(h2, h2 >> 32))[1])[1])[1]"
  }

  /** bucket / 51-bit tail / capped rank from an fnv63 BIGINT column —
    * the DuckDB side of the register derivation in `Hll.add`.
    */
  private[queries] def fnv63Bucket(h: String): String = s"$h >> 51"
  private[queries] def fnv63Tail(h: String): String =
    s"($h & ((CAST(1 AS BIGINT) << 51) - 1))"
  private[queries] def fnv63RankOf(v: String): String =
    s"least(CASE WHEN $v = 0 THEN 52 ELSE 52 - length(bin($v)) END, 30)"

  /** Approximate distinct users per event type through the native
    * `hll_distinct` sketch aggregate (`functions/Hll.scala` —
    * fixed 4 KiB mergeable state, the cardinality shape that survives
    * 100 TB), next to the exact count so the output quantifies its own
    * error. The oracle rebuilds every HLL register from the same fnv63
    * hash in SQL — bucket = top 12 bits, ρ = 52 − bitlength of the
    * 51-bit tail capped at 30 — and must agree on estimate,
    * nonzero-bucket count, and the integer-scaled register sum
    * bit-for-bit.
    */
  private val aggHllDistinct = Q(
    "q_agg_hll_distinct",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .groupBy($"event_type")
        .agg(
          countDistinct($"user_id").as("n_exact"),
          call_function(graft.functions.Hll.DistinctName,
            $"user_id".cast("string")).as("hll"))
        .select(
          $"event_type",
          $"n_exact",
          $"hll.nonzero_buckets".cast("long").as("nonzero_buckets"),
          $"hll.register_sum_scaled".as("register_sum_scaled"),
          round($"hll.estimate", 4).as("hll_estimate"))
        .orderBy($"event_type")
    },
    Some(s"""WITH h AS (
           |  SELECT event_type, ${fnv63Sql("CAST(user_id AS VARCHAR)")} AS h FROM events
           |),
           |rb AS (
           |  SELECT event_type,
           |         ${fnv63Bucket("h")} AS bucket,
           |         ${fnv63Tail("h")} AS v
           |  FROM h
           |),
           |regs AS (
           |  SELECT event_type, bucket,
           |         max(${fnv63RankOf("v")}) AS r
           |  FROM rb GROUP BY event_type, bucket
           |),
           |agg AS (
           |  SELECT event_type,
           |         CAST(count(*) AS BIGINT) AS nonzero_buckets,
           |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
           |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
           |  FROM regs GROUP BY event_type
           |)
           |SELECT event_type,
           |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
           |        FROM events e WHERE e.event_type = agg.event_type) AS n_exact,
           |       nonzero_buckets,
           |       register_sum_scaled,
           |       round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
           |             (register_sum_scaled / 1073741824.0), 4) AS hll_estimate
           |FROM agg
           |ORDER BY event_type""".stripMargin),
  )

  /** PageRank (3 damped iterations, `operators/PageRank.scala`) over
    * the bipartite part↔supplier graph from lineitem — the authority
    * scoring a curation pipeline uses to weight sources. Node ids are
    * disjoint by parity (part = 2k, supplier = 2k+1). Scaled-integer
    * rank arithmetic makes every iteration bit-reproducible, so the
    * oracle unrolls the same three updates as CTEs and must agree
    * exactly on the top 20.
    */
  private val graphPagerank = Q(
    "q_graph_pagerank",
    (s, dir) => {
      import s.implicits._
      val pairs = Tables(s, dir).lineitem
        .select(($"l_partkey" * 2).as("pn"), ($"l_suppkey" * 2 + 1).as("sn"))
        .distinct()
      val edges = pairs.select($"pn".as("src"), $"sn".as("dst"))
        .union(pairs.select($"sn", $"pn"))
      graft.operators.PageRank.pagerank(edges, "src", "dst", iters = 3)
        .select(
          $"node",
          when($"node" % 2 === 0, "part").otherwise("supplier").as("kind"),
          $"r".as("rank_scaled"))
        .orderBy($"rank_scaled".desc, $"node")
        .limit(20)
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst AS node, CAST(sum(r.r // d.d) AS BIGINT) AS s
           |  FROM edges e
           |  JOIN r${i - 1} r ON r.node = e.src
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst
           |),
           |r$i AS (
           |  SELECT n.node,
           |         CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
           |  FROM r0 n LEFT JOIN c$i c ON c.node = n.node
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS pn, l_suppkey * 2 + 1 AS sn FROM lineitem
         |),
         |edges AS (
         |  SELECT pn AS src, sn AS dst FROM pairs
         |  UNION ALL SELECT sn, pn FROM pairs
         |),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
         |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM edges),
         |$rounds
         |SELECT node,
         |       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
         |       r AS rank_scaled
         |FROM r3
         |ORDER BY rank_scaled DESC, node
         |LIMIT 20""".stripMargin
    },
  )

  /** HITS hubs/authorities (3 iterations, `PageRank.hits`) over the
    * DIRECTED customer→part purchase graph — the two-sided centrality
    * PageRank can't express: hub customers point at authoritative
    * parts, authoritative parts are endorsed by hub customers. Max
    * normalization keeps every half-step in exact scaled-integer
    * arithmetic (no L2 √ in the loop), so the oracle unrolls the six
    * identical halves and must agree exactly on the top 20
    * authorities. Node ids disjoint by parity (customer 2k, part
    * 2k+1).
    */
  private val graphHits = Q(
    "q_graph_hits",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val edges = t.orders
        .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
        .select(($"o_custkey" * 2).as("src"), ($"l_partkey" * 2 + 1).as("dst"))
        .distinct()
      graft.operators.PageRank.hits(edges, "src", "dst", iters = 3)
        .select(
          $"node",
          when($"node" % 2 === 0, "customer").otherwise("part").as("kind"),
          $"hub_scaled", $"auth_scaled")
        .orderBy($"auth_scaled".desc, $"hub_scaled".desc, $"node")
        .limit(20)
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""ar$i AS (
           |  SELECT e.dst AS node, CAST(sum(h.h) AS HUGEINT) AS s
           |  FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst
           |),
           |am$i AS (SELECT max(s) AS m FROM ar$i),
           |a$i AS (
           |  SELECT n.node, CAST((coalesce(r.s, 0) * 1000000) // am$i.m AS BIGINT) AS a
           |  FROM nodes n LEFT JOIN ar$i r ON r.node = n.node, am$i
           |),
           |hr$i AS (
           |  SELECT e.src AS node, CAST(sum(a.a) AS HUGEINT) AS s
           |  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY e.src
           |),
           |hm$i AS (SELECT max(s) AS m FROM hr$i),
           |h$i AS (
           |  SELECT n.node, CAST((coalesce(r.s, 0) * 1000000) // hm$i.m AS BIGINT) AS h
           |  FROM nodes n LEFT JOIN hr$i r ON r.node = n.node, hm$i
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |$rounds
         |SELECT h.node,
         |       CASE WHEN h.node % 2 = 0 THEN 'customer' ELSE 'part' END AS kind,
         |       h.h AS hub_scaled, a.a AS auth_scaled
         |FROM h3 h JOIN a3 a USING (node)
         |ORDER BY auth_scaled DESC, hub_scaled DESC, node
         |LIMIT 20""".stripMargin
    },
  )

  /** Personalized PageRank (`PageRank.personalized`, 3 iterations)
    * from a seed set of every 10th supplier over the same bipartite
    * part↔supplier graph — ranks become proximity-to-seeds ("more
    * like these" expansion) instead of global authority. Scaled-
    * integer updates with seed-only teleport; the oracle unrolls the
    * same three updates with the seed indicator folded into each CTE
    * and must agree exactly on the top 20.
    */
  private val graphPpr = Q(
    "q_graph_ppr",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val pairs = t.lineitem
        .select(($"l_partkey" * 2).as("pn"), ($"l_suppkey" * 2 + 1).as("sn"))
        .distinct()
      val edges = pairs.select($"pn".as("src"), $"sn".as("dst"))
        .union(pairs.select($"sn", $"pn"))
      val seeds = t.supplier.filter($"s_suppkey" % 10 === 0)
        .select(($"s_suppkey" * 2 + 1).as("node"))
      graft.operators.PageRank.personalized(edges, seeds, "src", "dst", iters = 3)
        .select(
          $"node",
          when($"node" % 2 === 0, "part").otherwise("supplier").as("kind"),
          $"r".as("rank_scaled"))
        .orderBy($"rank_scaled".desc, $"node")
        .limit(20)
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst AS node, CAST(sum(r.r // d.d) AS BIGINT) AS s
           |  FROM edges e
           |  JOIN r${i - 1} r ON r.node = e.src
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst
           |),
           |r$i AS (
           |  SELECT n.node, n.is_seed,
           |         CAST(n.is_seed * 150000 +
           |              (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
           |  FROM r0 n LEFT JOIN c$i c ON c.node = n.node
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS pn, l_suppkey * 2 + 1 AS sn FROM lineitem
         |),
         |edges AS (
         |  SELECT pn AS src, sn AS dst FROM pairs
         |  UNION ALL SELECT sn, pn FROM pairs
         |),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
         |seeds AS (
         |  SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
         |  WHERE s_suppkey % 10 = 0
         |),
         |r0 AS (
         |  SELECT n.node,
         |         CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_seed,
         |         CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1000000 END AS BIGINT) AS r
         |  FROM (SELECT DISTINCT src AS node FROM edges
         |        UNION SELECT DISTINCT dst FROM edges) n
         |  LEFT JOIN seeds s ON s.node = n.node
         |),
         |$rounds
         |SELECT node,
         |       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
         |       r AS rank_scaled
         |FROM r3
         |ORDER BY rank_scaled DESC, node
         |LIMIT 20""".stripMargin
    },
  )

  /** Z-order layout zone maps (`operators/Layout.scala`): events
    * range-normalized on (user_id, minute-of-day), Morton-interleaved,
    * and binned into 64 quadtree cells (top 6 z-bits — a narrow map,
    * NO global sort); per-cell min/max on BOTH dimensions are the
    * zone maps a range predicate on either axis would prune against.
    * The oracle recomputes the interleave bit-for-bit in SQL.
    */
  private val layoutZorder = Q(
    "q_layout_zorder",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Layout
      val mod = (hour($"ts") * 60 + minute($"ts")).cast("long")
      val z = Layout.zvalue(
        Layout.scaleTo($"user_id", 150, 10),
        Layout.scaleTo(mod, 1440, 10),
        bits = 10)
      Tables(s, dir).events
        .select($"user_id", mod.as("minute_of_day"),
          Layout.zcell(z, bits = 10, cellBits = 6).as("cell"))
        .groupBy($"cell")
        .agg(
          count(lit(1)).as("n"),
          min($"user_id").as("min_user"),
          max($"user_id").as("max_user"),
          min($"minute_of_day").as("min_minute"),
          max($"minute_of_day").as("max_minute"))
        .orderBy($"cell")
    },
    Some("""WITH b AS (
           |  SELECT user_id,
           |         date_part('hour', ts) * 60 + date_part('minute', ts) AS minute_of_day,
           |         (user_id * 1024) // 150 AS ua,
           |         ((date_part('hour', ts) * 60 + date_part('minute', ts)) * 1024) // 1440 AS mb
           |  FROM events
           |),
           |z AS (
           |  SELECT user_id, minute_of_day,
           |         CAST(list_sum(list_transform(range(0, 10), i ->
           |           ((ua // (CAST(1 AS BIGINT) << CAST(i AS INT))) % 2)
           |             * (CAST(1 AS BIGINT) << CAST(2 * i AS INT)) +
           |           ((mb // (CAST(1 AS BIGINT) << CAST(i AS INT))) % 2)
           |             * (CAST(1 AS BIGINT) << CAST(2 * i + 1 AS INT))
           |         )) AS BIGINT) AS zv
           |  FROM b
           |)
           |SELECT zv // 16384 AS cell,
           |       count(*) AS n,
           |       CAST(min(user_id) AS BIGINT) AS min_user,
           |       CAST(max(user_id) AS BIGINT) AS max_user,
           |       CAST(min(minute_of_day) AS BIGINT) AS min_minute,
           |       CAST(max(minute_of_day) AS BIGINT) AS max_minute
           |FROM z
           |GROUP BY cell
           |ORDER BY cell""".stripMargin),
  )

  /** Top-k per group (k=3 highest-value events per event type) via a
    * rank window with a total order. Spark plans the `rank <= k`
    * filter as WindowGroupLimit — each map task keeps only its local
    * top-k per group BEFORE the shuffle (asserted in PlanShapeSpec),
    * which is the difference between shuffling k rows per group and
    * shuffling the corpus at 100 TB.
    */
  private val windowTopkPerGroup = Q(
    "q_window_topk_per_group",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"value".desc, $"event_id")
      Tables(s, dir).events
        .select($"event_type", $"event_id", round($"value", 4).as("value"),
          row_number().over(w).as("rk"))
        .filter($"rk" <= 3)
        .orderBy($"event_type", $"rk")
    },
    Some("""SELECT event_type, event_id, round(value, 4) AS value, rk
           |FROM (
           |  SELECT event_type, event_id, value,
           |         row_number() OVER (PARTITION BY event_type
           |                            ORDER BY value DESC, event_id) AS rk
           |  FROM events
           |)
           |WHERE rk <= 3
           |ORDER BY event_type, rk""".stripMargin),
  )

  /** STREAMING distinct-user sketch: the same `hll_distinct` aggregate
    * under incremental execution — events arrive twice (two unioned
    * file sources, the at-least-once shape), micro-batches fold into
    * the 4 KiB register state in the state store, and complete-mode
    * output must equal the batch sketch of ONE copy: HLL registers
    * are duplicate-insensitive by construction (bytewise max), which
    * is exactly why a sketch is the right cardinality state for
    * at-least-once streams. Oracle: the batch register math.
    */
  private val streamHllDistinct = Q(
    "q_stream_hll_distinct",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_hll_gate", "complete") {
        def src = Tables.streamTable(s, dir, "events")
        src.union(src)
          .groupBy($"event_type")
          .agg(call_function(graft.functions.Hll.DistinctName,
            $"user_id".cast("string")).as("hll"))
          .select(
            $"event_type",
            $"hll.nonzero_buckets".cast("long").as("nonzero_buckets"),
            $"hll.register_sum_scaled".as("register_sum_scaled"),
            round($"hll.estimate", 4).as("hll_estimate"))
      }.orderBy($"event_type")
    },
    Some(s"""WITH h AS (
           |  SELECT event_type, ${fnv63Sql("CAST(user_id AS VARCHAR)")} AS h FROM events
           |),
           |rb AS (
           |  SELECT event_type,
           |         ${fnv63Bucket("h")} AS bucket,
           |         ${fnv63Tail("h")} AS v
           |  FROM h
           |),
           |regs AS (
           |  SELECT event_type, bucket,
           |         max(${fnv63RankOf("v")}) AS r
           |  FROM rb GROUP BY event_type, bucket
           |),
           |agg AS (
           |  SELECT event_type,
           |         CAST(count(*) AS BIGINT) AS nonzero_buckets,
           |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
           |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
           |  FROM regs GROUP BY event_type
           |)
           |SELECT event_type, nonzero_buckets, register_sum_scaled,
           |       round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
           |             (register_sum_scaled / 1073741824.0), 4) AS hll_estimate
           |FROM agg
           |ORDER BY event_type""".stripMargin),
  )

  /** Streaming bottom-k sample: the KMV sketch
    * (`functions/BottomK.scala`, `bottomk_hash`) accumulates the k
    * smallest distinct fnv63 hashes over the document stream in
    * complete mode — a RUNNING uniform sample + distinct estimator in
    * O(k) state however long the stream runs. The source is doubled to
    * prove duplicate-insensitivity (distinct-hash set semantics make
    * the sketch safe under at-least-once redelivery — same argument
    * as the streaming HLL gate, opposite of CMS's sum cells). The
    * oracle rebuilds the exact sorted hash array: DISTINCT fnv63,
    * ORDER BY, LIMIT k.
    */
  private val streamSampleBottomK = Q(
    "q_stream_sample_bottomk",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_bottomk_gate", "complete") {
        def src = Tables.streamTable(s, dir, "documents")
        src.union(src)
          .agg(call_function(graft.functions.BottomK.Name,
            $"doc_id".cast("string"), lit(100)).as("hs"))
      }
        .select(posexplode($"hs").as(Seq("rank", "h")))
        .orderBy($"rank")
    },
    Some(s"""WITH h AS (
           |  SELECT DISTINCT ${fnv63Sql("CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents
           |),
           |s AS (SELECT h FROM h ORDER BY h LIMIT 100)
           |SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INT) AS rank, h
           |FROM s
           |ORDER BY rank""".stripMargin),
  )

  /** KMV set algebra: the overlap of two user sets (clickers vs
    * buyers) estimated from their bottom-k sketches ALONE — the
    * Beyer et al. "Distinct-value synopses" construction: K = bottom-k
    * of the sketch UNION, ρ = |K ∩ A ∩ B| / k ≈ Jaccard. ONE pass
    * over events builds both sketches as conditional `bottomk_hash`
    * aggregates (nulls ignored ⇒ `when` carves the two sets from one
    * scan); the estimator is pure array math on two k-long arrays.
    * At 100 TB this answers "how much do these two billion-member
    * audiences overlap" from two kilobyte synopses without ever
    * joining the raw sets; the exact Jaccard rides alongside from the
    * same scan so the output quantifies its own error. The compared
    * entities are (user, day) ACTIVITY pairs — ~1.6 k per side with
    * ~0.23 true Jaccard at sf0.01 — because plain user sets are
    * degenerate here (every user eventually does everything, J = 1);
    * k = 64 ≪ the entity count, so the genuine estimator path (not
    * the everything-fits case) is what's under the hash.
    */
  private val sketchKmvJaccard = Q(
    "q_sketch_kmv_jaccard",
    (s, dir) => {
      import s.implicits._
      val k = 64
      val entity = concat($"user_id".cast("string"), lit(":"),
        date_format($"ts", "yyyy-MM-dd"))
      val clickU = when($"event_type" === "click", entity)
      val buyU = when($"event_type" === "purchase", entity)
      Tables(s, dir).events
        .agg(
          call_function(graft.functions.BottomK.Name, clickU, lit(k)).as("ka"),
          call_function(graft.functions.BottomK.Name, buyU, lit(k)).as("kb"),
          countDistinct(clickU).as("n_click"),
          countDistinct(buyU).as("n_buy"),
          countDistinct(coalesce(clickU, buyU)).as("n_union"))
        .select(
          lit(k.toLong).as("k"),
          $"n_click", $"n_buy",
          ($"n_click" + $"n_buy" - $"n_union").as("inter_exact"),
          $"n_union".as("union_exact"),
          round(($"n_click" + $"n_buy" - $"n_union") / $"n_union".cast("double"), 4)
            .as("jaccard_exact"),
          size(array_intersect(
            slice(array_sort(array_union($"ka", $"kb")), 1, k),
            array_intersect($"ka", $"kb"))).cast("long").as("kmv_inter"),
          round(
            size(array_intersect(
              slice(array_sort(array_union($"ka", $"kb")), 1, k),
              array_intersect($"ka", $"kb"))) / lit(k.toDouble), 4)
            .as("jaccard_est"))
    },
    Some(s"""WITH ent AS (
           |  SELECT event_type,
           |         user_id || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS e
           |  FROM events WHERE event_type IN ('click', 'purchase')
           |),
           |cu AS (
           |  SELECT DISTINCT ${fnv63Sql("e")} AS h
           |  FROM ent WHERE event_type = 'click'
           |),
           |bu AS (
           |  SELECT DISTINCT ${fnv63Sql("e")} AS h
           |  FROM ent WHERE event_type = 'purchase'
           |),
           |ka AS (SELECT h FROM cu ORDER BY h LIMIT 64),
           |kb AS (SELECT h FROM bu ORDER BY h LIMIT 64),
           |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
           |       ORDER BY h LIMIT 64),
           |ex AS (
           |  SELECT (SELECT count(DISTINCT e) FROM ent
           |          WHERE event_type = 'click') AS n_click,
           |         (SELECT count(DISTINCT e) FROM ent
           |          WHERE event_type = 'purchase') AS n_buy,
           |         (SELECT count(DISTINCT e) FROM ent) AS n_union
           |),
           |kmv AS (
           |  SELECT count(*) AS kmv_inter FROM ku
           |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
           |)
           |SELECT CAST(64 AS BIGINT) AS k,
           |       CAST(n_click AS BIGINT) AS n_click,
           |       CAST(n_buy AS BIGINT) AS n_buy,
           |       CAST(n_click + n_buy - n_union AS BIGINT) AS inter_exact,
           |       CAST(n_union AS BIGINT) AS union_exact,
           |       round((n_click + n_buy - n_union) / CAST(n_union AS DOUBLE), 4) AS jaccard_exact,
           |       CAST(kmv_inter AS BIGINT) AS kmv_inter,
           |       round(kmv_inter / 64.0, 4) AS jaccard_est
           |FROM ex, kmv""".stripMargin),
  )

  /** Per-group KMV sampling: `bottomk_hash` as a grouped aggregate —
    * a uniform, reproducible k-sample PER SUBCORPUS in one pass (the
    * per-source complement of the global q_sample_bottomk / streaming
    * q_stream_sample_bottomk): state is k longs per group, partial
    * aggregation combines map-side per group, and the shuffle carries
    * ≤ groups × k longs however large the corpus. The oracle rebuilds
    * every group's exact sorted hash set.
    */
  private val sampleBottomKBySource = Q(
    "q_sample_bottomk_by_source",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).documents
        .groupBy($"source")
        .agg(call_function(graft.functions.BottomK.Name,
          $"doc_id".cast("string"), lit(8)).as("hs"))
        .select($"source", posexplode($"hs").as(Seq("rank", "h")))
        .orderBy($"source", $"rank")
    },
    Some(s"""WITH h AS (
           |  SELECT DISTINCT source,
           |         ${fnv63Sql("CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents
           |),
           |r AS (
           |  SELECT source, h,
           |         row_number() OVER (PARTITION BY source ORDER BY h) - 1 AS rank
           |  FROM h
           |)
           |SELECT source, CAST(rank AS INT) AS rank, h
           |FROM r WHERE rank < 8
           |ORDER BY source, rank""".stripMargin),
  )

  /** Sketch-lake rollup: per-DAY KMV sketches built once (the
    * synopsis a nightly job would persist — k longs per day), then a
    * PERIOD distinct estimate answered from the stored sketches alone:
    * bottom-k of a union = bottom-k of the merged per-day bottom-ks
    * (the KMV merge law), so flatten + re-limit over the day arrays
    * IS the period sketch — the raw events are never rescanned. Exact
    * distinct rides alongside from the same scan to quantify the
    * error. This is the pre-aggregated-rollup pattern every metrics
    * warehouse needs for COUNT DISTINCT, where plain per-day counts
    * can't be summed.
    */
  private val sketchKmvRollup = Q(
    "q_sketch_kmv_rollup",
    (s, dir) => {
      import s.implicits._
      val k = 64
      val ev = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("d"))
      // the "stored" per-day synopses: one k-array per day
      val daily = ev.groupBy($"d")
        .agg(call_function(graft.functions.BottomK.Name,
          $"user_id".cast("string"), lit(k)).as("hs"))
      // period query answered from synopses only: merge = flatten +
      // distinct + re-limit (KMV merge law), estimate from the k-th
      // smallest; exact rides alongside for the error column
      val merged = daily
        .select(explode($"hs").as("h")).distinct()
        .orderBy($"h").limit(k)
      val kth = merged.agg(max($"h").as("kth_hash"), count(lit(1)).as("kk"))
      val exact = ev.agg(countDistinct($"user_id").as("n_exact"))
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      kth.crossJoin(exact).crossJoin(nDays)
        .select(
          $"n_days",
          lit(k.toLong).as("k"),
          $"n_exact",
          $"kth_hash",
          round(($"kk" - 1).cast("double") * lit(8.0 * (1L << 60)) / $"kth_hash", 4)
            .as("est_distinct"))
    },
    Some(s"""WITH ev AS (
           |  SELECT user_id, CAST(ts AS DATE) AS d FROM events
           |),
           |h AS (
           |  SELECT DISTINCT d, ${fnv63Sql("CAST(user_id AS VARCHAR)")} AS h
           |  FROM ev
           |),
           |daily AS (
           |  SELECT d, h FROM (
           |    SELECT d, h, row_number() OVER (PARTITION BY d ORDER BY h) AS rn
           |    FROM h)
           |  WHERE rn <= 64
           |),
           |merged AS (SELECT DISTINCT h FROM daily ORDER BY h LIMIT 64),
           |kth AS (SELECT max(h) AS kth_hash, count(*) AS kk FROM merged)
           |SELECT (SELECT CAST(count(DISTINCT d) AS BIGINT) FROM ev) AS n_days,
           |       CAST(64 AS BIGINT) AS k,
           |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM ev) AS n_exact,
           |       kth_hash,
           |       round((kk - 1) * (8.0 * (CAST(1 AS BIGINT) << 60)) / kth_hash, 4) AS est_distinct
           |FROM kth""".stripMargin),
  )

  /** HLL-register sketch lake (the [[graft.functions.Hll]]
    * persistence story, the register analog of q_sketch_kmv_rollup):
    * a "nightly" job builds one 4 KiB register sketch PER DAY with the
    * `hll_regs` builder aggregate and persists them to a parquet lake
    * (binary column); the period query then answers both per-day and
    * whole-period distinct counts from the STORED sketches alone —
    * the period sketch is one `hll_merge_regs` over ≤ n_days binaries,
    * the raw events are never rescanned (merge ≡ union, so the rolled-
    * up registers equal a direct sketch of the period's user set
    * exactly). Exact counts ride alongside to quantify the estimator.
    * The oracle rebuilds every per-day and period register from exact
    * distinct sets — checking build, parquet round-trip, and rollup in
    * one hash.
    */
  private val sketchHllLake = Q(
    "q_sketch_hll_lake",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("d"))
      // per-application path: concurrent verify/bench runs each get
      // their own lake instead of clobbering a shared one mid-read
      val lake = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_hll_sketch_lake_${s.sparkContext.applicationId}").getPath
      ev.groupBy($"d")
        .agg(call_function(graft.functions.Hll.RegsName,
          $"user_id".cast("string")).as("regs"))
        .write.mode("overwrite").parquet(lake)
      val stored = s.read.parquet(lake)
      val perDay = stored
        .select(date_format($"d", "yyyy-MM-dd").as("day"), $"regs")
      val total = stored
        .agg(call_function(graft.functions.Hll.MergeName,
          $"regs").as("regs"))
        .select(lit("__total").as("day"), $"regs")
      val sketched = perDay.union(total)
        .select($"day",
          call_function(graft.functions.Hll.EvalName, $"regs").as("ev"))
        .select($"day", $"ev.nonzero_buckets".cast("long").as("nonzero_buckets"),
          $"ev.register_sum_scaled".as("register_sum_scaled"),
          round($"ev.estimate", 4).as("hll_estimate"))
      val exact = ev
        .select(date_format($"d", "yyyy-MM-dd").as("day"), $"user_id")
        .union(ev.select(lit("__total"), $"user_id"))
        .groupBy($"day").agg(countDistinct($"user_id").as("n_exact"))
      sketched.join(exact, "day").orderBy($"day")
    },
    Some(s"""WITH ev AS (
            |  SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events
            |),
            |keys AS (
            |  SELECT DISTINCT day, user_id FROM ev
            |  UNION SELECT DISTINCT '__total', user_id FROM ev
            |),
            |h AS (
            |  SELECT day, ${fnv63Sql("CAST(user_id AS VARCHAR)")} AS h FROM keys
            |),
            |regs AS (
            |  SELECT day, ${fnv63Bucket("h")} AS bucket,
            |         max(${fnv63RankOf(fnv63Tail("h"))}) AS r
            |  FROM h GROUP BY 1, 2
            |),
            |agg AS (
            |  SELECT day,
            |         CAST(count(*) AS BIGINT) AS nonzero_buckets,
            |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
            |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
            |  FROM regs GROUP BY day
            |)
            |SELECT a.day, a.nonzero_buckets, a.register_sum_scaled,
            |       round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
            |             (a.register_sum_scaled / 1073741824.0), 4) AS hll_estimate,
            |       (SELECT CAST(count(DISTINCT k.user_id) AS BIGINT)
            |        FROM keys k WHERE k.day = a.day) AS n_exact
            |FROM agg a
            |ORDER BY a.day""".stripMargin),
  )

  /** One-pass corpus quantiles via the KLL/MRL compactor sketch
    * (`functions.KllSketch`): sketch the price column in a single
    * map-side-combinable aggregation (state O(K·log(n/K)) per task,
    * merges level-concatenate), then read the 1/25/50/75/99th
    * percentiles off the weighted sample and CHECK each estimate's
    * exact corpus rank against the worst-case bound — asserted at
    * n/64 (1.5625 % of n), which dominates the sketch's
    * ceil(log₂(n/K))/(2K) guarantee for any n ≤ 10¹² at K = 1024.
    * Like every sublinear quantile summary the retained sample is
    * arrival-order-dependent, so the gate pins the ORDER-INVARIANT
    * contract — n, the exact target ranks, and the bound verdict —
    * not the sample; the oracle computes the same targets exactly and
    * asserts the verdict the sketch's worst-case analysis proves.
    * The only windows run over the sketch sample (≤ K·levels rows)
    * and the 5-row quantile table; the corpus is touched by exactly
    * two scans (sketch build + exact-rank audit — and the audit
    * exists only because this IS the accuracy gate; production reads
    * the sketch alone).
    */
  private val sketchKll = Q(
    "q_sketch_kll",
    (s, dir) => {
      import s.implicits._
      val px = Tables(s, dir).lineitem
        .select(($"l_extendedprice" * 100).cast("long").as("x"))
      val sk = px.agg(
        call_function(graft.functions.KllSketch.Name, $"x").as("sk"),
        count(lit(1)).as("n"))
      val sample = sk.select(explode($"sk").as("p"), $"n")
        .select($"p.v".as("v"), $"p.w".as("w"), $"n")
      // cumulative weight over the SKETCH SAMPLE (≤ K·levels rows)
      val wCum = org.apache.spark.sql.expressions.Window.orderBy($"v", $"w")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = sample.withColumn("cw", sum($"w").over(wCum))
      val qs = Seq(1L, 25L, 50L, 75L, 99L).toDF("q_pct")
      val targets = qs.crossJoin(broadcast(sk.select($"n")))
        .select($"q_pct", $"n",
          expr("(q_pct * n + 99) div 100").as("target_rank"))
      val est = cum.crossJoin(broadcast(targets))
        .filter($"cw" >= $"target_rank")
        .groupBy($"q_pct").agg(min($"v").as("est"))
      // exact-rank audit: one corpus scan, 5 broadcast thresholds
      val rank = px.crossJoin(broadcast(est))
        .groupBy($"q_pct")
        .agg(sum(when($"x" <= $"est", 1L).otherwise(0L)).as("rank"))
      targets.join(rank, "q_pct")
        .select($"q_pct", $"n", $"target_rank",
          (abs($"rank" - $"target_rank") <= expr("n div 64")).as("within_bound"))
        .orderBy($"q_pct")
    },
    Some("""WITH px AS (SELECT CAST(l_extendedprice * 100 AS BIGINT) AS x FROM lineitem),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM px),
           |qs(q_pct) AS (VALUES (1), (25), (50), (75), (99))
           |SELECT CAST(q_pct AS BIGINT) AS q_pct, n,
           |       (q_pct * n + 99) // 100 AS target_rank,
           |       TRUE AS within_bound
           |FROM qs, nn
           |ORDER BY q_pct""".stripMargin),
  )

  /** KLL sketch LAKE — the train-once/serve-many story for quantiles
    * (the register-lake pattern of [[sketchHllLake]], applied to the
    * compactor hierarchy): a "nightly" job persists one `kll_state`
    * binary PER SHIP-MONTH to parquet; the period query answers
    * whole-period questions from the STORED states alone via
    * `kll_merge_state` (merge ≡ concatenate-then-recompact, so the
    * rank guarantee survives the rollup) — the raw rows are never
    * rescanned. The gate pins the lake's exactly-checkable invariant:
    * the weighted sample's TOTAL MASS equals the row count for every
    * stored month AND for the rolled-up total (compactions halve
    * counts against doubled weights exactly; a serialization or merge
    * bug breaks this immediately). Quantile ACCURACY bounds are gated
    * by q_sketch_kll / q_stream_kll; this gate is the
    * persistence+rollup leg.
    */
  private val sketchKllLake = Q(
    "q_sketch_kll_lake",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select(date_format($"l_shipdate", "yyyy-MM").as("mon"),
          ($"l_extendedprice" * 100).cast("long").as("x"))
      val lake = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_kll_sketch_lake_${s.sparkContext.applicationId}").getPath
      li.groupBy($"mon")
        .agg(call_function(graft.functions.KllSketch.StateName, $"x").as("st"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(lake)
      val stored = s.read.parquet(lake)
      val total = stored.agg(
        call_function(graft.functions.KllSketch.MergeName, $"st").as("st"),
        sum($"n").as("n"))
        .select(lit("__total").as("mon"), $"st", $"n")
      stored.select($"mon", $"st", $"n").union(total)
        .select($"mon", $"n".as("n_rows"),
          expr(s"aggregate(${graft.functions.KllSketch.SampleName}(st), " +
            "0L, (acc, p) -> acc + p.w)").as("mass"))
        .select($"mon", $"n_rows", $"mass", ($"mass" === $"n_rows").as("mass_ok"))
        .orderBy($"mon")
    },
    Some("""WITH m AS (
           |  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS mon,
           |         CAST(count(*) AS BIGINT) AS n
           |  FROM lineitem GROUP BY 1),
           |a AS (
           |  SELECT mon, n AS n_rows FROM m
           |  UNION ALL
           |  SELECT '__total', CAST(sum(n) AS BIGINT) FROM m)
           |SELECT mon, n_rows, n_rows AS mass, TRUE AS mass_ok
           |FROM a
           |ORDER BY mon""".stripMargin),
  )

  /** STREAMING twin of [[sketchKll]]: the compactor hierarchy IS the
    * streaming state — a complete-mode global aggregate whose buffer
    * is the O(K·log(n/K)) sketch, merged across micro-batches by the
    * same level-concatenating rule as the batch shuffle (the live
    * "corpus quantiles so far" monitor). The finish reads the
    * percentiles off the STREAM-accumulated sample and audits their
    * exact corpus ranks on the identical order-invariant contract and
    * oracle as the batch gate — the KLL/MRL worst-case bound is
    * arrival-order-free, which is what lets one oracle serve both.
    */
  private val streamKll = Q(
    "q_stream_kll",
    (s, dir) => {
      import s.implicits._
      val st = ScopedConf.streamGate(s, "graft_stream_kll_gate", "complete", partitions = 1) {
        Tables.streamTable(s, dir, "lineitem")
          .select(($"l_extendedprice" * 100).cast("long").as("x"))
          .agg(
            call_function(graft.functions.KllSketch.Name, $"x").as("sk"),
            count(lit(1)).as("n"))
      }
      val sample = st.select(explode($"sk").as("p"))
        .select($"p.v".as("v"), $"p.w".as("w"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy($"v", $"w")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = sample.withColumn("cw", sum($"w").over(wCum))
      val qs = Seq(1L, 25L, 50L, 75L, 99L).toDF("q_pct")
      val targets = qs.crossJoin(broadcast(st.select($"n")))
        .select($"q_pct", $"n",
          expr("(q_pct * n + 99) div 100").as("target_rank"))
      val est = cum.crossJoin(broadcast(targets))
        .filter($"cw" >= $"target_rank")
        .groupBy($"q_pct").agg(min($"v").as("est"))
      val pxBatch = Tables(s, dir).lineitem
        .select(($"l_extendedprice" * 100).cast("long").as("x"))
      val rank = pxBatch.crossJoin(broadcast(est))
        .groupBy($"q_pct")
        .agg(sum(when($"x" <= $"est", 1L).otherwise(0L)).as("rank"))
      targets.join(rank, "q_pct")
        .select($"q_pct", $"n", $"target_rank",
          (abs($"rank" - $"target_rank") <= expr("n div 64")).as("within_bound"))
        .orderBy($"q_pct")
    },
    Some("""WITH px AS (SELECT CAST(l_extendedprice * 100 AS BIGINT) AS x FROM lineitem),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM px),
           |qs(q_pct) AS (VALUES (1), (25), (50), (75), (99))
           |SELECT CAST(q_pct AS BIGINT) AS q_pct, n,
           |       (q_pct * n + 99) // 100 AS target_rank,
           |       TRUE AS within_bound
           |FROM qs, nn
           |ORDER BY q_pct""".stripMargin),
  )

  /** Streaming count-min sketch: the CMS cells accumulate
    * incrementally over the event stream in complete mode — streaming
    * frequency tracking with STATE BOUNDED at depth×width cells no
    * matter how long the stream runs (the same fixed-state argument as
    * the streaming HLL gate). Contrast deliberately recorded: HLL
    * registers are max-based and therefore duplicate-insensitive (its
    * gate doubles the source to prove it); CMS cells are SUMS, so
    * at-least-once redelivery WOULD inflate them — this gate runs a
    * single-delivery file source, and exactly-once sinks (or
    * dedup-before-sketch) are the documented requirement for CMS over
    * redeliverable streams.
    */
  private val streamCmsCells = Q(
    "q_stream_cms_cells",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_cms_gate", "complete") {
        val keys = Tables.streamTable(s, dir, "events").select($"user_id".cast("string").as("k"))
        graft.operators.Sketches.cmsCells(keys, $"k", depth = 3, width = 1024)
      }.orderBy($"r", $"pos")
    },
    Some(s"""WITH hx AS (
            |  SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
            |),
            |hh AS (
            |  SELECT ${Dedup.hex15ToBig("hx", 1)} AS h1,
            |         ${Dedup.hex15ToBig("hx", 17)} AS h2
            |  FROM hx
            |)
            |SELECT s.s AS r, (h1 + s.s * h2) % 1024 AS pos,
            |       CAST(count(*) AS BIGINT) AS cnt
            |FROM hh, unnest(range(0, 3)) AS s(s)
            |GROUP BY r, pos
            |ORDER BY r, pos""".stripMargin),
  )

  /** Streaming quantiles: the fixed-bin histogram accumulates over
    * the lineitem stream in complete mode (≤ 256 keys of state however
    * long the stream runs — the quantile member of the streaming
    * sketch family next to HLL/CMS/drift), and the quantile read-out
    * (`Sketches.quantilesFromHistogram`, shared with the batch gate)
    * runs as a bins-sized batch view over the sink. That decomposition
    * — incremental sketch accumulation, read-out as a view over the
    * current state — is the production shape for "p99 so far" over an
    * unbounded stream; identical bin/pick arithmetic to
    * q_agg_histogram_quantiles, so one oracle form checks both.
    */
  private val streamHistogramQuantiles = Q(
    "q_stream_histogram_quantiles",
    (s, dir) => {
      import s.implicits._
      val hist = ScopedConf.streamGate(s, "graft_stream_hq_gate", "complete") {
        graft.operators.Sketches.histogram(Tables.streamTable(s, dir, "lineitem"),
          $"l_extendedprice", lo = 0.0, hi = 110000.0, bins = 256)
      }
      graft.operators.Sketches
        .quantilesFromHistogram(hist,
          lo = 0.0, hi = 110000.0, bins = 256, qs = Seq(0.5, 0.9, 0.99))
        .select($"q", $"bin", round($"approx_value", 4).as("approx_value"),
          $"cum_count", $"n")
        .orderBy($"q")
    },
    Some("""WITH b AS (
           |  SELECT least(greatest(CAST(floor(
           |           (CAST(l_extendedprice AS DOUBLE) - 0.0) * 256.0 / 110000.0
           |         ) AS BIGINT), 0), 255) AS bin
           |  FROM lineitem
           |),
           |h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
           |c AS (
           |  SELECT bin, cnt,
           |         sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
           |         sum(cnt) OVER () AS n
           |  FROM h
           |),
           |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
           |pick AS (
           |  SELECT q.q, min(c.bin) AS bin
           |  FROM q JOIN c ON c.cum >= ceil(q.q * c.n)
           |  GROUP BY q.q
           |)
           |SELECT p.q, p.bin,
           |       round(0.0 + (p.bin + 1) * (110000.0 - 0.0) / 256.0, 4) AS approx_value,
           |       CAST(c.cum AS BIGINT) AS cum_count,
           |       CAST(c.n AS BIGINT) AS n
           |FROM pick p JOIN c ON c.bin = p.bin
           |ORDER BY q""".stripMargin),
  )

  /** Correlated scalar subqueries through the `spark.sql` entry point
    * — the one API surface the gate didn't yet exercise (every other
    * query is DataFrame-built): orders costing more than twice their
    * customer's average, with the comparison done in integer CENTS
    * (price·n > 2·sum) so no float-average boundary can flip a row
    * between engines. Catalyst decorrelates the two scalar subqueries
    * into aggregate+join — same physical shape as the hand-built
    * joins, which is the point: SQL-first users get the identical
    * plan quality.
    */
  private val sqlCorrelated = Q(
    "q_sql_correlated",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o.o_orderkey, o.o_custkey,
               round(o.o_totalprice, 2) AS totalprice
        FROM orders_v o
        WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) *
              (SELECT count(*) FROM orders_v i
               WHERE i.o_custkey = o.o_custkey)
              > 2 * (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
                     FROM orders_v i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey
      """)
    },
    Some("""SELECT o.o_orderkey, o.o_custkey,
           |       round(o.o_totalprice, 2) AS totalprice
           |FROM orders o
           |WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) *
           |      (SELECT count(*) FROM orders i
           |       WHERE i.o_custkey = o.o_custkey)
           |      > 2 * (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
           |             FROM orders i WHERE i.o_custkey = o.o_custkey)
           |ORDER BY o.o_orderkey""".stripMargin),
  )

  /** Changelog → snapshot compaction — the lakehouse MERGE/upsert
    * shape: events as a per-user changelog, latest record wins
    * (total order (ts, event_id) — the tie-break matters and is under
    * the hash), `error` rows acting as DELETE tombstones that remove
    * the key from the snapshot entirely. ONE exchange on the key, the
    * winner picked by max_by over the version struct (map-side
    * combinable — each task forwards one candidate per key, which is
    * what makes compaction of a billion-row changelog a single cheap
    * shuffle), tombstone filter applied to the winner only. The
    * n_versions accounting column is the compaction ratio a real
    * maintenance job reports.
    */
  private val upsertCompaction = Q(
    "q_upsert_compaction",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .groupBy($"user_id")
        .agg(
          max_by(struct($"event_type", $"value", $"ts", $"event_id"),
            struct($"ts", $"event_id")).as("last"),
          count(lit(1)).as("n_versions"))
        .filter($"last.event_type" =!= "error")
        .select($"user_id",
          $"last.event_type".as("last_type"),
          round($"last.value", 2).as("value"),
          date_format($"last.ts", "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          $"last.event_id".as("last_event_id"),
          $"n_versions")
        .orderBy($"user_id")
    },
    Some("""WITH ranked AS (
           |  SELECT user_id, event_type, value, ts, event_id,
           |         row_number() OVER (PARTITION BY user_id
           |                            ORDER BY ts DESC, event_id DESC) AS rn,
           |         count(*) OVER (PARTITION BY user_id) AS n_versions
           |  FROM events
           |)
           |SELECT user_id,
           |       event_type AS last_type,
           |       round(value, 2) AS value,
           |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           |       event_id AS last_event_id,
           |       CAST(n_versions AS BIGINT) AS n_versions
           |FROM ranked
           |WHERE rn = 1 AND event_type <> 'error'
           |ORDER BY user_id""".stripMargin),
  )

  /** Bloom semi-join reduction under the gate: lineitem joined to a
    * selective part dim (p_size = 42, ~2 % of parts) through a
    * `Bloom.prefilter` of the dim's keys — the shuffle-size cutter for
    * dims too big to broadcast: the bitmap rides as a plan literal and
    * prunes the fact side BELOW its exchange (the join is hinted
    * shuffle-merge to exhibit exactly that plan; with a broadcastable
    * dim Spark would skip the fact shuffle anyway), and the join
    * removes the bloom's false positives — the filter changes cost,
    * never the answer, which is why the oracle is the PLAIN join.
    * Plan-asserted: the bitmap filter sits below the fact-side
    * exchange.
    */
  private val joinBloomPrefilter = Q(
    "q_join_bloom_prefilter",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val dim = t.part.filter($"p_size" === 42)
        .select($"p_partkey", $"p_brand")
      val bits = graft.operators.Bloom.buildBitsFnv(
        dim, $"p_partkey".cast("string"), m = 4096, k = 4)
      val screened = graft.operators.Bloom.prefilter(
        t.lineitem.select($"l_partkey", $"l_quantity"),
        $"l_partkey".cast("string"), bits, m = 4096, k = 4)
      screened.hint("merge")
        .join(dim, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy($"p_brand")
    },
    Some("""SELECT p_brand,
           |       round(sum(l_quantity), 2) AS sum_qty,
           |       count(*) AS n_items
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey AND p_size = 42
           |GROUP BY p_brand
           |ORDER BY p_brand""".stripMargin),
  )

  /** FULL OUTER join with both-null sides exercised: per-user signup
    * counts against per-user error counts — users who only signed up,
    * users who only errored, and users who did both all appear, with
    * a presence marker making the outer semantics visible in the
    * output. Aggregate-then-join keeps the shuffled sides at one row
    * per user (never row×row fanout).
    */
  private val joinFullOuter = Q(
    "q_join_full_outer",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
      def side(t: String, as: String) = ev.filter($"event_type" === t)
        .groupBy($"user_id").agg(count(lit(1)).as(as))
      side("signup", "n_signup")
        .join(side("error", "n_error"), Seq("user_id"), "full_outer")
        .select(
          $"user_id",
          coalesce($"n_signup", lit(0L)).as("n_signup"),
          coalesce($"n_error", lit(0L)).as("n_error"),
          when($"n_signup".isNull, "error_only")
            .when($"n_error".isNull, "signup_only")
            .otherwise("both").as("presence"))
        .orderBy($"user_id")
    },
    Some("""WITH s AS (
           |  SELECT user_id, count(*) AS n_signup FROM events
           |  WHERE event_type = 'signup' GROUP BY user_id
           |),
           |e AS (
           |  SELECT user_id, count(*) AS n_error FROM events
           |  WHERE event_type = 'error' GROUP BY user_id
           |)
           |SELECT coalesce(s.user_id, e.user_id) AS user_id,
           |       CAST(coalesce(s.n_signup, 0) AS BIGINT) AS n_signup,
           |       CAST(coalesce(e.n_error, 0) AS BIGINT) AS n_error,
           |       CASE WHEN s.user_id IS NULL THEN 'error_only'
           |            WHEN e.user_id IS NULL THEN 'signup_only'
           |            ELSE 'both' END AS presence
           |FROM s FULL OUTER JOIN e ON s.user_id = e.user_id
           |ORDER BY user_id""".stripMargin),
  )

  /** INTERSECT / EXCEPT (distinct set semantics, completing the set-op
    * family beyond union): users who both viewed and purchased, and
    * users who clicked but never errored, labeled in one output.
    */
  private val setOps = Q(
    "q_set_ops",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
      def ids(t: String) = ev.filter($"event_type" === t).select($"user_id")
      ids("view").intersect(ids("purchase"))
        .select(lit("view_and_buy").as("op"), $"user_id")
        .union(ids("click").except(ids("error"))
          .select(lit("click_no_error").as("op"), $"user_id"))
        .orderBy($"op", $"user_id")
    },
    Some("""SELECT 'view_and_buy' AS op, user_id FROM (
           |  SELECT user_id FROM events WHERE event_type = 'view'
           |  INTERSECT
           |  SELECT user_id FROM events WHERE event_type = 'purchase'
           |)
           |UNION ALL
           |SELECT 'click_no_error' AS op, user_id FROM (
           |  SELECT user_id FROM events WHERE event_type = 'click'
           |  EXCEPT
           |  SELECT user_id FROM events WHERE event_type = 'error'
           |)
           |ORDER BY op, user_id""".stripMargin),
  )

  /** Approximate quantiles from a fixed-bin histogram sketch
    * (`operators/Sketches.scala`): p50/p90/p99 of extended price from
    * 256 mergeable integer bin counts — the deterministic counterpart
    * to approx_percentile, with error bounded by one bin width. The
    * shuffle moves at most 256 rows per map task; the oracle rebuilds
    * the same bins, cumulative walk, and upper-edge report in SQL.
    */
  private val aggHistogramQuantiles = Q(
    "q_agg_histogram_quantiles",
    (s, dir) => {
      import s.implicits._
      graft.operators.Sketches
        .histogramQuantiles(Tables(s, dir).lineitem, $"l_extendedprice",
          lo = 0.0, hi = 110000.0, bins = 256, qs = Seq(0.5, 0.9, 0.99))
        .select($"q", $"bin", round($"approx_value", 4).as("approx_value"),
          $"cum_count", $"n")
        .orderBy($"q")
    },
    Some("""WITH b AS (
           |  SELECT least(greatest(CAST(floor(
           |           (CAST(l_extendedprice AS DOUBLE) - 0.0) * 256.0 / 110000.0
           |         ) AS BIGINT), 0), 255) AS bin
           |  FROM lineitem
           |),
           |h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
           |c AS (
           |  SELECT bin, cnt,
           |         sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
           |         sum(cnt) OVER () AS n
           |  FROM h
           |),
           |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
           |pick AS (
           |  SELECT q.q, min(c.bin) AS bin
           |  FROM q JOIN c ON c.cum >= ceil(q.q * c.n)
           |  GROUP BY q.q
           |)
           |SELECT p.q, p.bin,
           |       round(0.0 + (p.bin + 1) * (110000.0 - 0.0) / 256.0, 4) AS approx_value,
           |       CAST(c.cum AS BIGINT) AS cum_count,
           |       CAST(c.n AS BIGINT) AS n
           |FROM pick p JOIN c ON c.bin = p.bin
           |ORDER BY q""".stripMargin),
  )

  /** One-pass column profiler (operators/Profile) over `orders`, with
    * a derived nullable column (nullif on the modal priority) so the
    * null-counting leg is exercised, and the timestamp pre-cast to
    * DATE so min/max stringification is engine-portable. min/max are
    * computed on native types and stringified after — the profiler
    * guards against the lexicographic-min-over-stringified-numbers
    * trap by construction.
    */
  private val profileColumns = Q(
    "q_profile_columns",
    (s, dir) => {
      import s.implicits._
      val o = Tables(s, dir).orders
        .withColumn("o_priority_nz", nullif($"o_orderpriority", lit("1-URGENT")))
        .withColumn("o_date", to_date($"o_orderdate"))
      graft.operators.Profile
        .profile(o, Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_date",
          "o_priority_nz"))
        .orderBy($"col_name")
    },
    Some {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_date",
        "o_priority_nz")
      val legs = cols.map { c =>
        s"""SELECT '$c' AS col_name,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value
           |FROM o""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         CAST(o_orderdate AS DATE) AS o_date,
         |         nullif(o_orderpriority, '1-URGENT') AS o_priority_nz
         |  FROM orders
         |)
         |$legs
         |ORDER BY col_name""".stripMargin
    },
  )

  /** Shared oracle for the HLL profiler (batch and streaming gates):
    * rebuilds every register from the same fnv63 hash per column (the
    * q_agg_hll_distinct technique) and must agree bit-for-bit on the
    * nonzero-bucket count, the integer-scaled register sum, and the
    * rounded estimate.
    */
  private lazy val profileHllOrdersOracle: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_date",
      "o_priority_nz")
    val legs = cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |       (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_rows,
         |       (SELECT CAST(count(*) - count($c) AS BIGINT) FROM o) AS n_null,
         |       agg.nonzero_buckets,
         |       agg.register_sum_scaled,
         |       round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
         |             (agg.register_sum_scaled / 1073741824.0), 4) AS hll_distinct,
         |       (SELECT CAST(min($c) AS VARCHAR) FROM o) AS min_value,
         |       (SELECT CAST(max($c) AS VARCHAR) FROM o) AS max_value
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS nonzero_buckets,
         |         CAST(coalesce(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)), 0) +
         |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
         |  FROM (
         |    SELECT bucket,
         |           max(${fnv63RankOf("v")}) AS r
         |    FROM (
         |      SELECT ${fnv63Bucket("h")} AS bucket,
         |             ${fnv63Tail("h")} AS v
         |      FROM (SELECT ${fnv63Sql(s"CAST($c AS VARCHAR)")} AS h
         |            FROM o WHERE $c IS NOT NULL)
         |    ) GROUP BY bucket
         |  )
         |) agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |         CAST(o_orderdate AS DATE) AS o_date,
       |         nullif(o_orderpriority, '1-URGENT') AS o_priority_nz
       |  FROM orders
       |)
       |$legs
       |ORDER BY col_name""".stripMargin
  }

  /** Grouped profiler under the gate: `Profile.profileHllBy` over
    * documents keyed by source — the per-subcorpus quality dashboard
    * (one aggregation pass, no Expand, state = groups × columns ×
    * 4 KiB of mergeable registers) a curation run reads before setting
    * mixture weights. The oracle rebuilds every per-(source, column)
    * HLL register from the same fnv63 hash and must agree bit-for-bit
    * on buckets, scaled register sum, and estimate, alongside exact
    * n_rows/n_null/min/max.
    */
  private val profileBySource = Q(
    "q_profile_by_source",
    (s, dir) => {
      import s.implicits._
      graft.operators.Profile
        .profileHllBy(Tables(s, dir).documents, "source",
          Seq("lang", "n_chars", "doc_id"))
        .orderBy($"source", $"col_name")
    },
    Some {
      val cols = Seq("doc_id", "lang", "n_chars")
      val regCtes = cols.map { c =>
        s"""hx_$c AS (
           |  SELECT source, ${fnv63Sql(s"CAST($c AS VARCHAR)")} AS h
           |  FROM documents WHERE $c IS NOT NULL
           |),
           |rb_$c AS (
           |  SELECT source, ${fnv63Bucket("h")} AS bucket, ${fnv63Tail("h")} AS v
           |  FROM hx_$c
           |),
           |regs_$c AS (
           |  SELECT source, bucket, max(${fnv63RankOf("v")}) AS r
           |  FROM rb_$c GROUP BY source, bucket
           |),
           |a_$c AS (
           |  SELECT source,
           |         CAST(count(*) AS BIGINT) AS nonzero_buckets,
           |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
           |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
           |  FROM regs_$c GROUP BY source
           |)""".stripMargin
      }.mkString(",\n")
      val baseCols = cols.map { c =>
        s"""CAST(count(*) - count($c) AS BIGINT) AS n_null_$c,
           |       CAST(min($c) AS VARCHAR) AS min_$c,
           |       CAST(max($c) AS VARCHAR) AS max_$c""".stripMargin
      }.mkString(",\n       ")
      val legs = cols.map { c =>
        s"""SELECT g.source, '$c' AS col_name, g.n_rows, g.n_null_$c AS n_null,
           |       a.nonzero_buckets, a.register_sum_scaled,
           |       round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
           |             (a.register_sum_scaled / 1073741824.0), 4) AS hll_distinct,
           |       g.min_$c AS min_value, g.max_$c AS max_value
           |FROM g JOIN a_$c a USING (source)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $regCtes,
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
         |       $baseCols
         |  FROM documents GROUP BY source
         |)
         |$legs
         |ORDER BY source, col_name""".stripMargin
    },
  )

  /** The profiler's 100-TB form under the gate: same columns as
    * q_profile_columns with the exact-distinct leg swapped for the
    * native HLL sketch (`Profile.profileHll`) — ONE aggregation, NO
    * Expand (PlanShapeSpec asserts it), scan read once however many
    * columns are profiled. The oracle rebuilds every register from
    * the same fnv63 hash per column (the q_agg_hll_distinct technique)
    * and must agree bit-for-bit on the nonzero-bucket count, the
    * integer-scaled register sum, and the rounded estimate.
    */
  private val profileColumnsHll = Q(
    "q_profile_columns_hll",
    (s, dir) => {
      import s.implicits._
      val o = Tables(s, dir).orders
        .withColumn("o_priority_nz", nullif($"o_orderpriority", lit("1-URGENT")))
        .withColumn("o_date", to_date($"o_orderdate"))
      graft.operators.Profile
        .profileHll(o, Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_date",
          "o_priority_nz"))
        .orderBy($"col_name")
    },
    Some(profileHllOrdersOracle),
  )

  /** Distribution-drift monitor under the gate (operators/Drift):
    * per-source L1 gap between the n_chars histograms of two corpus
    * snapshots (alternating doc_id blocks — `doc_id div 20` parity,
    * which interleaves within every source since the fixture assigns
    * source by `doc_id mod 20`; observed drift is then the
    * sampling/truncation floor, what a stable feed should report).
    * All-integer per-mille histogram math — see the operator's
    * scaladoc for why L1 and not PSI/KL.
    */
  /** CUSUM change-point localization per event type
    * (`Drift.cusumChangepoint` — Page 1954, offline max-deviation
    * form): the drift monitors say HOW MUCH the mix moved; this says
    * WHEN each type's daily volume broke from its own uniform-rate
    * line. All operands exact (denominators cleared: D_i = |N·S_i −
    * i·S_N|), so the gate pins an ARGMAX — the hardest thing to
    * hash-match across engines — plus the scale-free ppm deviation.
    * One corpus pass to (type, day) counts; every window is
    * partitioned by type over the day support. Oracle: the same
    * cleared-denominator deviation with the same earliest-period tie
    * break, via an explicit max-join argmax (different argmax program
    * than Spark's one-pass max_by struct ordering).
    */
  private val profileChangepoint = Q(
    "q_profile_changepoint",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
        .select($"event_type",
          date_format($"ts", "yyyy-MM-dd").as("p"), lit(1L).as("one"))
      graft.operators.Drift.cusumChangepoint(ev, "event_type", "p", "one")
        .orderBy($"event_type")
    },
    Some("""WITH per AS (
           |  SELECT event_type AS g, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS p,
           |         CAST(count(*) AS BIGINT) AS x
           |  FROM events GROUP BY 1, 2),
           |c AS (
           |  SELECT g, p, x,
           |         row_number() OVER w AS i,
           |         CAST(sum(x) OVER w AS HUGEINT) AS s,
           |         count(*) OVER (PARTITION BY g) AS n,
           |         CAST(sum(x) OVER (PARTITION BY g) AS HUGEINT) AS sn
           |  FROM per
           |  WINDOW w AS (PARTITION BY g ORDER BY p ROWS UNBOUNDED PRECEDING)),
           |d AS (SELECT g, p, i, n, sn, abs(n * s - i * sn) AS dv FROM c),
           |mx AS (SELECT g, max(dv) AS mdv FROM d GROUP BY g),
           |am AS (SELECT d.g, min(d.p) AS cp_period
           |       FROM d JOIN mx ON d.g = mx.g AND d.dv = mx.mdv GROUP BY d.g),
           |ag AS (SELECT g, CAST(max(n) AS BIGINT) AS n_periods,
           |              CAST(max(dv) AS BIGINT) AS d_max, max(sn) AS sn
           |       FROM d GROUP BY g)
           |SELECT ag.g AS event_type, n_periods, cp_period, d_max,
           |       CASE WHEN sn = 0 THEN NULL ELSE
           |         CAST((1000000 * CAST(d_max AS HUGEINT)) //
           |              (CAST(n_periods AS HUGEINT) * sn) AS BIGINT) END AS dev_ppm
           |FROM ag JOIN am USING (g)
           |ORDER BY event_type""".stripMargin),
  )

  /** STREAMING twin of [[profileChangepoint]]: the (type, day) count
    * table IS the complete-mode state — mergeable sums, groups × days
    * rows however many micro-batches arrive — and the CUSUM argmax is
    * a finish view over it (`Drift.cusumFromPeriods`, the
    * chi2FromCounts split). Gated on the IDENTICAL oracle as the
    * batch gate: the state equals the batch (type, day) table exactly,
    * so the localization must hash-match bit for bit — the live
    * "the mix broke on day X" monitor.
    */
  private val streamChangepoint = Q(
    "q_stream_changepoint",
    (s, dir) => {
      import s.implicits._
      val state = ScopedConf.streamGate(
          s, "graft_stream_changepoint_gate", "complete", partitions = 4) {
        Tables.normalizeEventTs(Tables.streamTable(s, dir, "events"))
          .groupBy($"event_type".as("g"),
            date_format($"ts", "yyyy-MM-dd").as("p"))
          .agg(count(lit(1)).as("x"))
      }
      graft.operators.Drift.cusumFromPeriods(state)
        .withColumnRenamed("g", "event_type")
        .orderBy($"event_type")
    },
    Some("""WITH per AS (
           |  SELECT event_type AS g, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS p,
           |         CAST(count(*) AS BIGINT) AS x
           |  FROM events GROUP BY 1, 2),
           |c AS (
           |  SELECT g, p, x,
           |         row_number() OVER w AS i,
           |         CAST(sum(x) OVER w AS HUGEINT) AS s,
           |         count(*) OVER (PARTITION BY g) AS n,
           |         CAST(sum(x) OVER (PARTITION BY g) AS HUGEINT) AS sn
           |  FROM per
           |  WINDOW w AS (PARTITION BY g ORDER BY p ROWS UNBOUNDED PRECEDING)),
           |d AS (SELECT g, p, i, n, sn, abs(n * s - i * sn) AS dv FROM c),
           |mx AS (SELECT g, max(dv) AS mdv FROM d GROUP BY g),
           |am AS (SELECT d.g, min(d.p) AS cp_period
           |       FROM d JOIN mx ON d.g = mx.g AND d.dv = mx.mdv GROUP BY d.g),
           |ag AS (SELECT g, CAST(max(n) AS BIGINT) AS n_periods,
           |              CAST(max(dv) AS BIGINT) AS d_max, max(sn) AS sn
           |       FROM d GROUP BY g)
           |SELECT ag.g AS event_type, n_periods, cp_period, d_max,
           |       CASE WHEN sn = 0 THEN NULL ELSE
           |         CAST((1000000 * CAST(d_max AS HUGEINT)) //
           |              (CAST(n_periods AS HUGEINT) * sn) AS BIGINT) END AS dev_ppm
           |FROM ag JOIN am USING (g)
           |ORDER BY event_type""".stripMargin),
  )

  private val profileDrift = Q(
    "q_profile_drift",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      graft.operators.Drift
        .histogramL1(
          docs.filter(expr("(doc_id div 20) % 2 = 0")),
          docs.filter(expr("(doc_id div 20) % 2 = 1")),
          "source", "n_chars", binWidth = 100L, nBins = 8)
        .orderBy($"source")
    },
    Some(driftOracle),
  )

  private lazy val driftOracle: String =
    """WITH o AS (SELECT source, n_chars FROM documents WHERE (doc_id // 20) % 2 = 0),
           |n AS (SELECT source, n_chars FROM documents WHERE (doc_id // 20) % 2 = 1),
           |ho AS (SELECT source, least(n_chars // 100, 7) AS bin, count(*) AS c_old
           |       FROM o GROUP BY 1, 2),
           |hn AS (SELECT source, least(n_chars // 100, 7) AS bin, count(*) AS c_new
           |       FROM n GROUP BY 1, 2),
           |t_o AS (SELECT source, count(*) AS n_old FROM o GROUP BY source),
           |t_n AS (SELECT source, count(*) AS n_new FROM n GROUP BY source),
           |j AS (
           |  SELECT coalesce(ho.source, hn.source) AS source,
           |         coalesce(ho.bin, hn.bin) AS bin,
           |         coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
           |  FROM ho FULL JOIN hn ON ho.source = hn.source AND ho.bin = hn.bin
           |),
           |sh AS (
           |  SELECT j.source, bin,
           |         CASE WHEN coalesce(n_old, 0) > 0 THEN (c_old * 1000) // n_old ELSE 0 END AS s_old,
           |         CASE WHEN coalesce(n_new, 0) > 0 THEN (c_new * 1000) // n_new ELSE 0 END AS s_new,
           |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
           |  FROM j
           |  LEFT JOIN t_o ON t_o.source = j.source
           |  LEFT JOIN t_n ON t_n.source = j.source
           |)
           |SELECT source,
           |       CAST(max(n_old) AS BIGINT) AS n_old,
           |       CAST(max(n_new) AS BIGINT) AS n_new,
           |       CAST(sum(abs(s_old - s_new)) AS BIGINT) AS l1_pm
           |FROM sh
           |GROUP BY source
           |ORDER BY source""".stripMargin

  /** Robust outlier detection under the gate (Profile.robustOutliers):
    * exact per-source Tukey fences over n_chars, with planted
    * anomalies (doc_id % 97 = 5 scaled ×10, doc_id % 89 = 7 shrunk
    * ÷10) so the fences do real work. Every outlier row is verified
    * with its group's exact integer quartiles and verdict.
    */
  private val profileOutliers = Q(
    "q_profile_outliers",
    (s, dir) => {
      import s.implicits._
      val planted = Tables(s, dir).documents
        .select($"doc_id", $"source",
          when($"doc_id" % 97 === 5, $"n_chars" * 10)
            .when($"doc_id" % 89 === 7, expr("n_chars div 10"))
            .otherwise($"n_chars").as("v"))
      graft.operators.Profile
        .robustOutliers(planted, "source", "doc_id", "v")
        .orderBy($"doc_id")
    },
    Some("""WITH b AS (
           |  SELECT doc_id, source,
           |         CASE WHEN doc_id % 97 = 5 THEN n_chars * 10
           |              WHEN doc_id % 89 = 7 THEN n_chars // 10
           |              ELSE n_chars END AS v
           |  FROM documents
           |),
           |hist AS (SELECT source, v, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
           |h2 AS (
           |  SELECT source, v, cnt,
           |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           |         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
           |  FROM hist
           |),
           |qs AS (
           |  SELECT source,
           |         min(CASE WHEN cum * 4 >= n THEN v END) AS q1,
           |         min(CASE WHEN cum * 2 >= n THEN v END) AS med,
           |         min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
           |  FROM h2 GROUP BY source
           |)
           |SELECT b.doc_id, b.source, CAST(b.v AS BIGINT) AS value,
           |       q.q1, q.med, q.q3,
           |       CASE WHEN b.v * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3 THEN 'low'
           |            ELSE 'high' END AS verdict
           |FROM b JOIN qs q USING (source)
           |WHERE b.v * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3
           |   OR b.v * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3
           |ORDER BY b.doc_id""".stripMargin),
  )

  /** The drift monitor as a LIVE alarm: the "new" snapshot arrives as
    * a stream and its binned histogram runs as a complete-mode
    * streaming aggregation — counts are mergeable, so the state store
    * holds exactly groups × bins rows (20 × 8 here) no matter how many
    * micro-batches arrive, and every trigger re-emits the refreshed
    * histogram. The L1 compare against the static "old" snapshot then
    * runs batch-side on the sink table through the IDENTICAL
    * `histogramL1FromHists` core as the batch gate, and the result is
    * hash-checked against the SAME oracle as `q_profile_drift` —
    * stream ≡ batch ≡ oracle. Shuffle partitions pinned to 4: state
    * is 160 rows, and every extra partition is an empty state-store
    * commit per batch.
    */
  /** Two-sample Kolmogorov–Smirnov (`Drift.ksTwoSample`): does the
    * n_chars distribution of English documents differ from the rest?
    * The distribution-free drift test completing the family
    * (L1 needs bins, χ² needs categories, CUSUM needs a time axis) —
    * and every operand exact-integer: D's denominators cleared, the
    * α = 0.05 verdict decided by the squared integer comparison
    * D_num²·10⁶ vs 1 844 164·(n_A+n_B)·n_A·n_B instead of a libm sqrt
    * whose boundary behavior differs across engines. One corpus pass
    * (both sides' counts in one groupBy), cumulative window over the
    * value support only, support cap enforced in-plan.
    */
  private val profileKs = Q(
    "q_profile_ks",
    (s, dir) => {
      import s.implicits._
      graft.operators.Drift.ksTwoSample(
        Tables(s, dir).documents
          .withColumn("is_en", $"lang" === "en"),
        "n_chars", "is_en")
    },
    Some("""WITH d AS (
           |  SELECT CAST(n_chars AS BIGINT) AS x, (lang = 'en') AS sa
           |  FROM documents),
           |h AS (
           |  SELECT x,
           |         sum(CASE WHEN sa THEN 1 ELSE 0 END) AS ca,
           |         sum(CASE WHEN NOT sa THEN 1 ELSE 0 END) AS cb
           |  FROM d GROUP BY x),
           |t AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
           |             CAST(sum(cb) AS HUGEINT) AS nb FROM h),
           |c AS (
           |  SELECT x,
           |         CAST(sum(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
           |           AS HUGEINT) AS cuma,
           |         CAST(sum(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
           |           AS HUGEINT) AS cumb
           |  FROM h),
           |dd AS (SELECT x, abs(nb * cuma - na * cumb) AS dn FROM c, t),
           |mx AS (SELECT max(dn) AS dnum FROM dd),
           |arg AS (SELECT min(x) AS ks_x FROM dd, mx WHERE dn = dnum)
           |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           |       CAST(dnum AS BIGINT) AS d_num,
           |       round(CAST(dnum AS DOUBLE) /
           |             (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d_stat,
           |       ks_x,
           |       (dnum * dnum * 1000000 > 1844164 * (na + nb) * na * nb)
           |         AS reject_05
           |FROM mx, arg, t""".stripMargin),
  )

  /** Per-GROUP KS monitoring (`Drift.ksGrouped`): the two-sample test
    * fanned out across every source in ONE corpus pass — for each
    * source, does its English slice's n_chars distribution differ
    * from its non-English reference slice? This is the fleet-
    * monitoring shape (one verdict row per pipeline/source/cohort,
    * refreshed per scan) the ungrouped test can't give without
    * |sources| passes. Same integer-exact arithmetic per group —
    * cleared-denominator D, squared-integer α = 0.05 verdict — with
    * every window PARTITIONED BY source over that source's value
    * support, and the support cap enforced per group in-plan.
    */
  private val profileKsBySource = Q(
    "q_profile_ks_by_source",
    (s, dir) => {
      import s.implicits._
      graft.operators.Drift.ksGrouped(
        Tables(s, dir).documents
          .withColumn("is_en", $"lang" === "en"),
        "source", "n_chars", "is_en")
        .withColumnRenamed("source", "src")
        .orderBy($"src")
    },
    Some("""WITH d AS (
           |  SELECT source AS g, CAST(n_chars AS BIGINT) AS x,
           |         (lang = 'en') AS sa
           |  FROM documents),
           |h AS (
           |  SELECT g, x,
           |         sum(CASE WHEN sa THEN 1 ELSE 0 END) AS ca,
           |         sum(CASE WHEN NOT sa THEN 1 ELSE 0 END) AS cb
           |  FROM d GROUP BY g, x),
           |c AS (
           |  SELECT g, x,
           |         CAST(sum(ca) OVER (PARTITION BY g ORDER BY x
           |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cuma,
           |         CAST(sum(cb) OVER (PARTITION BY g ORDER BY x
           |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cumb,
           |         CAST(sum(ca) OVER (PARTITION BY g) AS HUGEINT) AS na,
           |         CAST(sum(cb) OVER (PARTITION BY g) AS HUGEINT) AS nb
           |  FROM h),
           |dd AS (SELECT g, x, na, nb,
           |              abs(nb * cuma - na * cumb) AS dn FROM c),
           |mx AS (
           |  SELECT g, max(na) AS na, max(nb) AS nb, max(dn) AS dnum
           |  FROM dd GROUP BY g),
           |arg AS (
           |  SELECT dd.g, min(dd.x) AS ks_x
           |  FROM dd JOIN (SELECT g, max(dn) AS dnum FROM dd GROUP BY g) m
           |    ON dd.g = m.g AND dd.dn = m.dnum
           |  GROUP BY dd.g)
           |SELECT mx.g AS src,
           |       CAST(mx.na AS BIGINT) AS n_a, CAST(mx.nb AS BIGINT) AS n_b,
           |       CAST(mx.dnum AS BIGINT) AS d_num,
           |       CASE WHEN mx.na = 0 OR mx.nb = 0 THEN NULL
           |            ELSE round(CAST(mx.dnum AS DOUBLE) /
           |              (CAST(mx.na AS DOUBLE) * CAST(mx.nb AS DOUBLE)), 6)
           |       END AS d_stat,
           |       arg.ks_x,
           |       (mx.dnum * mx.dnum * 1000000 >
           |         1844164 * (mx.na + mx.nb) * mx.na * mx.nb) AS reject_05
           |FROM mx JOIN arg ON mx.g = arg.g
           |ORDER BY src""".stripMargin),
  )

  /** STREAMING twin of [[profileKs]]: the per-value (x, ca, cb) count
    * table IS the streaming state — mergeable, so a complete-mode
    * aggregation holds ≤ |support| rows across any number of
    * micro-batches — and `Drift.ksFromCounts` finishes over the sink
    * table on the IDENTICAL oracle (the chi2/changepoint twin
    * discipline; KS's statistic is a pure function of the counts, so
    * stream ≡ batch bit for bit).
    */
  private val streamKs = Q(
    "q_stream_ks",
    (s, dir) => {
      import s.implicits._
      val state0 = ScopedConf.streamGate(
          s, "graft_stream_ks_gate", "complete", partitions = 4) {
        Tables.streamTable(s, dir, "documents")
          .withColumn("is_en", $"lang" === "en")
          .groupBy($"n_chars".cast("long").as("x"))
          .agg(
            sum(when($"is_en", 1L).otherwise(0L)).as("ca"),
            sum(when(!$"is_en", 1L).otherwise(0L)).as("cb"))
      }
      val state = s.createDataFrame(state0.rdd, state0.schema)
      graft.operators.Drift.ksFromCounts(state)
    },
    Some("""WITH d AS (
           |  SELECT CAST(n_chars AS BIGINT) AS x, (lang = 'en') AS sa
           |  FROM documents),
           |h AS (
           |  SELECT x,
           |         sum(CASE WHEN sa THEN 1 ELSE 0 END) AS ca,
           |         sum(CASE WHEN NOT sa THEN 1 ELSE 0 END) AS cb
           |  FROM d GROUP BY x),
           |t AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
           |             CAST(sum(cb) AS HUGEINT) AS nb FROM h),
           |c AS (
           |  SELECT x,
           |         CAST(sum(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
           |           AS HUGEINT) AS cuma,
           |         CAST(sum(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
           |           AS HUGEINT) AS cumb
           |  FROM h),
           |dd AS (SELECT x, abs(nb * cuma - na * cumb) AS dn FROM c, t),
           |mx AS (SELECT max(dn) AS dnum FROM dd),
           |arg AS (SELECT min(x) AS ks_x FROM dd, mx WHERE dn = dnum)
           |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           |       CAST(dnum AS BIGINT) AS d_num,
           |       round(CAST(dnum AS DOUBLE) /
           |             (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d_stat,
           |       ks_x,
           |       (dnum * dnum * 1000000 > 1844164 * (na + nb) * na * nb)
           |         AS reject_05
           |FROM mx, arg, t""".stripMargin),
  )

  /** STREAMING twin of [[profileKsBySource]]: the (source, x, ca, cb)
    * count table is the streaming state — mergeable, complete-mode,
    * ≤ |sources| × |support| rows however many micro-batches arrive —
    * and `Drift.ksFromCountsGrouped` finishes over the sink table
    * against the IDENTICAL oracle: the whole per-source KS fleet
    * monitor runs live with bounded state, one verdict row per source
    * per trigger.
    */
  private val streamKsBySource = Q(
    "q_stream_ks_by_source",
    (s, dir) => {
      import s.implicits._
      val state0 = ScopedConf.streamGate(
          s, "graft_stream_ks_by_source_gate", "complete", partitions = 4) {
        Tables.streamTable(s, dir, "documents")
          .withColumn("is_en", $"lang" === "en")
          .groupBy($"source".as("g"), $"n_chars".cast("long").as("x"))
          .agg(
            sum(when($"is_en", 1L).otherwise(0L)).as("ca"),
            sum(when(!$"is_en", 1L).otherwise(0L)).as("cb"))
      }
      val state = s.createDataFrame(state0.rdd, state0.schema)
      graft.operators.Drift.ksFromCountsGrouped(state)
        .withColumnRenamed("g", "src")
        .orderBy($"src")
    },
    Some("""WITH d AS (
           |  SELECT source AS g, CAST(n_chars AS BIGINT) AS x,
           |         (lang = 'en') AS sa
           |  FROM documents),
           |h AS (
           |  SELECT g, x,
           |         sum(CASE WHEN sa THEN 1 ELSE 0 END) AS ca,
           |         sum(CASE WHEN NOT sa THEN 1 ELSE 0 END) AS cb
           |  FROM d GROUP BY g, x),
           |c AS (
           |  SELECT g, x,
           |         CAST(sum(ca) OVER (PARTITION BY g ORDER BY x
           |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cuma,
           |         CAST(sum(cb) OVER (PARTITION BY g ORDER BY x
           |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cumb,
           |         CAST(sum(ca) OVER (PARTITION BY g) AS HUGEINT) AS na,
           |         CAST(sum(cb) OVER (PARTITION BY g) AS HUGEINT) AS nb
           |  FROM h),
           |dd AS (SELECT g, x, na, nb,
           |              abs(nb * cuma - na * cumb) AS dn FROM c),
           |mx AS (
           |  SELECT g, max(na) AS na, max(nb) AS nb, max(dn) AS dnum
           |  FROM dd GROUP BY g),
           |arg AS (
           |  SELECT dd.g, min(dd.x) AS ks_x
           |  FROM dd JOIN (SELECT g, max(dn) AS dnum FROM dd GROUP BY g) m
           |    ON dd.g = m.g AND dd.dn = m.dnum
           |  GROUP BY dd.g)
           |SELECT mx.g AS src,
           |       CAST(mx.na AS BIGINT) AS n_a, CAST(mx.nb AS BIGINT) AS n_b,
           |       CAST(mx.dnum AS BIGINT) AS d_num,
           |       CASE WHEN mx.na = 0 OR mx.nb = 0 THEN NULL
           |            ELSE round(CAST(mx.dnum AS DOUBLE) /
           |              (CAST(mx.na AS DOUBLE) * CAST(mx.nb AS DOUBLE)), 6)
           |       END AS d_stat,
           |       arg.ks_x,
           |       (mx.dnum * mx.dnum * 1000000 >
           |         1844164 * (mx.na + mx.nb) * mx.na * mx.nb) AS reject_05
           |FROM mx JOIN arg ON mx.g = arg.g
           |ORDER BY src""".stripMargin),
  )

  private val streamDrift = Q(
    "q_stream_drift",
    (s, dir) => {
      import s.implicits._
      val histNew = ScopedConf.streamGate(
          s, "graft_stream_drift_gate", "complete", partitions = 4) {
        graft.operators.Drift.histogram(
          Tables.streamTable(s, dir, "documents").filter(expr("(doc_id div 20) % 2 = 1")),
          "source", "n_chars", binWidth = 100L, nBins = 8, cntCol = "c_new")
      }
      val histOld = graft.operators.Drift.histogram(
        Tables(s, dir).documents.filter(expr("(doc_id div 20) % 2 = 0")),
        "source", "n_chars", binWidth = 100L, nBins = 8, cntCol = "c_old")
      graft.operators.Drift
        .histogramL1FromHists(histOld, histNew)
        .withColumnRenamed("g", "source")
        .orderBy($"source")
    },
    Some(driftOracle),
  )

  /** The token-mixing monitor run as a STREAMING aggregation: the
    * (source, word) unigram counts accumulate as a complete-mode
    * streaming aggregate over a file-source replay of documents
    * (`Drift.tokenCounts` — every aggregate mergeable, state bounded
    * by |sources|·|vocab| rows however many micro-batches arrive),
    * then `Drift.chi2FromCounts` runs the χ² tail on the final state
    * table. Gated on the SAME oracle as the batch
    * q_text_chi2_divergence: a live feed's divergence report must land
    * on the batch answer exactly — bit-equal, not approximately.
    */
  private val streamChi2 = Q(
    "q_stream_chi2_divergence",
    (s, dir) => {
      import s.implicits._
      val state0 = ScopedConf.streamGate(
          s, "graft_stream_chi2_gate", "complete", partitions = 4) {
        graft.operators.Drift.tokenCounts(
          Tables.streamTable(s, dir, "documents"), "source", "text")
      }
      // The χ² tail self-joins the state table (counts ⋈ vocab totals
      // of the SAME relation). The memory sink's MemoryPlan is not a
      // MultiInstanceRelation, so the analyzer can't deduplicate the
      // two sides' attribute ids — rebase onto a fresh LogicalRDD
      // (one distributed pass over the bounded |sources|·|vocab|
      // state, no driver collect) before joining.
      val state = s.createDataFrame(state0.rdd, state0.schema)
      graft.operators.Drift
        .chi2FromCounts(state, minCount = 2L)
        .withColumnRenamed("g", "source")
        .orderBy($"source")
    },
    Some(TextAnalysisQ.chi2DivergenceOracle),
  )

  /** The profiler run as a STREAMING aggregation: the identical
    * `Profile.profileHll` report — HLL registers and all — as a
    * complete-mode global streaming aggregate over a file-source
    * replay of the orders table, against the SAME oracle as the batch
    * gate. This is the data-quality monitor shape for a live feed:
    * every aggregate in the report (count, HLL sketch, min/max) is
    * MERGEABLE, so the state store holds one fixed-size row (columns ×
    * 4 KiB sketches) however many micro-batches arrive, and each
    * trigger re-emits the refreshed profile. Shuffle partitions
    * pinned to 1: a global aggregate has exactly one state row, and
    * every extra partition would be an empty state-store commit per
    * batch.
    */
  private val streamProfileHll = Q(
    "q_stream_profile_hll",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_profile_gate", "complete", partitions = 1) {
        graft.operators.Profile.profileHll(
          Tables.streamTable(s, dir, "orders")
            .withColumn("o_priority_nz", nullif($"o_orderpriority", lit("1-URGENT")))
            .withColumn("o_date", to_date($"o_orderdate")),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_date",
            "o_priority_nz"))
      }.orderBy($"col_name")
    },
    Some(profileHllOrdersOracle),
  )

  /** Salted fact→dim join under the gate (operators/Scale.saltedJoin —
    * the skew case AQE splitting can't always fix): a planted hot key
    * (every third order rewritten to supplier 1) floods one reducer in
    * a plain shuffle join; salting spreads it over 16 (key, salt)
    * subkeys by replicating each dim row 16× with an explicit salt.
    * The salt itself is nondeterministic (partition id + row id) but
    * each fact row still matches EXACTLY ONE replicated dim row, so
    * the join is multiset-identical to the plain join — which is
    * precisely what the oracle (plain join + same aggregate) checks.
    * Quantity sums are integral doubles (< 2^53), exact in any
    * accumulation order.
    */
  private val joinSaltedSkew = Q(
    "q_join_salted_skew",
    (s, dir) => {
      import s.implicits._
      val fact = Tables(s, dir).lineitem
        .select(
          when($"l_orderkey" % 3 === 0, lit(1L)).otherwise($"l_suppkey").as("skey"),
          $"l_quantity")
      val dim = Tables(s, dir).supplier
        .select($"s_suppkey".as("skey"), $"s_nationkey")
      graft.operators.Scale.saltedJoin(fact, dim, "skey", 16)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), sum($"l_quantity").cast("long").as("sum_qty"))
        .orderBy($"s_nationkey")
    },
    Some("""WITH f AS (
           |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS skey,
           |         l_quantity
           |  FROM lineitem
           |)
           |SELECT s.s_nationkey,
           |       CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(f.l_quantity) AS BIGINT) AS sum_qty
           |FROM f JOIN supplier s ON s.s_suppkey = f.skey
           |GROUP BY s.s_nationkey
           |ORDER BY s.s_nationkey""".stripMargin),
  )

  /** Snapshot diff between two corpus versions — the dataset-release
    * audit: v2 is v1 with planted deletions (id%17=2), in-place edits
    * (id%13=4, and not deleted), and additions (+3e6 ids). One
    * full-outer join on doc_id comparing content hashes classifies
    * every id as added / removed / changed / unchanged; the report
    * aggregates counts and total changed bytes per verdict. At scale
    * this is one key-partitioned join over the two snapshots — hash
    * comparison makes "changed" content-based, not
    * modification-time-based.
    */
  private val corpusDiff = Q(
    "q_corpus_diff",
    (s, dir) => {
      import s.implicits._
      // added ids are planted at +3e6: guard the fixture assumption so
      // it breaks loudly, not silently (see Fixture)
      val v1 = Tables(s, dir).documents.select(
        Fixture.idBelow($"doc_id", 3000000L, "q_corpus_diff").as("doc_id"),
        $"text")
      val v2 = v1.filter($"doc_id" % 17 =!= 2)
        .select($"doc_id",
          when($"doc_id" % 13 === 4, concat($"text", lit(" [v2 errata]")))
            .otherwise($"text").as("text"))
        .union(v1.filter($"doc_id" % 19 === 6)
          .select(($"doc_id" + 3000000).as("doc_id"), $"text"))
      val a = v1.select($"doc_id", md5($"text").as("h1"), length($"text").as("len1"))
      val b = v2.select($"doc_id", md5($"text").as("h2"), length($"text").as("len2"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(
          when($"h1".isNull, "added")
            .when($"h2".isNull, "removed")
            .when($"h1" === $"h2", "unchanged")
            .otherwise("changed").as("verdict"),
          coalesce($"len2", lit(0)).cast("long").as("bytes"))
        .groupBy($"verdict")
        .agg(count(lit(1)).as("n_docs"), sum($"bytes").as("total_bytes"))
        .orderBy($"verdict")
    },
    Some("""WITH v1 AS (SELECT doc_id, text FROM documents),
           |v2 AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 13 = 4 THEN text || ' [v2 errata]'
           |              ELSE text END AS text
           |  FROM v1 WHERE doc_id % 17 <> 2
           |  UNION ALL
           |  SELECT doc_id + 3000000, text FROM v1 WHERE doc_id % 19 = 6
           |),
           |j AS (
           |  SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
           |              WHEN b.doc_id IS NULL THEN 'removed'
           |              WHEN md5(a.text) = md5(b.text) THEN 'unchanged'
           |              ELSE 'changed' END AS verdict,
           |         coalesce(length(b.text), 0) AS bytes
           |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
           |)
           |SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(bytes) AS BIGINT) AS total_bytes
           |FROM j GROUP BY verdict
           |ORDER BY verdict""".stripMargin),
  )

  /** SLIDING event-time windows under the gate (10-minute width,
    * 5-minute slide, watermarked append mode): each event contributes
    * to exactly two overlapping windows; windows finalize and emit as
    * the watermark passes their end — the overlap bookkeeping (state
    * keyed by (window, type), rows fanned to width/slide windows) is
    * what this gate pins beyond the tumbling q_stream_bbo_minutely.
    * The oracle enumerates the same two candidate window starts per
    * event (trunc-to-slide and trunc-minus-slide) and aggregates —
    * the closed-form of Spark's window assignment for width = 2·slide.
    */
  private val streamSlidingWindow = Q(
    "q_stream_sliding_window",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_sliding_gate") {
        graft.Tables.normalizeEventTs(Tables.streamTable(s, dir, "events"))
          .withWatermark("ts", "1 hour")
          .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum(round($"value" * 100).cast("long")).as("cents"))
          .select(
            date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
            $"event_type", $"n",
            round($"cents" / 100.0, 2).as("val_sum"))
      }.orderBy($"w_start", $"event_type")
    },
    // Append mode emits exactly the windows finalized below the
    // terminal watermark (max event time − delay): the oracle applies
    // the same window.end ≤ watermark cut.
    Some("""WITH e AS (
           |  SELECT to_timestamp(floor(epoch(ts) / 300) * 300) AS t5, event_type,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events
           |),
           |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
           |x AS (
           |  SELECT t5 AS w, event_type, cents FROM e
           |  UNION ALL
           |  SELECT t5 - INTERVAL 5 MINUTE, event_type, cents FROM e
           |)
           |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(cents) / 100.0, 2) AS val_sum
           |FROM x
           |GROUP BY w, event_type
           |HAVING w + INTERVAL 10 MINUTE <= (SELECT wm FROM wm)
           |ORDER BY w_start, event_type""".stripMargin),
  )

  /** Stream-static ENRICHMENT join — the stateless dimension lookup
    * every live ingest runs (the streaming twin of J1's batch
    * broadcast join; reference joins live ticks to the markets dim the
    * same way, `bbo.ipynb` cell 1): a micro-batched event stream inner-
    * joined to a STATIC customer dim under an explicit `broadcast()`
    * hint. Stream-static inner joins are stateless — no watermark, no
    * state store; each micro-batch plans a fresh BroadcastHashJoin, so
    * at 100 TB/day the per-batch cost is the batch's own rows × a hash
    * probe, with the dim shipped once per executor. The oracle is the
    * same join in batch SQL — stream-static equivalence to the batch
    * join IS the semantics being gated.
    */
  private val streamJoinEnrich = Q(
    "q_stream_join_enrich",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_enrich_gate") {
        val dim = Tables(s, dir).customer
          .select($"c_custkey", $"c_mktsegment")
        graft.Tables.normalizeEventTs(Tables.streamTable(s, dir, "events"))
          .join(broadcast(dim), $"user_id" === $"c_custkey")
          .select($"event_id", $"user_id",
            $"c_mktsegment".as("segment"), $"event_type", $"value")
      }.orderBy($"event_id")
    },
    Some("""SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           |       e.event_type, e.value
           |FROM events e JOIN customer c ON e.user_id = c.c_custkey
           |ORDER BY e.event_id""".stripMargin),
  )

  /** EXACTLY-ONCE ACROSS RESTART — the streaming guarantee everything
    * else rides on, exercised for real: half the events land, a
    * checkpointed file-source→parquet-sink query drains them
    * (maxFilesPerTrigger=1 forces MULTIPLE micro-batches, so the
    * offset log advances several times), the query STOPS, the second
    * half arrives, and a NEW query instance resumes from the same
    * checkpoint. The sink must hold every event exactly once —
    * re-processing half 1 after restart duplicates event_ids,
    * dropping a tracked file loses them, and either breaks the
    * hash against the plain batch oracle. This is the
    * crash/redeploy/backfill cycle of the reference's collector
    * (`collector/src/main.rs` restartable hourly capture) as a gated
    * semantics, via the offset log + sink commit log.
    */
  private val streamCheckpointResume = Q(
    "q_stream_checkpoint_resume",
    (s, dir) => {
      import s.implicits._
      val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_ckpt_gate")
      org.apache.commons.io.FileUtils.deleteQuietly(base)
      val inDir = new java.io.File(base, "in").getPath
      val outDir = new java.io.File(base, "out").getPath
      val ckpt = new java.io.File(base, "ckpt").getPath
      // not streamGate: a parquet sink restarted from its checkpoint
      ScopedConf.withShufflePartitions(s, 8) {
        val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
        def arrive(pred: org.apache.spark.sql.Column): Unit =
          s.read.parquet(s"$dir/events.parquet").filter(pred)
            .repartition(4).write.mode("append").parquet(inDir)
        def drain(): Unit = {
          val src = graft.Tables.normalizeEventTs(
            s.readStream.schema(rawSchema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet").parquet(inDir))
          val q = src
            .select($"event_id", $"user_id", $"event_type",
              round($"value" * 100).cast("long").as("cents"))
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        arrive($"event_id" % 2 === 0)
        drain() // first incarnation: 4 micro-batches over half 1
        arrive($"event_id" % 2 === 1)
        drain() // restart from the SAME checkpoint: only the new files
      }
      s.read.parquet(outDir).orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, event_type,
           |       CAST(round(value * 100) AS BIGINT) AS cents
           |FROM events
           |ORDER BY event_id""".stripMargin),
  )

  val all: Seq[Q] = Seq(
    streamSlidingWindow,
    streamJoinEnrich,
    streamCheckpointResume,
    cliTimeArgs,
    sampleBottomK,
    sampleWeighted,
    eventsRetention,
    graphHierarchy,
    profileColumns,
    profileColumnsHll,
    profileBySource,
    streamProfileHll,
    profileDrift,
    profileChangepoint,
    streamChangepoint,
    profileKs, profileKsBySource, streamKs, streamKsBySource,
    streamDrift,
    streamChi2,
    profileOutliers,
    joinSaltedSkew,
    corpusDiff,
    streamCmsCells,
    streamHistogramQuantiles,
    streamSampleBottomK,
    sketchKmvJaccard,
    sketchKmvRollup,
    sketchHllLake,
    sketchKll,
    streamKll,
    sketchKllLake,
    sampleBottomKBySource,
    windowGapFill,
    streamGapFill,
    aggHllDistinct,
    aggHistogramQuantiles,
    graphPagerank,
    graphPpr,
    graphHits,
    layoutZorder,
    windowTopkPerGroup,
    streamHllDistinct,
    joinFullOuter,
    joinBloomPrefilter,
    upsertCompaction,
    sqlCorrelated,
    setOps,
    eventsFunnel,
    aggSaltedSkew,
    aggPivot,
    windowNtile,
    streamSessionize,
    streamSessionizeDynamic,
    streamJoinAttribution,
    streamJoinAttributionOuter,
    aggPricingSummary,
    aggRollup,
    windowMinuteSpine,
    windowMovingAvg,
    filterInSet,
    filterSubstring,
    filterTimeRange,
    joinBroadcastDim,
    joinMultiway,
    joinAnti,
    joinSemi,
    windowLastPerMinute,
    aggHourlyVolume,
    summaryStats,
    sortTopK,
    unionDistinct,
    scalarFuncs,
    windowSessionize,
    sampleStratified,
    aggGroupingSets,
    aggCube,
  )
}
