package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.ScopedConf

/** Time-series analytics over the `events` stream: OHLC candle bars
  * (the downsample a tick engine serves to every charting client —
  * `notebooks/bbo.ipynb` cell 3 plots exactly this shape), rolling
  * z-score anomaly flagging, and a first-order transition matrix over
  * per-user event sequences.
  *
  * Determinism: every float enters as integer cents
  * (`round(value*100)` as BIGINT); all window/group sums are then
  * integer — associative, so partial-aggregation order can't flip the
  * hash — and the few emitted ratios divide identical integers in
  * both engines before a single terminal `round`.
  */
object TimeSeries {

  /** OHLC bars per (hour, event_type): open/close are the first/last
    * value in (ts, event_id) order, high/low the extremes, volume the
    * sum. One hash partitioning total: the window partition keys equal
    * the groupBy keys, so the aggregation reuses the window exchange
    * (plan-asserted in PlanShapeSpec). At 100 TB this is the shape
    * that matters — a per-bar sort would be a global sort; here the
    * sort is within (hour, type) partitions only, and the aggregation
    * is map-side combinable after the window pass.
    */
  private val ohlcBars = Q(
    "q_agg_ohlc_bars",
    (s, dir) => {
      import s.implicits._
      val w = Window
        .partitionBy($"hour", $"event_type")
        .orderBy($"ts", $"event_id")
      val rows = Tables(s, dir).events
        .select(
          date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"event_type", $"ts", $"event_id",
          round($"value" * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_part", count(lit(1)).over(
          Window.partitionBy($"hour", $"event_type")))
      rows
        .groupBy($"hour", $"event_type")
        .agg(
          round(max(when($"rn" === 1, $"cents")) / 100.0, 2).as("open"),
          round(max($"cents") / 100.0, 2).as("high"),
          round(min($"cents") / 100.0, 2).as("low"),
          round(max(when($"rn" === $"n_part", $"cents")) / 100.0, 2).as("close"),
          round(sum($"cents") / 100.0, 2).as("volume"),
          count(lit(1)).as("n_events"))
        .orderBy($"hour", $"event_type")
    },
    Some("""WITH c AS (
           |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           |         event_type, ts, event_id,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events
           |),
           |r AS (
           |  SELECT *,
           |         row_number() OVER (PARTITION BY hour, event_type ORDER BY ts, event_id) AS rn,
           |         count(*) OVER (PARTITION BY hour, event_type) AS n_part
           |  FROM c
           |)
           |SELECT hour, event_type,
           |       round(max(CASE WHEN rn = 1 THEN cents END) / 100.0, 2) AS open,
           |       round(max(cents) / 100.0, 2) AS high,
           |       round(min(cents) / 100.0, 2) AS low,
           |       round(max(CASE WHEN rn = n_part THEN cents END) / 100.0, 2) AS close,
           |       round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS volume,
           |       count(*) AS n_events
           |FROM r GROUP BY hour, event_type
           |ORDER BY hour, event_type""".stripMargin),
  )

  /** Rolling z-score anomaly flags: per event_type in event_id order,
    * each value is compared against the trailing-20 window (frame
    * excludes the current row). The flag decision is EXACT integer
    * arithmetic — with frame count n, sum S, sum-of-squares Sq (all
    * integer cents), |c − S/n| > 3·σ_pop rearranges to
    * (c·n − S)² > 9·(n·Sq − S²) — so the boundary can't wobble
    * between engines; the reported z = (c·n − S)/√(n·Sq − S²) divides
    * the same integers in both before one terminal round. One shuffle
    * (the event_type window partition); the frame is bounded, so
    * per-row work is O(1) via the running-sum frame implementation —
    * at 100 TB this is a narrow pass after one key exchange.
    */
  private val anomalyZscore = Q(
    "q_events_anomaly_zscore",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"event_id")
        .rowsBetween(-20, -1)
      Tables(s, dir).events
        .select($"event_id", $"event_type",
          round($"value" * 100).cast("long").as("c"))
        .withColumn("n", count($"c").over(w))
        .withColumn("s", sum($"c").over(w))
        .withColumn("sq", sum($"c" * $"c").over(w))
        .filter($"n" === 20 &&
          ($"c" * $"n" - $"s") * ($"c" * $"n" - $"s") >
            lit(9L) * ($"n" * $"sq" - $"s" * $"s"))
        .select($"event_id", $"event_type",
          round($"c" / 100.0, 2).as("value"),
          round(($"c" * $"n" - $"s") /
            sqrt(nullif(($"n" * $"sq" - $"s" * $"s").cast("double"), lit(0.0))), 4)
            .as("z"))
        .orderBy($"event_id")
    },
    Some("""WITH c AS (
           |  SELECT event_id, event_type,
           |         CAST(round(value * 100) AS BIGINT) AS c
           |  FROM events
           |),
           |w AS (
           |  SELECT event_id, event_type, c,
           |         count(c) OVER f AS n,
           |         sum(c) OVER f AS s,
           |         sum(c * c) OVER f AS sq
           |  FROM c
           |  WINDOW f AS (PARTITION BY event_type ORDER BY event_id
           |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
           |)
           |SELECT event_id, event_type,
           |       round(c / 100.0, 2) AS value,
           |       round((c * n - s) / sqrt(CAST(nullif(n * sq - s * s, 0) AS DOUBLE)), 4) AS z
           |FROM w
           |WHERE n = 20 AND (c * n - s) * (c * n - s) > 9 * (n * sq - s * s)
           |ORDER BY event_id""".stripMargin),
  )

  /** First-order Markov transition matrix over per-user event
    * sequences: P(next_type | prev_type) with exact counts and one
    * terminal rounded ratio. One shuffle on user_id (the lag window);
    * the transition aggregation is map-side combinable over ≤ |types|²
    * groups, and the per-prev normalization runs over that tiny
    * aggregate, not the raw events — the 100-TB shape for any n-gram /
    * journey model over event logs.
    */
  private val transitionMatrix = Q(
    "q_events_transition_matrix",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = Tables(s, dir).events
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type".as("next_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p", round($"n" / sum($"n").over(
          Window.partitionBy($"prev_type")), 4))
        .orderBy($"prev_type", $"next_type")
    },
    Some("""WITH seq AS (
           |  SELECT user_id, event_type,
           |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           |  FROM events
           |),
           |pairs AS (
           |  SELECT prev_type, event_type AS next_type, count(*) AS n
           |  FROM seq WHERE prev_type IS NOT NULL
           |  GROUP BY prev_type, event_type
           |)
           |SELECT prev_type, next_type, n,
           |       round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4) AS p
           |FROM pairs
           |ORDER BY prev_type, next_type""".stripMargin),
  )

  /** STREAMING OHLC bars: the q_agg_ohlc_bars semantics as a real
    * watermarked streaming aggregation (file source → AvailableNow →
    * memory sink, append mode) — open/close become `min_by`/`max_by`
    * under an in-window total order, which is the streaming-legal
    * formulation (no row_number over an unbounded stream; state per
    * (window, type) is one running (key, value) pair per extreme, so
    * executor state is FIXED-SIZE per group at any volume). The
    * ordering key is derived without window.start:
    * (µs-offset-within-hour)·10⁸ + event_id — a single orderable
    * BIGINT, exact in both engines. Append mode emits exactly the
    * windows finalized below the terminal watermark; the oracle
    * applies the same cutoff.
    */
  private val streamOhlcBars = Q(
    "q_stream_ohlc_bars",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_ohlc_gate") {
        graft.Tables.normalizeEventTs(Tables.streamTable(s, dir, "events"))
          .withWatermark("ts", "2 hours")
          .withColumn("cents", round($"value" * 100).cast("long"))
          .withColumn("k",
            pmod(unix_micros($"ts"), lit(3600000000L)) * 100000000L + $"event_id")
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(
            min_by($"cents", $"k").as("open_c"),
            max($"cents").as("high_c"),
            min($"cents").as("low_c"),
            max_by($"cents", $"k").as("close_c"),
            sum($"cents").as("vol_c"),
            count(lit(1)).as("n_events"))
          .select(
            date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("hour"),
            $"event_type",
            round($"open_c" / 100.0, 2).as("open"),
            round($"high_c" / 100.0, 2).as("high"),
            round($"low_c" / 100.0, 2).as("low"),
            round($"close_c" / 100.0, 2).as("close"),
            round($"vol_c" / 100.0, 2).as("volume"),
            $"n_events")
      }.orderBy($"hour", $"event_type")
    },
    Some("""WITH e AS (
           |  SELECT date_trunc('hour', ts) AS h, event_type,
           |         CAST(round(value * 100) AS BIGINT) AS cents,
           |         (epoch_us(ts) % 3600000000) * 100000000 + event_id AS k
           |  FROM events
           |),
           |wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events)
           |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
           |       round(arg_min(cents, k) / 100.0, 2) AS open,
           |       round(max(cents) / 100.0, 2) AS high,
           |       round(min(cents) / 100.0, 2) AS low,
           |       round(arg_max(cents, k) / 100.0, 2) AS close,
           |       round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS volume,
           |       count(*) AS n_events
           |FROM e
           |GROUP BY h, event_type
           |HAVING h + INTERVAL 1 HOUR <= (SELECT wm FROM wm)
           |ORDER BY hour, event_type""".stripMargin),
  )

  /** RFM segmentation (recency / frequency / monetary — the classic
    * customer-value grid): per-user stats in one aggregation, scored
    * 1–5 against EXACT interpolated quintile boundaries computed as a
    * broadcast scalar row — the scale-right formulation (a global
    * ntile would be a single-partition sort; comparing against five
    * broadcast boundaries is a narrow map after one combinable agg —
    * the same boundaries-not-sort pattern as the length-batching
    * operator). Output is the segment-level rollup.
    */
  private val eventsRfm = Q(
    "q_events_rfm",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
      // single scan of events: the per-user rollup is the only pass over
      // the raw table; the global max and the quintile boundaries both
      // derive from the (persisted, n_users-sized) rollup
      val peru = ev.groupBy($"user_id").agg(
        max(unix_micros($"ts")).as("umax"),
        count(lit(1)).as("freq"),
        sum(when($"event_type" === "purchase",
          round($"value" * 100).cast("long")).otherwise(0L)).as("mon_c"))
        .persist()
      val scored = peru
        .crossJoin(broadcast(peru.agg(max($"umax").as("gmax"))))
        .select($"user_id",
          (($"gmax" - $"umax") / lit(1000000L)).cast("long").as("recency_s"),
          $"freq", $"mon_c")
      val bounds = scored.agg(
        percentile($"recency_s", typedLit(Seq(0.2, 0.4, 0.6, 0.8))).as("rb"),
        percentile($"freq", typedLit(Seq(0.2, 0.4, 0.6, 0.8))).as("fb"),
        percentile($"mon_c", typedLit(Seq(0.2, 0.4, 0.6, 0.8))).as("mb"))
      def score(c: org.apache.spark.sql.Column, b: String) =
        lit(1L) + (1 to 4).map(i =>
          when(c > element_at(col(b), i), 1L).otherwise(0L)).reduce(_ + _)
      scored.crossJoin(broadcast(bounds))
        .select($"user_id", $"mon_c",
          score($"recency_s", "rb").as("r_score"),
          score($"freq", "fb").as("f_score"),
          score($"mon_c", "mb").as("m_score"))
        .groupBy($"r_score", $"f_score", $"m_score")
        .agg(count(lit(1)).as("n_users"),
          expr("(sum(mon_c) * 2 + count(1)) div (count(1) * 2)")
            .as("avg_monetary_c"))
        .orderBy($"r_score", $"f_score", $"m_score")
    },
    Some("""WITH peru AS (
           |  SELECT user_id, max(epoch_us(ts)) AS umax, count(*) AS freq,
           |         sum(CASE WHEN event_type = 'purchase'
           |                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS mon_c
           |  FROM events GROUP BY user_id
           |),
           |scored AS (
           |  SELECT user_id,
           |         CAST(((SELECT max(epoch_us(ts)) FROM events) - umax) // 1000000 AS BIGINT) AS recency_s,
           |         freq, mon_c
           |  FROM peru
           |),
           |b AS (
           |  SELECT quantile_cont(recency_s, [0.2, 0.4, 0.6, 0.8]) AS rb,
           |         quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
           |         quantile_cont(mon_c, [0.2, 0.4, 0.6, 0.8]) AS mb
           |  FROM scored
           |),
           |sc AS (
           |  SELECT user_id, mon_c,
           |         1 + (recency_s > rb[1])::BIGINT + (recency_s > rb[2])::BIGINT
           |           + (recency_s > rb[3])::BIGINT + (recency_s > rb[4])::BIGINT AS r_score,
           |         1 + (freq > fb[1])::BIGINT + (freq > fb[2])::BIGINT
           |           + (freq > fb[3])::BIGINT + (freq > fb[4])::BIGINT AS f_score,
           |         1 + (mon_c > mb[1])::BIGINT + (mon_c > mb[2])::BIGINT
           |           + (mon_c > mb[3])::BIGINT + (mon_c > mb[4])::BIGINT AS m_score
           |  FROM scored, b
           |)
           |SELECT r_score, f_score, m_score, count(*) AS n_users,
           |       (CAST(sum(mon_c) AS BIGINT) * 2 + count(*)) // (count(*) * 2) AS avg_monetary_c
           |FROM sc GROUP BY 1, 2, 3
           |ORDER BY 1, 2, 3""".stripMargin),
  )

  /** Top user journeys: each user's first 8 events in (ts, event_id)
    * order concatenated to a path string, counted across users. The
    * 8-event cap bounds per-group state (and output-string width) at
    * any volume; collection is one combinable aggregation per user
    * (in-row sort of ≤ group size, then slice), then a tiny path
    * rollup with a TakeOrdered top-25.
    */
  private val eventsPaths = Q(
    "q_events_paths",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir).events
        .groupBy($"user_id")
        .agg(array_join(
          transform(
            slice(array_sort(collect_list(
              struct($"ts", $"event_id", $"event_type"))), 1, 8),
            x => x("event_type")), ">").as("path"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"n_users".desc, $"path")
        .limit(25)
    },
    Some("""WITH o AS (
           |  SELECT user_id, event_type,
           |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events
           |),
           |p AS (
           |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
           |  FROM o WHERE rn <= 8 GROUP BY user_id
           |)
           |SELECT path, count(*) AS n_users
           |FROM p GROUP BY path
           |ORDER BY n_users DESC, path
           |LIMIT 25""".stripMargin),
  )

  /** Rolling 7-day distinct users per event type — the DAU/WAU-style
    * metric a window function cannot compute distributed (COUNT
    * DISTINCT admits no running state a frame can maintain). The
    * scale-right rewrite: dedup to (type, day, user) once, replicate
    * each row onto the ≤7 observation days it contributes to
    * (`explode(sequence(...))` — expansion bounded by the window
    * length, not the data), and fold with ONE two-phase distinct
    * aggregation on (type, obs_day). Days outside the observed range
    * are clipped against a broadcast scalar row.
    */
  private val windowRollingDistinct = Q(
    "q_window_rolling_distinct",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
      val d = ev.select($"event_type", to_date($"ts").as("day"), $"user_id")
        .distinct()
      val rng = ev.agg(to_date(min($"ts")).as("lo"), to_date(max($"ts")).as("hi"))
      d.select($"event_type",
          explode(sequence($"day", date_add($"day", 6))).as("obs_day"),
          $"user_id")
        .crossJoin(broadcast(rng))
        .filter($"obs_day".between($"lo", $"hi"))
        .groupBy($"event_type", $"obs_day")
        .agg(countDistinct($"user_id").as("u7"))
        .select($"event_type",
          date_format($"obs_day", "yyyy-MM-dd").as("obs_day"), $"u7")
        .orderBy($"event_type", $"obs_day")
    },
    Some("""WITH d AS (
           |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
           |  FROM events
           |),
           |rng AS (
           |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
           |  FROM events
           |),
           |ex AS (
           |  SELECT event_type,
           |         CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
           |              AS DATE) AS od,
           |         user_id
           |  FROM d
           |)
           |SELECT event_type, strftime(od, '%Y-%m-%d') AS obs_day,
           |       count(DISTINCT user_id) AS u7
           |FROM ex, rng WHERE od BETWEEN lo AND hi
           |GROUP BY event_type, od
           |ORDER BY event_type, od""".stripMargin),
  )

  /** The 100-TB path for rolling distinct: the same trailing-7-day
    * metric through the native `hll_distinct` sketch instead of the
    * exact rewrite. Sketches absorb duplicates, so the per-day dedup
    * shuffle disappears ENTIRELY — raw events expand onto their ≤7
    * observation days and fold in ONE aggregation whose partial state
    * is a fixed 4 KiB register array per (type, day); the exchange
    * moves O(groups × 4 KiB) no matter how many events flow in
    * (vs the exact form's full (type, day, user) row stream). Output
    * exposes the register-exact fields so the DuckDB oracle must
    * reproduce every register, not just land near the estimate.
    */
  private val windowRollingDistinctHll = Q(
    "q_window_rolling_distinct_hll",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir).events
      val rng = ev.agg(to_date(min($"ts")).as("lo"), to_date(max($"ts")).as("hi"))
      ev.select($"event_type",
          explode(sequence(to_date($"ts"), date_add(to_date($"ts"), 6)))
            .as("obs_day"),
          $"user_id")
        .crossJoin(broadcast(rng))
        .filter($"obs_day".between($"lo", $"hi"))
        .groupBy($"event_type", $"obs_day")
        .agg(call_function(graft.functions.Hll.DistinctName,
          $"user_id".cast("string")).as("hll"))
        .select($"event_type",
          date_format($"obs_day", "yyyy-MM-dd").as("obs_day"),
          $"hll.nonzero_buckets".as("nonzero_buckets"),
          $"hll.register_sum_scaled".as("register_sum_scaled"),
          round($"hll.estimate", 4).as("u7_estimate"))
        .orderBy($"event_type", $"obs_day")
    },
    Some(s"""WITH h AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |         ${Relational.fnv63Sql("CAST(user_id AS VARCHAR)")} AS h
           |  FROM events
           |),
           |rng AS (
           |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
           |  FROM events
           |),
           |ex AS (
           |  SELECT event_type,
           |         CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
           |              AS DATE) AS od,
           |         h
           |  FROM h
           |),
           |rb AS (
           |  SELECT event_type, od,
           |         ${Relational.fnv63Bucket("h")} AS bucket,
           |         ${Relational.fnv63Tail("h")} AS v
           |  FROM ex, rng WHERE od BETWEEN lo AND hi
           |),
           |regs AS (
           |  SELECT event_type, od, bucket,
           |         max(${Relational.fnv63RankOf("v")}) AS r
           |  FROM rb GROUP BY event_type, od, bucket
           |),
           |agg AS (
           |  SELECT event_type, od,
           |         CAST(count(*) AS BIGINT) AS nonzero_buckets,
           |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
           |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
           |  FROM regs GROUP BY event_type, od
           |)
           |SELECT event_type, strftime(od, '%Y-%m-%d') AS obs_day,
           |       nonzero_buckets, register_sum_scaled,
           |       round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
           |             (register_sum_scaled / 1073741824.0), 4) AS u7_estimate
           |FROM agg
           |ORDER BY event_type, od""".stripMargin),
  )

  val all: Seq[Q] = Seq(ohlcBars, anomalyZscore, transitionMatrix, streamOhlcBars,
    eventsRfm, eventsPaths, windowRollingDistinct, windowRollingDistinctHll)
}
