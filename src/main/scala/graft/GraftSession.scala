package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the graft engine: every main (`Bench`,
  * `Verify`, the CLI, the dev tools), the test harness and the
  * benchmark build their session here, so the session that is
  * verified and benched is the one that ships.
  *
  * It installs [[graft.functions.GraftExtensions]], the one catalogue
  * of native SQL functions, so every session and each `newSession()`
  * of it can call all of them and no query registers its own. It runs
  * in UTC, sizes shuffle partitions to `cores` rather
  * than the 200 default, reads nanosecond Parquet timestamps as longs
  * (`Tables.events` converts them), enlarges the codegen cache and
  * scans bucketed tables by bucket.
  * AQE with partition coalescing and skew-join splitting is Spark's
  * default and is left at it; `BenchSpec` pins the effective values.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // a cluster deployment sets
      // spark.sql.extensions=graft.functions.GraftExtensions instead
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Codegen-class cache sized to the engine's workload instead of
      // Spark's 100-entry default: one iterative graph query compiles
      // ~50-250 DISTINCT whole-stage/expression codegen units (the
      // per-round plan text is identical across rounds — rounds 2..n
      // and repeat runs should all be cache hits), but 100 entries is
      // smaller than one query's working set, so the cache churned and
      // every run re-Janino-compiled its whole loop (~2-3 s/run,
      // measured: 116 compiles on every repeat of
      // q_graph_temporal_bw_fastest at the default, 0 at 4096; wall
      // min 25.9 → 21.7 s, process-CPU −22%). A compiled class is a
      // few KB of metaspace — 4096 entries is tens of MB on the
      // driver, scale-independent (the 100-TB cluster compiles the
      // same plan texts). Static conf: must be set at session build.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Bucketed tables are always scanned one task per bucket. A
      // lake replay (`Sinks.readBucketedLake` into the book fold)
      // declares no required distribution, so Spark's automatic rule
      // would scan the lake unbucketed; an asset whose bucket spans
      // several files (an append leaves such buckets) would then sit in
      // several tasks with overlapping key ranges, and the fold would
      // fail on its contract. One task per bucket keeps them disjoint.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores from `SPARK_GRAFT_CPUS`, else every available processor:
    * the parallelism `Bench` and `Verify` run at.
    */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
}
