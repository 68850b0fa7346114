package graft.queries

import java.io.File

import org.apache.spark.sql.functions._

import graft.{Scratch, Tables}

/** Data-lake layout queries: the storage-side half of the 100-TB
  * story. Z-ordering (q_layout_zorder) covers intra-file clustering;
  * these cover the DIRECTORY layer — hive-style partition pruning and
  * schema evolution — by writing real (tmp) lakes inside the gate
  * query and reading them back, so the round-trip itself is under the
  * oracle: the DuckDB side recomputes from the ORIGINAL table, and any
  * row lost, duplicated, or mis-partitioned by the write/read cycle
  * breaks the hash.
  */
object Lake {

  private def lakeDir(name: String): String =
    new File(Scratch.path("lake"), name).getPath

  /** Hive-partitioned write + statically-pruned read: events land as
    * `event_date=YYYY-MM-DD/` directories (the universal raw-event
    * lake layout — the reference's hourly files are the same idea one
    * level down, `collector/src/main.rs:126-135`), and the read-back
    * filters on a literal date range so Catalyst prunes partitions at
    * PLANNING time — `PartitionFilters` in the scan, directories never
    * listed into the plan (plan-asserted in PlanShapeSpec). At 100 TB
    * this is the difference between scanning a week and scanning
    * years. The filter bounds are derived from min(ts) driver-side
    * (one 1-row agg) so the literal pruning path is exercised rather
    * than a subquery/DPP path.
    */
  private val layoutHivePartitioned = Q(
    "q_layout_hive_partitioned",
    (s, dir) => {
      import s.implicits._
      val path = lakeDir("events_by_date")
      val ev = Tables(s, dir).events
      ev.withColumn("event_date", to_date($"ts"))
        .write.mode("overwrite").partitionBy("event_date").parquet(path)
      val d0 = ev.agg(min(to_date($"ts"))).head().getDate(0).toLocalDate
      val (lo, hi) = (d0.plusDays(7), d0.plusDays(14))
      s.read.parquet(path)
        .filter($"event_date" >= lit(java.sql.Date.valueOf(lo.toString)) &&
          $"event_date" < lit(java.sql.Date.valueOf(hi.toString)))
        .groupBy($"event_date")
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value"), 2).as("sum_value"))
        .select(date_format($"event_date", "yyyy-MM-dd").as("event_date"),
          $"n_events", $"sum_value")
        .orderBy($"event_date")
    },
    Some("""WITH md AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events)
           |SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           |       count(*) AS n_events,
           |       round(sum(value), 2) AS sum_value
           |FROM events, md
           |WHERE CAST(ts AS DATE) >= d0 + 7 AND CAST(ts AS DATE) < d0 + 14
           |GROUP BY 1
           |ORDER BY event_date""".stripMargin),
  )

  /** Schema evolution across lake generations: generation 1 wrote
    * (doc_id, text, n_chars), generation 2 added `lang`. A
    * `mergeSchema` read unifies them — old rows surface the new column
    * as NULL, none are dropped — which is how a long-lived corpus lake
    * absorbs new per-document signals without rewriting petabytes.
    * The aggregation buckets by the (nullable) evolved column, so both
    * the null-backfill and the preserved new-generation values are
    * under the hash.
    */
  private val sourceSchemaEvolution = Q(
    "q_source_schema_evolution",
    (s, dir) => {
      import s.implicits._
      val path = lakeDir("docs_evolving")
      val docs = Tables(s, dir).documents
      docs.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"text", $"n_chars")
        .write.mode("overwrite").parquet(s"$path/gen=1")
      docs.filter($"doc_id" % 2 === 1)
        .select($"doc_id", $"text", $"n_chars", $"lang")
        .write.mode("overwrite").parquet(s"$path/gen=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(coalesce($"lang", lit("(pre-evolution)")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"))
        .orderBy($"lang")
    },
    Some("""SELECT coalesce(CASE WHEN doc_id % 2 = 1 THEN lang END,
           |                '(pre-evolution)') AS lang,
           |       count(*) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents
           |GROUP BY 1
           |ORDER BY lang""".stripMargin),
  )

  /** ORC round-trip with predicate pushdown: the SECOND columnar
    * format a lake interop story needs (parquet everywhere else in
    * this repo; ORC is what Hive-era lakes hand you). The gate writes
    * a zlib ORC lake, reads it back with a selective predicate — ORC
    * carries its own min/max stripe statistics, so the filter pushes
    * into the scan exactly as with parquet — and aggregates; the
    * oracle recomputes from the ORIGINAL parquet table, so any value
    * mangled by the format conversion (type mapping, compression,
    * stats) breaks the hash.
    */
  private val sourceOrcRoundtrip = Q(
    "q_source_orc_roundtrip",
    (s, dir) => {
      import s.implicits._
      val path = lakeDir("lineitem_orc")
      Tables(s, dir).lineitem
        .select($"l_orderkey", $"l_returnflag", $"l_quantity", $"l_extendedprice")
        .write.mode("overwrite").option("compression", "zlib").orc(path)
      s.read.orc(path)
        .filter($"l_quantity" >= 30)
        .groupBy($"l_returnflag".as("flag"))
        .agg(count(lit(1)).as("n"),
          round(sum($"l_extendedprice"), 2).as("revenue"))
        .orderBy($"flag")
    },
    Some("""SELECT l_returnflag AS flag, count(*) AS n,
           |       round(sum(l_extendedprice), 2) AS revenue
           |FROM lineitem
           |WHERE l_quantity >= 30
           |GROUP BY 1
           |ORDER BY flag""".stripMargin),
  )

  /** CSV round-trip with an EXPLICIT read schema — the interchange
    * format that actually moves between teams. Exactness discipline:
    * the written columns are integers and strings only (money as
    * cents), because CSV is a TEXT format and float formatting is
    * where silent corruption lives; the explicit schema on read-back
    * (never inferSchema — a sampling scan at 100 TB, and types decided
    * by whatever rows the sample saw) pins the type mapping under the
    * hash. Reference exports CSV the same way (K3/K4 sinks,
    * `cli/src/main.rs` csv writers).
    */
  private val sourceCsvRoundtrip = Q(
    "q_source_csv_roundtrip",
    (s, dir) => {
      import s.implicits._
      val path = lakeDir("orders_csv")
      Tables(s, dir).orders
        .select($"o_orderkey", $"o_orderpriority",
          round($"o_totalprice" * 100).cast("long").as("cents"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read
        .schema("o_orderkey LONG, o_orderpriority STRING, cents LONG")
        .option("header", "true").csv(path)
        .groupBy($"o_orderpriority".as("priority"))
        .agg(count(lit(1)).as("n"),
          round(sum($"cents") / 100.0, 2).as("total_price"))
        .orderBy($"priority")
    },
    Some("""SELECT o_orderpriority AS priority, count(*) AS n,
           |       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
           |         AS total_price
           |FROM orders
           |GROUP BY 1
           |ORDER BY priority""".stripMargin),
  )

  /** Co-located (bucketed) fact↔fact join: both tables are written
    * `bucketBy(16, orderkey).sortBy(orderkey)`, so the MERGE-hinted
    * join consumes the bucket layout directly — NO exchange on either
    * join side (plan-asserted in PlanShapeSpec; the only Exchange in
    * the whole plan is the final 5-group aggregation). This is the
    * q_replay_bucketed story applied to the canonical fact-fact case:
    * at 100 TB neither lineitem nor orders is broadcastable, and
    * bucketing pays the co-location shuffle ONCE at ingest instead of
    * on every join. The MERGE hint (not a conf flip) is what keeps the
    * gate honest at gate-SF where orders would otherwise be broadcast
    * — hints don't leak session state into other queries. Oracle
    * recomputes from the ORIGINAL parquet, so a row lost or duplicated
    * by the bucketed write/read cycle breaks the hash.
    */
  private val lakeBucketedJoin = Q(
    "q_lake_bucketed_join",
    (s, dir) => {
      import s.implicits._
      val wh = lakeDir("bucketed_wh")
      val t = Tables(s, dir)
      t.lineitem
        .select($"l_orderkey",
          round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
            .cast("long").as("rev_cents"))
        .write.mode("overwrite").option("path", s"$wh/lineitem")
        .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_lake_lineitem")
      t.orders.select($"o_orderkey", $"o_orderpriority")
        .write.mode("overwrite").option("path", s"$wh/orders")
        .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_lake_orders")
      s.table("graft_lake_lineitem")
        .join(s.table("graft_lake_orders").hint("merge"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority".as("priority"))
        .agg(count(lit(1)).as("n"),
          sum($"rev_cents").as("cents"))
        .select($"priority", $"n", round($"cents" / 100.0, 2).as("revenue"))
        .orderBy($"priority")
    },
    Some("""SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
           |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
           |                          AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1
           |ORDER BY priority""".stripMargin),
  )

  /** JSON-lines round-trip with an explicit read schema — the raw-log
    * format itself (the reference's feed capture IS zstd JSONL,
    * `collector/src/main.rs:126-135`; this gates the plain-JSON lake
    * interop path next to CSV and ORC). Same exactness discipline as
    * CSV: integers and strings only in the written lake (money as
    * cents — JSON number formatting of floats is engine-dependent),
    * explicit schema on read-back so no inference scan and no sampled
    * type decisions.
    */
  private val sourceJsonRoundtrip = Q(
    "q_source_json_roundtrip",
    (s, dir) => {
      import s.implicits._
      val path = lakeDir("events_json")
      Tables(s, dir).events
        .select($"event_id", $"event_type", $"user_id",
          round($"value" * 100).cast("long").as("cents"))
        .write.mode("overwrite").json(path)
      s.read
        .schema("event_id LONG, event_type STRING, user_id LONG, cents LONG")
        .json(path)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"cents").as("c"),
          countDistinct($"user_id").as("n_users"))
        .select($"event_type", $"n",
          round($"c" / 100.0, 2).as("total_value"), $"n_users")
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
           |         AS total_value,
           |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           |FROM events
           |GROUP BY 1
           |ORDER BY event_type""".stripMargin),
  )

  /** Single-partition BACKFILL under dynamic partition overwrite —
    * the reprocess-one-day-without-touching-years operation every
    * date-partitioned lake lives by (and the repair path for the
    * reference's hourly capture when one hour's ingest was bad). The
    * gate writes the lake with one day's values deliberately
    * CORRUPTED (doubled), then recomputes only that day and
    * `mode("overwrite")`-writes it under
    * partitionOverwriteMode=dynamic: exactly the touched partition is
    * replaced. The read-back must equal the clean oracle — static
    * overwrite semantics (wiping the untouched days) or a surviving
    * corrupted row both break the hash.
    */
  private val lakePartitionOverwrite = Q(
    "q_lake_partition_overwrite",
    (s, dir) => {
      import s.implicits._
      val path = lakeDir("events_backfill")
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        val ev = Tables(s, dir).events.withColumn("event_date", to_date($"ts"))
        val d0 = ev.agg(min($"event_date")).head().getDate(0)
        ev.withColumn("value",
            when($"event_date" === lit(d0), $"value" * 2).otherwise($"value"))
          .write.mode("overwrite").partitionBy("event_date").parquet(path)
        ev.filter($"event_date" === lit(d0))
          .write.mode("overwrite").partitionBy("event_date").parquet(path)
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(path)
        .groupBy(date_format($"event_date", "yyyy-MM-dd").as("event_date"))
        .agg(count(lit(1)).as("n_events"),
          sum(round($"value" * 100).cast("long")).as("cents"))
        .select($"event_date", $"n_events",
          round($"cents" / 100.0, 2).as("sum_value"))
        .orderBy($"event_date")
    },
    Some("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           |       CAST(count(*) AS BIGINT) AS n_events,
           |       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
           |         AS sum_value
           |FROM events
           |GROUP BY 1
           |ORDER BY event_date""".stripMargin),
  )

  val all: Seq[Q] = Seq(layoutHivePartitioned, sourceSchemaEvolution,
    sourceOrcRoundtrip, sourceCsvRoundtrip, lakeBucketedJoin,
    sourceJsonRoundtrip, lakePartitionOverwrite)
}
