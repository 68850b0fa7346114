package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** One-pass column profiler — the data-quality surface of the engine:
  * per column, row count, null count, exact distinct count, and
  * min/max (computed on the NATIVE type, then stringified — a
  * lexicographic min over stringified numbers would be wrong).
  *
  * Shape: ONE aggregation over the scan produces a single wide row
  * (5 aggregates per profiled column); the per-column unpivot runs on
  * that one row — driver-scale, free. The multiple COUNT(DISTINCT)s
  * make Catalyst plan an Expand of ×(columns) below the aggregate —
  * the standard exact-distinct cost, fine for profiling runs over a
  * bounded column list. When the expansion is the bottleneck at full
  * scale, swap the distinct leg for the mergeable HLL sketch
  * (`functions.Hll`) — same query shape, one pass, no Expand,
  * ±2% instead of exact.
  */
object Profile {

  /** Profile the named columns of `df`: one output row per column —
    * `(col_name, n_rows, n_null, n_distinct, min_value, max_value)`.
    * Duplicate names are profiled once. Column references are
    * backtick-quoted everywhere, so a legal column name containing a
    * dot profiles correctly instead of being parsed as a nested-field
    * access.
    */
  def profile(df: DataFrame, cols0: Seq[String]): DataFrame = {
    val cols = cols0.distinct
    require(cols.nonEmpty, "profile: need at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such columns: ${missing.mkString(", ")}")
    def q(n: String) = col(s"`$n`")
    val aggs = cols.flatMap { c =>
      Seq(
        count(q(c)).as(s"__${c}__nn"),
        count_distinct(q(c)).as(s"__${c}__nd"),
        min(q(c)).cast("string").as(s"__${c}__min"),
        max(q(c)).cast("string").as(s"__${c}__max"))
    }
    df.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(explode(array(cols.map { c =>
        struct(
          lit(c).as("col_name"),
          col("__n").as("n_rows"),
          (col("__n") - q(s"__${c}__nn")).as("n_null"),
          q(s"__${c}__nd").as("n_distinct"),
          q(s"__${c}__min").as("min_value"),
          q(s"__${c}__max").as("max_value"))
      }: _*)).as("p"))
      .select(col("p.*"))
  }

  /** The at-scale profiler: same one-pass report shape as [[profile]]
    * with the exact-distinct leg swapped for the mergeable HLL sketch
    * (`functions.Hll`, fixed 4 KiB state). Because the sketch is
    * a REGULAR aggregate — not `count_distinct` — Catalyst plans ONE
    * aggregation with NO Expand: the scan is read once regardless of
    * how many columns are profiled, versus the exact profiler's
    * ×(columns) row replication. This is the shape that profiles a
    * 100 TB table: per-task state is (columns × 4 KiB), the shuffle
    * moves one partial row, and distinct counts are ±1.6 %.
    *
    * Output per column: `(col_name, n_rows, n_null, nonzero_buckets,
    * register_sum_scaled, hll_distinct, min_value, max_value)` — the
    * sketch's integer register fields are exposed so an external
    * engine can verify the estimate bit-for-bit (see q_agg_hll_distinct).
    */
  def profileHll(df: DataFrame, cols0: Seq[String]): DataFrame = {
    val cols = cols0.distinct
    require(cols.nonEmpty, "profileHll: need at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profileHll: no such columns: ${missing.mkString(", ")}")
    def q(n: String) = col(s"`$n`")
    val aggs = cols.flatMap { c =>
      Seq(
        count(q(c)).as(s"__${c}__nn"),
        call_function(graft.functions.Hll.DistinctName, q(c).cast("string"))
          .as(s"__${c}__hll"),
        min(q(c)).cast("string").as(s"__${c}__min"),
        max(q(c)).cast("string").as(s"__${c}__max"))
    }
    df.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(explode(array(cols.map { c =>
        struct(
          lit(c).as("col_name"),
          col("__n").as("n_rows"),
          (col("__n") - q(s"__${c}__nn")).as("n_null"),
          q(s"__${c}__hll").getField("nonzero_buckets").cast("long")
            .as("nonzero_buckets"),
          q(s"__${c}__hll").getField("register_sum_scaled")
            .as("register_sum_scaled"),
          round(q(s"__${c}__hll").getField("estimate"), 4).as("hll_distinct"),
          q(s"__${c}__min").as("min_value"),
          q(s"__${c}__max").as("max_value"))
      }: _*)).as("p"))
      .select(col("p.*"))
  }

  /** Grouped at-scale profiler: [[profileHll]] per group — the
    * per-subcorpus quality dashboard (per source / language / shard)
    * every curation run reads before deciding mixture weights. Still
    * ONE aggregation pass with NO Expand; state is (groups × columns ×
    * 4 KiB) of mergeable registers and the shuffle keys on the group
    * column — the natural partitioning when downstream stages (domain
    * caps, mixture sampling) key on the same column. Output one row
    * per (group, column).
    */
  def profileHllBy(df: DataFrame, groupCol: String, cols0: Seq[String]): DataFrame = {
    val cols = cols0.distinct
    require(cols.nonEmpty, "profileHllBy: need at least one column")
    val missing = (groupCol +: cols).filterNot(df.columns.contains)
    require(missing.isEmpty, s"profileHllBy: no such columns: ${missing.mkString(", ")}")
    def q(n: String) = col(s"`$n`")
    val aggs = cols.flatMap { c =>
      Seq(
        count(q(c)).as(s"__${c}__nn"),
        call_function(graft.functions.Hll.DistinctName, q(c).cast("string"))
          .as(s"__${c}__hll"),
        min(q(c)).cast("string").as(s"__${c}__min"),
        max(q(c)).cast("string").as(s"__${c}__max"))
    }
    df.groupBy(q(groupCol))
      .agg(count(lit(1)).as("__n"), aggs: _*)
      .select(q(groupCol), explode(array(cols.map { c =>
        struct(
          lit(c).as("col_name"),
          col("__n").as("n_rows"),
          (col("__n") - q(s"__${c}__nn")).as("n_null"),
          q(s"__${c}__hll").getField("nonzero_buckets").cast("long")
            .as("nonzero_buckets"),
          q(s"__${c}__hll").getField("register_sum_scaled")
            .as("register_sum_scaled"),
          round(q(s"__${c}__hll").getField("estimate"), 4).as("hll_distinct"),
          q(s"__${c}__min").as("min_value"),
          q(s"__${c}__max").as("max_value"))
      }: _*)).as("p"))
      .select(q(groupCol), col("p.*"))
  }

  /** Robust per-group outlier detection — the row-level alarm next to
    * the column-level profile and the snapshot-level [[Drift]]: rows
    * whose value falls outside the Tukey fences [q1 − 1.5·IQR,
    * q3 + 1.5·IQR] of their GROUP's distribution.
    *
    * The quartiles are EXACT integer order statistics, not an
    * approximate sketch: per group, the value histogram's running
    * count gives q_p as the smallest value v with cum(v) ≥ ⌈p·n⌉
    * (integer compare `cum·k ≥ p·k·n`, no floats), and the 1.5
    * factor is cleared by doubling both fence sides — the whole
    * predicate is integer arithmetic, engine-exact.
    *
    * Scale shape: the histogram aggregation shuffles (group, value)
    * pairs — bounded by per-group distinct values, with map-side
    * combine collapsing repeats; the cumulative window partitions by
    * group (parallelism = #groups, rows = distinct values); the
    * quartile table is one row per group, broadcast back onto the
    * row stream. Output: one row per outlier with its group's
    * quartiles and a low/high verdict.
    */
  def robustOutliers(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: String,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(
      col(s"`$idCol`").as("id"),
      col(s"`$groupCol`").as("g"),
      col(s"`$valueCol`").cast("long").as("v"))
    val hist = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("g"))
    val qs = hist
      .withColumn("cum", sum(col("cnt")).over(wcum))
      .withColumn("n", sum(col("cnt")).over(wall))
      .groupBy(col("g"))
      .agg(
        min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("med"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("q3"))
    val iqr = col("q3") - col("q1")
    val low = col("v") * 2 < col("q1") * 2 - iqr * 3
    val high = col("v") * 2 > col("q3") * 2 + iqr * 3
    base
      .join(broadcast(qs), "g")
      .filter(low || high)
      .select(
        col("id").as(idCol),
        col("g").as(groupCol),
        col("v").as("value"),
        col("q1"), col("med"), col("q3"),
        when(low, "low").otherwise("high").as("verdict"))
  }
}
