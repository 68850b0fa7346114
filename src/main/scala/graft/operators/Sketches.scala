package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Fixed-bin histogram sketch + approximate quantiles — the
  * deterministic, mergeable alternative to `approx_percentile`
  * (GK/KLL sketches give tighter errors but their state depends on
  * arrival order and implementation; integer bin counts merge by
  * addition and reproduce bit-for-bit in any engine, which is what
  * the oracle gate and any cross-system reconciliation need).
  *
  * Error model: a quantile lands within one bin width
  * ((hi−lo)/bins) of the true value — choose bins to taste; the
  * sketch state is O(bins) longs regardless of input size.
  *
  * Scale shape: binning is a narrow map; the count is ONE groupBy
  * with map-side partial aggregation (the shuffle moves ≤ bins rows
  * per task); everything after operates on the ≤ bins-row histogram —
  * metadata scale, where the single-partition cumulative window is
  * free, not a bottleneck.
  */
object Sketches {

  /** Clamped bin id for `v` in [lo, hi) over `bins` equal widths.
    * Float ops are written in one fixed order ((v−lo)·bins, then the
    * divide) so any engine computes the identical IEEE sequence.
    */
  def binOf(v: Column, lo: Double, hi: Double, bins: Int): Column =
    least(
      greatest(
        floor((v.cast("double") - lit(lo)) * lit(bins.toDouble) / lit(hi - lo))
          .cast("long"),
        lit(0L)),
      lit(bins - 1L))

  /** (bin, cnt) histogram — the mergeable sketch state. */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo, s"histogram: need bins >= 2 and hi > lo")
    df.select(binOf(value, lo, hi, bins).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Approximate quantiles from the histogram: for each q, the
    * smallest bin whose cumulative count reaches ceil(q·n), reported
    * as that bin's UPPER edge (a one-sided ≤ one-bin-width error).
    * Output: (q, bin, approx_value, cum_count, n).
    */
  def histogramQuantiles(
      df: DataFrame,
      value: Column,
      lo: Double,
      hi: Double,
      bins: Int,
      qs: Seq[Double],
  ): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"histogramQuantiles: quantiles must be in (0, 1]")
    quantilesFromHistogram(histogram(df, value, lo, hi, bins), lo, hi, bins, qs)
  }

  /** The quantile read-out over a (bin, cnt) histogram relation —
    * split from [[histogramQuantiles]] so a STREAMING accumulation of
    * the same histogram (complete-mode groupBy(bin), ≤ bins keys of
    * state) can share the finish: the sketch accumulates
    * incrementally; this is a view over its current state. Bins-sized
    * input, so the window functions here are trivial at any corpus
    * scale.
    */
  def quantilesFromHistogram(
      h: DataFrame,
      lo: Double,
      hi: Double,
      bins: Int,
      qs: Seq[Double],
  ): DataFrame = {
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = h.select(
      col("bin"), col("cnt"),
      sum(col("cnt")).over(wCum).as("cum"),
      sum(col("cnt")).over(wAll).as("n"))
    val qdf = explode(array(qs.map(lit): _*)).as("q")
    val picked = cum
      .select(col("bin"), col("cum"), col("n"), qdf)
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col("q"))
      .agg(min(col("bin")).as("bin"))
    picked
      .join(cum, "bin")
      .select(
        col("q"),
        col("bin"),
        (lit(lo) + (col("bin") + 1) * (lit(hi) - lit(lo)) / lit(bins.toDouble))
          .as("approx_value"),
        col("cum").as("cum_count"),
        col("n"))
  }

  // ---------------------------------------------------------------- CMS

  /** Count-min sketch — the frequency member of the sketch family
    * (HLL = distinct, histogram = quantiles, CMS = per-key counts).
    * `depth` hash rows × `width` cells of integer counters; a key's
    * estimate is the MIN of its `depth` cells, which OVERESTIMATES the
    * true count by at most the collision mass (never under — the gate
    * query carries the true count alongside to exhibit `est ≥ true`).
    * Probes are Kirsch-Mitzenmacher double hashes of one md5 digest —
    * the same engine-portable family as MinHash/Bloom, so an external
    * SQL engine reproduces every cell bit-for-bit.
    *
    * Scale shape: the sketch state is ≤ depth×width longs regardless
    * of input size, merges by cell-wise ADDITION (partial aggregation
    * is the merge — map-side combine caps each task's shuffle output
    * at depth×width rows), and the estimate lookup is a broadcast join
    * of the tiny cells relation. This is the 100 TB shape for "how
    * often does each of these keys occur" when an exact per-key
    * groupBy's shuffle (cardinality = full key universe) is the
    * bottleneck and a bounded overestimate is acceptable.
    */
  private val CmsMaxDepth = 8

  /** `(k, r, pos)` probe rows, one per occurrence × hash row:
    * pos = (h1 + r·h2) mod width, 60-bit md5 halves (r ≤ 7 keeps
    * h1 + r·h2 < 2^63 — wrap-free here and in BIGINT oracle math).
    */
  private def cmsProbes(df: DataFrame, key: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= CmsMaxDepth,
      s"cms: depth ($depth) must be in [1, $CmsMaxDepth]")
    require(width >= 2, s"cms: width ($width) must be >= 2")
    // CMS keys must be non-null: md5(NULL) is NULL, so a null key would
    // inflate the sketch with unmatchable NULL-pos cells on the build
    // side and silently estimate 0 on the probe side (the equi-join
    // never matches NULL). Dropped here — on BOTH paths, since cells
    // and estimate share this probe builder.
    df.select(key.as("k"))
      .filter(col("k").isNotNull)
      .select(col("k"), Cols.materialized(md5(col("k"))).as("__hx"))
      .select(col("k"),
        conv(col("__hx").substr(1, 15), 16, 10).cast("long").as("__h1"),
        conv(col("__hx").substr(17, 15), 16, 10).cast("long").as("__h2"))
      .select(col("k"), posexplode(transform(sequence(lit(0), lit(depth - 1)),
        s => (col("__h1") + s.cast("long") * col("__h2")) % lit(width.toLong))))
      .toDF("k", "r", "pos")
  }

  /** The sketch state: `(r, pos, cnt)` — one row per non-empty cell,
    * ≤ depth×width rows total. Mergeable: cells of a union are the
    * cell-wise sums (CmsSpec proves it).
    */
  def cmsCells(df: DataFrame, key: Column, depth: Int, width: Int): DataFrame =
    cmsProbes(df, key, depth, width)
      .groupBy(col("r"), col("pos"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for `keys` (deduplicated) against a [[cmsCells]]
    * sketch built with the SAME depth/width (caller owns that
    * contract): `(k, est)`, est = min over the key's depth cells.
    * A key the sketch never saw reads 0 only if some probed cell is
    * empty; otherwise it reads the (deterministic) collision mass —
    * standard CMS semantics.
    */
  def cmsEstimate(
      cells: DataFrame,
      keys: DataFrame,
      key: Column,
      depth: Int,
      width: Int,
  ): DataFrame =
    cmsProbes(keys.select(key.as("k")).distinct(), col("k"), depth, width)
      .join(broadcast(cells), Seq("r", "pos"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** SKETCH-VERIFIED exact top-k: the SpaceSaving summary's coverage
    * certificate turned into a PROOF of top-k membership. Phase 1
    * sketches the stream into ≤ K candidates plus the deficit Δ, which
    * certifies "any item outside the summary has true count ≤ Δ"
    * (Metwally et al. ICDT 2005). Phase 2 counts ONLY the candidates
    * exactly — a broadcast semi-join keeps the shuffle at ≤ K keys
    * (map-side combine emits ≤ K rows per task), so the verify pass
    * costs one narrow scan, not a full-vocabulary groupBy. Every
    * candidate whose exact count exceeds Δ provably outranks every
    * unreported item, so the exact-count ordering of that set is a
    * PROVEN PREFIX of the true frequency ranking: row r is the true
    * rank-r item, full stop. Returns up to `k` rows
    * (rank, item, cnt) — FEWER than k when the data doesn't support
    * the proof (near-uniform streams where the true k-th count ≤ Δ):
    * short output is the honest "only this much is certifiable"
    * verdict, never a guess. The returned rows are arrival-order-
    * INVARIANT even though the summary isn't: the candidate set and Δ
    * vary with order, but {true > Δ} always contains the true top
    * ranks above Δ and exact counts re-rank them — which is what
    * makes the result gate-able against an exact oracle. Ties break
    * by item ascending (total order, engine-independent).
    */
  def certifiedTopK(items: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 64,
      s"certifiedTopK: k must be in [1, 64] (the summary holds 64 counters), got $k")
    val spark = items.sparkSession
    graft.functions.SpaceSaving.register(spark)
    val it = items.select(col(itemCol).cast("string").as("item"))
    // The summary's final merge is merge-order DEPENDENT (candidates
    // and delta both vary with shuffle-fetch order), and the plan
    // below reads it twice — once for the candidate set, once for the
    // delta in the filter. Two independent executions could observe
    // two DIFFERENT summaries, voiding the proof (an item absent from
    // cand_A is only bounded by delta_A, not delta_B). Settle the
    // one-row summary so both consumers read the SAME materialized
    // merge — the streaming twins get this for free from the memory
    // sink; this is the batch path's equivalent.
    val (sk, _) = Lineage.settle(it
      .agg(call_function(graft.functions.SpaceSaving.Name, col("item")).as("s"))
      .select(col("s.items.item").as("cands"), col("s.delta").as("delta")))
    val cand = sk.select(explode(col("cands")).as("item"))
    val exact = it.join(broadcast(cand), "item")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    exact.crossJoin(broadcast(sk.select(col("delta"))))
      .filter(col("cnt") > col("delta"))
      // global window over ≤ 64 surviving candidates — bounded by K,
      // a structural constant, not the corpus, so WindowExec's "No
      // Partition Defined" warning is vacuous here (a literal
      // partition key does not silence it — Spark 4 folds foldable
      // partition expressions away before WindowExec sees them)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("item"))))
      .filter(col("rank") <= k)
      .select(col("rank"), col("item"), col("cnt"))
  }

  /** Per-GROUP certified exact top-k — [[certifiedTopK]] fanned out
    * across a BOUNDED group dimension (sources, pipelines, cohorts —
    * dimensions that do not grow with the corpus) in the same two
    * passes: one groupBy-group sketch pass (each group's summary is a
    * fixed-size aggregation buffer, map-side combined), one exact
    * count pass restricted to the ≤ 64·|groups| candidate pairs via a
    * broadcast semi-join, then each group's proven prefix under its
    * own Δ. Returns (group, rank, item, cnt) rows — per group up to
    * `k`, fewer where that group's data doesn't support the proof.
    *
    * The bounded-groups precondition is ENFORCED, not prose (the
    * prCurve doctrine): the candidate table broadcast to the verify
    * pass is 64·|groups| rows, so a corpus-growing group column would
    * silently turn the broadcast into the corpus. A row_number over
    * the per-group summary table (already ≤ |groups| rows) raises
    * loudly past `spark.graft.certifiedTopKMaxGroups` (default
    * 10 000 → ≤ 640 k broadcast rows) before the broadcast builds.
    */
  def certifiedTopKGrouped(
      items: DataFrame,
      groupCol: String,
      itemCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64,
      s"certifiedTopKGrouped: k must be in [1, 64], got $k")
    val spark = items.sparkSession
    graft.functions.SpaceSaving.register(spark)
    val groupCap = spark.conf
      .getOption("spark.graft.certifiedTopKMaxGroups").map(_.toLong)
      .getOrElse(10000L)
    val it = items.select(col(groupCol).as("g"),
      col(itemCol).cast("string").as("item"))
    // settled for the same single-materialization reason as
    // [[certifiedTopK]]: per-group summaries are merge-order
    // dependent and read twice (candidates + per-group delta); the
    // settle also runs the group-cap guard exactly once, eagerly
    val (sk, _) = Lineage.settle(it.groupBy(col("g"))
      .agg(call_function(graft.functions.SpaceSaving.Name, col("item")).as("s"))
      .withColumn("__gn", row_number().over(Window.orderBy(col("g"))))
      .select(
        when(col("__gn") > groupCap, raise_error(lit(
          s"certifiedTopKGrouped: more than " +
            s"spark.graft.certifiedTopKMaxGroups=$groupCap groups — the " +
            "group column must be a bounded dimension (sources, cohorts), " +
            "not a corpus-growing key; raise the cap only if the " +
            "64×groups candidate broadcast fits")))
          .otherwise(col("g")).as("g"),
        col("s.items.item").as("cands"), col("s.delta").as("delta")))
    val cand = sk.select(col("g"), explode(col("cands")).as("item"))
    val exact = it.join(broadcast(cand), Seq("g", "item"))
      .groupBy(col("g"), col("item")).agg(count(lit(1)).as("cnt"))
    exact.join(broadcast(sk.select(col("g"), col("delta"))), "g")
      .filter(col("cnt") > col("delta"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("cnt").desc, col("item"))))
      .filter(col("rank") <= k)
      .select(col("g"), col("rank"), col("item"), col("cnt"))
  }
}
