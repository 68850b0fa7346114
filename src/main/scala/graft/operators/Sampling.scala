package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic weight-proportional sampling — systematic PPS
  * (probability proportional to size; Madow, "On the theory of
  * systematic sampling", 1949): order the corpus by a deterministic
  * hash shuffle, take cumulative weights C_i, and select item i with
  * multiplicity
  *
  *   m_i = ⌊C_i·k/W⌋ − ⌊C_{i−1}·k/W⌋
  *
  * — a size-k sample (Σ m_i = k exactly, telescoping) where
  * E[m_i] = k·w_i/W, entirely in INTEGER arithmetic: no RNG state, no
  * u^(1/w) float keys (whose libm pow/log would diverge across
  * engines), every retry/epoch/oracle selecting the IDENTICAL sample.
  * The hash order stands in for the random permutation systematic
  * sampling needs; fnv63(id) is the engine's cross-engine shuffle key.
  * Items with w_i ≥ W/k are selected with multiplicity ≥ 1
  * deterministically (m_i ≥ ⌊k·w_i/W⌋ — the oversized-unit property
  * of systematic PPS).
  *
  * The 100-TB shape — the naive formulation needs ONE GLOBAL ordered
  * cumsum (a single-partition window, the exact anti-pattern the
  * prCurve guard exists for). Instead, two-level prefix sums:
  * items hash into `buckets` strata; the within-bucket cumsum is a
  * PARTITIONED window (n/B rows each); bucket totals (B rows) get
  * prefix offsets in a bounded B-row window and broadcast back; the
  * global position is `bucket_prefix + within_cumsum`. The global
  * order this realizes is (bucket, hash, id) = (fnv63(id) mod B,
  * fnv63(id), id) — still a deterministic hash shuffle, and a
  * single-node oracle can reproduce it with one plain cumsum over
  * that ORDER BY (different program shape, same integers).
  *
  * Returns the selected rows with `sample_weight` = m_i (≥ 1).
  * Weights must be positive longs — zero/negative weights fail loudly
  * in-plan rather than silently skewing the cumulative line.
  */
object Sampling {

  def systematicPps(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Long,
      buckets: Int = 64,
  ): DataFrame = {
    require(k >= 1, s"systematicPps: k must be >= 1, got $k")
    require(buckets >= 1, s"systematicPps: buckets must be >= 1, got $buckets")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("decimal(38,0)")
    val h = call_function(graft.functions.Fnv63Hash.name, col(idCol).cast("string"))
    val w = when(col(weightCol).cast("long") > 0, col(weightCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("systematicPps: non-positive weight "),
        col(weightCol).cast("string"),
        lit(" — weights must be positive"))))
    val keyed = df
      .withColumn("__h", h)
      .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
      .withColumn("__w", w)
    // within-bucket cumulative weight: a PARTITIONED window
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumIn = keyed.withColumn("__cin", sum(dec(col("__w"))).over(wIn))
    // bucket prefix offsets: ≤ `buckets` rows, bounded window
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = keyed.groupBy(col("__b"))
      .agg(sum(dec(col("__w"))).as("__bt"))
      .withColumn("__prefix", sum(col("__bt")).over(wB) - col("__bt"))
    val totals = prefixes.agg(
      (max(col("__prefix") + col("__bt"))).as("__wtot"))
    val positioned = cumIn
      .join(broadcast(prefixes.select(col("__b"), col("__prefix"))), "__b")
      .crossJoin(broadcast(totals))
      .withColumn("__c", col("__prefix") + col("__cin"))
    positioned
      .withColumn("sample_weight",
        (fdiv(dec(col("__c")) * lit(k), dec(col("__wtot"))) -
          fdiv((dec(col("__c")) - dec(col("__w"))) * lit(k), dec(col("__wtot"))))
          .cast("long"))
      .filter(col("sample_weight") > 0)
      .drop("__h", "__b", "__w", "__cin", "__prefix", "__wtot", "__c")
  }

  /** Fixed-k WITHOUT-REPLACEMENT PPS — exactly k DISTINCT items, the
    * eval-set complement of [[systematicPps]] (whose multiplicities
    * are right for training mixes but wrong where a duplicate row is
    * a correctness bug). The classic take-all/take-some survey
    * design, kept fully deterministic and integer-exact:
    *
    *   1. CERTAINTY CASCADE: any item with w ≥ W/k is selected
    *      outright; removing it shrinks W and k, which can promote
    *      further items. The fixpoint is order-equivalent to a
    *      take-while over the weight-DESCENDING order — item j (with
    *      running sum S_j) is certain iff
    *        w_(j) · (k − j + 1) ≥ W − S_{j−1}
    *      and failure propagates (w_(j+1)(k−j) + w_(j) ≤
    *      w_(j)(k−j+1) < W − S_{j−1}), so the holds-set is a PREFIX
    *      and a plain filter computes the cascade in one pass — no
    *      driver loop. The prefix has ≤ k members, so the pass runs
    *      on the top-k frame only (per-partition top-k + merge, no
    *      global sort shuffle).
    *   2. SYSTEMATIC REMAINDER: [[systematicPps]] with k′ = k − #certain
    *      over the survivors. Every survivor has w·k′ < W′ (that is
    *      exactly where the take-while stopped), so each multiplicity
    *      is 0 or 1 and Σ = k′ — k distinct items total. The contract
    *      is also enforced in-plan: a multiplicity > 1 raises instead
    *      of silently duplicating.
    *
    * Inclusion probability is min(1, k·w_i/W) after the cascade — the
    * PPS ideal. Ties and order are pinned by (w desc, fnv63(id), id),
    * so retries, re-runs, and the DuckDB oracle select the identical
    * set. Requires ≥ k rows (raises otherwise) and positive weights
    * (inherited raise from [[systematicPps]]'s cumulative line).
    *
    * Returns the k selected rows with `certain` = whether the row came
    * from the cascade (its inclusion probability was 1).
    */
  def ppsDistinct(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Long,
      buckets: Int = 64,
  ): DataFrame = {
    require(k >= 1, s"ppsDistinct: k must be >= 1, got $k")
    require(k <= Int.MaxValue, s"ppsDistinct: k must fit an Int, got $k")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val h = call_function(graft.functions.Fnv63Hash.name, col(idCol).cast("string"))
    val w = when(col(weightCol).cast("long") > 0, col(weightCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("ppsDistinct: non-positive weight "),
        col(weightCol).cast("string"),
        lit(" — weights must be positive"))))
    val keyed = df.withColumn("__w", w).withColumn("__h", h)
    val nRows = keyed.count()
    require(nRows >= k,
      s"ppsDistinct: k=$k exceeds the $nRows available rows — " +
        "a without-replacement sample cannot repeat items")
    val total = keyed.agg(sum(dec(col("__w"))).as("__wtot"))
    // the certainty prefix lives inside the top-k frame (≤ k rows, so
    // the unpartitioned window is structurally bounded, the prefixes
    // pattern from systematicPps)
    val wOrd = Window.orderBy(col("__w").desc, col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cert = keyed
      .orderBy(col("__w").desc, col("__h"), col(idCol)).limit(k.toInt)
      .crossJoin(broadcast(total))
      .withColumn("__j", count(lit(1)).over(wOrd))
      .withColumn("__sj", sum(dec(col("__w"))).over(wOrd))
      .filter(dec(col("__w")) * (lit(k) - col("__j") + 1) >=
        col("__wtot") - (col("__sj") - dec(col("__w"))))
    val nCertain = cert.count() // bounded: ≤ k rows by construction
    val certOut = cert
      .select(df.columns.map(col) :+ lit(true).as("certain"): _*)
    if (nCertain >= k) certOut
    else {
      val rest = keyed
        .join(broadcast(cert.select(col(idCol))), Seq(idCol), "left_anti")
        .select(df.columns.map(col): _*)
      val picks = systematicPps(rest, idCol, weightCol, k - nCertain, buckets)
        .withColumn("certain",
          when(col("sample_weight") > 1, raise_error(concat(
            lit("ppsDistinct: remainder multiplicity "),
            col("sample_weight").cast("string"),
            lit(" > 1 — the certainty cascade missed an oversized unit"))))
            .otherwise(lit(false)))
        .drop("sample_weight")
      certOut.union(picks)
    }
  }

  /** STRATIFIED systematic PPS — the training-mix composer: draw a
    * size-k sample whose PER-STRATUM budgets k_g are the exact
    * largest-remainder apportionment of k proportional to stratum
    * weight mass (Hamilton's method: floor every quota
    * k·W_g/W, then hand the leftover seats to the largest
    * fractional remainders — all integer arithmetic, remainders
    * compared by the exact cross-multiplication W·frac ordering with
    * (remainder desc, W_g desc, group) tie-breaks, so both engines
    * apportion identically), then [[systematicPps]] independently
    * WITHIN each stratum. Σ k_g = k exactly, every stratum with
    * positive mass and quota ≥ its floor share, and the within-stratum
    * draw keeps PPS semantics on the stratum's own cumulative line.
    *
    * Scale shape: ONE (group) aggregate for the masses (map-side
    * combined), the apportionment on the ≤|groups| rows in a bounded
    * window, broadcast back; the within-stratum cumulative lines ride
    * the same two-level bucketed prefix sums as [[systematicPps]] but
    * PARTITIONED BY (group, bucket) — no global sort, no per-group
    * driver loop. Groups whose apportionment is 0 are absent from the
    * output. Returns selected rows + `sample_weight` (within-stratum
    * multiplicity) + `k_g` (the stratum's budget).
    */
  def stratifiedPps(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      k: Long,
      buckets: Int = 64,
  ): DataFrame = {
    require(k >= 1, s"stratifiedPps: k must be >= 1, got $k")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def fdiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("decimal(38,0)")
    val h = call_function(graft.functions.Fnv63Hash.name, col(idCol).cast("string"))
    val w = when(col(weightCol).cast("long") > 0, col(weightCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("stratifiedPps: non-positive weight "),
        col(weightCol).cast("string"),
        lit(" — weights must be positive"))))
    val keyed = df
      .withColumn("__g", col(groupCol))
      .withColumn("__w", w)
      .withColumn("__h", h)
      .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
    // ---- apportionment on the bounded per-group mass table
    val masses = keyed.groupBy(col("__g")).agg(sum(dec(col("__w"))).as("__wg"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRem = Window.orderBy(
      (dec(col("__wg")) * k - col("__floor") * col("__wt")).desc,
      col("__wg").desc, col("__g"))
    val alloc = masses
      .withColumn("__wt", sum(dec(col("__wg"))).over(wAll))
      .withColumn("__floor", fdiv(dec(col("__wg")) * lit(k), col("__wt")))
      .withColumn("__spare",
        (lit(k) - sum(col("__floor")).over(wAll)).cast("decimal(38,0)"))
      .withColumn("__r", row_number().over(wRem))
      .withColumn("k_g",
        (col("__floor") + when(col("__r") <= col("__spare"), 1).otherwise(0))
          .cast("long"))
      .select(col("__g"), col("k_g"))
      .filter(col("k_g") > 0)
    // ---- within-stratum systematic PPS, all strata in one plan
    val wIn = Window.partitionBy(col("__g"), col("__b"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumIn = keyed.withColumn("__cin", sum(dec(col("__w"))).over(wIn))
    val wB = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = keyed.groupBy(col("__g"), col("__b"))
      .agg(sum(dec(col("__w"))).as("__bt"))
      .withColumn("__prefix", sum(col("__bt")).over(wB) - col("__bt"))
    val totals = prefixes.groupBy(col("__g"))
      .agg(max(col("__prefix") + col("__bt")).as("__wtot"))
    cumIn
      .join(broadcast(prefixes.select(col("__g"), col("__b"), col("__prefix"))),
        Seq("__g", "__b"))
      .join(broadcast(totals), Seq("__g"))
      .join(broadcast(alloc), Seq("__g"))
      .withColumn("__c", col("__prefix") + col("__cin"))
      .withColumn("sample_weight",
        (fdiv(dec(col("__c")) * col("k_g"), dec(col("__wtot"))) -
          fdiv((dec(col("__c")) - dec(col("__w"))) * col("k_g"), dec(col("__wtot"))))
          .cast("long"))
      .filter(col("sample_weight") > 0)
      .drop("__g", "__h", "__b", "__w", "__cin", "__prefix", "__wtot", "__c")
  }
}
