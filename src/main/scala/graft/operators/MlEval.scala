package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation primitives for a training-data pipeline: the
  * "did the quality model work" pass that closes the curation loop the
  * reference's filter stages open (score → filter → train → EVALUATE).
  * Three operators, each a single aggregation pass in exact integer /
  * DECIMAL(38,0) arithmetic with one terminal double rounding, so the
  * DuckDB hash gate holds bit-for-bit:
  *
  *   - [[linearProbe]] — per-group ordinary-least-squares fit of
  *     y ~ x by the closed-form normal equations (slope, intercept,
  *     R²). The entire fit is ONE map-side-combinable aggregation to
  *     six sufficient statistics per group (n, Σx, Σy, Σxy, Σx², Σy²);
  *     at 100 TB that is a single pass over the corpus and k tiny
  *     rows out — the classic "train a linear probe per domain" shape.
  *   - [[auc]] — exact ROC-AUC per group via the midrank
  *     Mann–Whitney U statistic, computed on the SCORE HISTOGRAM
  *     (group by (g, score), cumulative negatives over distinct
  *     scores) rather than per-row ranks: the window is partitioned
  *     by group and sized by the score support, never the row count.
  *   - [[calibration]] — reliability table (observed positive rate vs
  *     mean predicted probability per score bin), with the predicted
  *     probability carried as an EXACT ppm integer so the per-bin mean
  *     is an exact decimal ratio, not an order-dependent double sum.
  *
  * All division is deferred to the last select and performed on exact
  * decimal operands cast to double with the identical expression shape
  * the oracles use, then rounded — the q_embed cosine discipline.
  */
object MlEval {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Per-group simple OLS `y = b0 + b1·x` via normal equations.
    *
    * Emits (group, n, slope, intercept, r2):
    *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    *   intercept = (ΣyΣx² − ΣxΣxy) / (nΣx² − (Σx)²)
    *   r2 = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    * Numerators/denominators are exact DECIMAL(38,0) (inputs are
    * integral); each output is a single double division of exact
    * operands, rounded to 6 dp. Degenerate groups (zero x-variance →
    * slope undefined; zero y-variance → r2 undefined) yield NULL
    * rather than a division blow-up.
    *
    * Scale shape: one aggregation with map-side partials; no window,
    * no join, no second pass. The 38-digit headroom holds to corpus
    * sums of ~1e18 per product term (x,y ≤ 1e6 and n ≤ 1e12 leaves
    * nΣxy ≤ 1e30).
    */
  def linearProbe(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String,
  ): DataFrame = {
    val x = dec(col(xCol))
    val y = dec(col(yCol))
    val sums = df.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(x).as("sx"),
      sum(y).as("sy"),
      sum(x * y).as("sxy"),
      sum(x * x).as("sxx"),
      sum(y * y).as("syy"),
    )
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val denx = col("n") * col("sxx") - col("sx") * col("sx")
    val deny = col("n") * col("syy") - col("sy") * col("sy")
    val inum = col("sy") * col("sxx") - col("sx") * col("sxy")
    sums.select(
      col(groupCol),
      col("n").cast("long").as("n"),
      when(denx === 0, lit(null)).otherwise(
        round(num.cast("double") / denx.cast("double"), 6)).as("slope"),
      when(denx === 0, lit(null)).otherwise(
        round(inum.cast("double") / denx.cast("double"), 6)).as("intercept"),
      when(denx === 0 || deny === 0, lit(null)).otherwise(
        round((num.cast("double") * num.cast("double")) /
          (denx.cast("double") * deny.cast("double")), 6)).as("r2"),
    )
  }

  /** Per-group exact ROC-AUC of an integer score against a 0/1 label,
    * with the standard midrank treatment of ties:
    *
    *   2U = Σ_over distinct scores s  pos(s) · (2·negBelow(s) + neg(s))
    *   AUC = U / (n₊ · n₋)
    *
    * computed entirely on the (group, score) histogram: a map-side-
    * combinable count, a cumulative-sum window PARTITIONED BY GROUP
    * over the score support (bounded by the score's value range — for
    * the ‰-quantized quality logit ≤ a few thousand distinct values,
    * never the corpus row count), and a final per-group roll-up. `u2`
    * (the doubled U, exact) is emitted alongside the rounded ratio so
    * the gate pins the integer statistic, not just 6 dp of the ratio.
    * Groups with no positives or no negatives have undefined AUC →
    * NULL.
    */
  def auc(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      labelCol: String,
  ): DataFrame = {
    val hist = df
      .groupBy(col(groupCol), col(scoreCol).as("s"))
      .agg(
        sum(col(labelCol).cast("long")).as("pos"),
        (count(lit(1)) - sum(col(labelCol).cast("long"))).as("neg"),
      )
    val w = Window.partitionBy(col(groupCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cumneg", sum(dec(col("neg"))).over(w) - dec(col("neg")))
    val agg = cum.groupBy(col(groupCol)).agg(
      sum(col("pos")).cast("long").as("n_pos"),
      sum(col("neg")).cast("long").as("n_neg"),
      sum(dec(col("pos")) * (lit(2) * col("cumneg") + dec(col("neg")))).as("u2d"),
    )
    agg.select(
      col(groupCol),
      col("n_pos"),
      col("n_neg"),
      // 2U ≤ 2·n₊·n₋ exceeds long headroom past ~4.6e18 pos·neg per
      // group — plausible at the corpus scales this targets. A bare
      // non-ANSI cast would yield NULL silently there, contradicting
      // "the gate pins the exact integer statistic"; fail loudly
      // in-plan instead (the rounded ratio is still computable — the
      // caller that hits this shards the group or reads `auc` only).
      when(col("u2d") > lit(Long.MaxValue).cast("decimal(38,0)"),
        raise_error(concat(lit("auc: doubled Mann-Whitney U "),
          col("u2d").cast("string"),
          lit(" exceeds long headroom; shard the group or drop the u2 column"))))
        .otherwise(col("u2d")).cast("long").as("u2"),
      when(col("n_pos") === 0 || col("n_neg") === 0, lit(null)).otherwise(
        round(col("u2d").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
          6)).as("auc"),
    )
  }

  /** Full precision/recall/F1 threshold sweep of an integer score
    * against a 0/1 label: one row per distinct score value t, scoring
    * "predict positive iff score ≥ t".
    *
    *   TP(t) = Σ_{s ≥ t} pos(s),  FP(t) = Σ_{s ≥ t} neg(s)
    *   precision = TP/(TP+FP),  recall = TP/n₊,
    *   F1 = 2TP / (2TP + FP + FN),  FN = n₊ − TP
    *
    * computed as reverse cumulative sums over the (score) histogram.
    * The descending window is UNPARTITIONED but bounded like
    * `Sketches.quantilesFromHistogram`: its input is the score
    * support (for ‰-quantized logits ≤ a few thousand distinct
    * values), never corpus rows — the histogram aggregation upstream
    * is what touches the data, and it is map-side combined. n₊ rides
    * a 1-row broadcast. TP/FP are emitted as exact longs; the three
    * ratios are single double divisions of exact operands, 6 dp.
    *
    * The "bounded" precondition is ENFORCED, not prose: the support
    * cap (`spark.graft.scoreSupportMaxRows`, default 100 000) is
    * checked IN-PLAN by ranking the histogram rows inside the same
    * descending sort the sweep already pays — an unquantized
    * high-cardinality double score fails loudly on first execution
    * instead of silently single-partition-sorting ever-growing
    * support forever.
    */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val cap = df.sparkSession.conf
      .getOption("spark.graft.scoreSupportMaxRows").map(_.toLong)
      .getOrElse(100000L)
    val hist = df
      .groupBy(col(scoreCol).as("thr"))
      .agg(
        sum(col(labelCol).cast("long")).as("pos"),
        (count(lit(1)) - sum(col(labelCol).cast("long"))).as("neg"),
      )
    // bounded global window: ≤ |score support| rows by construction
    val wDesc = Window.orderBy(col("thr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("pos")).cast("long").as("n_pos"))
    hist
      .withColumn("tp", sum(dec(col("pos"))).over(wDesc))
      .withColumn("fp", sum(dec(col("neg"))).over(wDesc))
      .withColumn("__rn", row_number().over(Window.orderBy(col("thr").desc)))
      .crossJoin(broadcast(tot))
      .select(
        when(col("__rn") > cap,
          raise_error(lit("prCurve: score support exceeds " +
            s"spark.graft.scoreSupportMaxRows=$cap rows - the sweep is " +
            "for quantized scores; bin the score first (e.g. " +
            "Sketches.histogram)")))
          .otherwise(col("thr")).as("thr"),
        col("tp").cast("long").as("tp"),
        col("fp").cast("long").as("fp"),
        round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6).as("precision"),
        when(col("n_pos") === 0, lit(null)).otherwise(
          round(col("tp").cast("double") / col("n_pos").cast("double"), 6))
          .as("recall"),
        when(col("n_pos") === 0, lit(null)).otherwise(
          round((lit(2.0) * col("tp").cast("double")) /
            (col("tp") + col("tp") + col("fp") +
              (col("n_pos") - col("tp"))).cast("double"), 6)).as("f1"),
      )
  }

  /** 2×2 rater agreement with Cohen's kappa — the "do the rule gate
    * and the model gate actually agree" audit run before swapping one
    * filter for the other. For 0/1 columns a and b:
    *
    *   κ = (n·(a₁₁+a₀₀) − E) / (n² − E),
    *   E = (a₁₁+a₁₀)(a₁₁+a₀₁) + (a₀₁+a₀₀)(a₁₀+a₀₀)
    *
    * (the (po−pe)/(1−pe) form cleared of denominators, so numerator
    * and denominator stay EXACT DECIMAL(38,0)). One map-side-
    * combinable aggregation to the four confusion cells; κ is a
    * single double division, 6 dp; degenerate marginals (both raters
    * constant → pe = 1) yield NULL. Emits the cells alongside κ so
    * the gate pins the exact table, not just the summary.
    */
  def agreement(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    val cells = df.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(a * b)).as("a11"),
      sum(dec(a * (lit(1L) - b))).as("a10"),
      sum(dec((lit(1L) - a) * b)).as("a01"),
      sum(dec((lit(1L) - a) * (lit(1L) - b))).as("a00"),
    )
    val e = (col("a11") + col("a10")) * (col("a11") + col("a01")) +
      (col("a01") + col("a00")) * (col("a10") + col("a00"))
    val num = col("n") * (col("a11") + col("a00")) - e
    val den = col("n") * col("n") - e
    cells.select(
      col("n").cast("long").as("n"),
      col("a11").cast("long").as("both_keep"),
      col("a10").cast("long").as("only_a"),
      col("a01").cast("long").as("only_b"),
      col("a00").cast("long").as("both_drop"),
      round((col("a11") + col("a00")).cast("double") / col("n").cast("double"), 6)
        .as("po"),
      when(den === 0, lit(null))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as("kappa"),
    )
  }

  /** Multi-class confusion summary: one row per class (the union of
    * actual and predicted label domains) with the exact confusion
    * masses and the derived one-vs-rest metrics:
    *
    *   tp(c) = |actual=c ∧ pred=c|, fp(c) = |pred=c| − tp,
    *   fn(c) = |actual=c| − tp,
    *   precision = tp/(tp+fp), recall = tp/(tp+fn),
    *   f1 = 2tp/(2tp+fp+fn)
    *
    * Scale shape: ONE map-side-combinable aggregation of the corpus
    * to the (actual, pred) cell table — at most |classes|² rows —
    * and everything after (marginals, the full-outer class-domain
    * join, the metric divisions) runs on that tiny frame. Counts are
    * exact longs; each ratio is a single double division, 6 dp; a
    * class never predicted has NULL precision (0/0), a class never
    * actually present has NULL recall — distinguishing "undefined"
    * from a genuine 0.0 exactly as the oracle does.
    */
  def confusion(df: DataFrame, actualCol: String, predCol: String): DataFrame = {
    val cells = df
      .groupBy(col(actualCol).as("a"), col(predCol).as("p"))
      .agg(count(lit(1)).as("c"))
    val actTot = cells.groupBy(col("a").as("cls")).agg(sum(col("c")).as("support"))
    val predTot = cells.groupBy(col("p").as("cls")).agg(sum(col("c")).as("pred_n"))
    val diag = cells.filter(col("a") === col("p"))
      .select(col("a").as("cls"), col("c").as("tp0"))
    val tp = coalesce(col("tp0"), lit(0L))
    val sup = coalesce(col("support"), lit(0L))
    val pn = coalesce(col("pred_n"), lit(0L))
    val fp = (pn - tp).as("fp")
    val fn = (sup - tp).as("fn")
    actTot
      .join(predTot, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left")
      .select(
        col("cls"),
        sup.cast("long").as("support"),
        tp.cast("long").as("tp"),
        fp.cast("long").as("fp"),
        fn.cast("long").as("fn"),
        when(pn === 0, lit(null)).otherwise(
          round(tp.cast("double") / pn.cast("double"), 6)).as("precision"),
        when(sup === 0, lit(null)).otherwise(
          round(tp.cast("double") / sup.cast("double"), 6)).as("recall"),
        when(pn + sup === 0, lit(null)).otherwise(
          round((lit(2.0) * tp.cast("double")) /
            (pn + sup).cast("double"), 6)).as("f1"),
      )
  }

  /** McNemar's paired test + Matthews correlation between two 0/1
    * gates over the same rows — the companion to [[agreement]] when
    * the question is not "do they agree" but "do they DISAGREE
    * symmetrically": a model gate that flips rule-kept docs to drop
    * far more often than the reverse is a biased replacement even at
    * high kappa. For discordant cells b = |a=1,b=0| and c = |a=0,b=1|:
    *
    *   χ²_cc = (max(|b−c|−1, 0))² / (b+c)    (Edwards-corrected;
    *     clamped at 0 so b = c reads as exactly no asymmetry rather
    *     than the textbook formula's 1/(b+c) artifact; NULL when the
    *     raters never disagree — the test is undefined, not zero)
    *   MCC = (a₁₁a₀₀ − a₁₀a₀₁) / (√(m₁)·√(m₂)),
    *     m₁ = (a₁₁+a₁₀)(a₁₁+a₀₁), m₂ = (a₀₀+a₁₀)(a₀₀+a₀₁)
    *
    * The four cells and both discordant counts ride as exact longs.
    * MCC's denominator is split into TWO √ factors so each exact
    * DECIMAL(38,0) product stays ≤ n² (≤ 1e24 at n = 10¹²row corpora;
    * the single-product form would need n⁴ = 1e48 and overflow);
    * IEEE sqrt is correctly rounded in both engines, so the terminal
    * double expression hashes. Constant raters (a zero marginal) →
    * MCC NULL. Same one-pass cell aggregation as [[agreement]].
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    val cells = df.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(a * b)).as("a11"),
      sum(dec(a * (lit(1L) - b))).as("a10"),
      sum(dec((lit(1L) - a) * b)).as("a01"),
      sum(dec((lit(1L) - a) * (lit(1L) - b))).as("a00"),
    )
    val disc = col("a10") + col("a01")
    val dev = greatest(abs(col("a10") - col("a01")) - lit(1), lit(0))
    val m1 = (col("a11") + col("a10")) * (col("a11") + col("a01"))
    val m2 = (col("a00") + col("a10")) * (col("a00") + col("a01"))
    val mccNum = col("a11") * col("a00") - col("a10") * col("a01")
    cells.select(
      col("n").cast("long").as("n"),
      col("a10").cast("long").as("only_a"),
      col("a01").cast("long").as("only_b"),
      when(disc === 0, lit(null)).otherwise(
        round((dev * dev).cast("double") / disc.cast("double"), 6))
        .as("mcnemar_chi2"),
      when(m1 === 0 || m2 === 0, lit(null)).otherwise(
        round(mccNum.cast("double") /
          (sqrt(m1.cast("double")) * sqrt(m2.cast("double"))), 6)).as("mcc"),
    )
  }

  /** Expected / maximum calibration error of a ‰-logit against a 0/1
    * label, over the same (logit div binWidth) bins and exact-ppm
    * sigmoid as [[calibration]]. The trick that keeps ECE EXACT: the
    * per-bin weight n_b cancels against the bin-mean denominators,
    *
    *   ECE = Σ_b (n_b/N)·|ȳ_b − p̄_b| = Σ_b |10⁶·pos_b − Σppm_b| / (N·10⁶)
    *
    * so the numerator is a plain integer sum (emitted as `ece_num`,
    * headroom: ≤ 10⁶·N, long-safe to N ≈ 9·10¹²) and ECE is one
    * terminal double division. MCE (the worst bin) does need a
    * per-bin division; it is floor-quantized to ppm
    * (`mce_ppm = max_b (dev_b div n_b)`) so both engines agree
    * exactly. One histogram aggregation — bins bounded by the logit
    * range, never the corpus — then a 1-row roll-up.
    */
  def ece(
      df: DataFrame,
      logitCol: String,
      labelCol: String,
      binWidth: Long = 500L,
  ): DataFrame = {
    val l = col(logitCol).cast("long")
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val scorePpm = (lit(500000L) +
      fdiv(lit(500000L) * l, lit(1000L) + abs(l))).as("score_ppm")
    val bin = fdiv(l, lit(binWidth)).as("bin")
    val bins = df
      .select(bin, scorePpm, col(labelCol).cast("long").as("lbl"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("nb"),
        sum(col("lbl")).as("pos"),
        sum(dec(col("score_ppm"))).as("sppm"),
      )
      .withColumn("dev", abs(lit(1000000L) * dec(col("pos")) - col("sppm")))
    bins.agg(
      sum(col("nb")).cast("long").as("n"),
      count(lit(1)).cast("long").as("n_bins"),
      sum(col("dev")).cast("long").as("ece_num"),
      max(fdiv(col("dev"), dec(col("nb")))).cast("long").as("mce_ppm"),
    ).select(
      col("n"), col("n_bins"), col("ece_num"), col("mce_ppm"),
      round(col("ece_num").cast("double") /
        (col("n").cast("double") * lit(1e6)), 6).as("ece"),
    )
  }

  /** Brier score with Murphy's reliability / resolution / uncertainty
    * decomposition over the [[calibration]] bins. The overall score
    * and the uncertainty term are EXACT up to the one terminal double
    * division:
    *
    *   brier = Σ (10⁶·y − score_ppm)² / (N·10¹²)
    *   uncertainty = ȳ(1−ȳ) = P(N−P) / N²
    *
    * (the per-row square is ≤ 10¹², so the DECIMAL(38,0) sum holds to
    * 10²⁶ rows). The two binned terms quantize each bin's mean to ppm
    * by floor division first — p̄_b = Σppm_b div n_b, ȳ_b = 10⁶·P_b
    * div n_b, ȳ = 10⁶·P div N —
    *
    *   reliability ≈ Σ_b n_b(p̄_b − ȳ_b)² / (N·10¹²)
    *   resolution  ≈ Σ_b n_b(ȳ_b − ȳ)²  / (N·10¹²)
    *
    * so every accumulated operand is an exact integer (quantization
    * error ≤ ~2 ppm per bin mean — invisible at 6 dp for any
    * non-degenerate bin, and deterministic either way, which is what
    * the cross-engine gate needs; brier ≈ reliability − resolution +
    * uncertainty holds up to the binning as usual). One corpus
    * aggregation for the score sum + one bin histogram, both
    * map-side combined; everything after runs on ≤|bins| rows.
    */
  def brier(
      df: DataFrame,
      logitCol: String,
      labelCol: String,
      binWidth: Long = 500L,
  ): DataFrame = {
    val l = col(logitCol).cast("long")
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val scorePpm = (lit(500000L) +
      fdiv(lit(500000L) * l, lit(1000L) + abs(l))).as("score_ppm")
    val bin = fdiv(l, lit(binWidth)).as("bin")
    val scored = df.select(bin, scorePpm, col(labelCol).cast("long").as("lbl"))
    val bins = scored
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("nb"),
        sum(col("lbl")).as("pos"),
        sum(dec(col("score_ppm"))).as("sppm"),
        sum(dec(lit(1000000L) * col("lbl") - col("score_ppm")) *
          dec(lit(1000000L) * col("lbl") - col("score_ppm"))).as("sq"),
      )
      .withColumn("pbar", fdiv(col("sppm"), dec(col("nb"))))
      .withColumn("ybar_b", fdiv(lit(1000000L) * dec(col("pos")), dec(col("nb"))))
    val tot = bins.agg(
      sum(col("nb")).cast("decimal(38,0)").as("n"),
      sum(dec(col("pos"))).as("p"),
      sum(col("sq")).as("sq"),
    ).withColumn("ybar", fdiv(lit(1000000L) * col("p"), col("n")))
    val relres = bins
      .crossJoin(broadcast(tot.select(col("ybar"), col("n").as("n_all"))))
      .agg(
        sum(dec(col("nb")) * dec((col("pbar") - col("ybar_b")) *
          (col("pbar") - col("ybar_b")))).as("rel_num"),
        sum(dec(col("nb")) * dec((col("ybar_b") - col("ybar")) *
          (col("ybar_b") - col("ybar")))).as("res_num"),
        count(lit(1)).cast("long").as("n_bins"),
      )
    tot.crossJoin(broadcast(relres)).select(
      col("n").cast("long").as("n"),
      col("n_bins"),
      round(col("sq").cast("double") / (col("n").cast("double") * lit(1e12)), 6)
        .as("brier"),
      round(col("rel_num").cast("double") /
        (col("n").cast("double") * lit(1e12)), 6).as("reliability"),
      round(col("res_num").cast("double") /
        (col("n").cast("double") * lit(1e12)), 6).as("resolution"),
      round((col("p") * (col("n") - col("p"))).cast("double") /
        (col("n").cast("double") * col("n").cast("double")), 6)
        .as("uncertainty"),
    )
  }

  /** Reliability (calibration) table for an integer ‰-scaled logit
    * against a 0/1 label. The logit is squashed with the same
    * algebraic sigmoid as `TextAnalysis.modelQuality` — but kept as an
    * EXACT ppm integer, score_ppm = 500000 + (500000·l) fdiv (1000+|l|)
    * (floor division via the pmod identity, exact in long arithmetic)
    * — so the per-bin mean prediction is an exact decimal ratio, free
    * of double accumulation order. Bins are floor(l / binWidth),
    * again by the pmod identity so Spark's truncating `div` and any
    * floor-division oracle agree on negatives (the subtracted pmod
    * makes the dividend an exact multiple, where truncation = floor).
    *
    * Emits (bin, n, pos, pos_rate, mean_pred_ppm): one histogram
    * aggregation, bin count bounded by the logit range / binWidth.
    * A calibrated model shows pos_rate ≈ mean_pred_ppm/1e6 per bin.
    */
  def calibration(
      df: DataFrame,
      logitCol: String,
      labelCol: String,
      binWidth: Long = 500L,
  ): DataFrame = {
    val l = col(logitCol).cast("long")
    // exact floor division helpers: subtract pmod first, then the
    // quotient of the exact multiple is sign-safe in both engines
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val scorePpm = (lit(500000L) +
      fdiv(lit(500000L) * l, lit(1000L) + abs(l))).as("score_ppm")
    val bin = fdiv(l, lit(binWidth)).as("bin")
    df.select(bin, scorePpm, col(labelCol).cast("long").as("lbl"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("lbl")).as("pos"),
        sum(dec(col("score_ppm"))).as("sppm"),
      )
      .select(
        col("bin"),
        col("n"),
        col("pos"),
        round(col("pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        round(col("sppm").cast("double") / col("n").cast("double"), 2)
          .as("mean_pred_ppm"),
      )
  }

  /** Poisson(1) inverse-CDF thresholds quantized to the fnv63 range
    * [0, 2^63): c(k) = floor(2^63 · e^{-1} · Σ_{j≤k} 1/j!), k = 0..7.
    * A hash u draws resample weight w = |{k : u ≥ c(k)}| ∈ 0..8
    * (the residual mass past 8 is ~1.1e-6; the cap applies in BOTH
    * engines, so determinism survives it). Poisson rather than
    * multinomial resampling is the standard bootstrap for distributed
    * data (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", 2012): weights are independent per row, so a resample
    * is one embarrassingly-parallel map — no global n to coordinate,
    * no shuffle to draw. The constants are 50-digit-precision
    * integers, NOT runtime libm exp() — both engines compare against
    * the identical literals.
    */
  val poissonThresholds: Seq[Long] = Seq(
    3393088950634442637L, 6786177901268885274L, 8482722376586106593L,
    9048237201691847032L, 9189615907968282142L, 9217891649223569164L,
    9222604272766117001L, 9223277504700766692L)

  private def poissonWeight(u: Column): Column =
    poissonThresholds.map(c => (u >= lit(c)).cast("long")).reduce(_ + _)

  /** The deterministic-bootstrap resample table shared by
    * [[bootstrapAcc]] and [[bootstrapDelta]]: rows × reps with weight
    * w_(id,b) = PoissonInv(fnv63(id:b)) — a pure function of the row
    * id and replicate index, so every retry, epoch, and the DuckDB
    * oracle draw the IDENTICAL resamples. Emits (g, b, w, <vals·w>).
    */
  private def resampled(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valCols: Seq[String],
      reps: Int,
  ): DataFrame = {
    val u = call_function(graft.functions.Fnv63Hash.name,
      concat(col(idCol).cast("string"), lit(":"), col("b").cast("string")))
    df.select(Seq(col(groupCol).as("g"), col(idCol).cast("string").as(idCol),
        explode(sequence(lit(1), lit(reps))).as("b")) ++
        valCols.map(c => col(c).cast("long").as(c)): _*)
      .select(Seq(col("g"), col("b"), poissonWeight(u).as("w")) ++
        valCols.map(c => col(c)): _*)
  }

  /** Empirical percentile bounds of a per-(g, b) statistic: for each
    * group with m replicates, ci_lo = the greatest(floor(0.025·m), 1)-th
    * smallest and ci_hi = the (m − floor(0.025·m))-th — rank-based, so
    * no interpolation arithmetic to disagree on. The only window is
    * PARTITION BY g over ≤ reps rows per group (never corpus-sized);
    * ties in the statistic break on the replicate index, a total order.
    */
  private def percentileCi(perRep: DataFrame, statCol: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col(statCol), col("b"))
    val cnt = org.apache.spark.sql.expressions.Window.partitionBy("g")
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    perRep
      .withColumn("rn", row_number().over(win))
      .withColumn("m", count(lit(1)).over(cnt))
      .groupBy(col("g"))
      .agg(
        max(when(col("rn") === greatest(fdiv(col("m") * 25, lit(1000L)), lit(1L)),
          col(statCol))).as("ci_lo_ppm"),
        max(when(col("rn") === col("m") - fdiv(col("m") * 25, lit(1000L)),
          col(statCol))).as("ci_hi_ppm"),
        max(col("m")).as("reps_used"),
      )
  }

  /** Per-group accuracy with a deterministic Poisson(1)-bootstrap
    * 95% CI: the answer to "the quality gate is 83% right on source X
    * — plus or minus WHAT" that a point estimate can't give. One
    * corpus-scan explode to rows × reps (map-local, no extra shuffle
    * vs the plain aggregate: the (g, b) partial aggregation combines
    * map-side to ≤ |groups|·reps rows), a per-group window over ≤ reps
    * rows, exact ppm floor-division arithmetic end to end.
    */
  def bootstrapAcc(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      correctCol: String,
      reps: Int = 200,
  ): DataFrame = {
    require(reps >= 40, s"reps must be >= 40 for a rank-based 95% CI (got $reps)")
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val point = df.groupBy(col(groupCol).as("g")).agg(
      count(lit(1)).cast("long").as("n"),
      fdiv(dec(sum(col(correctCol).cast("long"))) * lit(1000000L),
        dec(count(lit(1)))).as("acc_ppm"))
    val perRep = resampled(df, groupCol, idCol, Seq(correctCol), reps)
      .groupBy(col("g"), col("b"))
      .agg(sum(dec(col("w") * col(correctCol))).as("ks"),
        sum(dec(col("w"))).as("ns"))
      .filter(col("ns") > 0)
      .select(col("g"), col("b"),
        fdiv(lit(1000000L) * col("ks"), col("ns")).as("acc_b_ppm"))
    point.join(percentileCi(perRep, "acc_b_ppm"), "g")
      .select(col("g").as(groupCol), col("n"), col("acc_ppm"),
        col("ci_lo_ppm"), col("ci_hi_ppm"), col("reps_used"))
  }

  /** Per-group exact-midrank AUC with a deterministic Poisson(1)-
    * bootstrap 95% CI — [[auc]]'s histogram path composed with the
    * [[resampled]] machinery. The key scale property: the resample
    * weights MULTIPLY THE HISTOGRAM COUNTS — the per-replicate
    * (g, b, score) histogram is the same map-side-combinable
    * aggregation as the point estimate's, so every replicate's
    * Mann–Whitney sweep runs on the SCORE SUPPORT (window partitioned
    * by (g, b)), never corpus×reps rows. AUCs ride as exact ppm
    * integers (floor division of exact decimals) end to end, so the
    * rank-based percentile CI has no interpolation arithmetic to
    * disagree on. Replicates that lose a class entirely (all-positive
    * or all-negative resample) have undefined AUC and are excluded —
    * `reps_used` reports the survivors; groups one-class in the FULL
    * data drop from the output (their AUC is undefined everywhere),
    * exactly as the oracle's inner join does.
    */
  def bootstrapAuc(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      reps: Int = 200,
  ): DataFrame = {
    require(reps >= 40, s"reps must be >= 40 for a rank-based 95% CI (got $reps)")
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val w = Window.partitionBy(col("g")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // point estimate: the [[auc]] histogram sweep, emitted in exact ppm
    val point = df
      .groupBy(col(groupCol).as("g"), col(scoreCol).as("s"))
      .agg(
        sum(col(labelCol).cast("long")).as("pos"),
        (count(lit(1)) - sum(col(labelCol).cast("long"))).as("neg"))
      .withColumn("cumneg", sum(dec(col("neg"))).over(w) - dec(col("neg")))
      .groupBy(col("g"))
      .agg(
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("neg")).cast("long").as("n_neg"),
        sum(dec(col("pos")) * (lit(2) * col("cumneg") + dec(col("neg"))))
          .as("u2d"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("g"), col("n_pos"), col("n_neg"),
        fdiv(lit(1000000L) * col("u2d"),
          lit(2) * dec(col("n_pos")) * dec(col("n_neg"))).as("auc_ppm"))
    // replicate histograms: weights fold into the (g, b, score) counts
    val wRep = Window.partitionBy(col("g"), col("b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perRep = resampled(df, groupCol, idCol, Seq(scoreCol, labelCol), reps)
      .groupBy(col("g"), col("b"), col(scoreCol).as("s"))
      .agg(
        sum(dec(col("w") * col(labelCol))).as("pos"),
        sum(dec(col("w") * (lit(1L) - col(labelCol)))).as("neg"))
      .withColumn("cumneg", sum(col("neg")).over(wRep) - col("neg"))
      .groupBy(col("g"), col("b"))
      .agg(
        sum(col("pos")).as("np"),
        sum(col("neg")).as("nn"),
        sum(col("pos") * (lit(2) * col("cumneg") + col("neg"))).as("u2"))
      .filter(col("np") > 0 && col("nn") > 0)
      .select(col("g"), col("b"),
        fdiv(lit(1000000L) * col("u2"), lit(2) * col("np") * col("nn"))
          .as("auc_b_ppm"))
    point.join(percentileCi(perRep, "auc_b_ppm"), "g")
      .select(col("g").as(groupCol), col("n_pos"), col("n_neg"),
        col("auc_ppm"), col("ci_lo_ppm"), col("ci_hi_ppm"), col("reps_used"))
  }

  /** Paired-bootstrap accuracy DELTA between two 0/1 gates over the
    * same rows — "is the model BETTER than the rule, or just noisier":
    * each replicate reweights rows once and scores both gates on the
    * identical resample (the pairing is what shrinks the CI below two
    * independent intervals), delta_b = acc_a_b − acc_b_b in exact ppm,
    * significant = the 95% CI excludes zero. Same one-explode shape as
    * [[bootstrapAcc]]; both accuracies ride the same (g, b) partial
    * aggregate.
    */
  def bootstrapDelta(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      aCol: String,
      bCol: String,
      reps: Int = 200,
  ): DataFrame = {
    require(reps >= 40, s"reps must be >= 40 for a rank-based 95% CI (got $reps)")
    def fdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val point = df.groupBy(col(groupCol).as("g")).agg(
      count(lit(1)).cast("long").as("n"),
      (fdiv(dec(sum(col(aCol).cast("long"))) * lit(1000000L), dec(count(lit(1)))) -
        fdiv(dec(sum(col(bCol).cast("long"))) * lit(1000000L), dec(count(lit(1)))))
        .as("delta_ppm"))
    val perRep = resampled(df, groupCol, idCol, Seq(aCol, bCol), reps)
      .groupBy(col("g"), col("b"))
      .agg(sum(dec(col("w") * col(aCol))).as("ka"),
        sum(dec(col("w") * col(bCol))).as("kb"),
        sum(dec(col("w"))).as("ns"))
      .filter(col("ns") > 0)
      .select(col("g"), col("b"),
        (fdiv(lit(1000000L) * col("ka"), col("ns")) -
          fdiv(lit(1000000L) * col("kb"), col("ns"))).as("delta_b_ppm"))
    point.join(percentileCi(perRep, "delta_b_ppm"), "g")
      .select(col("g").as(groupCol), col("n"), col("delta_ppm"),
        col("ci_lo_ppm"), col("ci_hi_ppm"),
        (col("ci_lo_ppm") > 0 || col("ci_hi_ppm") < 0).cast("long")
          .as("significant"))
  }
}
