package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Closed-form pins for the model-eval primitives: OLS against known
  * lines, midrank AUC against hand-computed Mann–Whitney U, the
  * calibration bin/ppm arithmetic against exact floor divisions
  * (including the negative-logit side where truncation ≠ floor).
  */
class MlEvalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("linearProbe recovers an exact line with r2 = 1") {
    import spark.implicits._
    val df = Seq(("g", 1L, 3L), ("g", 2L, 5L), ("g", 3L, 7L))
      .toDF("src", "x", "y")
    val r = MlEval.linearProbe(df, "src", "x", "y").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n") == 3L)
    assert(row.getAs[Double]("slope") == 2.0)
    assert(row.getAs[Double]("intercept") == 1.0)
    assert(row.getAs[Double]("r2") == 1.0)
  }

  test("linearProbe: zero x-variance group yields NULL fit, not a blow-up") {
    import spark.implicits._
    val df = Seq(("g", 2L, 3L), ("g", 2L, 9L)).toDF("src", "x", "y")
    val row = MlEval.linearProbe(df, "src", "x", "y").collect().head
    assert(row.isNullAt(row.fieldIndex("slope")))
    assert(row.isNullAt(row.fieldIndex("intercept")))
    assert(row.isNullAt(row.fieldIndex("r2")))
  }

  test("auc: perfect separation is 1.0, anti-separation is 0.0") {
    import spark.implicits._
    val good = Seq(("g", 10L, 1L), ("g", 9L, 1L), ("g", 2L, 0L), ("g", 1L, 0L))
      .toDF("src", "s", "lbl")
    val g = MlEval.auc(good, "src", "s", "lbl").collect().head
    assert(g.getAs[Double]("auc") == 1.0 && g.getAs[Long]("u2") == 8L)
    val bad = good.withColumn("lbl", lit(1L) - col("lbl"))
    val b = MlEval.auc(bad, "src", "s", "lbl").collect().head
    assert(b.getAs[Double]("auc") == 0.0 && b.getAs[Long]("u2") == 0L)
  }

  test("auc: ties get midrank treatment (hand-computed U = 1.5)") {
    import spark.implicits._
    // pos at score 1 (tied with the only neg) contributes 0.5,
    // pos at score 2 contributes 1 → U = 1.5, AUC = 1.5 / (2·1)
    val df = Seq(("g", 1L, 0L), ("g", 1L, 1L), ("g", 2L, 1L))
      .toDF("src", "s", "lbl")
    val r = MlEval.auc(df, "src", "s", "lbl").collect().head
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 1L)
    assert(r.getAs[Long]("u2") == 3L)
    assert(r.getAs[Double]("auc") == 0.75)
  }

  test("auc: one-class group yields NULL") {
    import spark.implicits._
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L)).toDF("src", "s", "lbl")
    val r = MlEval.auc(df, "src", "s", "lbl").collect().head
    assert(r.isNullAt(r.fieldIndex("auc")) && r.getAs[Long]("n_neg") == 0L)
  }

  test("calibration: exact ppm sigmoid and floor bins on both signs") {
    import spark.implicits._
    // l = -250: bin floor(-250/500) = -1 (truncation would give 0);
    //   score = 500000 + floor(500000·(-250)/1250) = 400000 exactly.
    // l = 750: bin 1; score = 500000 + floor(375e6/1750) = 714285.
    val df = Seq((-250L, 0L), (750L, 1L)).toDF("logit", "lbl")
    val r = MlEval.calibration(df, "logit", "lbl", binWidth = 500L)
      .orderBy("bin").collect()
    assert(r.map(_.getAs[Long]("bin")).toSeq == Seq(-1L, 1L))
    assert(r(0).getAs[Double]("mean_pred_ppm") == 400000.0)
    assert(r(0).getAs[Double]("pos_rate") == 0.0)
    assert(r(1).getAs[Double]("mean_pred_ppm") == 714285.0)
    assert(r(1).getAs[Double]("pos_rate") == 1.0)
  }

  test("prCurve: hand-computed sweep, one row per distinct threshold") {
    import spark.implicits._
    val df = Seq((3L, 1L), (2L, 0L), (1L, 1L), (1L, 0L)).toDF("s", "lbl")
    val r = MlEval.prCurve(df, "s", "lbl").orderBy("thr").collect()
    assert(r.length == 3)
    // t=3: TP=1 FP=0 → P=1, R=.5, F1=2/3; t=2: TP=1 FP=1 → .5/.5/.5;
    // t=1: TP=2 FP=2 → P=.5, R=1, F1=2/3
    def row(i: Int) = (r(i).getAs[Long]("tp"), r(i).getAs[Long]("fp"),
      r(i).getAs[Double]("precision"), r(i).getAs[Double]("recall"),
      r(i).getAs[Double]("f1"))
    assert(row(2) == ((1L, 0L, 1.0, 0.5, 0.666667)))
    assert(row(1) == ((1L, 1L, 0.5, 0.5, 0.5)))
    assert(row(0) == ((2L, 2L, 0.5, 1.0, 0.666667)))
  }

  test("prCurve: an over-cap score support fails loudly instead of " +
    "single-partition-sorting an unbounded histogram") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.graft.scoreSupportMaxRows")
    spark.conf.set("spark.graft.scoreSupportMaxRows", "8")
    try {
      val df = (1L to 32L).map(i => (i, i % 2)).toDF("s", "lbl")
      val ex = intercept[Exception] {
        MlEval.prCurve(df, "s", "lbl").collect()
      }
      assert(ex.getMessage.contains("scoreSupportMaxRows"), ex.getMessage)
      // under the cap the same plan runs fine
      val ok = (1L to 8L).map(i => (i, i % 2)).toDF("s", "lbl")
      assert(MlEval.prCurve(ok, "s", "lbl").count() == 8)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.scoreSupportMaxRows", v)
        case None => spark.conf.unset("spark.graft.scoreSupportMaxRows")
      }
    }
  }

  test("agreement: hand-computed 2x2 kappa") {
    import spark.implicits._
    // cells a11=3 a10=1 a01=1 a00=5 → po=.8, E=52, κ=(80−52)/(100−52)
    val rows = Seq.fill(3)((1L, 1L)) ++ Seq((1L, 0L), (0L, 1L)) ++
      Seq.fill(5)((0L, 0L))
    val r = MlEval.agreement(rows.toDF("a", "b"), "a", "b").collect().head
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("both_keep") == 3L &&
      r.getAs[Long]("only_a") == 1L && r.getAs[Long]("only_b") == 1L &&
      r.getAs[Long]("both_drop") == 5L)
    assert(r.getAs[Double]("po") == 0.8)
    assert(r.getAs[Double]("kappa") == 0.583333)
  }

  test("agreement: constant raters have undefined kappa (NULL), po = 1") {
    import spark.implicits._
    val r = MlEval.agreement(Seq((1L, 1L), (1L, 1L)).toDF("a", "b"), "a", "b")
      .collect().head
    assert(r.getAs[Double]("po") == 1.0)
    assert(r.isNullAt(r.fieldIndex("kappa")))
  }

  test("confusion: hand-computed 3-class table with an absent-pred class") {
    import spark.implicits._
    // actual/pred pairs: en correct 2, en→fr 1, fr correct 1, de→en 1.
    // 'de' is never predicted → NULL precision; every class has support.
    val pairs = Seq(("en", "en"), ("en", "en"), ("en", "fr"),
      ("fr", "fr"), ("de", "en")).toDF("a", "p")
    val r = MlEval.confusion(pairs, "a", "p").orderBy("cls").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("de", "en", "fr"))
    def m(i: Int) = (r(i).getAs[Long]("support"), r(i).getAs[Long]("tp"),
      r(i).getAs[Long]("fp"), r(i).getAs[Long]("fn"))
    assert(m(0) == ((1L, 0L, 0L, 1L)))   // de: never predicted
    assert(r(0).isNullAt(r(0).fieldIndex("precision")))
    assert(r(0).getAs[Double]("recall") == 0.0 && r(0).getAs[Double]("f1") == 0.0)
    assert(m(1) == ((3L, 2L, 1L, 1L)))   // en: P=2/3 R=2/3 F1=2/3
    assert(r(1).getAs[Double]("precision") == 0.666667)
    assert(r(1).getAs[Double]("f1") == 0.666667)
    assert(m(2) == ((1L, 1L, 1L, 0L)))   // fr: P=.5 R=1 F1=2/3
    assert(r(2).getAs[Double]("recall") == 1.0)
  }

  test("confusion: pred-only class has NULL recall") {
    import spark.implicits._
    val r = MlEval.confusion(Seq(("en", "und")).toDF("a", "p"), "a", "p")
      .orderBy("cls").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("en", "und"))
    // und: support 0 → recall NULL, precision 0
    assert(r(1).getAs[Long]("support") == 0L && r(1).getAs[Long]("fp") == 1L)
    assert(r(1).isNullAt(r(1).fieldIndex("recall")))
    assert(r(1).getAs[Double]("precision") == 0.0)
  }

  test("mcnemar: symmetric disagreement reads zero, one-sided reads the corrected chi2") {
    import spark.implicits._
    // b = c = 1 → clamped dev 0 → chi2 0 (not the textbook 1/(b+c));
    // mcc on cells (3,1,1,5): num 14, m1 = 16, m2 = 36 → 14/24
    val sym = Seq.fill(3)((1L, 1L)) ++ Seq((1L, 0L), (0L, 1L)) ++
      Seq.fill(5)((0L, 0L))
    val r = MlEval.mcnemar(sym.toDF("a", "b"), "a", "b").collect().head
    assert(r.getAs[Long]("only_a") == 1L && r.getAs[Long]("only_b") == 1L)
    assert(r.getAs[Double]("mcnemar_chi2") == 0.0)
    assert(r.getAs[Double]("mcc") == 0.583333)
    // b = 5, c = 1 → dev 3 → chi2 = 9/6 = 1.5
    val asym = Seq.fill(5)((1L, 0L)) ++ Seq((0L, 1L)) ++
      Seq.fill(2)((1L, 1L)) ++ Seq.fill(2)((0L, 0L))
    val r2 = MlEval.mcnemar(asym.toDF("a", "b"), "a", "b").collect().head
    assert(r2.getAs[Double]("mcnemar_chi2") == 1.5)
  }

  test("mcnemar: no disagreement and constant raters yield NULLs") {
    import spark.implicits._
    val r = MlEval.mcnemar(Seq((1L, 1L), (0L, 0L)).toDF("a", "b"), "a", "b")
      .collect().head
    assert(r.isNullAt(r.fieldIndex("mcnemar_chi2")))   // b + c = 0
    assert(r.getAs[Double]("mcc") == 1.0)
    val c = MlEval.mcnemar(Seq((1L, 1L), (1L, 0L)).toDF("a", "b"), "a", "b")
      .collect().head
    assert(c.isNullAt(c.fieldIndex("mcc")))            // a never says 0
  }

  test("ece: exact numerator with the per-bin n cancelled; mce is the worst bin") {
    import spark.implicits._
    // bin 0: logits 0 (ppm 500000, lbl 1) and 100 (ppm 545454, lbl 0)
    //   → dev = |1e6 − 1045454| = 45454, per-bin mce 45454 div 2 = 22727
    // bin −1: logit −250 (ppm 400000, lbl 0) → dev = 400000
    val df = Seq((0L, 1L), (100L, 0L), (-250L, 0L)).toDF("logit", "lbl")
    val r = MlEval.ece(df, "logit", "lbl", binWidth = 500L).collect().head
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("n_bins") == 2L)
    assert(r.getAs[Long]("ece_num") == 445454L)
    assert(r.getAs[Long]("mce_ppm") == 400000L)
    assert(r.getAs[Double]("ece") == 0.148485) // 445454 / 3e6
  }

  test("ece: a perfectly calibrated-in-aggregate bin reads zero") {
    import spark.implicits._
    // two logit-0 rows (ppm 500000 each), one positive → dev = 0
    val df = Seq((0L, 1L), (0L, 0L)).toDF("logit", "lbl")
    val r = MlEval.ece(df, "logit", "lbl").collect().head
    assert(r.getAs[Long]("ece_num") == 0L && r.getAs[Double]("ece") == 0.0)
  }

  test("brier: hand-computed decomposition on two singleton bins") {
    import spark.implicits._
    // bin 0: logit 0 → ppm 500000, lbl 1 → sq 25e10, pbar 5e5, ybar_b 1e6
    // bin −1: logit −250 → ppm 400000, lbl 0 → sq 16e10, pbar 4e5, ybar_b 0
    // ybar = 500000; rel = (25e10+16e10)/2e12 = .205; res = 5e11/2e12 = .25
    // brier = 41e10/2e12 = .205; uncertainty = (1·1)/4 = .25
    val df = Seq((0L, 1L), (-250L, 0L)).toDF("logit", "lbl")
    val r = MlEval.brier(df, "logit", "lbl", binWidth = 500L).collect().head
    assert(r.getAs[Long]("n") == 2L && r.getAs[Long]("n_bins") == 2L)
    assert(r.getAs[Double]("brier") == 0.205)
    assert(r.getAs[Double]("reliability") == 0.205)
    assert(r.getAs[Double]("resolution") == 0.25)
    assert(r.getAs[Double]("uncertainty") == 0.25)
  }

  test("brier: an uninformative-but-honest forecaster is all uncertainty") {
    import spark.implicits._
    // logit 0 (p = .5) on a 50/50 label: brier .25 = 0 − 0 + .25
    val df = Seq((0L, 1L), (0L, 0L)).toDF("logit", "lbl")
    val r = MlEval.brier(df, "logit", "lbl").collect().head
    assert(r.getAs[Double]("brier") == 0.25)
    assert(r.getAs[Double]("reliability") == 0.0)
    assert(r.getAs[Double]("resolution") == 0.0)
    assert(r.getAs[Double]("uncertainty") == 0.25)
  }

  test("calibration mean is an exact ratio, not a double accumulation") {
    import spark.implicits._
    // two logits in one bin: l=0 → 500000; l=100 → 500000+floor(5e7/1100)
    // = 545454; mean = 1045454/2 = 522727.0 exactly
    val df = Seq((0L, 1L), (100L, 0L)).toDF("logit", "lbl")
    val r = MlEval.calibration(df, "logit", "lbl").collect().head
    assert(r.getAs[Long]("n") == 2L)
    assert(r.getAs[Double]("mean_pred_ppm") == 522727.0)
    assert(r.getAs[Double]("pos_rate") == 0.5)
  }

  test("poisson thresholds draw mean ~1, capped at 8") {
    import spark.implicits._
    // mean of Poisson(1) is 1: over 5000 hash draws the total weight
    // should sit well inside ±10% — a wrong threshold constant or a
    // truncated hash range would blow this immediately
    val u = expr("fnv63(cast(id as string))")
    val w = MlEval.poissonThresholds
      .map(c => (u >= lit(c)).cast("long")).reduce(_ + _)
    val r = (1L to 5000L).toDF("id")
      .agg(sum(w).as("s"), max(w).as("mx")).collect().head
    assert(math.abs(r.getAs[Long]("s") - 5000L) < 500L)
    assert(r.getAs[Long]("mx") <= 8L)
  }

  test("bootstrapAcc: an all-correct group pins point and CI at exactly 1e6") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => ("g", i, 1L)).toDF("g", "id", "c")
    val out = MlEval.bootstrapAcc(df, "g", "id", "c", reps = 40)
      .collect().head
    assert(out.getAs[Long]("reps_used") == 40L)
    // every resample of all-correct rows scores ns/ns = exactly 1e6
    assert(out.getAs[Long]("acc_ppm") == 1000000L)
    assert(out.getAs[Long]("ci_lo_ppm") == 1000000L)
    assert(out.getAs[Long]("ci_hi_ppm") == 1000000L)
  }

  test("bootstrapAcc: CI brackets the point estimate and lo <= hi") {
    import spark.implicits._
    val df = (1L to 400L).map(i => ("g", i, i % 5L min 1L))
      .toDF("g", "id", "c") // 80% correct
    val r = MlEval.bootstrapAcc(df, "g", "id", "c", reps = 200)
      .collect().head
    val (p, lo, hi) = (r.getAs[Long]("acc_ppm"),
      r.getAs[Long]("ci_lo_ppm"), r.getAs[Long]("ci_hi_ppm"))
    assert(p == 800000L)
    assert(lo <= p && p <= hi && lo < hi)
    // a 95% CI on n=400, p=0.8 is ±~4e4 ppm; 1e5 is a loose sanity band
    assert(hi - lo < 200000L && hi - lo > 10000L)
  }

  test("bootstrapAcc is invariant to input partitioning") {
    import spark.implicits._
    val rows = (1L to 300L).map(i => (s"s${i % 3}", i, (i % 7L) min 1L))
    val a = MlEval.bootstrapAcc(rows.toDF("g", "id", "c"), "g", "id", "c", reps = 60)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val b = MlEval.bootstrapAcc(rows.toDF("g", "id", "c").repartition(7), "g", "id", "c", reps = 60)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }

  test("bootstrapAuc: perfect separation pins point and CI at exactly 1e6") {
    import spark.implicits._
    // scores 1..100 with labels = score > 50: every resample that keeps
    // both classes still separates perfectly → AUC exactly 1e6
    val df = (1L to 100L).map(i => ("g", i, i, if (i > 50) 1L else 0L))
      .toDF("g", "id", "s", "lbl")
    val r = MlEval.bootstrapAuc(df, "g", "id", "s", "lbl", reps = 60)
      .collect().head
    assert(r.getAs[Long]("auc_ppm") == 1000000L)
    assert(r.getAs[Long]("ci_lo_ppm") == 1000000L)
    assert(r.getAs[Long]("ci_hi_ppm") == 1000000L)
    assert(r.getAs[Long]("reps_used") >= 55L) // class-dropping resamples are rare
  }

  test("bootstrapAuc: CI brackets the point, one-class groups drop") {
    import spark.implicits._
    // noisy separation: label thresholds the score with a jittered cut
    val rows = (1L to 400L).map { i =>
      val s = i % 100
      val lbl = if (s > 45 + (i % 11)) 1L else 0L
      ("g", i, s, lbl)
    } ++ (1L to 50L).map(i => ("onecls", 1000L + i, i % 9, 1L))
    val out = MlEval.bootstrapAuc(rows.toDF("g", "id", "s", "lbl"),
      "g", "id", "s", "lbl", reps = 100).collect()
    assert(out.map(_.getString(0)).toSet == Set("g")) // one-class group absent
    val r = out.head
    val (p, lo, hi) = (r.getAs[Long]("auc_ppm"),
      r.getAs[Long]("ci_lo_ppm"), r.getAs[Long]("ci_hi_ppm"))
    assert(lo <= p && p <= hi && lo < hi)
    assert(p > 500000L && p < 1000000L)
  }

  test("bootstrapAuc is invariant to input partitioning") {
    import spark.implicits._
    val rows = (1L to 300L).map(i => (s"s${i % 2}", i, i % 37, (i % 3L) min 1L))
    val a = MlEval.bootstrapAuc(rows.toDF("g", "id", "s", "lbl"),
      "g", "id", "s", "lbl", reps = 60)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val b = MlEval.bootstrapAuc(rows.toDF("g", "id", "s", "lbl").repartition(7),
      "g", "id", "s", "lbl", reps = 60)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }

  test("bootstrapDelta: a gate against itself is exactly zero, not significant") {
    import spark.implicits._
    val df = (1L to 200L).map(i => ("g", i, i % 2L, i % 2L))
      .toDF("g", "id", "ca", "cb")
    val r = MlEval.bootstrapDelta(df, "g", "id", "ca", "cb", reps = 100)
      .collect().head
    assert(r.getAs[Long]("delta_ppm") == 0L)
    assert(r.getAs[Long]("ci_lo_ppm") == 0L)
    assert(r.getAs[Long]("ci_hi_ppm") == 0L)
    assert(r.getAs[Long]("significant") == 0L)
  }

  test("bootstrapDelta: a strictly better gate is significant with a positive CI") {
    import spark.implicits._
    // a is right on 90%, b on 50%, agreeing where both are right —
    // a 40-point paired gap on n=500 is far outside resampling noise
    val df = (1L to 500L).map(i =>
      ("g", i, if (i % 10L == 0L) 0L else 1L, if (i % 2L == 0L) 0L else 1L))
      .toDF("g", "id", "ca", "cb")
    val r = MlEval.bootstrapDelta(df, "g", "id", "ca", "cb", reps = 100)
      .collect().head
    assert(r.getAs[Long]("delta_ppm") == 400000L)
    assert(r.getAs[Long]("ci_lo_ppm") > 0L)
    assert(r.getAs[Long]("significant") == 1L)
  }
}
