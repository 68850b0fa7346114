package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Text-analysis operators for a training-data pipeline: language
  * identification (profile-scored), quality features, token counting,
  * and winnowing document fingerprints.
  *
  * All are narrow, codegen-friendly column programs — the only
  * shuffles are the per-doc groupBys, keyed on doc_id, so every
  * operator scales linearly with the corpus and parallelizes by
  * document. Integer/ratio outputs keep results engine-exact for the
  * oracle compare.
  */
object TextAnalysis {

  /** Word-profile language ID: score(doc, lang) = Σ weight(lang, word)
    * over the doc's words (with multiplicity), prediction = the
    * lexicographically-first language among the max scorers — a total,
    * engine-independent tie-break. The profile is a parameter; ships
    * with a small default. (The classic n-gram/stopword heuristic;
    * accuracy is profile-bound, mechanics are what's verified.)
    */
  def langId(docs: DataFrame, profile: Seq[(String, String, Int)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prof = profile.toDF("p_lang", "p_word", "p_weight")
    val words = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
    val scores = words
      .join(broadcast(prof), $"w" === $"p_word")
      .groupBy($"doc_id", $"p_lang")
      .agg(sum($"p_weight").as("score"))
    scores
      .withColumn("mx", max($"score").over(Window.partitionBy($"doc_id")))
      .filter($"score" === $"mx")
      .groupBy($"doc_id")
      .agg(min($"p_lang").as("pred_lang"), max($"mx").as("best_score"))
  }

  /** Default profile: common function words for five languages plus
    * weighted content words so synthetic corpora score non-degenerately.
    */
  val defaultProfile: Seq[(String, String, Int)] = Seq(
    ("en", "the", 3), ("en", "a", 2), ("en", "fast", 1), ("en", "slow", 1),
    ("en", "key", 1),
    ("fr", "le", 3), ("fr", "la", 3), ("fr", "table", 1), ("fr", "ligne", 2),
    ("fr", "query", 1),
    ("es", "el", 3), ("es", "la", 3), ("es", "data", 1), ("es", "stream", 1),
    ("es", "row", 1),
    ("de", "der", 3), ("de", "die", 3), ("de", "und", 2), ("de", "batch", 1),
    ("de", "window", 1),
    ("zh", "big", 1), ("zh", "join", 1), ("zh", "merge", 1), ("zh", "spark", 1),
  )

  /** Quality features per doc: char/word counts, mean word length,
    * stopword ratio, distinct-word ratio, and a composite score in
    * [0, 1] (all ratios of integers → engine-exact; rounded 4 dp).
    */
  def quality(docs: DataFrame, stopwords: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    val base = docs
      // Generate boundary: one split per doc, not one per consumer
      // (see TextDedup.shingles)
      .select($"doc_id", length($"text").as("chars"),
        graft.functions.Cols.materialized(split($"text", " ")).as("ws"))
      .select(
        $"doc_id",
        $"chars",
        size(ws).as("words"),
        size(array_distinct(ws)).as("distinct_words"),
        size(filter(ws, w => w.isin(stopwords: _*))).as("stop_hits"),
      )
    base.select(
      $"doc_id",
      $"chars",
      $"words",
      round(($"chars" - ($"words" - 1)).cast("double") / $"words", 4).as("mean_word_len"),
      round($"stop_hits".cast("double") / $"words", 4).as("stop_ratio"),
      round($"distinct_words".cast("double") / $"words", 4).as("ttr"),
      // composite: favor mid-length docs, lexical diversity, some
      // stopword presence (the usual heuristic quality recipe)
      round(
        least($"words".cast("double") / 100, lit(1.0)) * 0.4 +
          ($"distinct_words".cast("double") / $"words") * 0.4 +
          least($"stop_hits".cast("double") / $"words" * 5, lit(1.0)) * 0.2,
        4).as("quality"),
    )
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** The fused curation gate: [[quality]] features AND [[langId]]
    * prediction in ONE pass over the corpus, appended to the input's
    * columns. Semantically identical to running both operators and
    * joining on doc_id (spec'd so in TextAnalysisSpec) — `pred_lang`
    * is null exactly where [[langId]]'s inner profile join would have
    * dropped the doc (no profile word present).
    *
    * Where [[langId]] explodes words, broadcast-joins the profile,
    * and reduces through two doc-keyed shuffles plus a window, this
    * form exploits the profile being a DRIVER-SIDE CONSTANT: each
    * language's score is folded in-row over the word array
    * (Σ weight × occurrences via `size(filter(ws, _ == word))`), the
    * argmax/tie-break is a `greatest` + first-match `coalesce` chain,
    * and the quality ratios read the same materialized array. The
    * whole gate is therefore a PURE NARROW MAP — zero shuffles, zero
    * joins at any corpus size (plan-shape-asserted) — versus the
    * unfused chain's two full passes, three shuffles, and two joins.
    * The trade is plan-size ∝ profile entries: right for a bounded
    * heuristic profile like [[defaultProfile]]; a 10⁶-word fastText
    * vocabulary would switch back to the exploded broadcast-join form
    * ([[langId]]), which stays the operator for that regime.
    */
  def gate(
      docs: DataFrame,
      stopwords: Seq[String],
      profile: Seq[(String, String, Int)],
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    val byLang = profile.groupBy(_._1).toSeq.sortBy(_._1)
    // One pass per LANGUAGE, not per profile entry: each score is a
    // single `aggregate` over the word array with an O(1) lookup into
    // a literal word→weight map — Σ_w weight(w) ≡ Σ_entries
    // count(w = word)·weight, the same integer. The per-entry
    // `size(filter(ws, _ === word))` form scanned (and re-allocated)
    // the array once per profile WORD — |profile| interpreted scans
    // per document, and an expression tree |profile| wide that every
    // downstream analysis re-walked.
    def langScore(entries: Seq[(String, String, Int)]): Column = {
      val m = typedLit(entries.map { case (_, word, weight) => word -> weight.toLong }.toMap)
      aggregate(ws, lit(0L), (acc, w) => acc + coalesce(element_at(m, w), lit(0L)))
    }
    val stopMap = typedLit(stopwords.map(_ -> 1L).toMap)
    val passThrough = docs.columns.map(col).toSeq
    val scored = docs
      .select(passThrough :+ length($"text").as("chars") :+
        Cols.materialized(split($"text", " ")).as("ws"): _*)
      .select(passThrough ++ Seq(
        $"chars",
        size(ws).as("words"),
        size(array_distinct(ws)).as("distinct_words"),
        aggregate(ws, lit(0L), (acc, w) => acc + coalesce(element_at(stopMap, w), lit(0L)))
          .as("stop_hits")) ++
        byLang.map { case (lang, entries) => langScore(entries).as(s"sc_$lang") }: _*)
    val mx = greatest(byLang.map { case (l, _) => col(s"sc_$l") }: _*)
    scored
      .withColumn("best_score", mx)
      .select(passThrough ++ Seq(
        $"chars",
        $"words",
        round(($"chars" - ($"words" - 1)).cast("double") / $"words", 4).as("mean_word_len"),
        round($"stop_hits".cast("double") / $"words", 4).as("stop_ratio"),
        round($"distinct_words".cast("double") / $"words", 4).as("ttr"),
        round(
          least($"words".cast("double") / 100, lit(1.0)) * 0.4 +
            ($"distinct_words".cast("double") / $"words") * 0.4 +
            least($"stop_hits".cast("double") / $"words" * 5, lit(1.0)) * 0.2,
          4).as("quality"),
        // first language (alphabetical) hitting the max — langId's
        // lexicographic tie-break; null when nothing matched (= the
        // doc langId's inner join would drop)
        when($"best_score" > 0,
          coalesce(byLang.map { case (l, _) =>
            when(col(s"sc_$l") === $"best_score", lit(l))
          }: _*)).as("pred_lang"),
        when($"best_score" > 0, $"best_score").as("best_score"),
      ): _*)
  }

  /** Model-based quality filtering (the fastText/DCLM-style stage): a
    * linear classifier over the heuristic quality features, scored
    * per doc and thresholded into keep/drop. Mechanics over accuracy,
    * as with [[langId]]: the features and plan shape are what a real
    * classifier serves through; the shipped weights are illustrative.
    *
    * Reproducibility contract (what makes this gate-able where a real
    * fastText score is not):
    *   - features are FIXED-POINT integers (‰ ratios via integral
    *     division, both engines truncate positives identically);
    *   - the logit is an integer dot product of integer weights —
    *     exact in any engine;
    *   - the squashing function is the ALGEBRAIC sigmoid
    *     σ̃(x) = 0.5 + x / (2(1+|x|)) — same S-shape and [0,1] range
    *     as the logistic but built from +,×,÷,|·| only, so there is
    *     no libm exp() whose last bit varies by platform. Written in
    *     the same operation order on both sides, rounded 4 dp.
    *
    * Scale shape: the model's parameters are driver-side constants
    * compiled into the plan — the degenerate broadcast — so scoring is
    * a PURE NARROW MAP over the corpus: no shuffle, no join, one pass,
    * whole-stage-codegen'd end to end. A 10⁶-dim fastText vocabulary
    * would swap the literal weights for a broadcast map lookup over
    * exploded words; the per-doc reduction would then be the one
    * doc_id-keyed aggregation, still join-free on the corpus side.
    */
  def modelQuality(
      docs: DataFrame,
      wTtr: Long = 2,
      wStop: Long = 3,
      wLen: Long = 1,
      wMwlDev: Long = -1,
      bias: Long = -1000,
      keep: Seq[String] = Nil,
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    // label/grouping passthrough (e.g. source, lang) so eval queries
    // (MlEval.auc/calibration) don't need a join back on doc_id — the
    // whole score+label derivation stays one narrow zero-shuffle map
    val kc = keep.map(col)
    val base = docs
      .select(Seq($"doc_id", length($"text").as("chars"),
        graft.functions.Cols.materialized(split($"text", " ")).as("ws")) ++ kc: _*)
      .select(Seq(
        $"doc_id",
        $"chars".cast("long").as("chars"),
        size(ws).cast("long").as("words"),
        size(array_distinct(ws)).cast("long").as("distinct_words"),
        size(filter(ws, w => w.isin(defaultStopwords: _*))).cast("long")
          .as("stop_hits"),
      ) ++ kc: _*)
    val feats = base.select(Seq(
      $"doc_id",
      expr("(distinct_words * 1000) div words").as("ttr_m"),
      expr("(stop_hits * 1000) div words").as("stop_m"),
      least($"words" * 10, lit(1000L)).as("len_m"),
      // deviation from a 5.0-char mean word length, in ‰
      abs(expr("((chars - (words - 1)) * 1000) div words") - 5000L).as("dev_m"),
    ) ++ kc: _*)
    val logit =
      lit(wTtr) * $"ttr_m" + lit(wStop) * $"stop_m" +
        lit(wLen) * $"len_m" + lit(wMwlDev) * $"dev_m" + lit(bias)
    val x = $"logit_scaled".cast("double") / 1000.0
    feats
      .select(Seq($"doc_id", $"ttr_m", $"stop_m", $"len_m", $"dev_m",
        logit.as("logit_scaled")) ++ kc: _*)
      .select(Seq(
        $"doc_id", $"ttr_m", $"stop_m", $"len_m", $"dev_m", $"logit_scaled",
        round(lit(0.5) + x / (lit(2.0) * (lit(1.0) + abs(x))), 4).as("score"),
        when($"logit_scaled" >= 0, "keep").otherwise("drop").as("verdict"),
      ) ++ kc: _*)
  }

  /** Token counts: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single non-alphanumerics — the
    * GPT-2-style pretokenizer shape), chars per regex token.
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      // materialize the regex count once; the alias would otherwise be
      // inlined into both consumers below (see TextDedup.shingles)
      .select($"doc_id",
        size(split($"text", " ")).as("ws_tokens"),
        length($"text").as("chars"),
        graft.functions.Cols.materialized(
          regexp_count($"text", lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))).as("regex_tokens"))
      .select(
        $"doc_id",
        $"ws_tokens",
        $"regex_tokens",
        $"chars",
        round($"chars".cast("double") / greatest($"regex_tokens", lit(1)), 4)
          .as("chars_per_token"),
      )
  }

  /** Skip-gram (center, context) pair counts — word2vec's training
    * data (Mikolov et al., NIPS '13): every token paired with its
    * neighbors within ±`window` positions, counted corpus-wide. The
    * formulation is the scale decision: a position-band self-join of
    * the token table does per-document L² work (one 10⁶-token
    * document → 10¹² candidates on that document's join key — the
    * long-doc skew bomb); here each token EXPLODES into its 2·window
    * candidate context positions and equi-joins on (doc_id,
    * position) — exactly 2·window rows per token, linear in corpus
    * size, no amplification on long documents. Map-side combine then
    * collapses pairs before the count shuffle. Empty tokens (runs of
    * spaces) are dropped; surviving tokens keep their original
    * positions, so a dropped token still separates its neighbors.
    * Returns (center, context, pair_count).
    */
  def skipGramPairs(docs: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"skipGramPairs: window must be >= 1, got $window")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select($"doc_id", posexplode(split($"text", " ")))
      .toDF("doc_id", "pos", "word")
      .filter($"word" =!= "")
    val offsets = array((-window to window).filter(_ != 0).map(lit): _*)
    toks.as("c")
      .withColumn("d", explode(offsets))
      .withColumn("ctx_pos", $"pos" + $"d")
      .join(toks.as("o"),
        $"c.doc_id" === $"o.doc_id" && $"ctx_pos" === $"o.pos")
      .groupBy($"c.word".as("center"), $"o.word".as("context"))
      .agg(count(lit(1)).as("pair_count"))
  }

  /** Phrase-candidate scoring (Mikolov et al., NIPS '13 §4: "data
    * driven approach" to multi-word tokens): adjacent-bigram
    * collocation score (c_ab − δ)·N / (c_a·c_b), the discounted-PMI
    * variant that word2vec's phrase pass uses to merge "new_york"
    * before training. Arithmetic is exact: counts are longs, the
    * score is computed ×1000 in decimal(38,0) (HUGEINT on the oracle
    * side) — no floats, no overflow at any corpus size where counts
    * fit a long. Shapes: bigrams come from the same skew-free
    * (doc_id, position) equi-join as [[skipGramPairs]] (no per-doc
    * window sort), both count aggregations are map-side combinable,
    * the scalar N rides a 1-row broadcast, and the two unigram-count
    * joins are vocabulary-keyed. Returns (a, b, pair_count,
    * score_m) for pairs with pair_count ≥ `minCount`.
    */
  def phraseCandidates(docs: DataFrame, minCount: Long, delta: Long = 1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select($"doc_id", posexplode(split($"text", " ")))
      .toDF("doc_id", "pos", "word")
      .filter($"word" =!= "")
      .localCheckpoint(true)
    val uni = toks.groupBy($"word").agg(count(lit(1)).as("c_w"))
    val n = toks.agg(count(lit(1)).cast("decimal(38,0)").as("n_tokens"))
    val bi = toks.as("l")
      .join(toks.as("r"),
        $"l.doc_id" === $"r.doc_id" && $"r.pos" === $"l.pos" + 1)
      .groupBy($"l.word".as("a"), $"r.word".as("b"))
      .agg(count(lit(1)).as("pair_count"))
      .filter($"pair_count" >= minCount)
    bi
      .join(uni.select($"word".as("a"), $"c_w".as("c_a")), "a")
      .join(uni.select($"word".as("b"), $"c_w".as("c_b")), "b")
      .crossJoin(broadcast(n))
      .select($"a", $"b", $"pair_count",
        // floor ≡ truncation for the positive operands here — the one
        // division semantics Spark decimals and DuckDB HUGEINT agree on
        floor(($"pair_count" - delta).cast("decimal(38,0)") * $"n_tokens" * 1000 /
          ($"c_a".cast("decimal(38,0)") * $"c_b"))
          .cast("long").as("score_m"))
  }

  /** Frequent-word subsampling (Mikolov et al., NIPS '13 §2.3): drop
    * each token occurrence of word w with probability
    * 1 − sqrt(t / f(w)) — the pass that thins "the"/"of" before
    * skip-gram extraction so training pairs aren't dominated by
    * stopword co-occurrences. Two determinism moves make it exact and
    * cross-engine: (1) the coin is the fnv63 hash of (doc, position,
    * word) reduced mod 10⁶ — a pure function of the corpus, so every
    * epoch, retry, and the oracle keep the SAME tokens; (2) the
    * keep test `coin/M < sqrt(t·N/c_w)` is squared into pure integer
    * arithmetic — keep iff coin²·c_w < t_ppm·N·M²/10⁶ — so no
    * engine ever evaluates a square root (decimal(38,0) on the Spark
    * side, HUGEINT in DuckDB; products stay < 10²⁵). Shapes: tokens
    * narrow-derive from docs, the count join is vocabulary-keyed, N
    * rides a 1-row broadcast, the verdict is a codegen'd comparison.
    * Returns per-word (orig_count, kept_count) — the corpus
    * accounting a pipeline records for the pass.
    */
  def subsampleTokens(docs: DataFrame, tPpm: Long): DataFrame = {
    require(tPpm >= 1, s"subsampleTokens: tPpm must be >= 1, got $tPpm")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select($"doc_id", posexplode(split($"text", " ")))
      .toDF("doc_id", "pos", "word")
      .filter($"word" =!= "")
      .localCheckpoint(true)
    val uni = toks.groupBy($"word").agg(count(lit(1)).as("c_w"))
    val n = toks.agg(count(lit(1)).as("n_tokens"))
    val coin = expr(
      "fnv63(concat(cast(doc_id as string), '_', cast(pos as string), '_', word))") % 1000000L
    toks
      .join(uni, "word")
      .crossJoin(broadcast(n))
      .withColumn("keep",
        coin * coin * $"c_w".cast("decimal(38,0)") <
          lit(tPpm) * $"n_tokens".cast("decimal(38,0)") * 1000000L)
      .groupBy($"word")
      .agg(count(lit(1)).as("orig_count"),
        sum(when($"keep", 1L).otherwise(0L)).as("kept_count"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    * word k-gram at its position, slide a w-hash window, keep each
    * window's min hash; a doc's fingerprint is the distinct selected
    * set. Output: per-doc fingerprint count + an order-canonical
    * digest of the set.
    *
    * The whole computation happens INSIDE each document's row — gram
    * hashes as an array, sliding min via `array_min(slice(...))`,
    * dedup via `array_distinct`, canonical digest via
    * `array_sort`+`array_join` — so the operator is a pure narrow map:
    * zero shuffles at any corpus size. (The window-function
    * formulation shuffled the exploded gram table four times; a
    * document's grams always fit one row, so none of those shuffles
    * bought anything.) Documents with fewer than w full windows have
    * no fingerprints and are excluded, matching the windowed form.
    * Each intermediate array is materialized through a Generate
    * boundary so CollapseProject can't re-inline it per consumer (see
    * TextDedup.shingles).
    */
  def winnowing(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    val grams = transform(
      sequence(lit(1), size(ws) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(ws, i + j)): _*))
    docs
      .select($"doc_id", graft.functions.Cols.materialized(split($"text", " ")).as("ws"))
      .select($"doc_id", graft.functions.Cols.materialized(
        when(size(ws) >= k, transform(grams, g => md5(g))).otherwise(array())).as("hs"))
      .filter(size($"hs") >= w) // no full window → no fingerprints
      .select($"doc_id", graft.functions.Cols.materialized(
        array_distinct(transform(
          sequence(lit(1), size($"hs") - (w - 1)),
          p => array_min(slice($"hs", p, lit(w)))))).as("fps"))
      .select(
        $"doc_id",
        size($"fps").as("n_fingerprints"),
        md5(array_join(array_sort($"fps"), ",")).as("fingerprint_digest"),
      )
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (k1/b are the classic defaults at the call site). Cross-engine
    * determinism: the idf is the RATIO form (N - df + 0.5)/(df + 0.5)
    * — no transcendentals, so Spark and the DuckDB oracle compute
    * bit-identical doubles — and each (term, doc) contribution is
    * quantized to an integer (×10⁴) BEFORE the per-doc sum, making the
    * aggregation order-free. Scale shape: tokens are filtered to the
    * query-term IN-set BEFORE any shuffle, so the tf/df aggregations
    * move only the query terms' postings, never the corpus vocabulary;
    * df and avgdl are 1-row/tiny broadcasts.
    *
    * Output: (doc_id, score_q BIGINT, n_hits) for docs matching ≥ 1
    * query term.
    */
  def bm25(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double,
      b: Double,
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dl = docs.select($"doc_id", size(split($"text", " ")).as("dl"))
    // scalar stats as a 1-row broadcast: the distributed idiom for a
    // global constant (no driver-side collect in the operator)
    val stats = dl.agg(
      sum($"dl").cast("double").as("sum_dl"),
      count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term".isin(queryTerms: _*)) // before the shuffle
      .groupBy($"doc_id", $"term").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).cast("double").as("df"))
    tf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"doc_id",
        // idf ratio and the tf normalizer: plain IEEE arithmetic only.
        // Association order mirrors the oracle SQL exactly — with no
        // transcendentals, identical shape means identical doubles.
        (($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) *
          ($"tf" * lit(k1 + 1)) /
          ($"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"dl" / ($"sum_dl" / $"n_docs"))))
          .as("contrib"))
      .select($"doc_id", round($"contrib" * 10000).cast("long").as("c_q"))
      .groupBy($"doc_id")
      .agg(sum($"c_q").as("score_q"), count(lit(1)).as("n_hits"))
  }

  /** Per-document TF-IDF keyword extraction — the metadata-enrichment
    * stage a retrieval/clustering pipeline runs over the corpus: the
    * top-k corpus-weighted terms of each document. Cross-engine
    * determinism follows [[bm25]]: idf is the ratio form
    * `(N - df + 0.5)/(df + 0.5)` (no transcendentals, so Spark and the
    * DuckDB oracle compute bit-identical doubles) and the score is
    * quantized (×100) to BIGINT before ranking.
    *
    * Scale shape: the stopword + short-term filter runs BEFORE the
    * (doc, term) count, so the corpus-token shuffle carries only
    * surviving postings with map-side combine applied; df is a second
    * vocabulary-sized aggregate over the already-collapsed (doc, term)
    * pairs; top-k-per-doc is `row_number <= k`, which Catalyst rewrites
    * to WindowGroupLimit (map tasks truncate each doc's group to k
    * before the exchange).
    */
  def tfidfKeywords(docs: DataFrame, k: Int, stopwords: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter(length($"term") >= 3 && !$"term".isin(stopwords: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .select($"doc_id", $"term", $"tf",
        round($"tf".cast("double") * ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) * 100)
          .cast("long").as("score_q"))
      .withColumn("rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"doc_id").orderBy($"score_q".desc, $"term")))
      .filter($"rank" <= k)
  }

  /** Test-set decontamination: flag training documents that share any
    * word n-gram with a benchmark/eval set (the standard n-gram-overlap
    * decontamination pass a pretraining pipeline runs before training).
    * `bench` has columns (bench_id, text); output is one row per
    * CONTAMINATED doc: (doc_id, n_grams, n_matched_grams, n_bench_docs,
    * contamination) where contamination = matched/total distinct grams
    * (integer ratio → engine-exact, rounded 4 dp).
    *
    * Scale shape: the benchmark is orders of magnitude smaller than the
    * corpus, so its distinct-gram table is BROADCAST and the corpus side
    * never shuffles at full width — each doc's grams are built as one
    * array row ([[TextDedup.shingleArrays]], narrow), exploded, and
    * hash-joined against the broadcast in the same stage. The only
    * exchange carries (doc, matched-gram) rows, i.e. the contamination
    * hits, not the corpus. The per-doc gram totals join is inner against
    * the (small) hit set, which AQE turns into a broadcast.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    val bg = TextDedup
      .shingles(bench.select(col("bench_id").as("doc_id"), col("text")), n)
      .select(col("doc_id").as("bench_id"), col("sh"))
    val arr = TextDedup.shingleArrays(docs, n)
    val hits = arr
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .join(broadcast(bg), "sh")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("sh")).as("n_matched_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    arr
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_grams"))
      .join(hits, "doc_id")
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_matched_grams"),
        col("n_bench_docs"),
        round(col("n_matched_grams").cast("double") / col("n_grams"), 4)
          .as("contamination"))
  }

  /** Corpus-statistics language-model proxy: score every document by
    * how RARE its word bigrams are corpus-wide (the cheap stand-in for
    * n-gram-LM perplexity filtering — docs full of never-seen-elsewhere
    * transitions are the ones a KenLM-style quality gate flags). All
    * outputs are integers or integer ratios, so the score is
    * hash-comparable across engines with no transcendentals.
    *
    * Two linear passes, both shuffle-bounded by DISTINCT-per-doc grams,
    * not occurrences: bigrams are assembled in-row (narrow), exploded,
    * and reduced to (doc_id, gram, tf) — hash partial aggregation
    * collapses a document's repeats on the map side, so the exchange
    * carries per-doc distinct grams. Pass 1 sums tf per gram (partial
    * aggregation absorbs hot grams); pass 2 joins gram counts back
    * (sort-merge, exactly one build row per key — no skew
    * amplification) and re-aggregates per doc. Output per doc:
    * n_bigrams (occurrences), n_distinct, n_rare (occurrences of grams
    * with corpus count ≤ maxCount), min_freq, sum_freq, rare_ratio.
    */
  def rareBigrams(docs: DataFrame, maxCount: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    val grams = transform(
      sequence(lit(1), size(ws) - 1),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)))
    val docGrams = docs
      .select($"doc_id", graft.functions.Cols.materialized(split($"text", " ")).as("ws"))
      .filter(size(ws) >= 2)
      .select($"doc_id", explode(grams).as("gram"))
      .groupBy($"doc_id", $"gram")
      .agg(count(lit(1)).as("tf"))
    val corpus = docGrams.groupBy($"gram").agg(sum($"tf").as("cf"))
    docGrams
      .join(corpus, "gram")
      .groupBy($"doc_id")
      .agg(
        sum($"tf").as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        sum(when($"cf" <= maxCount, $"tf").otherwise(0L)).as("n_rare"),
        min($"cf").as("min_freq"),
        sum($"tf" * $"cf").as("sum_freq"),
      )
      .withColumn("rare_ratio",
        round($"n_rare".cast("double") / $"n_bigrams", 4))
  }

  /** Bigram language-model scoring with a TRAIN/SCORE split — the real
    * CCNet/KenLM-style perplexity gate ([[rareBigrams]] is the cheap
    * corpus-statistics proxy): a bigram model with add-one smoothing is
    * fit on a reference slice, every document is scored by its mean
    * smoothed transition probability, and the corpus is cut into the
    * classic head / middle / tail terciles by that score (tail = least
    * reference-like = what CCNet drops or downweights).
    *
    * Reproducibility contract: true perplexity exponentiates a mean
    * log-prob — libm territory. Instead each transition's smoothed
    * probability is QUANTIZED to parts-per-`scale` by integral
    * division, p_ppm = ((c12 + 1) · scale) div (c1 + V), and a doc's
    * score is the tf-weighted integer mean. Monotone in the geometric
    * mean's ranking for the gate's purpose, and bit-identical in any
    * engine. Tercile cuts are EXACT integer order statistics, not a
    * sampled approximation: the smallest score t_k with
    * 3·|{score ≤ t_k}| ≥ k·n.
    *
    * Scale shape: the model is a TABLE, never a driver-side object —
    * (w1,w2)→c12 and w1→c1 join the corpus's per-doc DISTINCT bigram
    * table by key (map-side combine collapses repeats before the
    * exchange; AQE broadcasts the model when it is small, sort-merge
    * otherwise); V is a 1-row broadcast. The tercile pass runs over the
    * score HISTOGRAM — ≤ scale+1 integer values regardless of corpus
    * size — so its single-partition cumulative window is bounded work.
    * The scored table is persisted across its two consumers (histogram
    * + final labeling).
    */
  /** Trigram "stupid backoff" scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the scoring rule built
    * FOR distributed count tables: no normalization pass, no discount
    * estimation, a fixed 0.4 penalty per backoff level; what web-scale
    * pipelines use when a KenLM fit is too expensive). Per doc trigram
    * (w1,w2,w3):
    *
    *   S = c123/c12           if the trigram is in the model
    *     | 0.4 · c23/c2       else if the (w2,w3) bigram is
    *     | 0.4² · c3/N        else (0 when w3 itself is unseen)
    *
    * Integer contract (same discipline as [[bigramModelScore]]):
    * probabilities quantize to parts-per-`scale` with `div`, the 0.4
    * factors are ·2 div 5 (·4 div 25 at two levels), and the doc score
    * is the tf-weighted integer mean — bit-identical in any engine.
    *
    * Scale shape: EVERY count table — c123 and all four marginals plus
    * the scalar N — derives from one persisted trigram rollup of the
    * reference (marginals are combinable sums of c123, so the model
    * fit is a single pass over ref, single shuffle, then small
    * rollups). Scoring is key equi-joins of the per-doc DISTINCT
    * trigram table against the model tables; AQE broadcasts the
    * marginals when small. The derived-marginal convention (bigram
    * counts = trigram-prefix/suffix occurrence sums) guarantees
    * c123 ≤ c12 and c23 ≤ c2, so every score stays in [0, scale].
    * Output: (doc_id, n_trigrams, n_hit3, n_hit2, avg_ppm).
    */
  def stupidBackoffScore(
      docs: DataFrame, ref: DataFrame, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1000, s"scale must be >= 1000 (got $scale)")
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    val grams = transform(
      sequence(lit(1), size(ws) - 2),
      i => struct(
        element_at(ws, i).as("w1"),
        element_at(ws, i + 1).as("w2"),
        element_at(ws, i + 2).as("w3")))
    def trigrams(df: DataFrame): DataFrame = df
      .select($"doc_id", Cols.materialized(split($"text", " ")).as("ws"))
      .filter(size(ws) >= 3)
      .select($"doc_id", explode(grams).as("g"))
      .select($"doc_id", $"g.w1".as("w1"), $"g.w2".as("w2"), $"g.w3".as("w3"))
    val c123 = trigrams(ref).groupBy($"w1", $"w2", $"w3")
      .agg(count(lit(1)).as("c123"))
      .persist() // six consumers: the four marginals, N, the score join
    val c12 = c123.groupBy($"w1", $"w2").agg(sum($"c123").as("c12"))
    val c23 = c123.groupBy($"w2", $"w3").agg(sum($"c123").as("c23"))
    val c2 = c123.groupBy($"w2").agg(sum($"c123").as("c2"))
    val c3 = c123.groupBy($"w3").agg(sum($"c123").as("c3"))
    val n = c123.agg(sum($"c123").as("n"))
    val dg = trigrams(docs)
      .groupBy($"doc_id", $"w1", $"w2", $"w3").agg(count(lit(1)).as("tf"))
    dg
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c23, Seq("w2", "w3"), "left")
      .join(c2, Seq("w2"), "left")
      .join(c3, Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"tf", $"c123", $"c23",
        expr(s"""CASE
          WHEN c123 IS NOT NULL THEN ($scale * c123) div c12
          WHEN c23 IS NOT NULL THEN (2 * (($scale * c23) div c2)) div 5
          ELSE (4 * (($scale * coalesce(c3, 0)) div n)) div 25
        END""").as("p_ppm"))
      .groupBy($"doc_id")
      .agg(
        sum($"tf").as("n_trigrams"),
        sum(when($"c123".isNotNull, $"tf").otherwise(0L)).as("n_hit3"),
        sum(when($"c123".isNull && $"c23".isNotNull, $"tf").otherwise(0L))
          .as("n_hit2"),
        expr("sum(tf * p_ppm) div sum(tf)").as("avg_ppm"))
  }

  /** The train/score core [[lmScore]] and [[importanceWeights]] share:
    * fit the add-one-smoothed bigram model on `ref`, score every doc in
    * `docs`. Output: (doc_id, n_bigrams, n_unseen, avg_ppm) — see
    * [[lmScore]] for the arithmetic contract.
    */
  def bigramModelScore(docs: DataFrame, ref: DataFrame, scale: Long): DataFrame = {
    require(scale >= 1000, s"scale must be >= 1000 (got $scale)")
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    val grams = transform(
      sequence(lit(1), size(ws) - 1),
      i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2")))
    def bigrams(df: DataFrame): DataFrame = df
      .select($"doc_id", Cols.materialized(split($"text", " ")).as("ws"))
      .filter(size(ws) >= 2)
      .select($"doc_id", explode(grams).as("g"))
      .select($"doc_id", $"g.w1".as("w1"), $"g.w2".as("w2"))
    val c12 = bigrams(ref).groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      .persist() // three consumers: c1, V, and the score join
    val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
    // V (the add-one denominator's vocabulary) derived from c12, not a
    // second pass over ref
    val v = c12.agg(countDistinct($"w2").as("v"))
    val dg = bigrams(docs)
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("tf"))
    dg
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select($"doc_id", $"tf", $"c12",
        expr(s"((coalesce(c12, 0) + 1) * $scale) div (coalesce(c1, 0) + v)")
          .as("p_ppm"))
      .groupBy($"doc_id")
      .agg(
        sum($"tf").as("n_bigrams"),
        sum(when($"c12".isNull, $"tf").otherwise(0L)).as("n_unseen"),
        expr("sum(tf * p_ppm) div sum(tf)").as("avg_ppm"))
  }

  def lmScore(docs: DataFrame, ref: DataFrame, scale: Long = 1000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = bigramModelScore(docs, ref, scale).persist()
    val hist = scored.groupBy($"avg_ppm").agg(count(lit(1)).as("cnt"))
    val n = scored.agg(count(lit(1)).as("n"))
    // BOUNDED global window: it runs over the avg_ppm HISTOGRAM, not
    // the corpus — avg_ppm is an integer per-million probability, so
    // the histogram has at most `scale`+1 (≈1e6+1) distinct rows no
    // matter how many documents are scored. A cumulative sum over ≤1e6
    // tiny rows on one partition is constant work at any corpus size;
    // the corpus-sized tables (`scored`, the per-doc join below) never
    // touch this window.
    require(scale <= 100000000L,
      s"lmScore: scale=$scale bounds the threshold histogram (scale+1 " +
        "rows through a single-partition cumulative window); keep it ≤1e8")
    val wcum = Window.orderBy($"avg_ppm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("cum", sum($"cnt").over(wcum))
      .crossJoin(broadcast(n))
      .agg(
        min(when($"cum" * 3 >= $"n", $"avg_ppm")).as("t1"),
        min(when($"cum" * 3 >= $"n" * 2, $"avg_ppm")).as("t2"))
    scored
      .crossJoin(broadcast(thr))
      .select($"doc_id", $"n_bigrams", $"n_unseen", $"avg_ppm",
        when($"avg_ppm" <= $"t1", "tail")
          .when($"avg_ppm" <= $"t2", "middle")
          .otherwise("head").as("bucket"))
  }

  /** DSIR-style importance weighting (Xie et al.'s Data Selection via
    * Importance Resampling, in the same integer contract as
    * [[lmScore]]): every document is scored under TWO bigram models —
    * one fit on the target-domain slice, one fit on the whole corpus —
    * and weighted by the ratio of the two mean transition
    * probabilities, quantized to per-mille. ratio > 1000 ⇔ the doc
    * looks more like the target domain than like the corpus average,
    * which is the importance-sampling keep signal; `keepRatioPm` is
    * that threshold. (DSIR proper works in hashed-feature log space
    * and samples by weight; the ratio-of-quantized-means form keeps
    * the ranking while staying engine-exact, and the deterministic
    * threshold stands in for the sampling step.)
    *
    * Scale shape: two [[bigramModelScore]] passes — each linear, model
    * as a table — joined on doc_id. The corpus-model pass trains on
    * `docs` itself; its per-doc score table is the same size as the
    * target pass, one co-partitioned join.
    */
  def importanceWeights(
      docs: DataFrame,
      target: DataFrame,
      scale: Long = 1000000L,
      keepRatioPm: Long = 1000L,
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val st = bigramModelScore(docs, target, scale)
      .select($"doc_id", $"n_bigrams", $"avg_ppm".as("ppm_target"))
    val sc = bigramModelScore(docs, docs, scale)
      .select($"doc_id", $"avg_ppm".as("ppm_corpus"))
    st.join(sc, "doc_id")
      .select($"doc_id", $"n_bigrams", $"ppm_target", $"ppm_corpus",
        // greatest guards the (at-scale plausible) all-floored-to-zero
        // corpus score; both engines agree on the substitute
        expr("(ppm_target * 1000) div greatest(ppm_corpus, 1)").as("ratio_pm"))
      .withColumn("verdict",
        when($"ratio_pm" >= keepRatioPm, "keep").otherwise("drop"))
  }

  /** Repetition quality signals (the Gopher-rules family): for word
    * n-grams of size 1-3, the fraction of occurrences claimed by the
    * single most frequent gram (`top_*_frac`) and the fraction that
    * are repeats of an earlier occurrence (`dup_*_frac` — occurrences
    * in grams appearing more than once). High values flag the
    * boilerplate/looping documents a pretraining quality gate drops.
    * All six ratios are integer/integer (round 4 dp) — engine-exact.
    *
    * Scale shape: one explode→groupBy(doc, gram) per n — hash partial
    * aggregation collapses within-doc repeats map-side, so each
    * exchange carries per-doc distinct grams; the three per-doc
    * aggregates then join on doc_id (co-partitioned, AQE-broadcast at
    * small scale). Linear in corpus size, no all-pairs anywhere.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def gramStats(n: Int, pfx: String): DataFrame = {
      val ws = $"ws"
      val grams =
        if (n == 1) ws
        else transform(
          sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))
      docs
        .select($"doc_id", Cols.materialized(split($"text", " ")).as("ws"))
        .filter(size(ws) >= n)
        .select($"doc_id", explode(grams).as("gram"))
        .groupBy($"doc_id", $"gram")
        .agg(count(lit(1)).as("tf"))
        .groupBy($"doc_id")
        .agg(
          sum($"tf").as(s"${pfx}_occ"),
          max($"tf").as(s"${pfx}_top"),
          sum(when($"tf" > 1, $"tf").otherwise(0L)).as(s"${pfx}_dup"))
    }
    def frac(num: Column, den: Column): Column =
      round(num.cast("double") / den, 4)
    gramStats(1, "w")
      .join(gramStats(2, "b"), Seq("doc_id"), "left")
      .join(gramStats(3, "t"), Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"w_occ".as("words"),
        frac($"w_top", $"w_occ").as("top_word_frac"),
        frac($"w_dup", $"w_occ").as("dup_word_frac"),
        frac($"b_top", $"b_occ").as("top_bigram_frac"),
        frac($"b_dup", $"b_occ").as("dup_bigram_frac"),
        frac($"t_top", $"t_occ").as("top_trigram_frac"),
        frac($"t_dup", $"t_occ").as("dup_trigram_frac"),
      )
  }

  /** Sliding-window document chunking (the RAG / long-context prep
    * stage): window `chunkWords` words, stride `strideWords` (overlap =
    * chunk − stride). One chunk row per window start while starts
    * remain in range, so tails shorter than a full window still emit
    * (a trailing fragment is data, not waste). Pure narrow flatMap —
    * the chunk list is built in-row and exploded; zero shuffles at any
    * corpus size. Output: (doc_id, chunk_idx, n_words, chunk_digest).
    */
  def chunk(docs: DataFrame, chunkWords: Int, strideWords: Int): DataFrame = {
    require(chunkWords >= 1 && strideWords >= 1,
      s"chunk/stride must be >= 1 (got $chunkWords/$strideWords)")
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    // window starts: 0, stride, 2·stride … while start < len
    val chunks = transform(
      sequence(lit(0), ((size(ws) - 1) / strideWords).cast("int")),
      i => slice(ws, i * strideWords + 1, lit(chunkWords)))
    docs
      .select($"doc_id", Cols.materialized(split($"text", " ")).as("ws"))
      .select($"doc_id", posexplode(chunks).as(Seq("chunk_idx", "cw")))
      .select(
        $"doc_id",
        $"chunk_idx".cast("long").as("chunk_idx"),
        size($"cw").cast("long").as("n_words"),
        md5(concat_ws(" ", $"cw")).as("chunk_digest"))
  }

  /** Content-defined chunking (the Rabin/CDC family, word-granular):
    * cut after word i whenever the hash of the w-word window ENDING at
    * i falls in the cut class (low 16 bits of md5 ≡ 0 mod `divisor`),
    * plus a final cut at the document end. Expected chunk length ≈
    * `divisor` words. Unlike [[chunk]]'s fixed stride, boundaries are
    * functions of CONTENT alone — an insertion reshapes only the
    * chunks it touches, and every later chunk keeps its digest, which
    * is what makes chunk-level dedup/delta-storage work across
    * document revisions.
    *
    * Same plan class as [[winnowing]]: the cut set, starts and digests
    * are all in-row array programs — a pure narrow map, zero shuffles
    * at any corpus size. Documents shorter than one window emit one
    * whole-doc chunk. Output: (doc_id, chunk_idx, start_word,
    * n_words, chunk_digest).
    */
  def cdcChunks(docs: DataFrame, w: Int, divisor: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1 (got $w)")
    require(divisor >= 2, s"divisor must be >= 2 (got $divisor)")
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = $"ws"
    def gramAt(i: Column): Column = concat_ws(" ", slice(ws, i - (w - 1), lit(w)))
    def isCut(i: Column): Column =
      conv(substring(md5(gramAt(i)), 1, 4), 16, 10).cast("long") % divisor === 0
    docs
      .select($"doc_id", Cols.materialized(split($"text", " ")).as("ws"))
      .select($"doc_id", ws,
        Cols.materialized(
          when(size(ws) >= w, filter(sequence(lit(w), size(ws)), i => isCut(i)))
            .otherwise(array().cast("array<int>"))).as("cuts"))
      .select($"doc_id", ws,
        // the document end is always a cut (array_max(empty) is null;
        // null <> n is null, so the size guard carries the empty case)
        Cols.materialized(
          when(size($"cuts") === 0 || array_max($"cuts") =!= size(ws),
            concat($"cuts", array(size(ws)))).otherwise($"cuts")).as("allcuts"))
      .select($"doc_id", ws, posexplode(
        transform(sequence(lit(1), size($"allcuts")), k =>
          struct(
            when(k === 1, lit(1))
              .otherwise(element_at($"allcuts", k - 1) + 1).as("start_word"),
            element_at($"allcuts", k).as("end_word")))).as(Seq("chunk_idx", "c")))
      .select(
        $"doc_id",
        $"chunk_idx".cast("long").as("chunk_idx"),
        $"c.start_word".cast("long").as("start_word"),
        ($"c.end_word" - $"c.start_word" + 1).cast("long").as("n_words"),
        md5(concat_ws(" ",
          slice(ws, $"c.start_word", $"c.end_word" - $"c.start_word" + 1)))
          .as("chunk_digest"))
  }

  /** Concatenate-and-chunk sequence packing (the GPT-style pretraining
    * batcher): within each `source`, documents are laid end to end in
    * doc_id order and cut into fixed `budget`-token packs; a document's
    * pack is where its FIRST token lands (boundary overflow spills into
    * the next pack — the concat-then-chunk semantics, not bin packing).
    * One window aggregation partitioned by source — the shuffle is on
    * the partition key, linear; no stateful scan needed because pack
    * assignment is a pure function of the running token sum. Output:
    * (doc_id, source, tokens, pack_id, pack_offset).
    */
  def packSequences(docs: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("tokens"))
      .withColumn("cum", sum($"tokens").over(w))
      .select(
        $"doc_id",
        $"source",
        $"tokens",
        (($"cum" - $"tokens") / budget).cast("long").as("pack_id"),
        (($"cum" - $"tokens") % budget).as("pack_offset"))
  }

  /** Next-fit-decreasing bin packing (the discrete-batch alternative to
    * [[packSequences]]'s concat-and-chunk): within each `source`,
    * documents are sorted by token count DESCENDING (doc_id tie-break)
    * and greedily placed into the current bin while they fit the
    * `budget`; a document that would overflow CLOSES the bin and opens
    * the next. Unlike concat-and-chunk, no document is ever split —
    * this is the packing used when each training sequence must hold
    * whole documents (instruction tuning, contrastive batches).
    * Decreasing order is what gives next-fit its quality: the tail of
    * small documents backfills bins the large ones opened, so waste is
    * bounded by the smallest items, not the largest. A document longer
    * than the budget still gets its own (overflowing) bin — packing
    * must be total, and dropping is a policy for an upstream filter.
    *
    * Scale shape: the ONLY exchange is the hash repartition on
    * `source`; the decreasing order comes from Spark's spillable
    * in-partition sorter (no global sort), and the greedy fold is one
    * pass with O(1) state per task — the secondary-sort shape
    * [[BookReplay.ticks]] uses, applied to packing. Sequentiality is
    * per source by construction, so parallelism = number of sources;
    * for a corpus dominated by ONE giant source, pre-shard it into
    * `(source, hash(doc_id) % k)` groups — each shard packs
    * independently at a cost of at most k−1 extra partially-filled
    * bins per source, which is how the sequential scan stays bounded
    * at 100 TB.
    *
    * Output: `(doc_id, source, tokens, bin_id, bin_fill)` — `bin_id`
    * dense per source in placement order, `bin_fill` the bin's running
    * token total AFTER this document lands (so `max(bin_fill) per bin ≤
    * budget` unless the bin is a single oversized document).
    */
  def packBinsNfd(docs: DataFrame, budget: Long): DataFrame = {
    require(budget >= 1, s"packBinsNfd: budget must be >= 1 (got $budget)")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id".cast("long").as("doc_id"), $"source",
        size(split($"text", " ")).cast("long").as("tokens"))
      .repartition($"source")
      .sortWithinPartitions($"source", $"tokens".desc, $"doc_id")
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        // several sources may share a partition (hash partitioning);
        // one source never spans two, so resetting on source change is
        // exactly per-source packing
        var cur: String = null
        var bin = 0L
        var fill = 0L
        it.map { case (docId, source, t) =>
          if (source != cur) { cur = source; bin = 0L; fill = t }
          else if (fill + t > budget) { bin += 1; fill = t }
          else fill += t
          (docId, source, t, bin, fill)
        }
      }
      .toDF("doc_id", "source", "tokens", "bin_id", "bin_fill")
  }

  /** One redaction rule: occurrences of `regex` become `token`, and the
    * per-doc match count is reported as column `n_<name>`.
    */
  final case class RedactPattern(name: String, regex: String, token: String)

  /** PII-style patterns kept to the regex subset Java (Spark) and RE2
    * (DuckDB, the oracle) interpret identically: no backreferences, no
    * lookaround, character classes with the literal '-' last.
    */
  val defaultPiiPatterns: Seq[RedactPattern] = Seq(
    RedactPattern("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    RedactPattern("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    RedactPattern("phone", "\\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
    RedactPattern("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
  )

  /** Text scrubbing for training corpora: apply `patterns` IN ORDER,
    * counting each pattern's matches against the text as already
    * redacted by the earlier patterns (so an SSN consumed by the ssn
    * rule is not double-counted by the looser phone rule — order the
    * more specific rule first). Pure narrow map — regexp_count /
    * regexp_replace are codegen'd built-ins, zero shuffle at any
    * corpus size. Output: doc_id, n_<name> per pattern, redacted.
    */
  /** CCNet-style boilerplate removal: drop every line whose document
    * frequency exceeds `maxDfBp` basis points of the corpus (headers,
    * footers, cookie banners — text repeated across unrelated pages),
    * then reassemble each document from its surviving lines in order.
    *
    * Input: `(doc_id, text)` with '\n'-separated lines. Output:
    * `(doc_id, n_kept, n_dropped, cleaned)`.
    *
    * Scale shape: the df count groups on `md5(line)` so long strings
    * never shuffle — only 32-byte digests; the common set is bounded
    * by construction (at most `10000/maxDfBp` lines can each appear in
    * more than `maxDfBp` bp of docs × total distinct lines per doc),
    * tiny in practice, so membership is a broadcast left join, never a
    * corpus×corpus shuffle. The threshold compare is pure integer
    * (`df * 10000 > n_docs * maxDfBp`) — no float, any engine agrees.
    * Reassembly is the one doc_id shuffle.
    */
  def dropCommonLines(docs: DataFrame, maxDfBp: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lines = docs
      .select($"doc_id", posexplode(split($"text", "\n")).as(Seq("pos", "line")))
      .withColumn("h", md5($"line"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val common = lines
      .select($"doc_id", $"h").distinct() // df counts each doc once
      .groupBy($"h").agg(count(lit(1)).as("line_df"))
      .crossJoin(broadcast(nDocs))
      .filter($"line_df" * 10000L > $"n_docs" * lit(maxDfBp))
      .select($"h", lit(true).as("is_common"))
    lines
      .join(broadcast(common), Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(
        sum(when($"is_common".isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"is_common".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulls the `when` leaves on dropped
        // lines; struct sorts by its first field, so pos order holds
        array_join(
          transform(
            array_sort(collect_list(when($"is_common".isNull, struct($"pos", $"line")))),
            x => x.getField("line")),
          "\n").as("cleaned"),
      )
  }

  /** Intra-document repeated-line removal — the WITHIN-doc half of
    * line-level cleaning ([[dropCommonLines]] is the cross-doc half):
    * keep each line's FIRST occurrence in order, drop repeats (menus,
    * looping boilerplate, scraper stutter). The whole computation is
    * one in-row array program — `filter` with the positional lambda
    * keeps index i iff `array_position` (first occurrence) equals it —
    * so the operator is a pure narrow map: zero shuffles at any
    * corpus size, like [[winnowing]].
    */
  def dedupLinesInDoc(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", Cols.materialized(split($"text", "\n")).as("ls"))
      .select($"doc_id", $"ls",
        Cols.materialized(
          filter($"ls", (l, i) => array_position($"ls", l) === (i + 1).cast("long")))
          .as("kept"))
      .select(
        $"doc_id",
        size($"ls").cast("long").as("n_lines"),
        size($"kept").cast("long").as("n_kept"),
        array_join($"kept", "\n").as("cleaned"))
  }

  def redact(docs: DataFrame, patterns: Seq[RedactPattern] = defaultPiiPatterns): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val start = docs.select($"doc_id", $"text".as("redacted"))
    patterns.foldLeft(start) { (df, p) =>
      // count-then-replace on the running text. The NEW redacted text
      // is materialized through a Generate boundary: the next stage
      // consumes it twice (its count + its replace), and CollapseProject
      // would otherwise inline the whole regex chain into both — the
      // expression tree doubles per pattern (see tokenCounts).
      df.select(
        df.columns.filter(_ != "redacted").map(col) :+
          regexp_count($"redacted", lit(p.regex)).cast("long").as(s"n_${p.name}") :+
          graft.functions.Cols.materialized(
            regexp_replace($"redacted", p.regex, p.token)).as("redacted"): _*)
    }
  }

  /** Character-distribution Shannon entropy per document over a fixed
    * alphabet — the classic random-text / encoding-garbage detector
    * (low-entropy docs are repeated-char junk, max-entropy docs are
    * uniform noise; natural text sits in a band). Counting is done
    * in-row by length-difference (`len(text) − len(replace(text, c))`
    * per alphabet char), so the whole operator is ONE narrow
    * projection: zero shuffles, codegen'd end to end, O(|alphabet| ×
    * len) per row with |alphabet| a small constant. Chars outside the
    * alphabet are ignored (counted by neither numerator nor total).
    */
  def charEntropy(docs: DataFrame, alphabet: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(alphabet.forall(_.length == 1), "alphabet must be single chars")
    val cnts = transform(typedLit(alphabet),
      c => length($"text") - length(replace($"text", c, lit(""))))
    docs
      .select($"doc_id", graft.functions.Cols.materialized(cnts).as("cnts"))
      .select($"doc_id", $"cnts",
        aggregate($"cnts", lit(0L), (a, c) => a + c.cast("long")).as("n_alpha"))
      .select(
        $"doc_id",
        $"n_alpha",
        round(
          aggregate($"cnts", lit(0.0d), (a, c) =>
            a + when(c > 0,
              -(c.cast("double") / $"n_alpha") *
                log2(c.cast("double") / $"n_alpha"))
              .otherwise(lit(0.0d))),
          4).as("entropy_bits"))
  }

  /** Gopher-style rule-set quality flags (Rae et al., "Scaling
    * Language Models: ... Gopher" §A1.1 heuristics, re-expressed for
    * this corpus): word-count bounds, mean-word-length bounds,
    * alphabetic-word ratio, and the "contains ≥2 stopwords" rule —
    * with the stopword list DERIVED from the corpus itself (its top
    * `nStop` most frequent words, deterministic (count DESC, word)
    * tie-break) rather than hardcoded English. Two-phase scale shape:
    * one map-side-combinable word-count aggregation whose top-k is a
    * bounded driver fetch (`nStop` rows — a model-parameter fetch,
    * same class as Bloom's bitmap), then ONE narrow in-row pass
    * computing every metric and flag. Unlike [[quality]]'s composite
    * score, the output is per-RULE booleans plus the conjunctive keep
    * — the form curation audits want ("which rule killed this doc").
    */
  def gopherFlags(docs: DataFrame, nStop: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val top = docs
      .select(explode(split($"text", " ")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"word")
      .limit(nStop)
      .collect().map(_.getString(0)).toSeq
    val base = docs.select($"doc_id", length($"text").as("chars"),
      graft.functions.Cols.materialized(split($"text", " ")).as("ws"))
    val m = base.select(
      $"doc_id",
      size($"ws").cast("long").as("n_words"),
      round(($"chars" - (size($"ws") - 1)).cast("double") / size($"ws"), 4)
        .as("mean_word_len"),
      round(size(filter($"ws", w => w.rlike("[a-z]"))).cast("double") / size($"ws"), 4)
        .as("alpha_ratio"),
      size(array_intersect(array_distinct($"ws"), typedLit(top))).cast("long")
        .as("n_stop"))
    m.select(
      $"doc_id", $"n_words", $"mean_word_len", $"alpha_ratio", $"n_stop",
      $"n_words".between(50, 100000).cast("long").as("f_words"),
      $"mean_word_len".between(3, 10).cast("long").as("f_mwl"),
      ($"alpha_ratio" >= 0.8).cast("long").as("f_alpha"),
      ($"n_stop" >= 2).cast("long").as("f_stop"),
      ($"n_words".between(50, 100000) && $"mean_word_len".between(3, 10) &&
        $"alpha_ratio" >= 0.8 && $"n_stop" >= 2).cast("long").as("keep"))
  }
}
