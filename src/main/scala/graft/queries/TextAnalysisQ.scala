package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.ScopedConf
import graft.operators.TextAnalysis

/** Text-analysis inventory over `documents`, oracle-checked (see
  * operators/TextAnalysis for the semantics and scale shape of each).
  */
object TextAnalysisQ {

  private def profileValues: String =
    TextAnalysis.defaultProfile
      .map { case (l, w, wt) => s"('$l', '$w', $wt)" }
      .mkString(", ")

  private val langId = Q(
    "q_text_langid",
    (s, dir) => {
      import s.implicits._
      TextAnalysis
        .langId(Tables(s, dir).documents, TextAnalysis.defaultProfile)
        .orderBy($"doc_id")
    },
    Some(s"""WITH prof(p_lang, p_word, p_weight) AS (VALUES $profileValues),
            |words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
            |scores AS (
            |  SELECT doc_id, p_lang, CAST(sum(p_weight) AS BIGINT) AS score
            |  FROM words JOIN prof ON w = p_word
            |  GROUP BY doc_id, p_lang
            |),
            |mx AS (
            |  SELECT doc_id, p_lang, score, max(score) OVER (PARTITION BY doc_id) AS mx
            |  FROM scores
            |)
            |SELECT doc_id, min(p_lang) AS pred_lang, max(mx) AS best_score
            |FROM mx WHERE score = mx
            |GROUP BY doc_id
            |ORDER BY doc_id""".stripMargin),
  )

  private def stopList: String =
    TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")

  private val quality = Q(
    "q_text_quality",
    (s, dir) => {
      import s.implicits._
      TextAnalysis
        .quality(Tables(s, dir).documents, TextAnalysis.defaultStopwords)
        .orderBy($"doc_id")
    },
    Some(s"""WITH base AS (
            |  SELECT doc_id,
            |         length(text) AS chars,
            |         len(string_split(text, ' ')) AS words,
            |         len(list_distinct(string_split(text, ' '))) AS distinct_words,
            |         len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS stop_hits
            |  FROM documents
            |)
            |SELECT doc_id, chars, words,
            |       round((chars - (words - 1)) * 1.0 / words, 4) AS mean_word_len,
            |       round(stop_hits * 1.0 / words, 4) AS stop_ratio,
            |       round(distinct_words * 1.0 / words, 4) AS ttr,
            |       round(least(words * 1.0 / 100, 1.0) * 0.4 +
            |             (distinct_words * 1.0 / words) * 0.4 +
            |             least(stop_hits * 1.0 / words * 5, 1.0) * 0.2, 4) AS quality
            |FROM base
            |ORDER BY doc_id""".stripMargin),
  )

  /** Model-based quality scoring under the gate
    * (TextAnalysis.modelQuality): integer fixed-point features →
    * integer logit → algebraic sigmoid, so a learned-filter stage is
    * hash-verified end to end. The oracle repeats the identical
    * integer feature extraction (// is div for the all-positive
    * operands) and the identical IEEE operation order for the squash.
    */
  private val modelQuality = Q(
    "q_text_model_quality",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.modelQuality(Tables(s, dir).documents).orderBy($"doc_id")
    },
    Some(s"""WITH base AS (
            |  SELECT doc_id,
            |         CAST(length(text) AS BIGINT) AS chars,
            |         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
            |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_words,
            |         CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS BIGINT) AS stop_hits
            |  FROM documents
            |),
            |f AS (
            |  SELECT doc_id,
            |         (distinct_words * 1000) // words AS ttr_m,
            |         (stop_hits * 1000) // words AS stop_m,
            |         least(words * 10, 1000) AS len_m,
            |         abs(((chars - (words - 1)) * 1000) // words - 5000) AS dev_m
            |  FROM base
            |),
            |l AS (
            |  SELECT doc_id, ttr_m, stop_m, len_m, dev_m,
            |         2 * ttr_m + 3 * stop_m + 1 * len_m + (-1) * dev_m + (-1000) AS logit_scaled
            |  FROM f
            |)
            |SELECT doc_id, ttr_m, stop_m, len_m, dev_m, logit_scaled,
            |       round(0.5 + (CAST(logit_scaled AS DOUBLE) / 1000.0) /
            |             (2.0 * (1.0 + abs(CAST(logit_scaled AS DOUBLE) / 1000.0))), 4) AS score,
            |       CASE WHEN logit_scaled >= 0 THEN 'keep' ELSE 'drop' END AS verdict
            |FROM l
            |ORDER BY doc_id""".stripMargin),
  )

  private val tokens = Q(
    "q_text_tokens",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.tokenCounts(Tables(s, dir).documents).orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |       len(string_split(text, ' ')) AS ws_tokens,
           |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS regex_tokens,
           |       length(text) AS chars,
           |       round(length(text) * 1.0 /
           |             greatest(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')), 1),
           |             4) AS chars_per_token
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
  )

  /** Word2vec training pairs (Mikolov et al., NIPS '13): corpus-wide
    * skip-gram (center, context) counts at window ±2, top-200 under a
    * total order. `TextAnalysis.skipGramPairs` explodes each token
    * into its 4 candidate context positions and equi-joins on
    * (doc_id, position) — linear in corpus size, immune to the
    * long-document L² blowup a position-band self-join has. The
    * oracle IS the band self-join (`o.pos BETWEEN c.pos-2 AND
    * c.pos+2`): the formulation this operator exists to avoid,
    * which makes it a genuinely different program shape over the
    * same semantics.
    */
  private val skipgram = Q(
    "q_text_skipgram",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.skipGramPairs(Tables(s, dir).documents, window = 2)
        .orderBy($"pair_count".desc, $"center", $"context")
        .limit(200)
    },
    Some("""WITH words AS (
           |  SELECT doc_id, i - 1 AS pos, ws[i] AS word
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |       unnest(range(1, len(ws) + 1)) AS t(i)
           |  WHERE ws[i] <> ''
           |)
           |SELECT c.word AS center, o.word AS context,
           |       count(*) AS pair_count
           |FROM words c
           |JOIN words o ON o.doc_id = c.doc_id
           | AND o.pos BETWEEN c.pos - 2 AND c.pos + 2 AND o.pos <> c.pos
           |GROUP BY 1, 2
           |ORDER BY pair_count DESC, center, context
           |LIMIT 200""".stripMargin),
  )

  /** Word2vec's phrase pass (Mikolov et al., NIPS '13 §4): adjacent
    * bigrams scored by the discounted collocation ratio
    * (c_ab − 1)·N·1000 / (c_a·c_b), exact integer arithmetic
    * (decimal(38,0) / HUGEINT, floor division), top-100 under a total
    * order — the step that promotes "new york" to "new_york" in the
    * training vocabulary. Bigram derivation shares the skew-free
    * (doc_id, position) equi-join shape with q_text_skipgram; the
    * oracle recomputes everything with DuckDB window-free
    * list-position joins and HUGEINT math.
    */
  private val phrases = Q(
    "q_text_phrases",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.phraseCandidates(Tables(s, dir).documents, minCount = 3L)
        .orderBy($"score_m".desc, $"a", $"b")
        .limit(100)
    },
    Some("""WITH words AS (
           |  SELECT doc_id, i - 1 AS pos, ws[i] AS word
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |       unnest(range(1, len(ws) + 1)) AS t(i)
           |  WHERE ws[i] <> ''
           |),
           |uni AS (SELECT word, count(*) AS c_w FROM words GROUP BY 1),
           |n AS (SELECT CAST(count(*) AS HUGEINT) AS n_tokens FROM words),
           |bi AS (
           |  SELECT l.word AS a, r.word AS b, count(*) AS pair_count
           |  FROM words l JOIN words r
           |    ON r.doc_id = l.doc_id AND r.pos = l.pos + 1
           |  GROUP BY 1, 2
           |  HAVING count(*) >= 3
           |)
           |SELECT bi.a, bi.b, bi.pair_count,
           |       CAST((CAST(bi.pair_count - 1 AS HUGEINT) * n.n_tokens * 1000)
           |            // (CAST(ua.c_w AS HUGEINT) * ub.c_w) AS BIGINT) AS score_m
           |FROM bi
           |JOIN uni ua ON ua.word = bi.a
           |JOIN uni ub ON ub.word = bi.b
           |CROSS JOIN n
           |ORDER BY score_m DESC, a, b
           |LIMIT 100""".stripMargin),
  )

  /** Word2vec's frequent-word subsampling (Mikolov et al., NIPS '13
    * §2.3) at t = 10⁻³: per-word kept-vs-original counts for the 500
    * most frequent words. The keep test is squared into pure integer
    * arithmetic (coin²·c_w < t_ppm·N·10⁶, fnv63 coin mod 10⁶) so
    * neither engine evaluates a square root — the whole pass is
    * exact decimal(38,0)/HUGEINT. Deterministic: the same tokens
    * survive in every epoch, retry, and in the oracle.
    */
  private val subsample = Q(
    "q_text_subsample",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.subsampleTokens(Tables(s, dir).documents, tPpm = 1000L)
        .orderBy($"orig_count".desc, $"word")
        .limit(500)
    },
    Some(s"""WITH words AS (
            |  SELECT doc_id, i - 1 AS pos, ws[i] AS word
            |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |       unnest(range(1, len(ws) + 1)) AS t(i)
            |  WHERE ws[i] <> ''
            |),
            |uni AS (SELECT word, count(*) AS c_w FROM words GROUP BY 1),
            |n AS (SELECT CAST(count(*) AS HUGEINT) AS n_tokens FROM words),
            |coins AS (
            |  SELECT w.word, u.c_w,
            |         (${Relational.fnv63Sql(
                       "CAST(w.doc_id AS VARCHAR) || '_' || CAST(w.pos AS VARCHAR) || '_' || w.word")})
            |           % 1000000 AS coin
            |  FROM words w JOIN uni u ON u.word = w.word
            |)
            |SELECT c.word,
            |       count(*) AS orig_count,
            |       CAST(sum(CASE WHEN CAST(c.coin AS HUGEINT) * c.coin * c.c_w <
            |                          1000 * n.n_tokens * 1000000
            |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_count
            |FROM coins c CROSS JOIN n
            |GROUP BY c.word
            |ORDER BY orig_count DESC, word
            |LIMIT 500""".stripMargin),
  )

  /** Per-source χ² divergence of the unigram token distribution
    * against the corpus mix (operators/Drift.chi2Tokens) — the
    * data-mixing diagnostic read before source reweighting. Rational
    * arithmetic end-to-end: ppb-floored probabilities, exact per-word
    * terms, one terminal division — no `ln`, so the hash gate holds
    * with no libm in sight (the histogramL1 discipline). The domain
    * cross is |sources|·|keptVocab| rows; the corpus is touched once.
    */
  private val chi2Divergence = Q(
    "q_text_chi2_divergence",
    (s, dir) => {
      import s.implicits._
      graft.operators.Drift
        .chi2Tokens(Tables(s, dir).documents, "source", "text", minCount = 2L)
        .orderBy($"source")
    },
    Some(chi2DivergenceOracle),
  )

  /** Shared by q_text_chi2_divergence and its streaming twin
    * q_stream_chi2_divergence (Relational) — the streaming run must
    * land on the batch answer exactly, so they gate on ONE program.
    * `lazy` because the textual position is below its first use (the
    * Q above captures it at object-init time; a strict val would
    * still be null there).
    */
  private[queries] lazy val chi2DivergenceOracle: String =
    ("""WITH sw AS (SELECT source AS g, unnest(string_split(text, ' ')) AS w FROM documents),
           |c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS nsw FROM sw GROUP BY g, w),
           |wt AS (SELECT w, CAST(sum(nsw) AS BIGINT) AS mw FROM c GROUP BY w HAVING sum(nsw) >= 2),
           |k AS (SELECT c.g, c.w, c.nsw FROM c JOIN wt USING (w)),
           |gt AS (SELECT g, CAST(sum(nsw) AS BIGINT) AS ns FROM k GROUP BY g),
           |mt AS (SELECT CAST(sum(mw) AS HUGEINT) AS m FROM wt),
           |d AS (SELECT gt.g, gt.ns, wt.w, wt.mw FROM gt CROSS JOIN wt),
           |j AS (SELECT d.g, d.ns, d.w, d.mw, coalesce(k.nsw, 0) AS nsw
           |      FROM d LEFT JOIN k ON d.g = k.g AND d.w = k.w),
           |q AS (SELECT g, ns,
           |        (1000000000 * CAST(nsw AS HUGEINT)) // ns AS pq,
           |        GREATEST((1000000000 * CAST(mw AS HUGEINT)) // m, 1) AS qq
           |      FROM j, mt),
           |t AS (SELECT g, ns, ((pq - qq) * (pq - qq)) // qq AS term FROM q),
           |a AS (SELECT g AS source, CAST(max(ns) AS BIGINT) AS n_tokens,
           |             CAST(count(*) AS BIGINT) AS n_words,
           |             CAST(sum(term) AS BIGINT) AS chi2_num
           |      FROM t GROUP BY g)
           |SELECT source, n_tokens, n_words, chi2_num,
           |       round(CAST(chi2_num AS DOUBLE) / 1e9, 6) AS chi2
           |FROM a
           |ORDER BY source""").stripMargin

  private val fingerprint = Q(
    "q_text_fingerprint",
    (s, dir) => {
      import s.implicits._
      TextAnalysis
        .winnowing(Tables(s, dir).documents, k = 3, w = 4)
        .orderBy($"doc_id")
    },
    // posexplode is 0-based; DuckDB generate_subscripts-style i is
    // 1-based, so positions shift but windowing is position-relative.
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |grams AS (
           |  SELECT doc_id, i - 1 AS pos,
           |         md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
           |  FROM words, unnest(range(1, len(ws) - 1)) AS t(i)
           |),
           |nsh AS (SELECT doc_id, max(pos) AS max_pos FROM grams GROUP BY doc_id),
           |wins AS (
           |  SELECT g.doc_id, g.pos,
           |         min(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
           |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
           |         n.max_pos
           |  FROM grams g JOIN nsh n ON g.doc_id = n.doc_id
           |),
           |fps AS (
           |  SELECT DISTINCT doc_id, win_min AS fp
           |  FROM wins WHERE pos <= max_pos - 3
           |)
           |SELECT doc_id, count(*) AS n_fingerprints,
           |       md5(string_agg(fp, ',' ORDER BY fp)) AS fingerprint_digest
           |FROM fps
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  /** DuckDB twin of `TextAnalysis.redact` over the augmented corpus:
    * one CTE stage per pattern, each counting against the PREVIOUS
    * stage's text then replacing ('g' = all occurrences, matching
    * Spark's regexp_replace default). Generated from the same pattern
    * list as the Spark side, so the two can't drift.
    */
  /** The synthetic-PII augmentation both redaction queries share,
    * parameterized over the source relation (curation v3 runs it over
    * a bench-excluded corpus CTE).
    */
  private[queries] def augSqlOver(src: String): String =
    "SELECT doc_id, text || ' reach user' || CAST(doc_id AS VARCHAR)" +
      " || '@mail-' || CAST(doc_id % 7 AS VARCHAR)" +
      " || '.net call +1 (415) 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)" +
      " || ' ssn 123-45-6789 ip 10.1.' || CAST(doc_id % 256 AS VARCHAR)" +
      s" || '.' || CAST(doc_id % 100 AS VARCHAR) || ' end' AS t FROM $src"

  private[queries] val augSql: String = augSqlOver("documents")

  /** Redaction CTE stages `s1..sN` over an `aug(doc_id, t)` CTE; the
    * last stage carries every count column plus the running text `t`.
    */
  private[queries] def redactCtes: String = {
    val pats = TextAnalysis.defaultPiiPatterns
    pats.zipWithIndex.map { case (p, i) =>
      val prev = if (i == 0) "aug" else s"s$i"
      val carried = pats.take(i).map(q => s"n_${q.name}, ").mkString
      s"""s${i + 1} AS (
         |  SELECT doc_id, $carried
         |         CAST(len(regexp_extract_all(t, '${p.regex}')) AS BIGINT) AS n_${p.name},
         |         regexp_replace(t, '${p.regex}', '${p.token}', 'g') AS t
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
  }

  /** Name of the final redaction CTE emitted by `redactCtes`. */
  private[queries] def redactFinalCte: String =
    s"s${TextAnalysis.defaultPiiPatterns.size}"

  private[queries] def redactCountCols: Seq[String] =
    TextAnalysis.defaultPiiPatterns.map(p => s"n_${p.name}")

  private def redactOracleSql: String =
    s"WITH aug AS ($augSql),\n$redactCtes\n" +
      s"SELECT doc_id, ${redactCountCols.mkString(", ")}, t AS redacted\n" +
      s"FROM $redactFinalCte\nORDER BY doc_id"

  /** PII scrub over documents augmented with deterministic synthetic
    * PII (the raw corpus carries none, so the augmentation guarantees
    * every rule fires on every row — email, SSN, phone, IPv4 — while
    * the raw text exercises the no-false-positive side).
    */
  /** Spark twin of `augSql`. Keeps `source` if present (pipeline use). */
  private[queries] def augmented(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{concat, lit}
    import docs.sparkSession.implicits._
    docs.withColumn("text",
      concat(
        $"text", lit(" reach user"), $"doc_id".cast("string"),
        lit("@mail-"), ($"doc_id" % 7).cast("string"),
        lit(".net call +1 (415) 555-"), (lit(1000) + $"doc_id" % 9000).cast("string"),
        lit(" ssn 123-45-6789 ip 10.1."), ($"doc_id" % 256).cast("string"),
        lit("."), ($"doc_id" % 100).cast("string"), lit(" end"),
      ))
  }

  private val redact = Q(
    "q_text_redact",
    (s, dir) => {
      import s.implicits._
      TextAnalysis
        .redact(augmented(Tables(s, dir).documents.select($"doc_id", $"text")))
        .orderBy($"doc_id")
    },
    Some(redactOracleSql),
  )

  /** BM25 top-25 for a fixed 4-term query (k1=1.2, b=0.75). The oracle
    * mirrors the operator's EXPRESSION SHAPE exactly — ratio idf, same
    * association order, constants written as the same literals
    * (`(1.2 + 1)` so both engines fold k1+1 identically), per-term
    * contributions quantized to BIGINT before the order-free sum —
    * which is what makes a float-scoring function hash-comparable
    * across engines.
    */
  private val bm25 = Q(
    "q_text_bm25",
    (s, dir) => {
      import s.implicits._
      val scored = TextAnalysis.bm25(
        Tables(s, dir).documents,
        Seq("window", "merge", "stream", "hash"), k1 = 1.2, b = 0.75)
      scored
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy($"score_q".desc, $"doc_id")))
        .filter($"rank" <= 25)
        .select($"rank", $"doc_id", $"score_q", $"n_hits")
        .orderBy($"rank")
    },
    Some("""WITH dl AS (
           |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
           |),
           |stats AS (
           |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
           |         CAST(count(*) AS DOUBLE) AS n_docs
           |  FROM dl
           |),
           |tf AS (
           |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
           |  WHERE term IN ('window', 'merge', 'stream', 'hash')
           |  GROUP BY doc_id, term
           |),
           |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           |contrib AS (
           |  SELECT t.doc_id,
           |         CAST(round(
           |           (s.n_docs - d.df + 0.5) / (d.df + 0.5)
           |             * (t.tf * (1.2 + 1))
           |             / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (s.sum_dl / s.n_docs)))
           |           * 10000) AS BIGINT) AS c_q
           |  FROM tf t
           |  JOIN df d USING (term)
           |  JOIN dl l USING (doc_id), stats s
           |),
           |scores AS (
           |  SELECT doc_id, CAST(sum(c_q) AS BIGINT) AS score_q,
           |         count(*) AS n_hits
           |  FROM contrib GROUP BY doc_id
           |)
           |SELECT rank, doc_id, score_q, n_hits FROM (
           |  SELECT row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank,
           |         doc_id, score_q, n_hits
           |  FROM scores)
           |WHERE rank <= 25
           |ORDER BY rank""".stripMargin),
  )

  /** DuckDB 1-based-list twin of the n-gram concat for gram size `n`. */
  private def gramSql(n: Int): String =
    (0 until n).map(k => s"ws[i+$k]").mkString(" || ' ' || ")

  /** 4-gram decontamination of the corpus against a deterministic
    * benchmark slice (doc_id % 29 = 3 plays the eval set). The corpus
    * side excludes the benchmark docs themselves — contamination means
    * a TRAINING doc sharing an eval n-gram, and a bench doc trivially
    * matching itself would drown the real signal (the planted near-dups
    * and natural small-vocab collisions).
    */
  private val decontaminate = Q(
    "q_text_decontaminate",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val bench = docs
        .filter($"doc_id" % 29 === 3)
        .select($"doc_id".as("bench_id"), $"text")
      TextAnalysis
        .decontaminate(docs.filter($"doc_id" % 29 =!= 3), bench, n = 4)
        .orderBy($"doc_id")
    },
    Some(s"""WITH bench AS (
            |  SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 29 = 3
            |),
            |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 <> 3),
            |bws AS (SELECT bench_id, string_split(text, ' ') AS ws FROM bench),
            |bg AS (
            |  SELECT DISTINCT bench_id, ${gramSql(4)} AS g
            |  FROM bws, unnest(range(1, len(ws) - 2)) AS t(i)
            |),
            |cws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
            |cg AS (
            |  SELECT DISTINCT doc_id, ${gramSql(4)} AS g
            |  FROM cws, unnest(range(1, len(ws) - 2)) AS t(i)
            |),
            |tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
            |hits AS (
            |  SELECT doc_id,
            |         count(DISTINCT g) AS n_matched_grams,
            |         count(DISTINCT bench_id) AS n_bench_docs
            |  FROM cg JOIN bg USING (g)
            |  GROUP BY doc_id
            |)
            |SELECT t.doc_id, t.n_grams, h.n_matched_grams, h.n_bench_docs,
            |       round(h.n_matched_grams * 1.0 / t.n_grams, 4) AS contamination
            |FROM tot t JOIN hits h ON t.doc_id = h.doc_id
            |ORDER BY t.doc_id""".stripMargin),
  )

  /** FUZZY decontamination — the paraphrase-robust counterpart to
    * `q_text_decontaminate`: a training doc is contaminated when it is
    * NEAR-duplicate (exact Jaccard ≥ 0.6 over word 3-gram shingles) of
    * an eval doc, even when no 4-gram survives verbatim. This is the
    * standard fuzzy-decontamination stage (GPT-3/Llama-style 13-gram
    * screens miss reworded leaks; MinHash at the document level
    * catches them).
    *
    * Machinery is the audited MinHash(8)+LSH(4×2) family with ONE
    * structural change: candidates come from
    * [[graft.operators.TextDedup.bandPairsAcross]] — a corpus × BENCH
    * band join with the bench side BROADCAST — never a corpus
    * self-join. At 100 TB the corpus signatures in one narrow pass
    * and probes an executor-local map of the (tiny, fixed) eval set's
    * buckets; cost is one corpus scan regardless of corpus size.
    * `doc_id % 7 = 3` plays the eval slice; saturation cap counted
    * over both sides' bands. The oracle recomputes the full
    * single-digest KM double-hashing chain, so the hash gate checks
    * signatures, banding, the cross-join form, AND the verify step.
    */
  private val decontaminateFuzzy = Q(
    "q_text_decontaminate_fuzzy",
    (s, dir) => {
      import s.implicits._
      val arr = graft.operators.TextDedup
        .shingleArrays(Tables(s, dir).documents, 3).persist()
      val sh = arr.select($"doc_id", explode($"shs").as("sh"))
      val cnt = arr.select($"doc_id", size($"shs").as("n"))
      val bands = graft.operators.TextDedup
        .minhashBands(graft.operators.TextDedup.minhashSignature(arr, 8), 8, 2)
        .persist()
      graft.operators.TextDedup
        .jaccard(
          graft.operators.TextDedup.bandPairsAcross(
            bands.filter($"doc_id" % 7 =!= 3),
            bands.filter($"doc_id" % 7 === 3),
            graft.operators.TextDedup.DefaultMaxBucket),
          sh, cnt)
        .filter($"jaccard" >= 0.6)
        .groupBy($"doc_a")
        .agg(count(lit(1)).as("n_bench_hits"), max($"jaccard").as("max_jaccard"))
        .select($"doc_a".as("doc_id"), $"n_bench_hits", $"max_jaccard")
        .orderBy($"doc_id")
    },
    Some(s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |sh AS (
            |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
            |  FROM words, unnest(range(1, len(ws) - 1)) AS t(i)
            |),
            |${Dedup.minhashOracleCtes},
            |hot AS (
            |  SELECT band, band_hash FROM bands
            |  GROUP BY band, band_hash HAVING count(*) > 50
            |),
            |cand AS (
            |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            |  FROM bands a JOIN bands b
            |    ON a.band = b.band AND a.band_hash = b.band_hash
            |  WHERE a.doc_id % 7 <> 3 AND b.doc_id % 7 = 3
            |    AND NOT EXISTS (SELECT 1 FROM hot h
            |                    WHERE h.band = a.band AND h.band_hash = a.band_hash)
            |),
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            |inter AS (
            |  SELECT doc_a, doc_b, count(*) AS i
            |  FROM cand
            |  JOIN sh sa ON sa.doc_id = doc_a
            |  JOIN sh sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
            |  GROUP BY doc_a, doc_b
            |),
            |pairs AS (
            |  SELECT doc_a, doc_b,
            |         round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
            |  FROM inter
            |  JOIN cnt ca ON ca.doc_id = doc_a
            |  JOIN cnt cb ON cb.doc_id = doc_b
            |  WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.6
            |)
            |SELECT doc_a AS doc_id, count(*) AS n_bench_hits,
            |       max(jaccard) AS max_jaccard
            |FROM pairs GROUP BY doc_a
            |ORDER BY doc_id""".stripMargin),
  )

  /** Corpus rare-bigram scoring with threshold 10 (≈ the bottom 2% of
    * this corpus's bigram-frequency distribution — the "unseen
    * transition" regime a perplexity gate cuts).
    */
  private val rareBigrams = Q(
    "q_text_rare_bigrams",
    (s, dir) => {
      import s.implicits._
      TextAnalysis
        .rareBigrams(Tables(s, dir).documents, maxCount = 10L)
        .orderBy($"doc_id")
    },
    Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |bg AS (
           |  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
           |  FROM ws, unnest(range(1, len(w))) AS t(i)
           |  WHERE len(w) >= 2
           |),
           |dg AS (SELECT doc_id, gram, count(*) AS tf FROM bg GROUP BY doc_id, gram),
           |cf AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS cf FROM dg GROUP BY gram)
           |SELECT doc_id,
           |       CAST(sum(tf) AS BIGINT) AS n_bigrams,
           |       count(*) AS n_distinct,
           |       CAST(sum(CASE WHEN cf <= 10 THEN tf ELSE 0 END) AS BIGINT) AS n_rare,
           |       min(cf) AS min_freq,
           |       CAST(sum(tf * cf) AS BIGINT) AS sum_freq,
           |       round(sum(CASE WHEN cf <= 10 THEN tf ELSE 0 END) * 1.0
           |             / sum(tf), 4) AS rare_ratio
           |FROM dg JOIN cf USING (gram)
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  /** Bigram-LM perplexity-style gate (TextAnalysis.lmScore): the model
    * trains on the doc_id % 5 = 0 slice (the "reference corpus"), every
    * document is scored by its integer-quantized mean smoothed
    * transition probability, and head/middle/tail labels come from
    * exact integer tercile cuts. The oracle refits the identical model
    * (// is div for these all-non-negative operands) and reproduces
    * the cuts from the same score histogram.
    */
  /** Corpus-side bigram CTEs every bigram-LM oracle shares: per-doc
    * distinct bigrams with occurrence counts (`dg`).
    */
  private val lmDocsCtes: String =
    """cws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |cg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |  FROM cws, unnest(range(1, len(ws))) AS t(i)
      |  WHERE len(ws) >= 2
      |),
      |dg AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
      |       FROM cg GROUP BY doc_id, w1, w2)""".stripMargin

  /** One bigram-model fit + score pass, CTE names prefixed `p`, model
    * trained on `documents WHERE refFilter`, scoring the shared `dg`
    * table. Emits `${p}sc(doc_id, n_bigrams, n_unseen, avg_ppm)` —
    * the SQL twin of `TextAnalysis.bigramModelScore`.
    */
  private def lmModelCtes(p: String, refFilter: String): String =
    s"""${p}rws AS (
       |  SELECT string_split(text, ' ') AS ws FROM documents WHERE $refFilter
       |),
       |${p}rg AS (
       |  SELECT ws[i] AS w1, ws[i+1] AS w2
       |  FROM ${p}rws, unnest(range(1, len(ws))) AS t(i)
       |  WHERE len(ws) >= 2
       |),
       |${p}c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM ${p}rg GROUP BY w1, w2),
       |${p}c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM ${p}c12 GROUP BY w1),
       |${p}v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM ${p}c12),
       |${p}p AS (
       |  SELECT d.doc_id, d.tf, b.c12,
       |         ((coalesce(b.c12, 0) + 1) * 1000000) // (coalesce(u.c1, 0) + vv.v) AS p_ppm
       |  FROM dg d
       |  LEFT JOIN ${p}c12 b ON d.w1 = b.w1 AND d.w2 = b.w2
       |  LEFT JOIN ${p}c1 u ON d.w1 = u.w1
       |  CROSS JOIN ${p}v vv
       |),
       |${p}sc AS (
       |  SELECT doc_id,
       |         CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |         CAST(sum(CASE WHEN c12 IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_unseen,
       |         CAST(sum(tf * p_ppm) AS BIGINT) // CAST(sum(tf) AS BIGINT) AS avg_ppm
       |  FROM ${p}p GROUP BY doc_id
       |)""".stripMargin

  /** Trigram stupid-backoff scoring (`TextAnalysis.stupidBackoffScore`
    * — Brants et al.'s web-scale no-normalization rule): model = one
    * trigram rollup of the every-5th-doc reference slice, all marginals
    * derived from it; scoring = key equi-joins, backoff arithmetic in
    * exact ppm integers (0.4 ≡ ·2 div 5). The oracle rebuilds the same
    * tables and must agree doc-for-doc on counts AND scores.
    */
  private val lmBackoff = Q(
    "q_text_lm_backoff",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      TextAnalysis
        .stupidBackoffScore(docs, docs.filter($"doc_id" % 5 === 0))
        .orderBy($"doc_id")
    },
    Some("""WITH tws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |tg AS (
           |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
           |  FROM tws, unnest(range(1, len(ws) - 1)) AS t(i)
           |  WHERE len(ws) >= 3
           |),
           |dg AS (
           |  SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf
           |  FROM tg GROUP BY doc_id, w1, w2, w3
           |),
           |c123 AS (
           |  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
           |  FROM tg WHERE doc_id % 5 = 0 GROUP BY w1, w2, w3
           |),
           |c12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12 FROM c123 GROUP BY w1, w2),
           |c23 AS (SELECT w2, w3, CAST(sum(c123) AS BIGINT) AS c23 FROM c123 GROUP BY w2, w3),
           |c2 AS (SELECT w2, CAST(sum(c123) AS BIGINT) AS c2 FROM c123 GROUP BY w2),
           |c3 AS (SELECT w3, CAST(sum(c123) AS BIGINT) AS c3 FROM c123 GROUP BY w3),
           |n AS (SELECT CAST(sum(c123) AS BIGINT) AS n FROM c123),
           |p AS (
           |  SELECT d.doc_id, d.tf, t.c123, b.c23,
           |         CASE
           |           WHEN t.c123 IS NOT NULL THEN (1000000 * t.c123) // p2.c12
           |           WHEN b.c23 IS NOT NULL THEN (2 * ((1000000 * b.c23) // u.c2)) // 5
           |           ELSE (4 * ((1000000 * coalesce(s3.c3, 0)) // nn.n)) // 25
           |         END AS p_ppm
           |  FROM dg d
           |  LEFT JOIN c123 t ON d.w1 = t.w1 AND d.w2 = t.w2 AND d.w3 = t.w3
           |  LEFT JOIN c12 p2 ON d.w1 = p2.w1 AND d.w2 = p2.w2
           |  LEFT JOIN c23 b ON d.w2 = b.w2 AND d.w3 = b.w3
           |  LEFT JOIN c2 u ON d.w2 = u.w2
           |  LEFT JOIN c3 s3 ON d.w3 = s3.w3
           |  CROSS JOIN n nn
           |)
           |SELECT doc_id,
           |       CAST(sum(tf) AS BIGINT) AS n_trigrams,
           |       CAST(sum(CASE WHEN c123 IS NOT NULL THEN tf ELSE 0 END) AS BIGINT) AS n_hit3,
           |       CAST(sum(CASE WHEN c123 IS NULL AND c23 IS NOT NULL THEN tf ELSE 0 END) AS BIGINT) AS n_hit2,
           |       CAST(sum(tf * p_ppm) AS BIGINT) // CAST(sum(tf) AS BIGINT) AS avg_ppm
           |FROM p GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  private val lmScore = Q(
    "q_text_lm_score",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      TextAnalysis
        .lmScore(docs, docs.filter($"doc_id" % 5 === 0))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $lmDocsCtes,
           |${lmModelCtes("", "doc_id % 5 = 0")},
           |hist AS (SELECT avg_ppm, CAST(count(*) AS BIGINT) AS cnt FROM sc GROUP BY avg_ppm),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
           |cum AS (
           |  SELECT avg_ppm, CAST(sum(cnt) OVER (
           |    ORDER BY avg_ppm ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           |  ) AS BIGINT) AS cum
           |  FROM hist
           |),
           |thr AS (
           |  SELECT min(CASE WHEN cum * 3 >= n THEN avg_ppm END) AS t1,
           |         min(CASE WHEN cum * 3 >= 2 * n THEN avg_ppm END) AS t2
           |  FROM cum, n
           |)
           |SELECT s.doc_id, s.n_bigrams, s.n_unseen, s.avg_ppm,
           |       CASE WHEN s.avg_ppm <= t.t1 THEN 'tail'
           |            WHEN s.avg_ppm <= t.t2 THEN 'middle'
           |            ELSE 'head' END AS bucket
           |FROM sc s CROSS JOIN thr t
           |ORDER BY s.doc_id""".stripMargin),
  )

  /** DSIR-style importance weighting (TextAnalysis.importanceWeights):
    * the doc_id % 5 = 0 slice plays the target domain, the whole
    * corpus is the background model, and every doc's per-mille
    * probability ratio + keep/drop verdict is verified. The oracle
    * fits BOTH models through the shared CTE generator, so the two
    * engines can't drift on either side of the ratio.
    */
  private val dsir = Q(
    "q_text_dsir",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      TextAnalysis
        .importanceWeights(docs, docs.filter($"doc_id" % 5 === 0))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $lmDocsCtes,
           |${lmModelCtes("t", "doc_id % 5 = 0")},
           |${lmModelCtes("c", "1 = 1")}
           |SELECT t.doc_id, t.n_bigrams,
           |       t.avg_ppm AS ppm_target,
           |       c.avg_ppm AS ppm_corpus,
           |       (t.avg_ppm * 1000) // greatest(c.avg_ppm, 1) AS ratio_pm,
           |       CASE WHEN (t.avg_ppm * 1000) // greatest(c.avg_ppm, 1) >= 1000
           |            THEN 'keep' ELSE 'drop' END AS verdict
           |FROM tsc t JOIN csc c USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin),
  )

  /** One gram-stats CTE pair for gram size `n`, prefix `p`: per-doc
    * occurrence/top/dup counts — the SQL twin of
    * `TextAnalysis.repetition`'s gramStats.
    */
  private def repCtes(n: Int, p: String): String = {
    val gram =
      if (n == 1) "w[i]"
      else (0 until n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""${p}g AS (
       |  SELECT doc_id, $gram AS gram
       |  FROM ws, unnest(range(1, len(w) - ${n - 2})) AS t(i)
       |  WHERE len(w) >= $n
       |),
       |${p}tf AS (SELECT doc_id, gram, count(*) AS tf FROM ${p}g GROUP BY doc_id, gram),
       |${p}s AS (
       |  SELECT doc_id,
       |         CAST(sum(tf) AS BIGINT) AS ${p}_occ,
       |         CAST(max(tf) AS BIGINT) AS ${p}_top,
       |         CAST(sum(CASE WHEN tf > 1 THEN tf ELSE 0 END) AS BIGINT) AS ${p}_dup
       |  FROM ${p}tf GROUP BY doc_id
       |)""".stripMargin
  }

  /** Gopher-family repetition signals, all six ratios oracle-checked. */
  private val repetition = Q(
    "q_text_repetition",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.repetition(Tables(s, dir).documents).orderBy($"doc_id")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |${repCtes(1, "w1")},
            |${repCtes(2, "b2")},
            |${repCtes(3, "t3")}
            |SELECT w.doc_id,
            |       w.w1_occ AS words,
            |       round(w.w1_top * 1.0 / w.w1_occ, 4) AS top_word_frac,
            |       round(w.w1_dup * 1.0 / w.w1_occ, 4) AS dup_word_frac,
            |       round(b.b2_top * 1.0 / b.b2_occ, 4) AS top_bigram_frac,
            |       round(b.b2_dup * 1.0 / b.b2_occ, 4) AS dup_bigram_frac,
            |       round(t.t3_top * 1.0 / t.t3_occ, 4) AS top_trigram_frac,
            |       round(t.t3_dup * 1.0 / t.t3_occ, 4) AS dup_trigram_frac
            |FROM w1s w
            |LEFT JOIN b2s b ON b.doc_id = w.doc_id
            |LEFT JOIN t3s t ON t.doc_id = w.doc_id
            |ORDER BY w.doc_id""".stripMargin),
  )

  /** 16-word windows, stride 12 (4-word overlap) — boundary content,
    * tail fragments, and chunk text all under the digest.
    */
  private val chunk = Q(
    "q_text_chunk",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.chunk(Tables(s, dir).documents, chunkWords = 16, strideWords = 12)
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |ch AS (
           |  SELECT doc_id,
           |         CAST(i AS BIGINT) AS chunk_idx,
           |         w[i*12 + 1 : i*12 + 16] AS cw
           |  FROM ws, unnest(range(0, (len(w) - 1) // 12 + 1)) AS t(i)
           |)
           |SELECT doc_id, chunk_idx,
           |       CAST(len(cw) AS BIGINT) AS n_words,
           |       md5(array_to_string(cw, ' ')) AS chunk_digest
           |FROM ch
           |ORDER BY doc_id, chunk_idx""".stripMargin),
  )

  /** Content-defined chunking (TextAnalysis.cdcChunks): 4-word hash
    * windows, divisor 16 (≈16-word expected chunks) — cut positions,
    * chunk extents and digests all verified per chunk. The oracle
    * re-derives the cut class from the identical md5-low-16-bits rule.
    */
  private val cdcChunk = Q(
    "q_text_cdc_chunks",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.cdcChunks(Tables(s, dir).documents, w = 4, divisor = 16)
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |cuts AS (
           |  SELECT doc_id, ws,
           |         list_filter(range(4, len(ws) + 1),
           |           i -> CAST('0x' || substr(md5(array_to_string(ws[i-3:i], ' ')), 1, 4) AS BIGINT) % 16 = 0) AS cuts
           |  FROM ws
           |),
           |ac AS (
           |  SELECT doc_id, ws,
           |         CASE WHEN len(cuts) = 0 OR list_max(cuts) <> len(ws)
           |              THEN list_append(cuts, len(ws)) ELSE cuts END AS allcuts
           |  FROM cuts
           |),
           |ch AS (
           |  SELECT doc_id, ws, k,
           |         CASE WHEN k = 1 THEN 1 ELSE allcuts[k-1] + 1 END AS start_word,
           |         allcuts[k] AS end_word
           |  FROM ac, unnest(range(1, len(allcuts) + 1)) AS t(k)
           |)
           |SELECT doc_id,
           |       CAST(k - 1 AS BIGINT) AS chunk_idx,
           |       CAST(start_word AS BIGINT) AS start_word,
           |       CAST(end_word - start_word + 1 AS BIGINT) AS n_words,
           |       md5(array_to_string(ws[start_word:end_word], ' ')) AS chunk_digest
           |FROM ch
           |ORDER BY doc_id, chunk_idx""".stripMargin),
  )

  /** Packing at a 256-token budget: multi-doc packs, mid-doc spills,
    * and per-source independence all exercised by the corpus's ~50-word
    * docs.
    */
  private val pack = Q(
    "q_text_pack",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.packSequences(Tables(s, dir).documents, budget = 256)
        .orderBy($"doc_id")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           |  FROM documents
           |),
           |c AS (
           |  SELECT doc_id, source, tokens,
           |         sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
           |                           ROWS UNBOUNDED PRECEDING) - tokens AS bef
           |  FROM tok
           |)
           |SELECT doc_id, source, tokens,
           |       CAST(bef // 256 AS BIGINT) AS pack_id,
           |       CAST(bef % 256 AS BIGINT) AS pack_offset
           |FROM c
           |ORDER BY doc_id""".stripMargin),
  )

  /** Next-fit-decreasing whole-document packing at a 384-token budget
    * (docs are ~50 words, so bins hold several documents and every
    * close/open branch is exercised). The oracle replays the greedy
    * scan as a recursive CTE over the per-source decreasing rank —
    * bin id AND running fill are both carried, so the hash verifies
    * every branch decision, not just the final bin census.
    */
  private val packNfd = Q(
    "q_text_pack_nfd",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.packBinsNfd(Tables(s, dir).documents, budget = 384)
        .orderBy($"source", $"bin_id", $"tokens".desc, $"doc_id")
    },
    Some("""WITH RECURSIVE tok AS (
           |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           |  FROM documents
           |),
           |ord AS (
           |  SELECT doc_id, source, tokens,
           |         row_number() OVER (PARTITION BY source ORDER BY tokens DESC, doc_id) AS rn
           |  FROM tok
           |),
           |fit(source, rn, doc_id, tokens, bin_id, bin_fill) AS (
           |  SELECT source, rn, doc_id, tokens, CAST(0 AS BIGINT), tokens
           |  FROM ord WHERE rn = 1
           |  UNION ALL
           |  SELECT o.source, o.rn, o.doc_id, o.tokens,
           |         CASE WHEN f.bin_fill + o.tokens > 384 THEN f.bin_id + 1 ELSE f.bin_id END,
           |         CASE WHEN f.bin_fill + o.tokens > 384 THEN o.tokens ELSE f.bin_fill + o.tokens END
           |  FROM fit f JOIN ord o ON o.source = f.source AND o.rn = f.rn + 1
           |)
           |SELECT doc_id, source, tokens, bin_id, bin_fill
           |FROM fit
           |ORDER BY source, bin_id, tokens DESC, doc_id""".stripMargin),
  )

  /** One BPE training round in SQL over `w{k-1}(word, freq, sym)`:
    * pair counts → 1-row argmax merge → greedy-left application as a
    * RECURSIVE position walk carrying the accumulated token string
    * (DuckDB has no list-building fold, so the fold is relational).
    */
  private def bpeRoundCtes(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""p$k AS (
       |  SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS n
       |  FROM (SELECT freq, string_split(sym, ' ') AS l FROM $prev),
       |       unnest(range(1, len(l))) AS t(i)
       |  WHERE len(l) >= 2
       |  GROUP BY 1, 2
       |),
       |m$k AS (SELECT a, b FROM p$k ORDER BY n DESC, a, b LIMIT 1),
       |f$k(word, freq, l, i, acc) AS (
       |  SELECT word, freq, l, 1, l[1]
       |  FROM (SELECT word, freq, string_split(sym, ' ') AS l FROM $prev)
       |  UNION ALL
       |  SELECT f.word, f.freq, f.l, f.i + 1,
       |         CASE WHEN list_extract(string_split(f.acc, ' '), -1) = m.a
       |                   AND f.l[f.i + 1] = m.b
       |              THEN CASE WHEN len(string_split(f.acc, ' ')) = 1
       |                        THEN m.a || m.b
       |                        ELSE array_to_string(
       |                               list_slice(string_split(f.acc, ' '), 1,
       |                                 len(string_split(f.acc, ' ')) - 1), ' ') ||
       |                             ' ' || m.a || m.b END
       |              ELSE f.acc || ' ' || f.l[f.i + 1] END
       |  FROM f$k f, m$k m
       |  WHERE f.i < len(f.l)
       |),
       |w$k AS (SELECT word, freq, acc AS sym FROM f$k WHERE i = len(l))""".stripMargin
  }

  /** The shared training CTE chain `w0..w{nMerges}` (see
    * [[bpeRoundCtes]]) — reused by both the training gate and the
    * encode gate so the oracle always RE-LEARNS the vocabulary.
    */
  private def bpeVocabCtes(nMerges: Int): String = {
    val rounds = (1 to nMerges).map(bpeRoundCtes).mkString(",\n")
    s"""w0 AS (
       |  SELECT w AS word, count(*) AS freq,
       |         array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS BIGINT), 1)), ' ') AS sym
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0
       |  GROUP BY w
       |),
       |$rounds""".stripMargin
  }

  private def bpeOracleSql(nMerges: Int): String =
    s"""WITH RECURSIVE ${bpeVocabCtes(nMerges)}
       |SELECT word, freq,
       |       CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_tokens,
       |       sym AS tokens
       |FROM w$nMerges
       |ORDER BY word""".stripMargin

  private def bpeEncodeOracleSql(nMerges: Int): String =
    s"""WITH RECURSIVE ${bpeVocabCtes(nMerges)},
       |vocab AS (
       |  SELECT word,
       |         CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_tokens,
       |         sym AS tokens
       |  FROM w$nMerges
       |),
       |dw AS (
       |  SELECT doc_id, i AS pos, ws[i] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |       unnest(range(1, len(ws) + 1)) AS t(i)
       |  WHERE length(ws[i]) > 0
       |)
       |SELECT doc_id,
       |       count(*) AS n_words,
       |       CAST(sum(v.n_tokens) AS BIGINT) AS n_tokens,
       |       md5(string_agg(v.tokens, ' ' ORDER BY pos)) AS token_digest
       |FROM dw JOIN vocab v ON v.word = dw.w
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Tokenizer training under the gate: 4 BPE merges learned from the
    * corpus word table, the tokenized vocabulary as the result. The
    * oracle re-learns every merge independently (pair-count argmax in
    * SQL, recursive-CTE fold for application), so training — not just
    * tokenization — is hash-verified.
    */
  private val bpe = Q(
    "q_text_bpe",
    (s, dir) => {
      import s.implicits._
      graft.operators.Bpe
        .train(Tables(s, dir).documents.select($"text"), nMerges = 4)
        .orderBy($"word")
    },
    Some(bpeOracleSql(4)),
  )

  /** Tokenizer application under the gate: the corpus re-encoded with
    * the vocabulary [[bpe]] just trained (Bpe.encode — positional
    * explode + ONE word-key equi-join, no per-occurrence retraining),
    * verified per doc down to an order-canonical digest of the full
    * token stream. The oracle re-learns the merges AND re-encodes, so
    * train→apply is hash-checked end to end.
    */
  private val bpeEncode = Q(
    "q_text_bpe_encode",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val vocab = graft.operators.Bpe.train(docs.select($"text"), nMerges = 4)
      graft.operators.Bpe
        .encode(docs.select($"doc_id", $"text"), vocab)
        .orderBy($"doc_id")
    },
    Some(bpeEncodeOracleSql(4)),
  )

  /** Boilerplate-line removal over docs augmented with deterministic
    * line structure: the flat word-soup corpus is folded into 8-word
    * lines, and every third/fourth doc gets a shared header/footer
    * line — the cross-document repetition the operator exists to
    * strip (the raw corpus has no newlines, so augmentation both
    * guarantees the df filter fires and exercises the keep side).
    * Threshold 200 bp = lines in >2% of docs are boilerplate.
    */
  private val boilerplate = Q(
    "q_text_boilerplate",
    (s, dir) => {
      import s.implicits._
      val aug = Tables(s, dir).documents
        .select($"doc_id", split($"text", " ").as("ws"))
        .select(
          $"doc_id",
          concat_ws("\n",
            when($"doc_id" % 3 === 0, lit("subscribe to the newsletter")),
            array_join(
              transform(
                sequence(lit(0), expr("(size(ws) + 7) div 8 - 1")),
                i => array_join(slice($"ws", i * 8 + 1, lit(8)), " ")),
              "\n"),
            when($"doc_id" % 4 === 0, lit("all rights reserved worldwide")),
          ).as("text"))
      TextAnalysis.dropCommonLines(aug, maxDfBp = 200L).orderBy($"doc_id")
    },
    Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |aug AS (
           |  SELECT doc_id,
           |         concat_ws(chr(10),
           |           CASE WHEN doc_id % 3 = 0 THEN 'subscribe to the newsletter' END,
           |           array_to_string(
           |             list_transform(range(0, (len(ws) + 7) // 8),
           |                            i -> array_to_string(ws[i*8+1 : i*8+8], ' ')),
           |             chr(10)),
           |           CASE WHEN doc_id % 4 = 0 THEN 'all rights reserved worldwide' END
           |         ) AS text
           |  FROM ws
           |),
           |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
           |lines AS (
           |  SELECT doc_id, i AS pos, ls[i] AS line
           |  FROM ls, unnest(range(1, len(ls) + 1)) AS t(i)
           |),
           |nd AS (SELECT count(*) AS n_docs FROM aug),
           |ldf AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line),
           |common AS (SELECT line FROM ldf, nd WHERE line_df * 10000 > n_docs * 200),
           |flagged AS (
           |  SELECT l.doc_id, l.pos, l.line, c.line IS NOT NULL AS is_common
           |  FROM lines l LEFT JOIN common c ON l.line = c.line
           |)
           |SELECT doc_id,
           |       CAST(sum(CASE WHEN is_common THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
           |       CAST(sum(CASE WHEN is_common THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           |       coalesce(string_agg(CASE WHEN NOT is_common THEN line END,
           |                           chr(10) ORDER BY pos), '') AS cleaned
           |FROM flagged
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
  )

  /** Intra-doc repeated-line removal under the gate
    * (TextAnalysis.dedupLinesInDoc): docs folded into 8-word lines
    * with every even doc's FIRST line re-appended (deterministic
    * scraper-stutter), dedup keeps first occurrences in order —
    * verified per doc down to the full cleaned text. Pure narrow
    * in-row array program, zero shuffles (same plan class as
    * winnowing).
    */
  private val dedupLines = Q(
    "q_text_dedup_lines",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val aug = docs
        .select($"doc_id", graft.functions.Cols.materialized(split($"text", " ")).as("ws"))
        .select($"doc_id", graft.functions.Cols.materialized(transform(
          sequence(lit(0), expr("(size(ws) + 7) div 8 - 1")),
          i => array_join(slice($"ws", i * 8 + 1, lit(8)), " "))).as("lines"))
        .select($"doc_id", array_join(
          when($"doc_id" % 2 === 0, concat($"lines", slice($"lines", 1, 1)))
            .otherwise($"lines"),
          "\n").as("text"))
      TextAnalysis.dedupLinesInDoc(aug).orderBy($"doc_id")
    },
    Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |ln AS (
           |  SELECT doc_id,
           |         list_transform(range(0, (len(ws) + 7) // 8),
           |                        i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS lines
           |  FROM ws
           |),
           |aug AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 2 = 0 THEN list_append(lines, lines[1])
           |              ELSE lines END AS ls
           |  FROM ln
           |),
           |ded AS (
           |  SELECT doc_id, ls,
           |         list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept
           |  FROM aug
           |)
           |SELECT doc_id,
           |       CAST(len(ls) AS BIGINT) AS n_lines,
           |       CAST(len(kept) AS BIGINT) AS n_kept,
           |       array_to_string(kept, chr(10)) AS cleaned
           |FROM ded
           |ORDER BY doc_id""".stripMargin),
  )

  /** Bloom-filter decontamination screen (operators/Bloom): the same
    * bench/corpus split as `q_text_decontaminate`, but membership is
    * tested against a FIXED-size bit set (m = 2^18, k = 3 probes)
    * instead of the exact broadcast of every eval gram — the build
    * side that stays broadcastable at any benchmark size. Flags are a
    * deterministic superset of the exact matches (no false negatives;
    * BloomSpec proves the superset property against the exact join).
    */
  private val BloomM = 1 << 18
  private val BloomK = 3

  private val bloomScreen = Q(
    "q_text_bloom_screen",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val bench = docs.filter($"doc_id" % 29 === 3)
      graft.operators.Bloom
        .decontaminateScreen(
          docs.filter($"doc_id" % 29 =!= 3), bench, n = 4, m = BloomM, k = BloomK)
        .orderBy($"doc_id")
    },
    Some(s"""WITH bench AS (SELECT text FROM documents WHERE doc_id % 29 = 3),
            |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 <> 3),
            |bws AS (SELECT string_split(text, ' ') AS ws FROM bench),
            |bg AS (
            |  SELECT DISTINCT ${gramSql(4)} AS g
            |  FROM bws, unnest(range(1, len(ws) - 2)) AS t(i)
            |),
            |bhx AS (SELECT md5(g) AS hx FROM bg),
            |bhh AS (SELECT ${Dedup.hex15ToBig("hx", 1)} AS h1,
            |               ${Dedup.hex15ToBig("hx", 17)} AS h2 FROM bhx),
            |bpos AS (
            |  SELECT DISTINCT (h1 + s.s * h2) % $BloomM AS pos
            |  FROM bhh, unnest(range(0, $BloomK)) AS s(s)
            |),
            |cws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
            |cg AS (
            |  SELECT DISTINCT doc_id, ${gramSql(4)} AS g
            |  FROM cws, unnest(range(1, len(ws) - 2)) AS t(i)
            |),
            |chx AS (SELECT doc_id, g, md5(g) AS hx FROM cg),
            |chh AS (SELECT doc_id, g, ${Dedup.hex15ToBig("hx", 1)} AS h1,
            |               ${Dedup.hex15ToBig("hx", 17)} AS h2 FROM chx),
            |cpos AS (
            |  SELECT DISTINCT doc_id, g, (h1 + s.s * h2) % $BloomM AS pos
            |  FROM chh, unnest(range(0, $BloomK)) AS s(s)
            |),
            |probe AS (
            |  SELECT c.doc_id, c.g,
            |         count(*) AS need,
            |         CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS got
            |  FROM cpos c LEFT JOIN bpos b ON b.pos = c.pos
            |  GROUP BY c.doc_id, c.g
            |)
            |SELECT doc_id,
            |       count(*) AS n_grams,
            |       CAST(sum(CASE WHEN got = need THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
            |       round(sum(CASE WHEN got = need THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
            |         AS bloom_ratio
            |FROM probe
            |GROUP BY doc_id
            |ORDER BY doc_id""".stripMargin),
  )

  private val CmsDepth = 3
  private val CmsWidth = 1024

  /** Count-min-sketch heavy hitters over corpus words (operators/
    * Sketches CMS): top 20 words by sketch ESTIMATE, with the exact
    * count alongside — the gate itself exhibits `est ≥ true_cnt` and
    * both engines reproduce the collision mass bit-for-bit. depth 3 ×
    * width 1024 cells: the sketch state is ≤ 3072 longs no matter how
    * large the corpus, vs the full-vocabulary shuffle an exact top-k
    * needs.
    */
  private val heavyHitters = Q(
    "q_text_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val words = Tables(s, dir).documents
        .select(explode(split($"text", " ")).as("w"))
      val cells = graft.operators.Sketches
        .cmsCells(words, $"w", CmsDepth, CmsWidth)
      val est = graft.operators.Sketches
        .cmsEstimate(cells, words, $"w", CmsDepth, CmsWidth)
      val tru = words.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      est.withColumnRenamed("k", "w").join(tru, Seq("w"))
        .select($"w".as("word"), $"est", $"true_cnt")
        .orderBy($"est".desc, $"word")
        .limit(20)
    },
    Some(s"""WITH words AS (
            |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
            |),
            |hx AS (SELECT w, md5(w) AS hx FROM words),
            |hh AS (
            |  SELECT w, ${Dedup.hex15ToBig("hx", 1)} AS h1,
            |         ${Dedup.hex15ToBig("hx", 17)} AS h2
            |  FROM hx
            |),
            |probes AS (
            |  SELECT w, s.s AS r, (h1 + s.s * h2) % $CmsWidth AS pos
            |  FROM hh, unnest(range(0, $CmsDepth)) AS s(s)
            |),
            |cells AS (
            |  SELECT r, pos, CAST(count(*) AS BIGINT) AS cnt
            |  FROM probes GROUP BY r, pos
            |),
            |dw AS (SELECT DISTINCT w, r, pos FROM probes),
            |est AS (
            |  SELECT dw.w, CAST(min(c.cnt) AS BIGINT) AS est
            |  FROM dw JOIN cells c ON c.r = dw.r AND c.pos = dw.pos
            |  GROUP BY dw.w
            |),
            |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
            |        FROM words GROUP BY w)
            |SELECT e.w AS word, e.est, t.true_cnt
            |FROM est e JOIN tru t ON t.w = e.w
            |ORDER BY e.est DESC, word
            |LIMIT 20""".stripMargin),
  )

  /** Misra-Gries guaranteed heavy hitters over corpus words
    * (`functions.MisraGries`, K = 64): the deterministic-guarantee
    * complement of [[heavyHitters]]'s count-min estimate — 64 counters
    * of state per group at ANY corpus size, no hash, no second pass,
    * and two worst-case invariants that hold under any arrival order
    * and merge tree: counts never exceed truth (decrements only),
    * truth never exceeds count + n/(K+1), and every item above the
    * n/(K+1) frequency line is PRESENT (zero false negatives). Like
    * the KLL gate, the retained counters are arrival-order-dependent,
    * so the gate pins the order-invariant contract: for each
    * exactly-heavy word (true_cnt·65 > n, integer-exact), its exact
    * count and the three invariant verdicts; the oracle derives the
    * same heavy set exactly and asserts the verdicts the MG theorems
    * prove. The corpus is scanned twice only because this IS the
    * accuracy audit — production reads the 64 counters alone.
    */
  private val misraGriesHeavy = Q(
    "q_sketch_misra_gries",
    (s, dir) => {
      import s.implicits._
      val words = Tables(s, dir).documents
        .select(explode(split($"text", " ")).as("w"))
      val sk = words.agg(
        call_function(graft.functions.MisraGries.Name, $"w").as("s"),
        count(lit(1)).as("n"))
      val mg = sk.select(explode($"s").as("p"))
        .select($"p.item".as("w"), $"p.cnt".as("mg_cnt"))
      val tru = words.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      tru.crossJoin(broadcast(sk.select($"n")))
        .filter($"true_cnt" * 65 > $"n")
        .join(broadcast(mg), Seq("w"), "left")
        .select($"w".as("word"), $"true_cnt",
          $"mg_cnt".isNotNull.as("covered"),
          (coalesce($"mg_cnt", lit(0L)) <= $"true_cnt").as("lb_ok"),
          (($"true_cnt" - coalesce($"mg_cnt", lit(0L))) * 65 <= $"n").as("ub_ok"))
        .orderBy($"word")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
           |        FROM words GROUP BY w)
           |SELECT w AS word, true_cnt,
           |       TRUE AS covered, TRUE AS lb_ok, TRUE AS ub_ok
           |FROM tru, nn
           |WHERE true_cnt * 65 > n
           |ORDER BY word""".stripMargin),
  )

  /** SpaceSaving top items with PER-ITEM error certificates
    * (`functions.SpaceSaving`, K = 64; Metwally et al. ICDT 2005,
    * mergeable form per Agarwal et al. PODS 2012): the certificate-
    * issuing member of the frequency family — where [[misraGriesHeavy]]
    * bounds every count by ONE global slack n/(K+1), each SpaceSaving
    * item carries its own [lb, ub] bracket (lb = the MG counter,
    * ub = lb + its insertion-time + survived-decrement deficit), plus
    * an EXPLICIT summary deficit Δ certifying "any unreported item has
    * true count ≤ Δ". The gate audits everything order-invariantly:
    * per heavy word (true·65 > n, the theorem's coverage line since
    * Δ ≤ n/(K+1)) coverage + both bracket sides; corpus-wide, that
    * EVERY reported item's bracket holds against exact counts, every
    * per-item slack is ≤ Δ, and Δ·65 ≤ n. The retained set is
    * arrival-order-dependent (the KLL/MG discipline) — only these
    * verdicts are invariant, and they are theorems, so both engines
    * must agree.
    */
  private val spaceSavingTop = Q(
    "q_sketch_spacesaving",
    (s, dir) => {
      import s.implicits._
      val words = Tables(s, dir).documents
        .select(explode(split($"text", " ")).as("w"))
      val sk = words.agg(
        call_function(graft.functions.SpaceSaving.Name, $"w").as("s"),
        count(lit(1)).as("n"))
      val items = sk.select(explode($"s.items").as("p"), $"s.delta".as("delta"))
        .select($"p.item".as("w"), $"p.lb".as("lb"), $"p.ub".as("ub"), $"delta")
      val tru = words.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      val audit = items.join(tru, Seq("w"), "left")
        .agg(
          bool_and($"lb" <= coalesce($"true_cnt", lit(0L)) &&
            coalesce($"true_cnt", lit(0L)) <= $"ub").as("brackets_ok"),
          bool_and($"ub" - $"lb" <= $"delta").as("slack_ok"),
          (count(lit(1)) <= 64).as("size_ok"))
      tru.crossJoin(broadcast(sk.select($"n", $"s.delta".as("delta"))))
        .filter($"true_cnt" * 65 > $"n")
        .join(broadcast(items.select($"w", $"lb", $"ub")), Seq("w"), "left")
        .crossJoin(broadcast(audit))
        .select($"w".as("word"), $"true_cnt",
          $"lb".isNotNull.as("covered"),
          (coalesce($"lb", lit(0L)) <= $"true_cnt").as("lb_ok"),
          ($"true_cnt" <= coalesce($"ub", lit(Long.MaxValue))).as("ub_ok"),
          ($"delta" * 65 <= $"n").as("delta_ok"),
          $"brackets_ok", $"slack_ok", $"size_ok")
        .orderBy($"word")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
           |        FROM words GROUP BY w)
           |SELECT w AS word, true_cnt,
           |       TRUE AS covered, TRUE AS lb_ok, TRUE AS ub_ok,
           |       TRUE AS delta_ok, TRUE AS brackets_ok, TRUE AS slack_ok,
           |       TRUE AS size_ok
           |FROM tru, nn
           |WHERE true_cnt * 65 > n
           |ORDER BY word""".stripMargin),
  )

  /** STREAMING twin of [[misraGriesHeavy]]: the 64 Misra-Gries
    * counters ARE the streaming state — a complete-mode global
    * aggregate whose buffer is the O(K) summary, accumulated across
    * micro-batches by the same mergeable-summaries rule the batch
    * shuffle uses (this is the live "trending items" monitor shape:
    * fixed state, any volume). The finish audits the STREAM-
    * accumulated counters against exact batch counts and pins the
    * identical order-invariant contract on the identical oracle —
    * MG's guarantees are arrival-order-free, which is precisely why
    * the same verdict columns gate both the batch and the stream.
    */
  private val streamMisraGries = Q(
    "q_stream_misra_gries",
    (s, dir) => {
      import s.implicits._
      val st = ScopedConf.streamGate(s, "graft_stream_mg_gate", "complete", partitions = 1) {
        Tables.streamTable(s, dir, "documents")
          .select(explode(split($"text", " ")).as("w"))
          .agg(call_function(graft.functions.MisraGries.Name, $"w").as("s"), count(lit(1)).as("n"))
      }
      val mg = st.select(explode($"s").as("p"))
        .select($"p.item".as("w"), $"p.cnt".as("mg_cnt"))
      val words = Tables(s, dir).documents
        .select(explode(split($"text", " ")).as("w"))
      words.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(st.select($"n")))
        .filter($"true_cnt" * 65 > $"n")
        .join(broadcast(mg), Seq("w"), "left")
        .select($"w".as("word"), $"true_cnt",
          $"mg_cnt".isNotNull.as("covered"),
          (coalesce($"mg_cnt", lit(0L)) <= $"true_cnt").as("lb_ok"),
          (($"true_cnt" - coalesce($"mg_cnt", lit(0L))) * 65 <= $"n").as("ub_ok"))
        .orderBy($"word")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
           |        FROM words GROUP BY w)
           |SELECT w AS word, true_cnt,
           |       TRUE AS covered, TRUE AS lb_ok, TRUE AS ub_ok
           |FROM tru, nn
           |WHERE true_cnt * 65 > n
           |ORDER BY word""".stripMargin),
  )

  /** Misra-Gries summary LAKE — per-source heavy-hitter summaries
    * persisted to parquet (the array<struct<item,cnt>> output IS the
    * storable state — no codec needed), rolled up to a corpus summary
    * with `mg_merge` (the Agarwal et al. mergeable-summaries rule:
    * counters add, the (K+1)-th largest subtracts, non-positives
    * drop). The theorem says the rolled-up summary keeps the FULL
    * n/(K+1) guarantees of a direct corpus pass — so this gate pins
    * the identical contract as [[misraGriesHeavy]], but through
    * store + rollup: every exactly-heavy corpus word covered, counts
    * within [true − n/65, true]. Per-source summaries answer
    * per-source questions from the same lake for free.
    */
  private val mgLake = Q(
    "q_sketch_mg_lake",
    (s, dir) => {
      import s.implicits._
      val words = Tables(s, dir).documents
        .select($"source", explode(split($"text", " ")).as("w"))
      val lake = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_mg_lake_${s.sparkContext.applicationId}").getPath
      words.groupBy($"source")
        .agg(call_function(graft.functions.MisraGries.Name, $"w").as("s"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(lake)
      val stored = s.read.parquet(lake)
      val rolled = stored.agg(
        call_function(graft.functions.MisraGries.MergeName, $"s").as("s"),
        sum($"n").as("n"))
      val mg = rolled.select(explode($"s").as("p"))
        .select($"p.item".as("w"), $"p.cnt".as("mg_cnt"))
      words.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(rolled.select($"n")))
        .filter($"true_cnt" * 65 > $"n")
        .join(broadcast(mg), Seq("w"), "left")
        .select($"w".as("word"), $"true_cnt",
          $"mg_cnt".isNotNull.as("covered"),
          (coalesce($"mg_cnt", lit(0L)) <= $"true_cnt").as("lb_ok"),
          (($"true_cnt" - coalesce($"mg_cnt", lit(0L))) * 65 <= $"n").as("ub_ok"))
        .orderBy($"word")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
           |        FROM words GROUP BY w)
           |SELECT w AS word, true_cnt,
           |       TRUE AS covered, TRUE AS lb_ok, TRUE AS ub_ok
           |FROM tru, nn
           |WHERE true_cnt * 65 > n
           |ORDER BY word""".stripMargin),
  )

  /** STREAMING twin of [[spaceSavingTop]]: the summary (64 counters +
    * the deficit scalar) IS the streaming state — a complete-mode
    * global aggregate accumulated across micro-batches by the same
    * mergeable rule as the batch shuffle. The finish audits the
    * stream-accumulated certificates against exact batch counts on
    * the IDENTICAL oracle: the invariants are arrival-order-free
    * theorems, which is exactly why one contract gates both engines
    * and both execution modes (the q_stream_misra_gries discipline,
    * now with per-item brackets).
    */
  private val streamSpaceSaving = Q(
    "q_stream_spacesaving",
    (s, dir) => {
      import s.implicits._
      val st = ScopedConf.streamGate(s, "graft_stream_ss_gate", "complete", partitions = 1) {
        Tables.streamTable(s, dir, "documents")
          .select(explode(split($"text", " ")).as("w"))
          .agg(call_function(graft.functions.SpaceSaving.Name, $"w").as("s"), count(lit(1)).as("n"))
      }
      val items = st.select(explode($"s.items").as("p"), $"s.delta".as("delta"))
        .select($"p.item".as("w"), $"p.lb".as("lb"), $"p.ub".as("ub"), $"delta")
      val words = Tables(s, dir).documents
        .select(explode(split($"text", " ")).as("w"))
      val tru = words.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      val audit = items.join(tru, Seq("w"), "left")
        .agg(
          bool_and($"lb" <= coalesce($"true_cnt", lit(0L)) &&
            coalesce($"true_cnt", lit(0L)) <= $"ub").as("brackets_ok"),
          bool_and($"ub" - $"lb" <= $"delta").as("slack_ok"),
          (count(lit(1)) <= 64).as("size_ok"))
      tru.crossJoin(broadcast(st.select($"n", $"s.delta".as("delta"))))
        .filter($"true_cnt" * 65 > $"n")
        .join(broadcast(items.select($"w", $"lb", $"ub")), Seq("w"), "left")
        .crossJoin(broadcast(audit))
        .select($"w".as("word"), $"true_cnt",
          $"lb".isNotNull.as("covered"),
          (coalesce($"lb", lit(0L)) <= $"true_cnt").as("lb_ok"),
          ($"true_cnt" <= coalesce($"ub", lit(Long.MaxValue))).as("ub_ok"),
          ($"delta" * 65 <= $"n").as("delta_ok"),
          $"brackets_ok", $"slack_ok", $"size_ok")
        .orderBy($"word")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
           |        FROM words GROUP BY w)
           |SELECT w AS word, true_cnt,
           |       TRUE AS covered, TRUE AS lb_ok, TRUE AS ub_ok,
           |       TRUE AS delta_ok, TRUE AS brackets_ok, TRUE AS slack_ok,
           |       TRUE AS size_ok
           |FROM tru, nn
           |WHERE true_cnt * 65 > n
           |ORDER BY word""".stripMargin),
  )

  /** STREAMING certified top-k: the SpaceSaving summary accumulates as
    * complete-mode stream state (the [[streamSpaceSaving]] discipline),
    * and the CERTIFY leg runs over the sink — explode the accumulated
    * candidates, exact-count only them batch-side (the cheap verify
    * pass), keep those beating the stream-accumulated Δ, emit the
    * proven prefix. This is the live "trending items, PROVEN" monitor:
    * fixed sketch state across any volume, and each trigger's verify
    * pass touches ≤ 64 keys. Oracle: the unassisted exact top-10 —
    * identical to the batch gate's, because the proof contract is
    * arrival-order-free.
    */
  private val streamSsCertified = Q(
    "q_stream_ss_certified",
    (s, dir) => {
      import s.implicits._
      val st = ScopedConf.streamGate(s, "graft_stream_ss_cert_gate", "complete", partitions = 1) {
        Tables.streamTable(s, dir, "documents")
          .select(explode(split($"text", " ")).as("w"))
          .agg(call_function(graft.functions.SpaceSaving.Name, $"w").as("s"))
      }
      val cand = st.select(explode($"s.items.item").as("w"))
      val delta = st.select($"s.delta".as("delta"))
      val words = Tables(s, dir).documents
        .select(explode(split($"text", " ")).as("w"))
      val exact = words.join(broadcast(cand), "w")
        .groupBy($"w").agg(count(lit(1)).as("cnt"))
      exact.crossJoin(broadcast(delta))
        .filter($"cnt" > $"delta")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"cnt".desc, $"w")))
        .filter($"rank" <= 10)
        .select($"rank", $"w".as("word"), $"cnt")
        .orderBy($"rank")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
           |        FROM words GROUP BY w)
           |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS INTEGER) AS rank,
           |       w AS word, cnt
           |FROM tru
           |ORDER BY cnt DESC, w
           |LIMIT 10""".stripMargin),
  )

  /** The grouped certified top-k LIVE (composing [[ssCertifiedBySource]]
    * and [[streamSsCertified]]): one SpaceSaving summary PER SOURCE as
    * complete-mode stream state (|sources| × O(K) rows — the grouped
    * trending monitor), then each source's certify leg batch-side:
    * exact-count that source's ≤ 64 accumulated candidates, keep those
    * beating that source's accumulated Δ, emit per-source proven
    * top-5 prefixes. Same oracle as the batch gate — the proof
    * contract is arrival-order- and batching-free.
    */
  private val streamSsCertifiedBySource = Q(
    "q_stream_ss_cert_by_source",
    (s, dir) => {
      import s.implicits._
      val st = ScopedConf.streamGate(
          s, "graft_stream_ss_cert_src_gate", "complete", partitions = 4) {
        Tables.streamTable(s, dir, "documents")
          .select($"source", explode(split($"text", " ")).as("w"))
          .groupBy($"source")
          .agg(call_function(graft.functions.SpaceSaving.Name, $"w").as("s"))
      }
      val cand = st.select($"source".as("g"), explode($"s.items.item").as("w"))
      val delta = st.select($"source".as("g"), $"s.delta".as("delta"))
      val words = Tables(s, dir).documents
        .select($"source".as("g"), explode(split($"text", " ")).as("w"))
      val exact = words.join(broadcast(cand), Seq("g", "w"))
        .groupBy($"g", $"w").agg(count(lit(1)).as("cnt"))
      exact.join(broadcast(delta), "g")
        .filter($"cnt" > $"delta")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"g").orderBy($"cnt".desc, $"w")))
        .filter($"rank" <= 5)
        .select($"g".as("src"), $"rank", $"w".as("word"), $"cnt")
        .orderBy($"src", $"rank")
    },
    Some("""WITH words AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |tru AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
           |        FROM words GROUP BY source, w),
           |r AS (
           |  SELECT source, w, cnt,
           |         CAST(row_number() OVER (PARTITION BY source
           |           ORDER BY cnt DESC, w) AS INTEGER) AS rank
           |  FROM tru)
           |SELECT source AS src, rank, w AS word, cnt
           |FROM r WHERE rank <= 5
           |ORDER BY src, rank""".stripMargin),
  )

  /** SpaceSaving summary LAKE: per-source summaries persisted to
    * parquet (struct<delta, items> is directly storable) and rolled up
    * with `ss_merge` — per the mergeable rule, the rollup keeps the
    * FULL per-item bracket + coverage + deficit guarantees of a direct
    * corpus pass, and this gate pins exactly that contract through
    * store + rollup (the q_sketch_mg_lake discipline with
    * certificates).
    */
  private val ssLake = Q(
    "q_sketch_ss_lake",
    (s, dir) => {
      import s.implicits._
      val words = Tables(s, dir).documents
        .select($"source", explode(split($"text", " ")).as("w"))
      val lake = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_ss_lake_${s.sparkContext.applicationId}").getPath
      words.groupBy($"source")
        .agg(call_function(graft.functions.SpaceSaving.Name, $"w").as("s"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(lake)
      val stored = s.read.parquet(lake)
      val rolled = stored.agg(
        call_function(graft.functions.SpaceSaving.MergeName, $"s").as("s"),
        sum($"n").as("n"))
      val items = rolled.select(explode($"s.items").as("p"), $"s.delta".as("delta"))
        .select($"p.item".as("w"), $"p.lb".as("lb"), $"p.ub".as("ub"), $"delta")
      val tru = words.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      val audit = items.join(tru, Seq("w"), "left")
        .agg(
          bool_and($"lb" <= coalesce($"true_cnt", lit(0L)) &&
            coalesce($"true_cnt", lit(0L)) <= $"ub").as("brackets_ok"),
          bool_and($"ub" - $"lb" <= $"delta").as("slack_ok"),
          (count(lit(1)) <= 64).as("size_ok"))
      tru.crossJoin(broadcast(rolled.select($"n", $"s.delta".as("delta"))))
        .filter($"true_cnt" * 65 > $"n")
        .join(broadcast(items.select($"w", $"lb", $"ub")), Seq("w"), "left")
        .crossJoin(broadcast(audit))
        .select($"w".as("word"), $"true_cnt",
          $"lb".isNotNull.as("covered"),
          (coalesce($"lb", lit(0L)) <= $"true_cnt").as("lb_ok"),
          ($"true_cnt" <= coalesce($"ub", lit(Long.MaxValue))).as("ub_ok"),
          ($"delta" * 65 <= $"n").as("delta_ok"),
          $"brackets_ok", $"slack_ok", $"size_ok")
        .orderBy($"word")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
           |        FROM words GROUP BY w)
           |SELECT w AS word, true_cnt,
           |       TRUE AS covered, TRUE AS lb_ok, TRUE AS ub_ok,
           |       TRUE AS delta_ok, TRUE AS brackets_ok, TRUE AS slack_ok,
           |       TRUE AS size_ok
           |FROM tru, nn
           |WHERE true_cnt * 65 > n
           |ORDER BY word""".stripMargin),
  )

  /** The certificates doing QUERYABLE work (`Sketches.certifiedTopK`):
    * SpaceSaving's coverage deficit Δ turned into a PROOF of exact
    * top-k membership — sketch to ≤ 64 candidates, exact-count ONLY
    * the candidates (broadcast semi-join: the verify shuffle moves
    * ≤ 64 keys however big the corpus), keep candidates whose exact
    * count beats Δ, and the exact ordering of that set is a proven
    * prefix of the true frequency ranking. The oracle computes the
    * unassisted exact top-10 over the full vocabulary; the hash match
    * proves the two-phase sketch+verify plan returns the IDENTICAL
    * rows while shuffling 64 keys instead of the vocabulary — the
    * certificate is a queryable contract, not decoration. (The corpus
    * supports the proof with ~2.2× margin at rank 10: c₁₀ ≈ 2.2·n/65
    * at every SF, so the proven prefix always reaches k.)
    */
  private val ssCertifiedTopK = Q(
    "q_sketch_ss_certified",
    (s, dir) => {
      import s.implicits._
      val words = Tables(s, dir).documents
        .select(explode(split($"text", " ")).as("w"))
      graft.operators.Sketches.certifiedTopK(words, "w", k = 10)
        .select($"rank", $"item".as("word"), $"cnt")
        .orderBy($"rank")
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
           |        FROM words GROUP BY w)
           |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS INTEGER) AS rank,
           |       w AS word, cnt
           |FROM tru
           |ORDER BY cnt DESC, w
           |LIMIT 10""".stripMargin),
  )

  /** Per-source certified exact top-k
    * (`Sketches.certifiedTopKGrouped`): every source's proven top-5
    * words from one per-group sketch pass + one 64·|sources|-key
    * verify pass — the fleet-monitoring twin of
    * [[ssCertifiedTopK]], and the same queryable-proof contract: each
    * emitted row is CERTIFIED rank-r for its source because its exact
    * count beats that source's own coverage deficit Δ. Oracle: the
    * unassisted per-source exact top-5 over the full vocabulary (the
    * corpus supports the proof with ≥ 2.2× margin at rank 5 in every
    * source at every SF).
    */
  private val ssCertifiedBySource = Q(
    "q_sketch_ss_certified_by_source",
    (s, dir) => {
      import s.implicits._
      val words = Tables(s, dir).documents
        .select($"source", explode(split($"text", " ")).as("w"))
      graft.operators.Sketches.certifiedTopKGrouped(words, "source", "w", k = 5)
        .select($"g".as("src"), $"rank", $"item".as("word"), $"cnt")
        .orderBy($"src", $"rank")
    },
    Some("""WITH words AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
           |),
           |tru AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
           |        FROM words GROUP BY source, w),
           |r AS (
           |  SELECT source, w, cnt,
           |         CAST(row_number() OVER (PARTITION BY source
           |           ORDER BY cnt DESC, w) AS INTEGER) AS rank
           |  FROM tru)
           |SELECT source AS src, rank, w AS word, cnt
           |FROM r WHERE rank <= 5
           |ORDER BY src, rank""".stripMargin),
  )

  /** Length-bucketed batch planning (operators/Batching): bucket
    * boundaries are the corpus's p25/p50/p75 word-count quantiles from
    * the MERGEABLE histogram sketch (bin width 1 over [0,128) — the
    * quantiles are exact here, and at 100 TB the same sketch gives
    * one-bin-width bounds with no global sort), fetched in a bounded
    * driver pull like k-means centroids. The hash-matched report shows
    * per-bucket padding efficiency against the unbucketed baseline
    * (`bucket = -1`) under a 4096-token batch budget.
    */
  private val lengthBatching = Q(
    "q_text_length_batching",
    (s, dir) => {
      import s.implicits._
      val tok = Tables(s, dir).documents
        .select($"doc_id".as("id"),
          size(split($"text", " ")).cast("long").as("t"))
      val hq = graft.operators.Sketches
        .histogramQuantiles(tok, $"t", lo = 0.0, hi = 128.0, bins = 128,
          qs = Seq(0.25, 0.5, 0.75))
        .select($"q", $"approx_value").collect()
        .map(r => r.getDouble(0) -> r.getDouble(1).toLong).toMap
      graft.operators.Batching
        .lengthBucketedPlan(tok, Seq(hq(0.25), hq(0.5), hq(0.75)), 4096L)
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
           |  FROM documents
           |),
           |b AS (
           |  SELECT least(greatest(CAST(floor(
           |           (CAST(t AS DOUBLE) - 0.0) * 128.0 / 128.0) AS BIGINT), 0), 127) AS bin
           |  FROM tok
           |),
           |h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
           |c AS (
           |  SELECT bin, cnt,
           |         sum(cnt) OVER (ORDER BY bin) AS cum,
           |         sum(cnt) OVER () AS n
           |  FROM h
           |),
           |q(q) AS (VALUES (0.25), (0.5), (0.75)),
           |pick AS (
           |  SELECT q.q, min(c.bin) AS bin
           |  FROM q JOIN c ON c.cum >= ceil(q.q * c.n)
           |  GROUP BY q.q
           |),
           |bb AS (
           |  SELECT max(CASE WHEN q = 0.25 THEN bin + 1 END) AS b1,
           |         max(CASE WHEN q = 0.5  THEN bin + 1 END) AS b2,
           |         max(CASE WHEN q = 0.75 THEN bin + 1 END) AS b3
           |  FROM pick
           |),
           |a AS (
           |  SELECT t,
           |         CASE WHEN t <= bb.b1 THEN 0
           |              WHEN t <= bb.b2 THEN 1
           |              WHEN t <= bb.b3 THEN 2
           |              ELSE 3 END AS bucket
           |  FROM tok, bb
           |),
           |g AS (
           |  SELECT CAST(bucket AS BIGINT) AS bucket,
           |         CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(max(t) AS BIGINT) AS seq_len,
           |         CAST(sum(t) AS BIGINT) AS total_tokens
           |  FROM a GROUP BY bucket
           |  UNION ALL
           |  SELECT -1, CAST(count(*) AS BIGINT), CAST(max(t) AS BIGINT),
           |         CAST(sum(t) AS BIGINT)
           |  FROM tok
           |)
           |SELECT bucket, n_docs, seq_len, total_tokens,
           |       CAST(n_docs * seq_len AS BIGINT) AS padded_tokens,
           |       CAST(greatest(4096 // seq_len, 1) AS BIGINT) AS batch_docs,
           |       CAST(ceil(n_docs * 1.0 / greatest(4096 // seq_len, 1)) AS BIGINT) AS n_batches,
           |       round(total_tokens * 1.0 / (n_docs * seq_len), 4) AS efficiency
           |FROM g
           |ORDER BY bucket""".stripMargin),
  )

  /** Top-3 TF-IDF keywords per document — see
    * [[TextAnalysis.tfidfKeywords]] for the determinism and scale
    * story. The oracle repeats the identical ratio-idf arithmetic in
    * the same association order, so the quantized scores hash-match.
    */
  private val tfidfKeywords = Q(
    "q_text_tfidf_keywords",
    (s, dir) => {
      import s.implicits._
      TextAnalysis
        .tfidfKeywords(Tables(s, dir).documents, k = 3,
          TextAnalysis.defaultStopwords)
        .select($"doc_id", $"term", $"tf", $"score_q", $"rank")
        .orderBy($"doc_id", $"rank")
    },
    Some("""WITH tf AS (
           |  SELECT doc_id, term, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
           |  WHERE len(term) >= 3
           |    AND term NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')
           |  GROUP BY doc_id, term
           |),
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
           |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT t.doc_id, t.term, t.tf,
           |         CAST(round(CAST(t.tf AS DOUBLE) * (s.n_docs - d.df + 0.5)
           |                      / (d.df + 0.5) * 100) AS BIGINT) AS score_q
           |  FROM tf t JOIN df d USING (term), stats s
           |)
           |SELECT doc_id, term, tf, score_q, rank FROM (
           |  SELECT doc_id, term, tf, score_q,
           |         row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, term) AS rank
           |  FROM scored)
           |WHERE rank <= 3
           |ORDER BY doc_id, rank""".stripMargin),
  )

  val all: Seq[Q] =
    Seq(langId, quality, modelQuality, tokens, skipgram, phrases, subsample, chi2Divergence, fingerprint, redact, bm25, tfidfKeywords, decontaminate,
      decontaminateFuzzy,
      rareBigrams, lmScore, lmBackoff, dsir, repetition, chunk, cdcChunk, pack, packNfd, bpe, bpeEncode, boilerplate,
      dedupLines, bloomScreen,
      heavyHitters, misraGriesHeavy, streamMisraGries, mgLake,
      spaceSavingTop, streamSpaceSaving, ssLake, ssCertifiedTopK, ssCertifiedBySource,
      streamSsCertified, streamSsCertifiedBySource, lengthBatching)
}
