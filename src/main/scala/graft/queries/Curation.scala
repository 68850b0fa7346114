package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.ScopedConf
import graft.operators.{TextAnalysis, TextDedup}

/** The composed curation pipeline — the training-data workflow the
  * individual operators exist for, end-to-end under one oracle:
  *
  *   quality gate → language gate → exact dedup → MinHash near-dup
  *   removal → per-source token accounting.
  *
  * Every stage reuses the already-oracle-checked operator (quality
  * features, profile lang-ID, hash-groupBy dedup, MinHash+LSH with
  * exact-Jaccard verify), so this query verifies their COMPOSITION:
  * filters feeding dedup feeding aggregation, with the near-dup drop
  * policy applied greedily (for every verified pair, the higher doc_id
  * is dropped — not a transitive closure; documented, deterministic).
  * Scale shape is the union of the parts: narrow quality/lang maps, a
  * broadcast profile join, shingle arrays with no dedup shuffle, band
  * equi-joins, and one final tiny per-source aggregation.
  *
  * The average quality is computed from integer-quantized values
  * (sum of 4-dp millis / count, one final division) so distributed
  * partial-aggregation order can't flip a float bit vs the oracle.
  */
object Curation {

  private def profileValues: String =
    TextAnalysis.defaultProfile
      .map { case (l, w, wt) => s"('$l', '$w', $wt)" }
      .mkString(", ")

  private def stopList: String =
    TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")

  private val curation = Q(
    "q_pipeline_curation",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      // quality + langId gates fused into ONE narrow pass (zero
      // shuffles, zero joins — see TextAnalysis.gate); spec'd equal to
      // the two-operator join it replaces
      val gated = TextAnalysis
        .gate(docs.select($"doc_id", $"text", $"source"),
          TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
        .filter($"quality" >= 0.45 && $"pred_lang" === "en")
        .select($"doc_id", $"text", $"source", $"words", $"quality")
        // eager localCheckpoint, not persist: gate's wide expression
        // tree would otherwise be RE-ANALYZED at every occurrence in
        // the downstream self-joins (a cache only short-circuits
        // execution, not analysis) — the checkpoint turns the whole
        // gate stage into a plan leaf
        .localCheckpoint(true)
      // exact dedup: one canonical (min doc_id) survivor per text hash
      val canonical = gated
        .groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      // persisted: kept feeds both the shingle-array table (via arr's
      // materialization) and the final anti-join — without the cache
      // the quality+langid+dedup lineage runs twice
      val kept = gated.join(canonical, Seq("doc_id"), "left_semi").persist()
      // near-dup removal: MinHash(8)+LSH(4×2) candidates, exact Jaccard
      // ≥ 0.8 verify, greedy drop of the pair's higher id
      val arr = TextDedup.shingleArrays(kept.select($"doc_id", $"text"), 3).localCheckpoint(true)
      val sh = arr.select($"doc_id", explode($"shs").as("sh"))
      val cnt = arr.select($"doc_id", size($"shs").as("n"))
      val pairs = TextDedup.bandPairs(
        TextDedup.minhashBands(TextDedup.minhashSignature(arr, 8), 8, 2),
        TextDedup.DefaultMaxBucket)
      val nearDups = TextDedup.jaccard(pairs, sh, cnt)
        .filter($"jaccard" >= 0.8)
        .select($"doc_b".as("doc_id"))
        .distinct()
      val curated = kept.join(nearDups, Seq("doc_id"), "left_anti")
      curated
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"words").as("total_tokens"),
          round(sum(round($"quality" * 10000).cast("long")) /
            (count(lit(1)) * 10000.0), 4).as("avg_quality"),
        )
        .orderBy($"source")
    },
    Some(s"""WITH prof(p_lang, p_word, p_weight) AS (VALUES $profileValues),
            |qbase AS (
            |  SELECT doc_id,
            |         len(string_split(text, ' ')) AS words,
            |         len(list_distinct(string_split(text, ' '))) AS distinct_words,
            |         len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS stop_hits
            |  FROM documents
            |),
            |qual AS (
            |  SELECT doc_id, words,
            |         round(least(words * 1.0 / 100, 1.0) * 0.4 +
            |               (distinct_words * 1.0 / words) * 0.4 +
            |               least(stop_hits * 1.0 / words * 5, 1.0) * 0.2, 4) AS quality
            |  FROM qbase
            |),
            |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
            |scores AS (
            |  SELECT doc_id, p_lang, sum(p_weight) AS score
            |  FROM w JOIN prof ON w = p_word GROUP BY doc_id, p_lang
            |),
            |mx AS (
            |  SELECT doc_id, p_lang, score, max(score) OVER (PARTITION BY doc_id) AS mxs
            |  FROM scores
            |),
            |pred AS (
            |  SELECT doc_id, min(p_lang) AS pred_lang FROM mx WHERE score = mxs GROUP BY doc_id
            |),
            |gated AS (
            |  SELECT d.doc_id, d.text, d.source, q.words, q.quality
            |  FROM documents d
            |  JOIN qual q ON q.doc_id = d.doc_id AND q.quality >= 0.45
            |  JOIN pred p ON p.doc_id = d.doc_id AND p.pred_lang = 'en'
            |),
            |canonical AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
            |kept AS (SELECT g.* FROM gated g JOIN canonical c ON g.doc_id = c.doc_id),
            |kws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
            |sh AS (
            |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
            |  FROM kws, unnest(range(1, len(ws) - 1)) AS t(i)
            |),
            |${Dedup.minhashOracleCtes},
            |${Dedup.cappedCandCtes()},
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            |inter AS (
            |  SELECT doc_a, doc_b, count(*) AS i
            |  FROM cand
            |  JOIN sh sa ON sa.doc_id = doc_a
            |  JOIN sh sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
            |  GROUP BY doc_a, doc_b
            |),
            |drops AS (
            |  SELECT DISTINCT doc_b AS doc_id
            |  FROM inter
            |  JOIN cnt ca ON ca.doc_id = doc_a
            |  JOIN cnt cb ON cb.doc_id = doc_b
            |  WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8
            |),
            |curated AS (
            |  SELECT k.* FROM kept k
            |  LEFT JOIN drops dr ON k.doc_id = dr.doc_id
            |  WHERE dr.doc_id IS NULL
            |)
            |SELECT source,
            |       count(*) AS n_docs,
            |       CAST(sum(words) AS BIGINT) AS total_tokens,
            |       round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE) /
            |             (count(*) * 10000.0), 4) AS avg_quality
            |FROM curated
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  /** Quality + language CTEs over an arbitrary `(doc_id, text)` source
    * CTE — the same formulas the v1 oracle inlines over `documents`,
    * parameterized so v2 can run them over REDACTED text.
    */
  private def gateCtes(src: String): String =
    s"""qbase AS (
       |  SELECT doc_id,
       |         len(string_split(text, ' ')) AS words,
       |         len(list_distinct(string_split(text, ' '))) AS distinct_words,
       |         len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS stop_hits
       |  FROM $src
       |),
       |qual AS (
       |  SELECT doc_id, words,
       |         round(least(words * 1.0 / 100, 1.0) * 0.4 +
       |               (distinct_words * 1.0 / words) * 0.4 +
       |               least(stop_hits * 1.0 / words * 5, 1.0) * 0.2, 4) AS quality
       |  FROM qbase
       |),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $src),
       |scores AS (
       |  SELECT doc_id, p_lang, sum(p_weight) AS score
       |  FROM w JOIN prof ON w = p_word GROUP BY doc_id, p_lang
       |),
       |mx AS (
       |  SELECT doc_id, p_lang, score, max(score) OVER (PARTITION BY doc_id) AS mxs
       |  FROM scores
       |),
       |pred AS (
       |  SELECT doc_id, min(p_lang) AS pred_lang FROM mx WHERE score = mxs GROUP BY doc_id
       |)""".stripMargin

  /** V2 of the pipeline, composing the round-3 operators end to end:
    *
    *   PII redaction → quality gate → language gate → exact dedup →
    *   near-dup CONNECTED-COMPONENTS canonicalization → per-source
    *   accounting (docs, tokens, redaction counts, avg quality).
    *
    * Differences from v1: every text-derived stage (quality, lang,
    * hashes, shingles) runs over the REDACTED text — the order a real
    * pipeline uses, since PII tokens would otherwise perturb quality
    * ratios and shingles — and near-dup removal keeps one canonical
    * doc per duplicate CLUSTER (`Components.connectedComponents`)
    * instead of v1's greedy per-pair drop. The oracle recomputes the
    * whole chain independently, including the recursive-CTE fixpoint.
    */
  private val curationV2 = Q(
    "q_pipeline_curation_v2",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      // redaction first: synthetic-PII augmentation (same as
      // q_text_redact) so the scrub stage does real work
      val red = TextAnalysis
        .redact(TextAnalysisQ.augmented(docs.select($"doc_id", $"text")))
        .withColumn("n_redactions",
          TextAnalysis.defaultPiiPatterns
            .map(p => col(s"n_${p.name}"))
            .reduce(_ + _))
        .select($"doc_id", $"redacted".as("text"), $"n_redactions")
      // quality + langId fused into one narrow pass over the redacted
      // text (TextAnalysis.gate) — the redaction chain now runs ONCE
      // inside it (no persist needed: red has a single consumer),
      // where the unfused form re-scanned `red` three times through
      // two extra shuffles and two extra joins
      val gated = TextAnalysis
        .gate(red, TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
        .filter($"quality" >= 0.45 && $"pred_lang" === "en")
        .join(docs.select($"doc_id", $"source"), "doc_id")
        .select($"doc_id", $"text", $"source", $"n_redactions", $"words", $"quality")
        // eagerly CHECKPOINTED here, post-gate: the regex redaction
        // chain + gate is the expensive stage, gated has two consumers,
        // and everything downstream references it many times through
        // self-joins — a cache would re-run none of it but would leave
        // its huge expression tree inside every downstream analysis
        // (measured: driver-side re-analysis dominated the chain)
        .localCheckpoint(true)
      val exactCanonical = gated
        .groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val kept = gated.join(exactCanonical, Seq("doc_id"), "left_semi").persist()
      val arr = TextDedup.shingleArrays(kept.select($"doc_id", $"text"), 3).localCheckpoint(true)
      val sh = arr.select($"doc_id", explode($"shs").as("sh"))
      val cnt = arr.select($"doc_id", size($"shs").as("n"))
      val pairs = TextDedup.jaccard(
        TextDedup.bandPairs(
          TextDedup.minhashBands(TextDedup.minhashSignature(arr, 8), 8, 2),
          TextDedup.DefaultMaxBucket),
        sh, cnt)
        .filter($"jaccard" >= 0.8)
        .select($"doc_a", $"doc_b")
      // cluster canonicalization: drop every clustered doc that is not
      // its component's minimum id
      val drops = graft.operators.Components
        .connectedComponents(pairs, "doc_a", "doc_b")
        .filter($"node" =!= $"component")
        .select($"node".as("doc_id"))
      val curated = kept.join(drops, Seq("doc_id"), "left_anti")
      curated
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"words").as("total_tokens"),
          sum($"n_redactions").as("total_redactions"),
          round(sum(round($"quality" * 10000).cast("long")) /
            (count(lit(1)) * 10000.0), 4).as("avg_quality"),
        )
        .orderBy($"source")
    },
    Some(s"""WITH RECURSIVE prof(p_lang, p_word, p_weight) AS (VALUES $profileValues),
            |aug AS (${TextAnalysisQ.augSql}),
            |${TextAnalysisQ.redactCtes},
            |red AS (
            |  SELECT doc_id, t AS text,
            |         ${TextAnalysisQ.redactCountCols.mkString(" + ")} AS n_redactions
            |  FROM ${TextAnalysisQ.redactFinalCte}
            |),
            |${gateCtes("red")},
            |gated AS (
            |  SELECT r.doc_id, r.text, d.source, r.n_redactions, q.words, q.quality
            |  FROM red r
            |  JOIN documents d ON d.doc_id = r.doc_id
            |  JOIN qual q ON q.doc_id = r.doc_id AND q.quality >= 0.45
            |  JOIN pred p ON p.doc_id = r.doc_id AND p.pred_lang = 'en'
            |),
            |canonical AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
            |kept AS (SELECT g.* FROM gated g JOIN canonical c ON g.doc_id = c.doc_id),
            |kws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
            |sh AS (
            |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
            |  FROM kws, unnest(range(1, len(ws) - 1)) AS t(i)
            |),
            |${Dedup.minhashOracleCtes},
            |${Dedup.cappedCandCtes()},
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            |inter AS (
            |  SELECT doc_a, doc_b, count(*) AS i
            |  FROM cand
            |  JOIN sh sa ON sa.doc_id = doc_a
            |  JOIN sh sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
            |  GROUP BY doc_a, doc_b
            |),
            |pairs AS (
            |  SELECT doc_a, doc_b
            |  FROM inter
            |  JOIN cnt ca ON ca.doc_id = doc_a
            |  JOIN cnt cb ON cb.doc_id = doc_b
            |  WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8
            |),
            |edges AS (
            |  SELECT doc_a AS src, doc_b AS dst FROM pairs
            |  UNION
            |  SELECT doc_b, doc_a FROM pairs
            |),
            |walk(node, comp) AS (
            |  SELECT src, src FROM edges
            |  UNION
            |  SELECT e.dst, wk.comp FROM walk wk JOIN edges e ON e.src = wk.node
            |),
            |drops AS (
            |  SELECT node AS doc_id FROM (
            |    SELECT node, min(comp) AS canonical_id FROM walk GROUP BY node)
            |  WHERE node <> canonical_id
            |),
            |curated AS (
            |  SELECT k.* FROM kept k
            |  LEFT JOIN drops dr ON k.doc_id = dr.doc_id
            |  WHERE dr.doc_id IS NULL
            |)
            |SELECT source,
            |       count(*) AS n_docs,
            |       CAST(sum(words) AS BIGINT) AS total_tokens,
            |       CAST(sum(n_redactions) AS BIGINT) AS total_redactions,
            |       round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE) /
            |             (count(*) * 10000.0), 4) AS avg_quality
            |FROM curated
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  /** V3 of the pipeline — the round-4 stages composed into the chain,
    * which now covers every standard pretraining-curation step:
    *
    *   PII redaction → heuristic quality + language gate →
    *   MODEL-BASED quality filter (integer linear classifier) →
    *   n-gram DECONTAMINATION against a held-out benchmark slice →
    *   exact dedup → near-dup connected-components canonicalization →
    *   per-source DOMAIN CAP → per-source accounting.
    *
    * Differences from v2: the corpus excludes the benchmark slice
    * (doc_id % 29 = 3 plays the eval set, as in q_text_decontaminate)
    * and three stages are appended — the learned-filter stage
    * (modelQuality's keep verdict over the redacted text), the
    * contamination drop (any shared 4-gram with the raw bench text),
    * and the FineWeb-style ≤12-docs-per-source cap (md5-priority
    * WindowGroupLimit). The oracle recomputes the whole chain, every
    * stage from its own first principles.
    *
    * Scale: each appended stage keeps its audited shape — the
    * classifier is a pure narrow map, decontamination broadcasts only
    * the bench gram set, the cap truncates groups map-side before its
    * one exchange. Latency is additive stage count, like v1/v2.
    */
  private val curationV3 = Q(
    "q_pipeline_curation_v3",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val bench = docs.filter($"doc_id" % 29 === 3)
        .select($"doc_id".as("bench_id"), $"text")
      val corpus = docs.filter($"doc_id" % 29 =!= 3)
      val red = TextAnalysis
        .redact(TextAnalysisQ.augmented(corpus.select($"doc_id", $"text")))
        .withColumn("n_redactions",
          TextAnalysis.defaultPiiPatterns
            .map(p => col(s"n_${p.name}"))
            .reduce(_ + _))
        .select($"doc_id", $"redacted".as("text"), $"n_redactions")
      val gated = TextAnalysis
        .gate(red, TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
        .filter($"quality" >= 0.45 && $"pred_lang" === "en")
        .join(docs.select($"doc_id", $"source"), "doc_id")
        .select($"doc_id", $"text", $"source", $"n_redactions", $"words", $"quality")
        // feeds the classifier AND the semi-join below; checkpointed so
        // the redact+gate tree becomes a leaf (see v2)
        .localCheckpoint(true)
      val mq = TextAnalysis.modelQuality(gated.select($"doc_id", $"text"))
        .filter($"verdict" === "keep")
        .select($"doc_id")
      val mqKept = gated.join(mq, Seq("doc_id"), "left_semi")
        .persist() // feeds decontamination AND the anti-join below
      val contaminated = TextAnalysis
        .decontaminate(mqKept.select($"doc_id", $"text"), bench, n = 4)
        .select($"doc_id")
      val clean = mqKept.join(contaminated, Seq("doc_id"), "left_anti")
        .persist() // feeds the canonical hash set AND kept
      val exactCanonical = clean
        .groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val kept = clean.join(exactCanonical, Seq("doc_id"), "left_semi").persist()
      val arr = TextDedup.shingleArrays(kept.select($"doc_id", $"text"), 3).localCheckpoint(true)
      val sh = arr.select($"doc_id", explode($"shs").as("sh"))
      val cnt = arr.select($"doc_id", size($"shs").as("n"))
      // persisted: the components loop's symmetric-closure union reads
      // the pair table TWICE (Spark unions don't share subplans), and
      // this jaccard plan is the single most expensive leaf in the
      // chain — uncached it ran 2× inside the loop's first
      // materialization (measured +14 s at sf0.1)
      val pairs = TextDedup.jaccard(
        TextDedup.bandPairs(
          TextDedup.minhashBands(TextDedup.minhashSignature(arr, 8), 8, 2),
          TextDedup.DefaultMaxBucket),
        sh, cnt)
        .filter($"jaccard" >= 0.8)
        .select($"doc_a", $"doc_b")
        .persist()
      val drops = graft.operators.Components
        .connectedComponents(pairs, "doc_a", "doc_b")
        .filter($"node" =!= $"component")
        .select($"node".as("doc_id"))
      val deduped = kept.join(drops, Seq("doc_id"), "left_anti")
      val capped = graft.operators.Mixture.domainCap(deduped, "source", "doc_id", 12)
      capped
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"words").as("total_tokens"),
          sum($"n_redactions").as("total_redactions"),
          round(sum(round($"quality" * 10000).cast("long")) /
            (count(lit(1)) * 10000.0), 4).as("avg_quality"),
        )
        .orderBy($"source")
    },
    Some(s"""WITH RECURSIVE prof(p_lang, p_word, p_weight) AS (VALUES $profileValues),
            |corpus3 AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 29 <> 3),
            |aug AS (${TextAnalysisQ.augSqlOver("corpus3")}),
            |${TextAnalysisQ.redactCtes},
            |red AS (
            |  SELECT doc_id, t AS text,
            |         ${TextAnalysisQ.redactCountCols.mkString(" + ")} AS n_redactions
            |  FROM ${TextAnalysisQ.redactFinalCte}
            |),
            |${gateCtes("red")},
            |gated AS (
            |  SELECT r.doc_id, r.text, d.source, r.n_redactions, q.words, q.quality
            |  FROM red r
            |  JOIN documents d ON d.doc_id = r.doc_id
            |  JOIN qual q ON q.doc_id = r.doc_id AND q.quality >= 0.45
            |  JOIN pred p ON p.doc_id = r.doc_id AND p.pred_lang = 'en'
            |),
            |mbase AS (
            |  SELECT doc_id,
            |         CAST(length(text) AS BIGINT) AS chars,
            |         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
            |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_words,
            |         CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS BIGINT) AS stop_hits
            |  FROM gated
            |),
            |mlogit AS (
            |  SELECT doc_id,
            |         2 * ((distinct_words * 1000) // words) +
            |         3 * ((stop_hits * 1000) // words) +
            |         1 * least(words * 10, 1000) +
            |         (-1) * abs(((chars - (words - 1)) * 1000) // words - 5000) +
            |         (-1000) AS logit_scaled
            |  FROM mbase
            |),
            |mq AS (SELECT doc_id FROM mlogit WHERE logit_scaled >= 0),
            |mqkept AS (SELECT g.* FROM gated g JOIN mq USING (doc_id)),
            |bws AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 29 = 3),
            |bg AS (
            |  SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
            |  FROM bws, unnest(range(1, len(ws) - 2)) AS t(i)
            |),
            |dws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM mqkept),
            |dcg AS (
            |  SELECT DISTINCT doc_id,
            |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
            |  FROM dws, unnest(range(1, len(ws) - 2)) AS t(i)
            |),
            |cont AS (SELECT DISTINCT doc_id FROM dcg JOIN bg USING (g)),
            |clean AS (
            |  SELECT m.* FROM mqkept m
            |  LEFT JOIN cont c USING (doc_id)
            |  WHERE c.doc_id IS NULL
            |),
            |canonical AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
            |kept AS (SELECT c.* FROM clean c JOIN canonical k ON c.doc_id = k.doc_id),
            |kws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
            |sh AS (
            |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
            |  FROM kws, unnest(range(1, len(ws) - 1)) AS t(i)
            |),
            |${Dedup.minhashOracleCtes},
            |${Dedup.cappedCandCtes()},
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            |inter AS (
            |  SELECT doc_a, doc_b, count(*) AS i
            |  FROM cand
            |  JOIN sh sa ON sa.doc_id = doc_a
            |  JOIN sh sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
            |  GROUP BY doc_a, doc_b
            |),
            |pairs AS (
            |  SELECT doc_a, doc_b
            |  FROM inter
            |  JOIN cnt ca ON ca.doc_id = doc_a
            |  JOIN cnt cb ON cb.doc_id = doc_b
            |  WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8
            |),
            |edges AS (
            |  SELECT doc_a AS src, doc_b AS dst FROM pairs
            |  UNION
            |  SELECT doc_b, doc_a FROM pairs
            |),
            |walk(node, comp) AS (
            |  SELECT src, src FROM edges
            |  UNION
            |  SELECT e.dst, wk.comp FROM walk wk JOIN edges e ON e.src = wk.node
            |),
            |drops AS (
            |  SELECT node AS doc_id FROM (
            |    SELECT node, min(comp) AS canonical_id FROM walk GROUP BY node)
            |  WHERE node <> canonical_id
            |),
            |curated AS (
            |  SELECT k.* FROM kept k
            |  LEFT JOIN drops dr ON k.doc_id = dr.doc_id
            |  WHERE dr.doc_id IS NULL
            |),
            |capped AS (
            |  SELECT * FROM (
            |    SELECT c.*,
            |           row_number() OVER (
            |             PARTITION BY source
            |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank_in_group
            |    FROM curated c)
            |  WHERE rank_in_group <= 12
            |)
            |SELECT source,
            |       count(*) AS n_docs,
            |       CAST(sum(words) AS BIGINT) AS total_tokens,
            |       CAST(sum(n_redactions) AS BIGINT) AS total_redactions,
            |       round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE) /
            |             (count(*) * 10000.0), 4) AS avg_quality
            |FROM capped
            |GROUP BY source
            |ORDER BY source""".stripMargin),
  )

  /** The curation GATE run incrementally — quality + language scoring
    * and exact dedup over a live document feed, proving the batch
    * pipeline's front half works unchanged as a stream:
    *
    *   stream → fused gate (pure narrow map, streaming-safe) →
    *   quality filter → stateful dropDuplicates on the content hash →
    *   per-language accounting.
    *
    * Determinism under the dedup race: WHICH physical copy of a
    * duplicated text survives `dropDuplicates` is race-dependent, so
    * the deduped rows carry only TEXT-PURE columns (content hash,
    * predicted language, word count, quantized quality) — equal for
    * every copy, making the final accounting deterministic. This is
    * the same discipline as q_stream_dedup_exact, extended through
    * the whole gate. The per-language aggregation runs batch-side on
    * the sink (one stateful operator in the stream keeps the query
    * inside Structured Streaming's supported shapes); state is one
    * entry per distinct content hash, as in any streaming dedup.
    * Oracle: the batch equivalent — min-id representative per text,
    * same gate formulas, same accounting.
    */
  private val streamCuration = Q(
    "q_stream_curation",
    (s, dir) => {
      import s.implicits._
      ScopedConf.streamGate(s, "graft_stream_curation_gate") {
        val src = Tables.streamTable(s, dir, "documents")
          .select($"doc_id", $"text")
        TextAnalysis
          .gate(src, TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
          .filter($"quality" >= 0.45)
          .select(
            md5($"text").as("h"),
            coalesce($"pred_lang", lit("und")).as("lang"),
            $"words",
            round($"quality" * 10000).cast("long").as("q_m"))
          .dropDuplicates("h")
      }
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"words").as("total_tokens"),
          round(sum($"q_m") / (count(lit(1)) * 10000.0), 4).as("avg_quality"))
        .orderBy($"lang")
    },
    Some(s"""WITH prof(p_lang, p_word, p_weight) AS (VALUES $profileValues),
            |rep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            |src AS (SELECT d.doc_id, d.text FROM documents d JOIN rep r ON d.doc_id = r.doc_id),
            |${gateCtes("src")},
            |g AS (
            |  SELECT s.doc_id, q.words, q.quality, p.pred_lang
            |  FROM src s
            |  JOIN qual q ON q.doc_id = s.doc_id AND q.quality >= 0.45
            |  LEFT JOIN pred p ON p.doc_id = s.doc_id
            |)
            |SELECT coalesce(pred_lang, 'und') AS lang,
            |       count(*) AS n_docs,
            |       CAST(sum(words) AS BIGINT) AS total_tokens,
            |       round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE) /
            |             (count(*) * 10000.0), 4) AS avg_quality
            |FROM g
            |GROUP BY 1
            |ORDER BY lang""".stripMargin),
  )

  /** Temperature-0.5 mixture sampling over the corpus's language
    * distribution (the one skewed grouping in the synthetic docs:
    * `en` dominates ~2.9×): rare languages get upweighted rates, and
    * the whole rate table plus the per-row keep/drop decision is
    * integer-deterministic, so DuckDB recomputes the identical sample
    * (see [[graft.operators.Mixture]]). Targets half the corpus.
    */
  private val sampleMixture = Q(
    "q_sample_mixture",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val rates = graft.operators.Mixture.temperatureRates(docs, "lang", 250L)
      graft.operators.Mixture.sample(docs, rates, "lang", "doc_id")
        .groupBy($"lang")
        .agg(
          max($"n_total").as("n_total"),
          max($"rate_bp").as("rate_bp"),
          count(lit(1)).as("n_sampled"),
          sum($"n_chars").as("sampled_chars"),
        )
        .orderBy($"lang")
    },
    Some("""WITH counts AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
           |w AS (
           |  SELECT lang, n_total,
           |         CAST(round(sqrt(n_total) * 1000) AS BIGINT) AS w
           |  FROM counts
           |),
           |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w FROM w),
           |rates AS (
           |  SELECT lang, n_total,
           |         least(CAST(10000 AS BIGINT), (w * 2500000) // (sum_w * n_total)) AS rate_bp
           |  FROM w CROSS JOIN tot
           |),
           |samp AS (
           |  SELECT d.lang, d.n_chars, r.n_total, r.rate_bp
           |  FROM documents d JOIN rates r USING (lang)
           |  WHERE (d.doc_id * 7919) % 10000 < r.rate_bp
           |)
           |SELECT lang,
           |       CAST(max(n_total) AS BIGINT) AS n_total,
           |       CAST(max(rate_bp) AS BIGINT) AS rate_bp,
           |       count(*) AS n_sampled,
           |       CAST(sum(n_chars) AS BIGINT) AS sampled_chars
           |FROM samp
           |GROUP BY lang
           |ORDER BY lang""".stripMargin),
  )

  /** Per-domain document cap under the gate (Mixture.domainCap — the
    * FineWeb-style dominance guard): at most 15 docs per source,
    * selected by md5-permutation priority. Verified per kept doc
    * including its within-group rank, so the oracle pins the exact
    * selection and order, not just counts. Plan relies on the
    * WindowGroupLimit rewrite (map-side group truncation before the
    * exchange) that PlanShapeSpec asserts for the rank pattern.
    */
  private val sampleDomainCap = Q(
    "q_sample_domain_cap",
    (s, dir) => {
      import s.implicits._
      graft.operators.Mixture
        .domainCap(Tables(s, dir).documents, "source", "doc_id", 15)
        .select($"doc_id", $"source", $"rank_in_group")
        .orderBy($"doc_id")
    },
    Some("""WITH r AS (
           |  SELECT doc_id, source,
           |         row_number() OVER (
           |           PARTITION BY source
           |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank_in_group
           |  FROM documents
           |)
           |SELECT doc_id, source, CAST(rank_in_group AS BIGINT) AS rank_in_group
           |FROM r WHERE rank_in_group <= 15
           |ORDER BY doc_id""".stripMargin),
  )

  /** Epoch upsampling under the gate (Mixture.upsample): temperature
    * rates targeting 2× the corpus, so scarce languages repeat across
    * epochs (rate > 10⁴ bp) while the dominant one stays sub-1×.
    * Per-language accounting pins total copies and copy-weighted
    * chars; max(epoch) additionally pins the deepest epoch reached —
    * all integer-deterministic, so both engines agree exactly.
    */
  private val sampleEpochs = Q(
    "q_sample_epochs",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val n = docs.count()
      val rates = graft.operators.Mixture.upsampleRates(docs, "lang", 2L * n)
      graft.operators.Mixture.upsample(docs, rates, "lang", "doc_id")
        .groupBy($"lang")
        .agg(
          max($"n_total").as("n_total"),
          max($"rate_bp").as("rate_bp"),
          count(lit(1)).as("n_sampled"),
          max($"epoch").as("max_epoch"),
          sum($"n_chars").as("sampled_chars"),
        )
        .orderBy($"lang")
    },
    Some("""WITH counts AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
           |nn AS (SELECT count(*) AS n FROM documents),
           |w AS (
           |  SELECT lang, n_total,
           |         CAST(round(sqrt(n_total) * 1000) AS BIGINT) AS w
           |  FROM counts
           |),
           |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w FROM w),
           |rates AS (
           |  SELECT lang, n_total,
           |         (w * (SELECT 2 * n * 10000 FROM nn)) // (sum_w * n_total) AS rate_bp
           |  FROM w CROSS JOIN tot
           |),
           |samp AS (
           |  SELECT d.lang, d.n_chars, r.n_total, r.rate_bp,
           |         rate_bp // 10000 +
           |           CASE WHEN (d.doc_id * 7919) % 10000 < rate_bp % 10000
           |                THEN 1 ELSE 0 END AS n_copies
           |  FROM documents d JOIN rates r USING (lang)
           |)
           |SELECT lang,
           |       CAST(max(n_total) AS BIGINT) AS n_total,
           |       CAST(max(rate_bp) AS BIGINT) AS rate_bp,
           |       CAST(sum(n_copies) AS BIGINT) AS n_sampled,
           |       CAST(max(n_copies) - 1 AS BIGINT) AS max_epoch,
           |       CAST(sum(n_chars * n_copies) AS BIGINT) AS sampled_chars
           |FROM samp
           |WHERE n_copies >= 1
           |GROUP BY lang
           |ORDER BY lang""".stripMargin),
  )

  /** Shard assignment for the corpus: 16 shards from the md5
    * permutation key (see [[graft.operators.Shards]]), verified by
    * per-shard doc/char accounting plus the min/max permutation keys
    * — the latter pin the exact membership boundary, not just counts.
    */
  private val shardAssign = Q(
    "q_shard_assign",
    (s, dir) => {
      import s.implicits._
      graft.operators.Shards.assign(Tables(s, dir).documents, "doc_id", 16)
        .groupBy($"shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          min($"okey").as("first_key"),
          max($"okey").as("last_key"),
        )
        .orderBy($"shard")
    },
    Some("""WITH sh AS (
           |  SELECT doc_id, n_chars,
           |         md5(CAST(doc_id AS VARCHAR)) AS okey,
           |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 16 AS shard
           |  FROM documents
           |)
           |SELECT shard, count(*) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |       min(okey) AS first_key, max(okey) AS last_key
           |FROM sh
           |GROUP BY shard
           |ORDER BY shard""".stripMargin),
  )

  /** The round-5 pieces composed into one mixture-construction report:
    *
    *   fused quality/language gate → per-source token-mass CAPS
    *   (cap_s = 4 + 36·tokens_s/total — the mixture-weighting rule,
    *   derived from the data, broadcast back) → WEIGHTED priority
    *   sampling per source (fnv63(id) div words: longer docs
    *   proportionally likelier, deterministic, integer-exact) →
    *   per-source accounting of the sampled mix.
    *
    * Scale shape: the gate is the usual narrow pass; caps are a
    * sources-sized relation broadcast back (the q_sample_mixture
    * shape); the per-source top-cap is rank-within-partition with a
    * LITERAL global bound (cap ≤ 40 by construction) so Catalyst
    * plans WindowGroupLimit — per-group pruning below the sort — and
    * the exact data-derived cap applies after the broadcast join.
    * Everything after the gate touches (doc_id, source, words,
    * quality) only — the text never shuffles.
    */
  private val pipelineWeightedMix = Q(
    "q_pipeline_weighted_mix",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir).documents
      val gated = TextAnalysis
        .gate(docs.select($"doc_id", $"text", $"source"),
          TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
        .filter($"quality" >= 0.45 && $"pred_lang" === "en")
        .select($"doc_id", $"source", $"words", $"quality")
        .localCheckpoint(true)
      val tot = gated.agg(sum($"words").as("tw"))
      val caps = gated.groupBy($"source")
        .agg(sum($"words").as("sw"), count(lit(1)).as("sn"))
        .crossJoin(broadcast(tot))
        .select($"source", $"sw", $"sn",
          (lit(4) + expr("(sw * 36) div tw")).as("cap"))
      val pri = gated.withColumn("priority",
        expr("fnv63(CAST(doc_id AS STRING)) div words"))
      val rk = pri.withColumn("rk",
        row_number().over(Window.partitionBy($"source")
          .orderBy($"priority", $"doc_id")))
        // literal global bound first: cap = 4 + 36·share ≤ 40 by
        // construction, and a LITERAL rank predicate is what lets
        // Catalyst plan WindowGroupLimit (per-group top-40 kept below
        // the sort); the exact per-source cap — a column, invisible to
        // that rewrite — prunes after the broadcast join
        .filter($"rk" <= 40)
      rk.join(broadcast(caps), "source")
        .filter($"rk" <= $"cap")
        .groupBy($"source")
        .agg(
          first($"sn").as("n_gated"),
          first($"sw").as("gated_tokens"),
          first($"cap").as("cap"),
          count(lit(1)).as("n_sampled"),
          sum($"words").as("sampled_tokens"),
          round(sum(round($"quality" * 10000).cast("long")) /
            (count(lit(1)) * 10000.0), 4).as("avg_quality"))
        .orderBy($"source")
    },
    Some(s"""WITH prof(p_lang, p_word, p_weight) AS (VALUES $profileValues),
            |${gateCtes("documents")},
            |gated AS (
            |  SELECT d.doc_id, d.source, q.words, q.quality
            |  FROM documents d
            |  JOIN qual q ON q.doc_id = d.doc_id AND q.quality >= 0.45
            |  JOIN pred p ON p.doc_id = d.doc_id AND p.pred_lang = 'en'
            |),
            |tot AS (SELECT sum(words) AS tw FROM gated),
            |caps AS (
            |  SELECT source, sum(words) AS sw, count(*) AS sn,
            |         4 + (sum(words) * 36) // (SELECT tw FROM tot) AS cap
            |  FROM gated GROUP BY source
            |),
            |pri AS (
            |  SELECT g.*,
            |         ${Relational.fnv63Sql("CAST(doc_id AS VARCHAR)")} // words AS priority
            |  FROM gated g
            |),
            |rk AS (
            |  SELECT *, row_number() OVER (
            |    PARTITION BY source ORDER BY priority, doc_id) AS rk
            |  FROM pri
            |),
            |sampled AS (
            |  SELECT r.* FROM rk r JOIN caps c USING (source) WHERE r.rk <= c.cap
            |)
            |SELECT source,
            |       CAST(c.sn AS BIGINT) AS n_gated,
            |       CAST(c.sw AS BIGINT) AS gated_tokens,
            |       CAST(c.cap AS BIGINT) AS cap,
            |       CAST(count(*) AS BIGINT) AS n_sampled,
            |       CAST(sum(s.words) AS BIGINT) AS sampled_tokens,
            |       round(CAST(sum(CAST(round(s.quality * 10000) AS BIGINT)) AS DOUBLE) /
            |             (count(*) * 10000.0), 4) AS avg_quality
            |FROM sampled s JOIN caps c USING (source)
            |GROUP BY source, c.sn, c.sw, c.cap
            |ORDER BY source""".stripMargin),
  )

  /** Deterministic weight-proportional sampling
    * (`operators.Sampling.systematicPps` — Madow 1949 systematic PPS):
    * draw a 200-slot training sample of documents with inclusion
    * ∝ n_chars (the "sample long docs more" curriculum knob), with
    * NO RNG and NO float keys — the u^(1/w) reservoir keys of
    * Efraimidis-Spirakis need libm pow/log, whose last bits differ
    * across engines; the systematic cumulative-line form is pure
    * integer arithmetic, so the gate pins the EXACT selected set and
    * multiplicities. Spark side runs the two-level bucketed prefix
    * construction (partitioned windows only — no global sort); the
    * oracle reproduces the identical (hash mod 64, hash, id) order
    * with ONE plain cumsum, a different program realizing the same
    * integers. Oversized docs (w ≥ W/k) carry multiplicity ≥ 1
    * deterministically, and Σ sample_weight = 200 exactly.
    */
  private val ppsSample = Q(
    "q_curation_pps_sample",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents.select($"doc_id", $"n_chars")
      graft.operators.Sampling.systematicPps(docs, "doc_id", "n_chars", k = 200L)
        .select($"doc_id", $"n_chars".cast("long").as("n_chars"), $"sample_weight")
        .orderBy($"doc_id")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
            |         ${Relational.fnv63Sql("CAST(doc_id AS VARCHAR)")} AS h
            |  FROM documents),
            |c AS (
            |  SELECT doc_id, w,
            |         CAST(sum(w) OVER (ORDER BY h % 64, h, doc_id
            |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cw
            |  FROM d),
            |t AS (SELECT CAST(sum(w) AS HUGEINT) AS wt FROM d)
            |SELECT doc_id, w AS n_chars,
            |       CAST((cw * 200) // wt - ((cw - w) * 200) // wt AS BIGINT)
            |         AS sample_weight
            |FROM c, t
            |WHERE (cw * 200) // wt - ((cw - w) * 200) // wt > 0
            |ORDER BY doc_id""".stripMargin),
  )

  /** Fixed-k WITHOUT-REPLACEMENT PPS (`operators.Sampling.ppsDistinct`)
    * — the eval-set complement of [[ppsSample]]: exactly 200 DISTINCT
    * documents with inclusion ∝ n_chars³ (cubed to plant real whales:
    * at sf0.01 several documents exceed W/k, so the gate exercises the
    * certainty cascade, not just the 0/1 systematic remainder). The
    * cascade is the take-all/take-some survey design computed as a
    * ONE-PASS prefix filter over the weight-descending order (failure
    * provably propagates down the order, so filter ≡ the iterative
    * fixpoint), run on the top-k frame only; the remainder rides the
    * same integer systematic line as ppsSample with k′ = k − #certain,
    * where every multiplicity is 0/1 by the cascade's stopping
    * condition — and a >1 multiplicity raises in-plan rather than
    * silently duplicating. Oracle: the identical integers through a
    * plain full-order window + NOT IN remainder — different program,
    * same selected set, bit-equal `certain` flags.
    */
  private val ppsDistinctQ = Q(
    "q_curation_pps_distinct",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
        .select($"doc_id", $"n_chars".cast("long").as("n_chars"))
        .withColumn("w3", $"n_chars" * $"n_chars" * $"n_chars")
      graft.operators.Sampling.ppsDistinct(docs, "doc_id", "w3", k = 200L)
        .select($"doc_id", $"n_chars", $"certain")
        .orderBy($"doc_id")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
            |         CAST(n_chars AS HUGEINT) * n_chars * n_chars AS w,
            |         ${Relational.fnv63Sql("CAST(doc_id AS VARCHAR)")} AS h
            |  FROM documents),
            |t AS (SELECT CAST(sum(w) AS HUGEINT) AS wt FROM d),
            |ord AS (
            |  SELECT *, row_number() OVER (ORDER BY w DESC, h, doc_id) AS j,
            |         CAST(sum(w) OVER (ORDER BY w DESC, h, doc_id
            |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS sj
            |  FROM d),
            |cert AS (
            |  SELECT ord.* FROM ord, t
            |  WHERE w * (200 - j + 1) >= wt - (sj - w)),
            |cc AS (SELECT count(*) AS c FROM cert),
            |rem AS (SELECT d.* FROM d
            |        WHERE doc_id NOT IN (SELECT doc_id FROM cert)),
            |rt AS (SELECT CAST(sum(w) AS HUGEINT) AS wt FROM rem),
            |rc AS (
            |  SELECT doc_id, n_chars, w,
            |         CAST(sum(w) OVER (ORDER BY h % 64, h, doc_id
            |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cw
            |  FROM rem),
            |picks AS (
            |  SELECT rc.doc_id, rc.n_chars FROM rc, rt, cc
            |  WHERE (cw * (200 - cc.c)) // rt.wt -
            |        ((cw - w) * (200 - cc.c)) // rt.wt > 0)
            |SELECT doc_id, n_chars, TRUE AS certain FROM cert
            |UNION ALL
            |SELECT doc_id, n_chars, FALSE AS certain FROM picks
            |ORDER BY doc_id""".stripMargin),
  )

  /** Stratified systematic PPS (`operators.Sampling.stratifiedPps`) —
    * the training-mix composer: a 200-slot sample whose per-SOURCE
    * budgets are the exact Hamilton (largest-remainder) apportionment
    * of 200 ∝ source character mass, then the deterministic integer
    * systematic line independently within each source. Everything is
    * integer-exact and cross-engine reproducible: quotas floor under
    * HUGEINT division, leftover seats go to the largest exact
    * remainders (wg·k mod wt) with (remainder, mass, source)
    * tie-breaks, and the within-source draw is [[ppsSample]]'s
    * construction partitioned by (source, bucket) — no global sort
    * anywhere, apportionment on a ≤|sources|-row bounded window.
    * Σ sample_weight = 200 exactly across the whole output.
    */
  private val ppsStratifiedQ = Q(
    "q_curation_pps_stratified",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
        .select($"doc_id", $"source", $"n_chars".cast("long").as("n_chars"))
      graft.operators.Sampling
        .stratifiedPps(docs, "source", "doc_id", "n_chars", k = 200L)
        .select($"doc_id", $"source", $"n_chars", $"k_g", $"sample_weight")
        .orderBy($"doc_id")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
            |         CAST(n_chars AS HUGEINT) AS w,
            |         ${Relational.fnv63Sql("CAST(doc_id AS VARCHAR)")} AS h
            |  FROM documents),
            |m AS (SELECT source, CAST(sum(w) AS HUGEINT) AS wg FROM d GROUP BY source),
            |t AS (SELECT CAST(sum(wg) AS HUGEINT) AS wt FROM m),
            |fl AS (
            |  SELECT source, wg, (wg * 200) // wt AS fl,
            |         (wg * 200) % wt AS rem
            |  FROM m, t),
            |sp AS (SELECT 200 - sum(fl) AS spare FROM fl),
            |al AS (
            |  SELECT source,
            |         fl + CASE WHEN row_number() OVER
            |           (ORDER BY rem DESC, wg DESC, source) <= (SELECT spare FROM sp)
            |           THEN 1 ELSE 0 END AS kg
            |  FROM fl),
            |c AS (
            |  SELECT source, doc_id, n_chars, w,
            |         CAST(sum(w) OVER (PARTITION BY source
            |           ORDER BY h % 64, h, doc_id
            |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cw
            |  FROM d),
            |wt2 AS (SELECT source, CAST(sum(w) AS HUGEINT) AS wtot
            |        FROM d GROUP BY source)
            |SELECT c.doc_id, c.source, c.n_chars,
            |       CAST(al.kg AS BIGINT) AS k_g,
            |       CAST((cw * kg) // wtot - ((cw - w) * kg) // wtot AS BIGINT)
            |         AS sample_weight
            |FROM c
            |JOIN wt2 USING (source)
            |JOIN al USING (source)
            |WHERE kg > 0
            |  AND (cw * kg) // wtot - ((cw - w) * kg) // wtot > 0
            |ORDER BY doc_id""".stripMargin),
  )

  val all: Seq[Q] = Seq(curation, curationV2, curationV3, streamCuration,
    sampleMixture, sampleDomainCap, sampleEpochs, shardAssign,
    pipelineWeightedMix, ppsSample, ppsDistinctQ, ppsStratifiedQ)
}
