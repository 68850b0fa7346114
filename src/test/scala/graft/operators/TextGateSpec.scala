package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The fused curation gate must be EXACTLY the composition it
  * replaces: quality(docs) ⋈ langId(docs) on doc_id (left, since the
  * profile join drops no-match docs), row for row.
  */
class TextGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val fixture = Seq(
    // plain english: 'the'×2 + 'a' should win for en
    (1L, "the quick fox jumps over the lazy a dog", "web"),
    // tie between two languages → lexicographically-first must win
    (2L, "the le", "web"),               // en: 3, fr: 3 → 'en'
    (3L, "la", "books"),                 // fr: 3, es: 3 → 'es'
    // no profile word at all → langId drops it; gate must null it
    (4L, "zzz qqq rrr", "books"),
    // repetition with multiplicity
    (5L, "le le le the", "web"),         // fr: 9 > en: 3
    // single word, stopword-only
    (6L, "the", "web"),
  )

  test("gate == quality ⋈ langId (left) on every column") {
    import spark.implicits._
    val docs = fixture.toDF("doc_id", "text", "source")
    val fused = TextAnalysis
      .gate(docs, TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
      .select($"doc_id", $"source", $"chars", $"words", $"mean_word_len",
        $"stop_ratio", $"ttr", $"quality", $"pred_lang", $"best_score")
    val unfused = TextAnalysis.quality(docs, TextAnalysis.defaultStopwords)
      .join(TextAnalysis.langId(docs, TextAnalysis.defaultProfile)
        .select($"doc_id", $"pred_lang", $"best_score"), Seq("doc_id"), "left")
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .select($"doc_id", $"source", $"chars", $"words", $"mean_word_len",
        $"stop_ratio", $"ttr", $"quality", $"pred_lang",
        $"best_score".cast("long").as("best_score"))
    val f = fused.orderBy($"doc_id").collect().toSeq
    val u = unfused.orderBy($"doc_id").collect().toSeq
    assert(f == u, s"\nfused:   $f\nunfused: $u")
  }

  test("tie-break is the lexicographically-first max scorer") {
    import spark.implicits._
    val out = TextAnalysis
      .gate(fixture.toDF("doc_id", "text", "source"),
        TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
      .select($"doc_id", $"pred_lang")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(2L).contains("en"))
    assert(out(3L).contains("es"))
    assert(out(4L).isEmpty, "no-profile-word doc must have null pred_lang")
    assert(out(5L).contains("fr"))
  }

  test("the fused gate is a pure narrow map: zero exchanges, zero joins") {
    import spark.implicits._
    val docs = fixture.toDF("doc_id", "text", "source")
    val p = TextAnalysis
      .gate(docs, TextAnalysis.defaultStopwords, TextAnalysis.defaultProfile)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"fused gate grew a shuffle or join:\n$p")
  }
}
