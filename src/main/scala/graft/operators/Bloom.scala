package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Bloom-filter membership screen — the fixed-size alternative to
  * broadcasting a reference set wholesale.
  *
  * `TextAnalysis.decontaminate` broadcasts every distinct eval n-gram;
  * that is exact but its build side grows with the benchmark. The Bloom
  * screen replaces it with a bitmap of FIXED size m: k probe positions
  * per gram (Kirsch-Mitzenmacher double hashing over one md5 digest —
  * the same h1/h2 halves the MinHash family uses), a gram is flagged
  * iff all k probed bits are set. Guarantees:
  *
  *   - no false negatives — every gram actually present in the
  *     reference set probes only set bits, so the flagged set is a
  *     SUPERSET of the exact-match set (BloomSpec proves it against
  *     the exact join);
  *   - false positives at the standard (1 - e^(-kn/m))^k rate, fully
  *     deterministic given the hash family — the oracle reproduces
  *     them bit-for-bit.
  *
  * Scale shape: the filter is m/64 packed longs — built by one
  * bounded aggregation over the reference side (≤ m distinct
  * positions cross the wire, no matter how many grams the benchmark
  * has), then embedded as an ARRAY LITERAL in the candidate-side
  * plan. The membership test is therefore JOIN-FREE: a narrow map
  * (one digest + k bit probes per gram) the scan stage absorbs, with
  * the per-document rollup as the only exchange — keyed by doc_id,
  * never by gram. That is the 100 TB deployment: screen first at
  * fixed memory, run the exact `decontaminate` join only over the
  * flagged survivors. Keep m ≲ 2^24 (2 MB of longs) so the literal
  * stays a reasonable task-binary payload; past that, page the bitmap
  * into a broadcast variable instead.
  *
  * Reference analogue: the reference engine has no sketch surface; this
  * extends the training-data-pipeline family (SURVEY.md §2 “beyond the
  * reference” operators) alongside HLL, the histogram sketch, and the
  * count-min sketch.
  */
object Bloom {

  /** Max probes: h1 + (k-1)·h2 with 60-bit halves stays below 2^63
    * for k ≤ 8 — no overflow in Spark or in the oracle's BIGINT math.
    */
  private val MaxK = 8

  private def checkParams(m: Int, k: Int): Unit = {
    require(k >= 1 && k <= MaxK, s"Bloom: k ($k) must be in [1, $MaxK]")
    require(m >= 2, s"Bloom: m ($m) must be >= 2")
  }

  /** Distinct Bloom probe positions of one hashed gram, as an array
    * column: positions `(h1 + s·h2) mod m` for s in [0, k). Both
    * halves are nonnegative, so `%` and `pmod` agree — the oracle uses
    * plain `%`. Duplicate positions within a gram are collapsed so
    * all-probes-hit logic counts each bit once.
    */
  private def probeArray(h1: Column, h2: Column, m: Int, k: Int): Column =
    array_distinct(
      transform(sequence(lit(0), lit(k - 1)),
        s => (h1 + s.cast("long") * h2) % lit(m.toLong)))

  /** Adds a `__ps` probe-positions array column for `gram`. */
  private def withProbes(df: DataFrame, gram: Column, m: Int, k: Int): DataFrame =
    df.select(df.columns.map(col) :+ Cols.materialized(md5(gram)).as("__hx"): _*)
      .select(df.columns.map(col) :+
        Cols.materialized(probeArray(
          conv(col("__hx").substr(1, 15), 16, 10).cast("long"),
          conv(col("__hx").substr(17, 15), 16, 10).cast("long"),
          m, k)).as("__ps"): _*)

  /** The DISTINCT set of bit positions touched by the reference set's
    * `gram` column, as a relation — at most m rows regardless of
    * reference size. The distributed half of the filter build; also
    * handy on its own in tests.
    */
  def bits(ref: DataFrame, gram: Column, m: Int, k: Int): DataFrame = {
    checkParams(m, k)
    withProbes(ref.select(gram.as("g")).distinct(), col("g"), m, k)
      .select(explode(col("__ps")).as("pos"))
      .distinct()
  }

  /** Builds the packed bitmap: m/64 longs, bit p of word p/64 set iff
    * some reference gram probes position p. The collect is bounded by
    * m positions (the whole point of the filter), not by reference
    * size — same class of driver-side model-parameter fetch as the
    * k-means centroid pull.
    */
  def buildBits(ref: DataFrame, gram: Column, m: Int, k: Int): Array[Long] = {
    checkParams(m, k)
    val words = new Array[Long]((m + 63) / 64)
    bits(ref, gram, m, k).collect().foreach { r =>
      val p = r.getLong(0)
      words((p >> 6).toInt) |= 1L << (p & 63)
    }
    words
  }

  /** Membership test against a packed bitmap built by [[buildBits]]
    * with the SAME m and k (the caller owns that contract): emits the
    * candidate rows plus `hit` = 1 iff ALL the gram's probed bits are
    * set. Join-free narrow map — the bitmap rides in the plan as an
    * array literal.
    */
  def screenGrams(
      cand: DataFrame,
      id: Column,
      gram: Column,
      bitWords: Array[Long],
      m: Int,
      k: Int,
  ): DataFrame = {
    checkParams(m, k)
    require(bitWords.length == (m + 63) / 64,
      s"Bloom: bitmap has ${bitWords.length} words, expected ${(m + 63) / 64} for m=$m")
    val wordsLit = typedlit(bitWords.toSeq)
    val bitSet = (pos: Column) =>
      element_at(wordsLit, (pos / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0
    withProbes(cand.select(id.as("id"), gram.as("g")), col("g"), m, k)
      .select(col("id"), col("g"),
        when(forall(col("__ps"), bitSet), 1L).otherwise(0L).as("hit"))
  }

  /** fnv63-based probe positions — the CHEAP probe family for the
    * join-prefilter path, where the probe runs once per FACT row and
    * the md5 digest would dominate (the q_profile_columns_hll lesson):
    * h1 = fnv63(key), h2 = fnv63(key ++ '#'), both shifted to 60 bits
    * so k ≤ 8 probes stay overflow-free like the md5 halves. The
    * text-screen paths keep md5 probes because their ORACLES rebuild
    * the probe math from md5 hex; the prefilter's oracle is the plain
    * join (the bloom is invisible to the answer), so nothing
    * cross-engine pins this hash.
    */
  private def withFnvProbes(df: DataFrame, key: Column, m: Int, k: Int): DataFrame = {
    val h1 = shiftrightunsigned(
      call_function(graft.functions.Fnv63Hash.name, key), 3)
    val h2 = shiftrightunsigned(
      call_function(graft.functions.Fnv63Hash.name, concat(key, lit("#"))), 3)
    df.select(df.columns.map(col) :+
      Cols.materialized(probeArray(h1, h2, m, k)).as("__ps"): _*)
  }

  /** The distinct bit positions the reference keys touch, fnv63
    * probes — build side of [[prefilter]]'s bitmap.
    */
  def buildBitsFnv(ref: DataFrame, key: Column, m: Int, k: Int): Array[Long] = {
    checkParams(m, k)
    val words = new Array[Long]((m + 63) / 64)
    withFnvProbes(ref.select(key.as("k")), col("k"), m, k)
      .select(explode(col("__ps")).as("p")).distinct()
      .collect().foreach { r =>
        val p = r.getLong(0)
        words((p >> 6).toInt) |= 1L << (p & 63)
      }
    words
  }

  /** Semi-join reduction: keep only the rows whose `key` the bitmap
    * (built by [[buildBitsFnv]] with the SAME m and k) cannot rule
    * out, preserving every column. The 100-TB use is a
    * non-broadcastable dim join: the bitmap (m bits, built from the
    * dim keys) rides in the plan as a literal and prunes the fact
    * side BEFORE its shuffle, so the exchange moves only
    * plausibly-matching rows; the join itself then removes the bloom's
    * false positives — the filter changes cost, never the answer.
    * This is the hand-rolled form of runtime row-group filters, with
    * fnv63 probes (a few ns per fact row, no digest allocation).
    */
  def prefilter(
      df: DataFrame,
      key: Column,
      bitWords: Array[Long],
      m: Int,
      k: Int,
  ): DataFrame = {
    checkParams(m, k)
    require(bitWords.length == (m + 63) / 64,
      s"Bloom: bitmap has ${bitWords.length} words, expected ${(m + 63) / 64} for m=$m")
    val wordsLit = typedlit(bitWords.toSeq)
    val bitSet = (pos: Column) =>
      element_at(wordsLit, (pos / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0
    withFnvProbes(df, key, m, k).filter(forall(col("__ps"), bitSet)).drop("__ps")
  }

  /** Per-document decontamination screen: word n-gram shingles of
    * `docs` probed against a Bloom filter of `ref`'s shingles.
    * Output per doc: `n_grams`, `n_flagged` (grams the filter cannot
    * rule out — superset of exact matches), and their ratio. One
    * exchange total, keyed by doc_id.
    */
  def decontaminateScreen(
      docs: DataFrame,
      ref: DataFrame,
      n: Int,
      m: Int,
      k: Int,
  ): DataFrame = {
    val words = buildBits(TextDedup.shingles(ref, n), col("sh"), m, k)
    val grams = TextDedup.shingles(docs, n)
    screenGrams(grams, col("doc_id"), col("sh"), words, m, k)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("hit")).as("n_flagged"))
      .select(col("id").as("doc_id"), col("n_grams"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_grams"), 4)
          .as("bloom_ratio"))
  }
}
