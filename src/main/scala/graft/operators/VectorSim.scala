package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashBits

/** Vector similarity operators over an embedding column
  * (`array<float>`): brute-force cosine top-k (the exact baseline) and
  * random-hyperplane LSH bucketing (the 100 TB path).
  *
  * Determinism note: oracle-checked variants run on integer-quantized
  * components (`round(x * 1000)` as BIGINT). Dot products and norms are
  * then integer sums — associative, so partial-aggregation order can't
  * change a single bit — and the final cosine divides identical
  * integers in every engine. Quantization error at 3 decimals is ~1e-3
  * on unit-scale embeddings, well below any similarity threshold in
  * use; the unquantized double kernels are also provided for callers
  * that prefer raw floats.
  *
  * Scale shape: quantize/signature stages are narrow maps; LSH
  * candidate generation is an equi-join on (band, band_bits) — the only
  * shuffle — and brute-force is reserved for a bounded query sample.
  */
object VectorSim {

  /** Quantize a float-array column to integer milli-units. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Integer dot product of two quantized vectors (index-aligned).
    * Built-in HOF formulation — correct anywhere, but allocates a
    * zipped array per row.
    */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Same semantics via the native codegen'd expression (see
    * graft.functions.ArrayDotLong, which every `GraftSession`
    * installs). Use in hot per-pair verification loops.
    */
  def qdotNative(a: Column, b: Column): Column =
    call_function(graft.functions.ArrayDotLong.name, a, b)

  /** Squared L2 norm of a quantized vector. */
  def qnorm2(a: Column): Column = qdot(a, a)

  /** Cosine from quantized integers, rounded to 4 dp. */
  def qcosine(dot: Column, n2a: Column, n2b: Column): Column =
    round(dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))), 4)

  /** Exact cosine on raw double arrays (sequential fold — deterministic
    * for a given row, used by non-oracle callers).
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Signed-random-projection signature: bit `s` = sign of ⟨v, r_s⟩
    * where hyperplane `r_s` has ±1 components taken from the bits of
    * `md5("h" + s)` — deterministic, engine-reproducible, and a
    * standard rp-LSH family (collision probability 1 − θ/π per bit).
    * The hyperplane matrix is materialized driver-side as a literal so
    * executors do zero hashing per row.
    *
    * Input must carry a quantized vector column `q`; adds `sig`
    * (nBits-char '0'/'1' string).
    */
  def rpSignature(vecs: DataFrame, dims: Int, nBits: Int): DataFrame = {
    val planes: Seq[Seq[Long]] = (0 until nBits).map { s =>
      HashBits.md5Bits("h" + s, dims).map(b => if (b == 1) 1L else -1L)
    }
    val planesLit = array(planes.map(p => array(p.map(lit): _*)): _*)
    vecs.withColumn(
      "sig",
      array_join(
        transform(
          planesLit,
          plane =>
            when(
              aggregate(zip_with(col("q"), plane, (x, r) => x * r), lit(0L), (a, x) => a + x) >= 0,
              lit("1")).otherwise(lit("0"))),
        ""))
  }

  /** Nearest-centroid assignment: each vector to its best-cosine
    * centroid (rounded cosine, centroid-id tie-break — total order, so
    * engine-independent). Centroids broadcast; one narrow pass.
    */
  def assignToCentroids(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // native kernel: the assignment pass is vectors × centroids dots —
    // the hottest loop of every Lloyd iteration
    vecs
      .crossJoin(broadcast(cents))
      .withColumn("cos", qcosine(qdotNative(col("q"), col("qc")), col("n2"), col("n2c")))
      .withColumn("rn",
        row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id"), col("cos"))
  }

  /** One Lloyd update: element-wise integer mean of each cluster's
    * members, re-quantized (`round(avg)` of exact integer sums —
    * deterministic in any engine). Empty clusters drop out.
    */
  def recomputeCentroids(assign: DataFrame, vecs: DataFrame, dims: Int): DataFrame = {
    val avgs = (0 until dims).map(i =>
      round(avg(element_at(col("q"), i + 1))).cast("long").as(s"c_$i"))
    assign
      .join(vecs.select(col("vec_id"), col("q")), "vec_id")
      .groupBy(col("cent_id"))
      .agg(avgs.head, avgs.tail: _*)
      .select(col("cent_id"),
        array((0 until dims).map(i => col(s"c_$i")): _*).as("qc"))
      .withColumn("n2c", qnorm2(col("qc")))
  }

  /** Lloyd's k-means on quantized vectors: deterministic init
    * (caller-provided centroid subset), fixed iteration count. Returns
    * (final centroids, final assignment) — the centroid side is the
    * trained coarse quantizer an IVF index probes. Each iteration is
    * one broadcast + one shuffle on cent_id — linear in corpus size.
    */
  def kmeansFit(
      vecs: DataFrame,
      initCents: DataFrame,
      dims: Int,
      iters: Int): (DataFrame, DataFrame) = {
    var cents = initCents
    var assign = assignToCentroids(vecs, cents)
    (1 until iters).foreach { _ =>
      cents = recomputeCentroids(assign, vecs, dims)
      assign = assignToCentroids(vecs, cents)
    }
    (cents, assign)
  }

  /** Final assignment only (vec_id, cent_id, cos). */
  def kmeans(vecs: DataFrame, initCents: DataFrame, dims: Int, iters: Int): DataFrame =
    kmeansFit(vecs, initCents, dims, iters)._2

  /** One WEIGHTED Lloyd update: per-dimension round of the
    * weight-scaled mean Σwᵢqᵢ / Σwᵢ — [[recomputeCentroids]]'s
    * arithmetic generalized to integer point weights. Both sums are
    * exact decimals of long products, so the single IEEE double
    * division + half-away round is engine-identical; zero-weight rows
    * contribute nothing; clusters whose weight sum is zero drop out
    * (same contract as empty clusters in the unweighted update).
    */
  def recomputeCentroidsWeighted(
      assign: DataFrame,
      vecs: DataFrame,
      weightCol: String,
      dims: Int): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val avgs = (0 until dims).map(i =>
      round(sum(dec(col(weightCol)) * element_at(col("q"), i + 1)).cast("double") /
        sum(dec(col(weightCol))).cast("double")).cast("long").as(s"c_$i"))
    assign
      .join(vecs.select(col("vec_id"), col("q"), col(weightCol)), "vec_id")
      .groupBy(col("cent_id"))
      .agg(avgs.head, avgs.tail: _*)
      .filter(col("c_0").isNotNull)
      .select(col("cent_id"),
        array((0 until dims).map(i => col(s"c_$i")): _*).as("qc"))
      .withColumn("n2c", qnorm2(col("qc")))
  }

  /** Lloyd's k-means over a WEIGHTED point set — the coreset consumer
    * leg: a lightweight coreset ([[lightweightCoreset]]) stands in for
    * the corpus, each sampled row carrying an integer estimator
    * weight, and the trained quantizer comes out of 256 rows instead
    * of the full scan. Assignment is the identical nearest-cosine pass
    * (weights don't move a point's nearest centroid); only the update
    * is weight-scaled. Same deterministic fixed-iteration contract as
    * [[kmeansFit]]. `vecs` must carry (vec_id, q, n2, weightCol).
    */
  def kmeansFitWeighted(
      vecs: DataFrame,
      weightCol: String,
      initCents: DataFrame,
      dims: Int,
      iters: Int): (DataFrame, DataFrame) = {
    var cents = initCents
    var assign = assignToCentroids(vecs, cents)
    (1 until iters).foreach { _ =>
      cents = recomputeCentroidsWeighted(assign, vecs, weightCol, dims)
      assign = assignToCentroids(vecs, cents)
    }
    (cents, assign)
  }

  /** Nearest-centroid assignment under SQUARED L2 (the product-
    * quantization metric): argmin of ‖v−c‖² = n2v + n2c − 2⟨v,c⟩, and
    * since n2v is constant per vector the ranking key is the INTEGER
    * `n2c − 2·dot` with cent_id tie-break — a total order computed in
    * exact integer arithmetic, no sqrt, no float, engine-identical.
    */
  def assignToCentroidsL2(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vecs
      .crossJoin(broadcast(cents))
      .withColumn("d2p", col("n2c") - lit(2L) * qdotNative(col("q"), col("qc")))
      .withColumn("rn",
        row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d2p").asc, col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id"), col("d2p"))
  }

  /** Lloyd's k-means under L2 — same fixed-iteration deterministic
    * loop as [[kmeansFit]], with the PQ metric.
    */
  def kmeansFitL2(
      vecs: DataFrame,
      initCents: DataFrame,
      dims: Int,
      iters: Int): (DataFrame, DataFrame) = {
    var cents = initCents
    var assign = assignToCentroidsL2(vecs, cents)
    (1 until iters).foreach { _ =>
      cents = recomputeCentroids(assign, vecs, dims)
      assign = assignToCentroidsL2(vecs, cents)
    }
    (cents, assign)
  }

  /** Product-quantization codebooks (Jégou et al.: split each vector
    * into `m` contiguous subvectors of dims/m, k-means each subspace
    * independently under L2). Returns `(sub, cent_id, qc, n2c)` — the
    * per-subspace codebooks, unioned. Training is m independent Lloyd
    * runs over NARROW slices of the one quantized-vector table; each
    * iteration is a broadcast + a cent_id-keyed shuffle, linear in
    * corpus size. `initPred` picks deterministic seed vectors (their
    * subvector becomes subspace `sub`'s seed centroid, so every
    * subspace trains from the same ids but different data).
    */
  /** All m subspaces' subvectors as ONE table (vec_id, sub, q, n2) —
    * a narrow in-row explode, so every PQ stage below runs each Lloyd
    * step as one job over a table m× taller instead of m sequential
    * job chains (m× less driver-side latency; identical arithmetic).
    */
  private def subVectors(vecs: DataFrame, dims: Int, m: Int): DataFrame = {
    val d = dims / m
    vecs
      .select(col("vec_id"), explode(array((0 until m).map { j =>
        struct(lit(j).as("sub"), slice(col("q"), j * d + 1, d).as("q"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.q").as("q"))
      .withColumn("n2", qnorm2(col("q")))
  }

  /** L2 assignment per subspace: (vec_id, sub) → nearest (sub-local)
    * centroid by the integer key n2c − 2·dot, cent_id tie-break.
    */
  private def assignSubL2(subs: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    subs
      .join(broadcast(cents), "sub")
      .withColumn("d2p", col("n2c") - lit(2L) * qdotNative(col("q"), col("qc")))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("vec_id"), col("sub"))
          .orderBy(col("d2p").asc, col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cent_id"))
  }

  def pqTrain(
      vecs: DataFrame,
      dims: Int,
      m: Int,
      initPred: Column,
      iters: Int): DataFrame = {
    require(dims % m == 0, s"dims ($dims) must divide into $m subspaces")
    val d = dims / m
    val subs = subVectors(vecs, dims, m)
    var cents = subs.filter(initPred)
      .select(col("sub"), col("vec_id").as("cent_id"), col("q").as("qc"), col("n2").as("n2c"))
    var assign = assignSubL2(subs, cents)
    (1 until iters).foreach { _ =>
      val avgs = (0 until d).map(i =>
        round(avg(element_at(col("q"), i + 1))).cast("long").as(s"c_$i"))
      cents = assign
        .join(subs.select(col("vec_id"), col("sub"), col("q")), Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("cent_id"))
        .agg(avgs.head, avgs.tail: _*)
        .select(col("sub"), col("cent_id"),
          array((0 until d).map(i => col(s"c_$i")): _*).as("qc"))
        .withColumn("n2c", qnorm2(col("qc")))
      assign = assignSubL2(subs, cents)
    }
    cents.select(col("sub"), col("cent_id"), col("qc"), col("n2c"))
  }

  /** PQ encoding: each vector's m subvectors to their nearest subspace
    * centroids → `(vec_id, sub, code)`. m broadcast-assignment passes
    * over narrow slices; the coded corpus is m small integers per
    * vector — the memory compression that makes exhaustive ADC scans
    * affordable.
    */
  def pqEncode(vecs: DataFrame, codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    require(dims % m == 0, s"dims ($dims) must divide into $m subspaces")
    assignSubL2(subVectors(vecs, dims, m), codebooks)
      .select(col("vec_id"), col("sub"), col("cent_id").as("code"))
  }

  /** Asymmetric-distance (ADC) scoring: approximate ⟨query, cand⟩ =
    * Σ_j ⟨query_j, codebook_j(code_j)⟩ — the query side stays EXACT,
    * only the candidate is compressed, and the decomposition is exact
    * for the dot product. The per-query lookup tables (queries ×
    * subspace centroids — tiny) are built once and BROADCAST; scoring
    * the coded corpus is then a broadcast join + a (query, cand)-keyed
    * sum of m integers, with partial aggregation collapsing the m
    * rows map-side. All-integer scores → engine-exact ranking.
    * Restrict `codes` to an IVF posting list for the IVF-ADC composite.
    */
  def pqAdcScores(
      queries: DataFrame,
      codes: DataFrame,
      codebooks: DataFrame,
      dims: Int,
      m: Int): DataFrame =
    codes
      .join(broadcast(pqLut(queries, codebooks, dims, m)), Seq("sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dot")).as("score_q"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("score_q"))

  /** The per-query ADC lookup tables: ⟨query subvector, subspace
    * centroid⟩ for every (query, sub, centroid) — |Q|·m·k rows, the
    * tiny table the scan broadcasts. Exposed so composites (IVF-ADC)
    * can join it against posting-list-restricted candidate codes.
    */
  def pqLut(queries: DataFrame, codebooks: DataFrame, dims: Int, m: Int): DataFrame = {
    require(dims % m == 0, s"dims ($dims) must divide into $m subspaces")
    subVectors(queries, dims, m)
      .select(col("vec_id").as("query_id"), col("sub"), col("q").as("qs"))
      .join(broadcast(codebooks), "sub")
      .select(col("query_id"), col("sub"), col("cent_id").as("code"),
        qdotNative(col("qs"), col("qc")).as("dot"))
  }

  /** Dominant principal direction of the (uncentered) quantized
    * embedding Gram matrix XᵀX by the fixed-iteration power method —
    * covariance-FREE: each iteration is Xᵀ(Xv), i.e. one narrow pass
    * computing per-row dots against the broadcast-literal v, then one
    * per-dimension sum (posexplode → groupBy(pos): map-side combine
    * collapses every task to ≤ dims rows, so the shuffle moves
    * dims × tasks longs regardless of corpus size — the d×d covariance
    * matrix is never materialized, which is what makes PCA viable at
    * 100 TB where d² fits but n·d does not). The per-iteration driver
    * fetch is `dims` longs — a bounded model-parameter fetch, the same
    * class as the BPE argmax.
    *
    * Cross-engine determinism: v stays INTEGER (milli-scale) between
    * iterations, so every Xv dot and every per-dimension sum is exact
    * order-free integer arithmetic; the only floating point is the
    * per-iteration renormalization round(s_j·1000/√Σs_j²), computed
    * with an explicit left-fold norm in BOTH engines (foldLeft here,
    * list_reduce in the DuckDB oracle) and BigDecimal HALF_UP rounding
    * (matching SQL round()). The Gram matrix is PSD, so the iterate's
    * sign never flips and the all-ones start converges to the dominant
    * eigenvector for any spectrum with λ₁ > λ₂ and ⟨v₀,u₁⟩ ≠ 0.
    *
    * Input: (vec_id, q array<long>). Returns the final direction as
    * milli-scaled longs (|v| ≈ 1000).
    */
  def powerIteration(vecs: DataFrame, dims: Int, iters: Int): Seq[Long] = {
    var v: Seq[Long] = Seq.fill(dims)(1000L)
    for (_ <- 1 to iters) {
      val vLit = typedlit(v)
      val sums = vecs
        .select(col("q"), qdotNative(col("q"), vLit).as("d"))
        .select(posexplode(transform(col("q"), x => x * col("d"))))
        .groupBy(col("pos")).agg(sum(col("col")).as("s"))
        .orderBy(col("pos"))
        .collect().map(_.getLong(1)) // `dims` longs: bounded model fetch
      val norm2 = sums.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
      v = sums.map { x =>
        BigDecimal(x.toDouble * 1000.0 / math.sqrt(norm2))
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
      }.toSeq
    }
    v
  }

  /** LSH banding over the signature: (id, band, band_bits) rows. */
  def sigBands(sigs: DataFrame, idCol: String, nBits: Int, nBands: Int): DataFrame = {
    val w = nBits / nBands
    sigs
      .select(col(idCol), col("sig"), explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("band_bits", col("sig").substr(col("band") * w + 1, lit(w)))
      .select(col(idCol), col("band"), col("band_bits"))
  }

  /** Deterministic LIGHTWEIGHT CORESET for k-means (Bachem, Lucic &
    * Krause, "Scalable k-means clustering via lightweight coresets",
    * KDD 2018): sample m points with probability
    * q(x) = 1/(2n) + d²(x, μ)/(2·Σd²) — half uniform mass (so dense
    * regions stay represented), half proportional to the squared
    * distance from the GLOBAL MEAN (so outlying mass that dominates
    * k-means cost cannot be missed); weighting samples by 1/(m·q)
    * makes the coreset cost an unbiased ε-estimate of the full
    * clustering cost for any centroid set. One mean, one distance
    * pass, one sample — no bicriteria pre-clustering.
    *
    * Made DETERMINISTIC and cross-engine exact the house way: μ is
    * the exact integer per-dimension round(avg) over the quantized
    * vectors (the [[recomputeCentroids]] arithmetic), d² is the exact
    * integer n2 + n2μ − 2⟨q, μ⟩, and the draw clears q(x)'s
    * denominators into the integer sampling weight
    *
    *   w_i = Σd² + n·d²_i   (∝ q(x); uniform when Σd² = 0)
    *
    * fed to [[Sampling.systematicPps]] — no RNG, identical coreset on
    * every engine/retry. Scale shape: the mean and Σd² are one
    * map-side-combined aggregate each (broadcast back), d² a narrow
    * map, and the draw inherits systematicPps' two-level bucketed
    * prefix sums — no global sort. Long headroom for w is guarded
    * in-plan (raise_error past 2⁶³, the auc pattern). Returns the
    * sampled rows with `d2`, `w`, and `sample_weight` (multiplicity
    * m_i; the unbiased estimator weight is m_i·(2nΣ)/(m·w_i), a ratio
    * of returned integers).
    */
  def lightweightCoreset(
      vecs: DataFrame,
      dims: Int,
      m: Long,
      buckets: Int = 64,
  ): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val avgs = (0 until dims).map(i =>
      round(avg(element_at(col("q"), i + 1))).cast("long").as(s"__m$i"))
    val mu = vecs.agg(avgs.head, avgs.tail: _*)
      .select(array((0 until dims).map(i => col(s"__m$i")): _*).as("__muq"))
      .withColumn("__n2mu", qnorm2(col("__muq")))
    val d2 = vecs.crossJoin(broadcast(mu))
      .withColumn("d2",
        col("n2") + col("__n2mu") - lit(2L) * qdotNative(col("q"), col("__muq")))
      .drop("__muq", "__n2mu")
    val tot = d2.agg(sum(dec(col("d2"))).as("__sumd2"), count(lit(1)).as("__nn"))
    val weighted = d2.crossJoin(broadcast(tot))
      .withColumn("__wd",
        when(col("__sumd2") === 0, lit(1).cast("decimal(38,0)"))
          .otherwise(col("__sumd2") + dec(col("d2")) * col("__nn")))
      .withColumn("w",
        when(col("__wd") > lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(concat(
            lit("lightweightCoreset: sensitivity weight "),
            col("__wd").cast("string"),
            lit(" exceeds long headroom; rescale the quantization"))))
          .otherwise(col("__wd")).cast("long"))
      // carry the construction constants (same value every row): the
      // unbiased estimator weight of a sampled row is
      // m_i · (2 · n · sum_d2) / (m · w_i), so a consumer needs n and
      // Σd² alongside each row's (w, sample_weight)
      .withColumn("n", col("__nn"))
      .withColumn("sum_d2", col("__sumd2").cast("long"))
      .drop("__sumd2", "__nn", "__wd", "q", "n2")
    Sampling.systematicPps(weighted, "vec_id", "w", m, buckets)
  }
}
