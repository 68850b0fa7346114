package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.VectorSim

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): exact brute-force cosine top-k as the baseline, and
  * rp-LSH bucketing as the scale path — both on integer-quantized
  * components so the DuckDB oracle matches hash-for-hash (VectorSim
  * scaladoc explains why).
  */
object Similarity {

  /** Brute-force exact top-3 neighbors for a 1-in-50 query sample.
    * RECALL BASELINE ONLY — the sample bounds the constant, not the
    * asymptotics: each sampled query still scans every candidate, so
    * this query is for small-SF recall measurement of the ANN paths,
    * never the corpus-scale path. At scale use `q_embed_topk_ivf` /
    * `q_embed_topk_ivf_kmeans` (posting-list equi-joins, linear scan
    * volume per probe) and, if an exact answer is required, run this
    * form only within a bounded block (a cluster from `kmeansFit`, an
    * LSH bucket — the `q_dedup_embedding_cosine_blocked` shape).
    * Ranking is by rounded cosine with vec_id tie-break, so the
    * ordering is total and engine-independent.
    */
  private val topkBrute = Q(
    "q_embed_topk_brute",
    (s, dir) => {
      import s.implicits._
      // scope ENFORCED: the candidate side is counted and the O(n·q)
      // scan refused past spark.graft.allPairsMaxRows (see
      // Scale.requireAllPairsBounded) — recall baselines stay baselines
      val e = graft.operators.Scale.requireAllPairsBounded(
        Tables(s, dir).embeddings
          .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
          .withColumn("n2", VectorSim.qnorm2($"q")),
        "q_embed_topk_brute")
      val queries = e.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na"))
      val joined = queries
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")),
          $"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
      joined
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .select($"query_id", $"cand_id", $"rank", $"cosine")
        .orderBy($"query_id", $"rank")
    },
    Some("""WITH q AS (
           |  SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings
           |),
           |n AS (
           |  SELECT vec_id, q,
           |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
           |  FROM q
           |),
           |pairs AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           |         round(CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |                 i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS DOUBLE)
           |               / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cosine
           |  FROM n a JOIN n b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
           |),
           |ranked AS (
           |  SELECT query_id, cand_id, cosine,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
           |  FROM pairs
           |)
           |SELECT query_id, cand_id, rank, cosine
           |FROM ranked WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin),
  )

  /** rp-LSH near-neighbor pairs: 128-bit signed-random-projection
    * signatures, 16 bands × 8 bits, candidates verified with quantized
    * cosine ≥ 0.4.
    *
    * Band tuning (the knob that decides whether LSH beats brute force):
    * per-bit collision is 1 − θ/π, so an 8-bit band keeps recall high
    * exactly in the near-dup regime the operator exists for — ≥ 0.99
    * at cos 0.9, ≈ 0.94 at cos 0.8, ≈ 0.80 at cos 0.7 (by design,
    * borderline pairs at cos ≈ 0.5 surface with p ≈ 0.47; the exact
    * brute-force query is the baseline that quantifies this) — while
    * an UNRELATED pair (θ ≈ π/2, per-bit 0.5) collides anywhere with
    * only 16/2⁸ ≈ 6%. The previous 4-bit bands admitted ~50% of ALL
    * pairs as candidates, which is quadratic candidate volume with
    * extra steps; width-8 bands are what make candidate volume track
    * true-duplicate density instead of corpus size². Signatures and
    * the (tiny) band table are persisted: both join sides and the
    * verification stage reuse one computation.
    */
  private val lshPairs = Q(
    "q_embed_lsh_pairs",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val sigs = VectorSim.rpSignature(e, dims = 64, nBits = 128)
      val bands = VectorSim.sigBands(sigs, "vec_id", nBits = 128, nBands = 16).persist()
      // no distinct before verification: the raw band-join stream stays
      // inside one codegen stage (band table broadcasts) straight
      // through the two id→vector broadcast joins and the fused
      // dot+filter, and the distinct runs on the tiny SURVIVOR set
      // instead of shuffling every multi-band duplicate candidate.
      // Cost: re-verifying a pair once per colliding band (≤ nBands);
      // at scale that multiplier is bounded while the avoided shuffle
      // grows with the corpus.
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_bits") === col("b.band_bits") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      cand
        .join(e.select($"vec_id".as("vec_a"), $"q".as("qa"), $"n2".as("na")), "vec_a")
        .join(e.select($"vec_id".as("vec_b"), $"q".as("qb"), $"n2".as("nb")), "vec_b")
        .select($"vec_a", $"vec_b",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .filter($"cosine" >= 0.4)
        .distinct()
        .orderBy($"vec_a", $"vec_b")
    },
    Some("""WITH q AS (
           |  SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings
           |),
           |n AS (
           |  SELECT vec_id, q,
           |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
           |  FROM q
           |),
           |planes AS (
           |  SELECT s.s AS s, j.j AS j,
           |         CASE WHEN ((strpos('0123456789abcdef', substr(md5('h' || s.s), (j.j // 4) + 1, 1)) - 1) >> (j.j % 4)) & 1 = 1
           |              THEN 1 ELSE -1 END AS r
           |  FROM unnest(range(0, 128)) AS s(s), unnest(range(0, 64)) AS j(j)
           |),
           |dots AS (
           |  SELECT q.vec_id, p.s, sum(q.q[CAST(p.j AS INT) + 1] * p.r) AS dot
           |  FROM q, planes p
           |  GROUP BY q.vec_id, p.s
           |),
           |sig AS (
           |  SELECT vec_id,
           |         string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY s) AS sig
           |  FROM dots GROUP BY vec_id
           |),
           |bands AS (
           |  SELECT vec_id, band.band, substr(sig, band.band * 8 + 1, 8) AS band_bits
           |  FROM sig, unnest(range(0, 16)) AS band(band)
           |),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_bits = b.band_bits AND a.vec_id < b.vec_id
           |),
           |scored AS (
           |  SELECT vec_a, vec_b,
           |         round(CAST(list_sum(list_transform(range(1, len(na.q) + 1),
           |                 i -> na.q[CAST(i AS INT)] * nb.q[CAST(i AS INT)])) AS DOUBLE)
           |               / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
           |  FROM cand
           |  JOIN n na ON na.vec_id = vec_a
           |  JOIN n nb ON nb.vec_id = vec_b
           |)
           |SELECT vec_a, vec_b, cosine
           |FROM scored WHERE cosine >= 0.4
           |ORDER BY vec_a, vec_b""".stripMargin),
  )

  /** IVF top-k: the other scale path. Coarse quantizer = a
    * deterministic centroid subset (every 100th vector), posting
    * lists = nearest-centroid assignment, search probes the 2 nearest
    * centroids' lists and ranks exactly within them. One broadcast
    * (centroids) + one equi-join (posting lists) — never an all-pairs
    * product. Recall is bounded by nprobe like any IVF; the sampled
    * brute-force query is the exact baseline.
    */
  private val topkIvf = Q(
    "q_embed_topk_ivf",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val cents = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      def rankByCos(df: org.apache.spark.sql.DataFrame, part: String) =
        df.withColumn("cos",
            VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
          .withColumn("rn",
            row_number().over(
              Window.partitionBy(col(part)).orderBy($"cos".desc, $"cent_id")))
      // posting lists: every vector assigned to its nearest centroid
      val assign = rankByCos(e.crossJoin(broadcast(cents)), "vec_id")
        .filter($"rn" === 1)
        .select($"vec_id".as("cand_id"), $"cent_id")
      // queries probe their 2 nearest centroids
      val probes = rankByCos(
        e.filter($"vec_id" % 97 === 0).crossJoin(broadcast(cents)), "vec_id")
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      val cand = probes.join(assign, "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct()
      cand
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    Some("""WITH q AS (
           |  SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings
           |),
           |n AS (
           |  SELECT vec_id, q,
           |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
           |  FROM q
           |),
           |cents AS (SELECT vec_id AS cent_id, q AS qc, n2 AS n2c FROM n WHERE vec_id % 100 = 1),
           |alldots AS (
           |  SELECT v.vec_id, c.cent_id,
           |         round(CAST(list_sum(list_transform(range(1, len(v.q) + 1),
           |                 i -> v.q[CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS DOUBLE)
           |               / (sqrt(v.n2) * sqrt(c.n2c)), 4) AS cos
           |  FROM n v CROSS JOIN cents c
           |),
           |ranked AS (
           |  SELECT vec_id, cent_id,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
           |  FROM alldots
           |),
           |assign AS (SELECT vec_id AS cand_id, cent_id FROM ranked WHERE rn = 1),
           |probes AS (
           |  SELECT vec_id AS query_id, cent_id FROM ranked
           |  WHERE rn <= 2 AND vec_id % 97 = 0
           |),
           |cand AS (
           |  SELECT DISTINCT p.query_id, a.cand_id
           |  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           |  WHERE p.query_id <> a.cand_id
           |),
           |scored AS (
           |  SELECT c.query_id, c.cand_id,
           |         round(CAST(list_sum(list_transform(range(1, len(na.q) + 1),
           |                 i -> na.q[CAST(i AS INT)] * nb.q[CAST(i AS INT)])) AS DOUBLE)
           |               / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
           |  FROM cand c
           |  JOIN n na ON na.vec_id = c.query_id
           |  JOIN n nb ON nb.vec_id = c.cand_id
           |),
           |final AS (
           |  SELECT query_id, cand_id, cosine,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
           |  FROM scored
           |)
           |SELECT query_id, cand_id, cosine, rank
           |FROM final WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin),
  )

  /** DuckDB oracle CTE prefix for k-means: the same fixed-iteration
    * Lloyd loop, unrolled into CTEs by the same Scala code shape that
    * drives the Spark loop — init and update rules stay in lockstep by
    * construction. Ends with `cents{iters-1}` (the trained quantizer)
    * and `assign{iters-1}` (the final assignment); callers append
    * their final SELECT.
    */
  private[queries] def cosSqlDims(dims: Int)(
      vq: String, vn: String, cq: String, cn: String) =
    s"round(CAST(list_sum(list_transform(range(1, ${dims + 1}), i -> $vq[CAST(i AS INT)] * $cq[CAST(i AS INT)])) AS DOUBLE) / (sqrt($vn) * sqrt($cn)), 4)"

  private[queries] def cosSql(vq: String, vn: String, cq: String, cn: String) =
    cosSqlDims(64)(vq, vn, cq, cn)

  /** Lloyd CTE chain over an arbitrary vector source: `nSql` must
    * yield `(vec_id, q BIGINT[], n2 DOUBLE)`. Emits `n`, `cents0..`,
    * `assign0..assign{iters-1}`; callers append their final SELECT.
    * Parameterized so non-embedding vector columns (e.g. media feature
    * histograms) reuse the identical trained-quantizer oracle.
    */
  private[queries] def kmeansCtesOver(
      nSql: String, dims: Int, initPred: String, iters: Int): String = {
    def cos(vq: String, vn: String, cq: String, cn: String) =
      cosSqlDims(dims)(vq, vn, cq, cn)
    val sb = new StringBuilder
    sb ++= s"""WITH n AS (
             |$nSql
             |),
             |cents0 AS (SELECT vec_id AS cent_id, q AS qc, n2 AS n2c FROM n WHERE $initPred)""".stripMargin
    for (k <- 0 until iters) {
      sb ++= s""",
                |assign$k AS (
                |  SELECT vec_id, cent_id, cos FROM (
                |    SELECT vec_id, cent_id, cos,
                |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
                |    FROM (
                |      SELECT v.vec_id, c.cent_id, ${cos("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
                |      FROM n v CROSS JOIN cents$k c))
                |  WHERE rn = 1)""".stripMargin
      if (k < iters - 1) {
        sb ++= s""",
                  |cents${k + 1} AS (
                  |  SELECT cent_id, qc,
                  |         CAST(list_sum(list_transform(qc, x -> x * x)) AS DOUBLE) AS n2c
                  |  FROM (
                  |    SELECT cent_id, list(CAST(round(a) AS BIGINT) ORDER BY j) AS qc
                  |    FROM (
                  |      SELECT s.cent_id, t.j, avg(v.q[CAST(t.j AS INT) + 1]) AS a
                  |      FROM assign$k s JOIN n v ON v.vec_id = s.vec_id, unnest(range(0, $dims)) AS t(j)
                  |      GROUP BY s.cent_id, t.j)
                  |    GROUP BY cent_id))""".stripMargin
      }
    }
    sb.toString
  }

  /** The embeddings-table instantiation of the Lloyd CTE chain
    * (64 dims, every-100th-vector init) — the historical `kmeansCtes`.
    */
  private[queries] def kmeansCtes(iters: Int): String =
    kmeansCtesOver(
      """  SELECT vec_id, q,
        |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
        |  FROM (
        |    SELECT vec_id,
        |           list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |    FROM embeddings)""".stripMargin,
      dims = 64, initPred = "vec_id % 100 = 1", iters = iters)

  /** IVF probe chain appended after a Lloyd CTE chain: sample queries
    * by `queryPred` (over alias `v`), probe the 2 nearest centroids,
    * exact-rank top-3 inside the probed posting lists.
    */
  private[queries] def ivfProbeSql(L: Int, dims: Int, queryPred: String): String = s""",
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM (
      |    SELECT d.vec_id, d.cent_id,
      |           row_number() OVER (PARTITION BY d.vec_id ORDER BY d.cos DESC, d.cent_id) AS rn
      |    FROM (
      |      SELECT v.vec_id, c.cent_id, ${cosSqlDims(dims)("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
      |      FROM n v CROSS JOIN cents$L c
      |      WHERE $queryPred) d)
      |  WHERE rn <= 2
      |),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.vec_id AS cand_id
      |  FROM probes p JOIN assign$L a ON p.cent_id = a.cent_id
      |  WHERE p.query_id <> a.vec_id
      |),
      |scored AS (
      |  SELECT c.query_id, c.cand_id,
      |         ${cosSqlDims(dims)("na.q", "na.n2", "nb.q", "nb.n2")} AS cosine
      |  FROM cand c
      |  JOIN n na ON na.vec_id = c.query_id
      |  JOIN n nb ON nb.vec_id = c.cand_id
      |),
      |final AS (
      |  SELECT query_id, cand_id, cosine,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, cand_id, cosine, rank
      |FROM final WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** Oracle for q_embed_kmeans: the Lloyd CTEs + per-cluster rollup. */
  private def kmeansOracleSql(iters: Int): String =
    kmeansCtes(iters) + s"""
      |SELECT cent_id, count(*) AS n_members,
      |       CAST(sum(vec_id) AS BIGINT) AS member_checksum,
      |       min(cos) AS min_cos, max(cos) AS max_cos
      |FROM assign${iters - 1}
      |GROUP BY cent_id
      |ORDER BY cent_id""".stripMargin

  /** Oracle for q_embed_topk_ivf_kmeans: Lloyd CTEs, then IVF probe +
    * exact rank within the probed posting lists (nprobe = 2, top-3).
    */
  private def ivfKmeansOracleSql(iters: Int): String =
    kmeansCtes(iters) + ivfProbeSql(iters - 1, 64, "v.vec_id % 97 = 0")

  /** K-means clustering of the embedding corpus (3 Lloyd iterations,
    * deterministic init = every 100th vector): the trained-quantizer
    * upgrade of the IVF path, and the cluster-then-dedup primitive of
    * semantic dedup pipelines. Per-cluster output uses order-free
    * reductions (count, integer checksum, min/max of rounded cosine)
    * so the hash compare holds under distributed aggregation.
    */
  private val kmeansClusters = Q(
    "q_embed_kmeans",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      VectorSim.kmeans(e, init, dims = 64, iters = 3)
        .groupBy($"cent_id")
        .agg(
          count(lit(1)).as("n_members"),
          sum($"vec_id").as("member_checksum"),
          min($"cos").as("min_cos"),
          max($"cos").as("max_cos"),
        )
        .orderBy($"cent_id")
    },
    Some(kmeansOracleSql(3)),
  )

  /** IVF top-k with a TRAINED coarse quantizer: the k-means centroids
    * (3 Lloyd iterations) replace q_embed_topk_ivf's raw sample as the
    * quantizer, the final assignment is the posting-list index, and
    * search probes the 2 nearest centroids' lists with exact ranking
    * inside — the full train → index → probe IVF lifecycle, each stage
    * a broadcast or equi-join (never an all-pairs product), verified
    * hash-for-hash against the unrolled-CTE oracle.
    */
  private val topkIvfKmeans = Q(
    "q_embed_topk_ivf_kmeans",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val (cents, assignFinal) = VectorSim.kmeansFit(e, init, dims = 64, iters = 3)
      val posting = assignFinal.select($"vec_id".as("cand_id"), $"cent_id")
      val probes = e.filter($"vec_id" % 97 === 0)
        .crossJoin(broadcast(cents))
        .withColumn("cos",
          VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
        .withColumn("rn",
          row_number().over(
            Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      val cand = probes.join(posting, "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct()
      cand
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    Some(ivfKmeansOracleSql(3)),
  )

  /** The train-once / serve-many IVF lifecycle: k-means training runs
    * EXACTLY as in `q_embed_topk_ivf_kmeans`, but the trained index —
    * the centroid table and the posting-list assignment — is WRITTEN
    * to parquet and the probe runs against the RELOADED tables, never
    * the in-memory lineage. This is the shape a serving pipeline has
    * at scale: training is one linear job whose output is a few KB of
    * centroids plus an (id → cent_id) table; every later query batch
    * reads the index (broadcast-sized centroids, posting lists
    * partition-pruned by cent_id if the postings are written
    * `partitionBy("cent_id")`) and pays only the probe. Hash-matching
    * the same oracle as the in-memory query proves the round trip is
    * exact — quantized vectors are integer arrays, so parquet
    * round-trips them bit-for-bit.
    */
  private val topkIvfPersist = Q(
    "q_embed_ivf_persist",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val (cents, assignFinal) = VectorSim.kmeansFit(e, init, dims = 64, iters = 3)
      val idx = java.nio.file.Files
        .createTempDirectory("graft_ivf_index").toString
      cents.write.mode("overwrite").parquet(s"$idx/centroids")
      assignFinal.select($"vec_id".as("cand_id"), $"cent_id")
        .write.mode("overwrite")
        // cent_id partitioning = probe-time partition pruning: a
        // 2-probe query batch opens 2 posting directories, not the lake
        .partitionBy("cent_id").parquet(s"$idx/postings")
      val centsL = s.read.parquet(s"$idx/centroids")
      val postingL = s.read.parquet(s"$idx/postings")
        // partitionBy restores cent_id as int; the probe joins on it
        .select($"cand_id", $"cent_id".cast("long").as("cent_id"))
      val probes = e.filter($"vec_id" % 97 === 0)
        .crossJoin(broadcast(centsL))
        .withColumn("cos",
          VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
        .withColumn("rn",
          row_number().over(
            Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      val cand = probes.join(postingL, "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct()
      cand
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    Some(ivfKmeansOracleSql(3)),
  )

  /** Integer dot of two d-wide BIGINT lists in DuckDB. */
  private def dotSql(d: Int, a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, ${d + 1}), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])) AS BIGINT)"

  /** Per-subspace L2 Lloyd CTE chain for PQ training (subspace `j`,
    * width `d`): assignment ranks by the integer `n2c − 2·dot` (the
    * constant-shifted squared distance — no sqrt, no float anywhere),
    * update is the same round(avg) integer mean as the cosine chain.
    * Emits `s{j}n`, `s{j}c0..`, `s{j}a0..a{iters-1}`.
    */
  private def pqSubspaceCtes(j: Int, d: Int, initPred: String, iters: Int): String = {
    val lo = j * d + 1
    val hi = (j + 1) * d
    val sb = new StringBuilder
    sb ++= s""",
              |s${j}n AS (
              |  SELECT vec_id, q[$lo:$hi] AS q,
              |         ${dotSql(d, s"q[$lo:$hi]", s"q[$lo:$hi]")} AS n2
              |  FROM qv
              |),
              |s${j}c0 AS (SELECT vec_id AS cent_id, q AS qc, n2 AS n2c FROM s${j}n WHERE $initPred)""".stripMargin
    for (k <- 0 until iters) {
      sb ++= s""",
                |s${j}a$k AS (
                |  SELECT vec_id, cent_id FROM (
                |    SELECT vec_id, cent_id,
                |           row_number() OVER (PARTITION BY vec_id ORDER BY d2p ASC, cent_id) AS rn
                |    FROM (
                |      SELECT v.vec_id, c.cent_id,
                |             c.n2c - 2 * ${dotSql(d, "v.q", "c.qc")} AS d2p
                |      FROM s${j}n v CROSS JOIN s${j}c$k c))
                |  WHERE rn = 1)""".stripMargin
      if (k < iters - 1) {
        sb ++= s""",
                  |s${j}c${k + 1} AS (
                  |  SELECT cent_id, qc, ${dotSql(d, "qc", "qc")} AS n2c
                  |  FROM (
                  |    SELECT cent_id, list(CAST(round(a) AS BIGINT) ORDER BY jj) AS qc
                  |    FROM (
                  |      SELECT s.cent_id, t.jj, avg(v.q[CAST(t.jj AS INT) + 1]) AS a
                  |      FROM s${j}a$k s JOIN s${j}n v ON v.vec_id = s.vec_id, unnest(range(0, $d)) AS t(jj)
                  |      GROUP BY s.cent_id, t.jj)
                  |    GROUP BY cent_id))""".stripMargin
      }
    }
    sb.toString
  }

  /** Oracle for q_embed_topk_pq: 4 independent subspace Lloyd chains,
    * codes from the final assignments, per-query lookup tables against
    * the final codebooks, ADC = sum of the m looked-up integer dots.
    */
  /** The per-subspace final assignments as one (vec_id, sub, code) UNION. */
  private def pqCodesSql(m: Int, L: Int): String =
    (0 until m)
      .map(j => s"SELECT vec_id, $j AS sub, cent_id AS code FROM s${j}a$L")
      .mkString("\n  UNION ALL ")

  /** The ADC lookup tables: query subvector · final subspace centroids. */
  private def pqLutSql(m: Int, d: Int, L: Int, queryPred: String): String =
    (0 until m).map { j =>
      val lo = j * d
      s"""SELECT v.vec_id AS query_id, $j AS sub, c.cent_id AS code,
         |       CAST(list_sum(list_transform(range(1, ${d + 1}),
         |         i -> v.q[$lo + CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS BIGINT) AS dot
         |FROM qv v CROSS JOIN s${j}c$L c WHERE $queryPred""".stripMargin
    }.mkString("\n  UNION ALL ")

  private def pqOracleSql(m: Int, d: Int, iters: Int, initPred: String,
      queryPred: String): String = {
    val L = iters - 1
    val subs = (0 until m).map(j => pqSubspaceCtes(j, d, initPred, iters)).mkString
    val codes = pqCodesSql(m, L)
    val lut = pqLutSql(m, d, L, queryPred)
    s"""WITH qv AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings
       |)$subs,
       |codes AS (
       |  $codes
       |),
       |lut AS (
       |  $lut
       |),
       |sc AS (
       |  SELECT l.query_id, co.vec_id AS cand_id, CAST(sum(l.dot) AS BIGINT) AS score_q
       |  FROM codes co JOIN lut l ON l.sub = co.sub AND l.code = co.code
       |  WHERE l.query_id <> co.vec_id
       |  GROUP BY l.query_id, co.vec_id
       |)
       |SELECT query_id, cand_id, rank, score_q FROM (
       |  SELECT query_id, cand_id, score_q,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, cand_id) AS rank
       |  FROM sc)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Product quantization (PQ/ADC, Jégou et al.): 4 subspaces × 16
    * dims, 4 centroids each (every-125th-vector init, 2 L2 Lloyd
    * iterations), corpus stored as 4 small codes per vector, then an
    * asymmetric-distance scan for a 1-in-50 query sample — the query
    * side exact, the candidate side decoded through broadcast lookup
    * tables, scores exact integers. This is the COMPRESSED exhaustive
    * scan (at 100 TB the coded corpus is ~100× smaller than the
    * embeddings); feed `pqAdcScores` a posting-list-restricted `codes`
    * table for the IVF-ADC composite.
    */
  private val topkPq = Q(
    "q_embed_topk_pq",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .persist()
      val books = VectorSim
        .pqTrain(e, dims = 64, m = 4, initPred = $"vec_id" % 125 === 1, iters = 2)
        .persist()
      val codes = VectorSim.pqEncode(e, books, dims = 64, m = 4)
      val queries = e.filter($"vec_id" % 50 === 0)
      VectorSim.pqAdcScores(queries, codes, books, dims = 64, m = 4)
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"score_q".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .select($"query_id", $"cand_id", $"rank", $"score_q")
        .orderBy($"query_id", $"rank")
    },
    Some(pqOracleSql(m = 4, d = 16, iters = 2,
      initPred = "vec_id % 125 = 1", queryPred = "v.vec_id % 50 = 0")),
  )

  /** Oracle for q_embed_topk_ivf_pq: the coarse cosine Lloyd chain
    * (kmeansCtes — emits `n`, `cents1`, `assign1`), the PQ subspace
    * chains over the same vectors (`qv` aliases `n`), probe the 2
    * nearest coarse centroids, and ADC-score ONLY the probed posting
    * lists.
    */
  private def ivfPqOracleSql(m: Int, d: Int, iters: Int,
      pqInitPred: String, queryPred: String): String = {
    val L = iters - 1
    s"""${kmeansCtes(iters)},
       |qv AS (SELECT vec_id, q FROM n)${(0 until m).map(j => pqSubspaceCtes(j, d, pqInitPred, iters)).mkString},
       |codes AS (
       |  ${pqCodesSql(m, L)}
       |),
       |lut AS (
       |  ${pqLutSql(m, d, L, queryPred)}
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id FROM (
       |    SELECT d.vec_id, d.cent_id,
       |           row_number() OVER (PARTITION BY d.vec_id ORDER BY d.cos DESC, d.cent_id) AS rn
       |    FROM (
       |      SELECT v.vec_id, c.cent_id, ${cosSql("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
       |      FROM n v CROSS JOIN cents$L c
       |      WHERE $queryPred) d)
       |  WHERE rn <= 2
       |),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS cand_id
       |  FROM probes p JOIN assign$L a ON p.cent_id = a.cent_id
       |  WHERE p.query_id <> a.vec_id
       |),
       |sc AS (
       |  SELECT c.query_id, c.cand_id, CAST(sum(l.dot) AS BIGINT) AS score_q
       |  FROM cand c
       |  JOIN codes co ON co.vec_id = c.cand_id
       |  JOIN lut l ON l.sub = co.sub AND l.code = co.code AND l.query_id = c.query_id
       |  GROUP BY c.query_id, c.cand_id
       |)
       |SELECT query_id, cand_id, rank, score_q FROM (
       |  SELECT query_id, cand_id, score_q,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, cand_id) AS rank
       |  FROM sc)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-ADC (the composite a 100 TB vector search actually runs —
    * Jégou et al.'s full system): the trained coarse quantizer prunes
    * the corpus to 2 posting lists per query, and PQ codes + broadcast
    * lookup tables score ONLY those candidates with exact-integer ADC
    * sums. Both halves are verified separately by q_embed_topk_ivf_kmeans
    * and q_embed_topk_pq; this query verifies their COMPOSITION —
    * posting-list restriction joining against coded candidates — under
    * one oracle. Scale shape: probe volume per query = corpus/k-probed,
    * never the corpus; the LUT is |Q|·m·k rows broadcast; every join is
    * an equi-join.
    */
  private val topkIvfPq = Q(
    "q_embed_topk_ivf_pq",
    (s, dir) => {
      import s.implicits._
      val (_, adc) = ivfAdcScores(s, dir)
      adc
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"score_q".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .select($"query_id", $"cand_id", $"rank", $"score_q")
        .orderBy($"query_id", $"rank")
    },
    Some(ivfPqOracleSql(m = 4, d = 16, iters = 2,
      pqInitPred = "vec_id % 125 = 1", queryPred = "v.vec_id % 50 = 0")),
  )

  /** The shared IVF→ADC chain of q_embed_topk_ivf_pq and
    * q_embed_ivf_rerank: trained coarse quantizer, 2-probe posting
    * lists, PQ codes + broadcast LUT, integer ADC sums. Returns the
    * persisted quantized corpus and the (query_id, cand_id, score_q)
    * candidate-score table.
    */
  private def ivfAdcScores(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val e = Tables(s, dir).embeddings
      .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
      .withColumn("n2", VectorSim.qnorm2($"q"))
      .persist()
    val initCoarse = e.filter($"vec_id" % 100 === 1)
      .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
    val (cents, assign) = VectorSim.kmeansFit(e, initCoarse, dims = 64, iters = 2)
    val posting = assign.select($"vec_id".as("cand_id"), $"cent_id")
    val queries = e.filter($"vec_id" % 50 === 0)
    val probes = queries
      .crossJoin(broadcast(cents))
      .withColumn("cos",
        VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
      .withColumn("rn",
        row_number().over(
          Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
      .filter($"rn" <= 2)
      .select($"vec_id".as("query_id"), $"cent_id")
    val cand = probes.join(posting, "cent_id")
      .filter($"query_id" =!= $"cand_id")
      .select($"query_id", $"cand_id")
    val books = VectorSim
      .pqTrain(e, dims = 64, m = 4, initPred = $"vec_id" % 125 === 1, iters = 2)
      .persist()
    val codes = VectorSim.pqEncode(e, books, dims = 64, m = 4)
    val lut = VectorSim.pqLut(queries, books, dims = 64, m = 4)
    val adc = cand
      .join(codes, $"cand_id" === codes("vec_id"))
      .join(broadcast(lut), Seq("sub", "code", "query_id"))
      .groupBy($"query_id", $"cand_id")
      .agg(sum($"dot").as("score_q"))
    (e, adc)
  }

  /** Two-stage retrieval — ADC shortlist, exact re-rank (the refine
    * step of Jégou et al. §IV and every production IVF-PQ deployment):
    * the quantized ADC score decides the top-10 REFINEMENT set per
    * query, and only those ≤10 candidates are re-scored with the exact
    * quantized cosine on the full vectors for the final top-3. At
    * corpus scale the exact stage touches k·refine_factor vectors per
    * query — two id-keyed equi-joins against the vector table —
    * instead of a posting list, which is what makes re-ranked recall
    * nearly free. The oracle replays ADC shortlist + exact re-rank
    * end-to-end; a rank-order difference between ADC and exact scoring
    * (PQ's whole approximation error) would break the hash.
    */
  private val ivfRerank = Q(
    "q_embed_ivf_rerank",
    (s, dir) => {
      import s.implicits._
      val (e, adc) = ivfAdcScores(s, dir)
      val refine = adc
        .withColumn("rn",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"score_q".desc, $"cand_id")))
        .filter($"rn" <= 10)
        .select($"query_id", $"cand_id")
      refine
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .select($"query_id", $"cand_id", $"rank", $"cosine")
        .orderBy($"query_id", $"rank")
    },
    Some(ivfPqRerankOracleSql(m = 4, d = 16, iters = 2,
      pqInitPred = "vec_id % 125 = 1", queryPred = "v.vec_id % 50 = 0")),
  )

  /** Oracle for q_embed_ivf_rerank: the ivf-pq chain through the ADC
    * score table, ADC-rank to the top-10 refinement set, exact
    * quantized cosine on the original vectors, final top-3.
    */
  private def ivfPqRerankOracleSql(m: Int, d: Int, iters: Int,
      pqInitPred: String, queryPred: String): String = {
    val L = iters - 1
    s"""${kmeansCtes(iters)},
       |qv AS (SELECT vec_id, q FROM n)${(0 until m).map(j => pqSubspaceCtes(j, d, pqInitPred, iters)).mkString},
       |codes AS (
       |  ${pqCodesSql(m, L)}
       |),
       |lut AS (
       |  ${pqLutSql(m, d, L, queryPred)}
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id FROM (
       |    SELECT d.vec_id, d.cent_id,
       |           row_number() OVER (PARTITION BY d.vec_id ORDER BY d.cos DESC, d.cent_id) AS rn
       |    FROM (
       |      SELECT v.vec_id, c.cent_id, ${cosSql("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
       |      FROM n v CROSS JOIN cents$L c
       |      WHERE $queryPred) d)
       |  WHERE rn <= 2
       |),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS cand_id
       |  FROM probes p JOIN assign$L a ON p.cent_id = a.cent_id
       |  WHERE p.query_id <> a.vec_id
       |),
       |sc AS (
       |  SELECT c.query_id, c.cand_id, CAST(sum(l.dot) AS BIGINT) AS score_q
       |  FROM cand c
       |  JOIN codes co ON co.vec_id = c.cand_id
       |  JOIN lut l ON l.sub = co.sub AND l.code = co.code AND l.query_id = c.query_id
       |  GROUP BY c.query_id, c.cand_id
       |),
       |refine AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, cand_id) AS rn
       |    FROM sc)
       |  WHERE rn <= 10
       |),
       |exact AS (
       |  SELECT r.query_id, r.cand_id,
       |         ${cosSql("a.q", "a.n2", "b.q", "b.n2")} AS cosine
       |  FROM refine r
       |  JOIN n a ON a.vec_id = r.query_id
       |  JOIN n b ON b.vec_id = r.cand_id
       |)
       |SELECT query_id, cand_id, rank, cosine FROM (
       |  SELECT query_id, cand_id, cosine,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
       |  FROM exact)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Oracle for q_embed_knn_classify: Lloyd CTEs, IVF probe restricted
    * to labeled candidates, top-5 vote with (count desc, label asc)
    * tie-break, joined back to the held-out true label.
    */
  private def knnOracleSql(iters: Int): String =
    kmeansCtes(iters) + s""",
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM (
      |    SELECT d.vec_id, d.cent_id,
      |           row_number() OVER (PARTITION BY d.vec_id ORDER BY d.cos DESC, d.cent_id) AS rn
      |    FROM (
      |      SELECT v.vec_id, c.cent_id, ${cosSql("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
      |      FROM n v CROSS JOIN cents${iters - 1} c
      |      WHERE v.vec_id % 5 = 0) d)
      |  WHERE rn <= 2
      |),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.vec_id AS cand_id
      |  FROM probes p JOIN assign${iters - 1} a ON p.cent_id = a.cent_id
      |  WHERE a.vec_id % 5 <> 0
      |),
      |scored AS (
      |  SELECT c.query_id, c.cand_id, ${cosSql("na.q", "na.n2", "nb.q", "nb.n2")} AS cosine
      |  FROM cand c
      |  JOIN n na ON na.vec_id = c.query_id
      |  JOIN n nb ON nb.vec_id = c.cand_id
      |),
      |top5 AS (
      |  SELECT query_id, cand_id FROM (
      |    SELECT query_id, cand_id,
      |           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      |    FROM scored)
      |  WHERE rank <= 5
      |),
      |votes AS (
      |  SELECT t.query_id, e.label, count(*) AS n_votes
      |  FROM top5 t JOIN embeddings e ON e.vec_id = t.cand_id
      |  GROUP BY t.query_id, e.label
      |),
      |pick AS (
      |  SELECT query_id, label, n_votes FROM (
      |    SELECT query_id, label, n_votes,
      |           row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, label) AS vr
      |    FROM votes)
      |  WHERE vr = 1
      |)
      |SELECT p.query_id, p.label AS pred_label, CAST(p.n_votes AS BIGINT) AS n_votes,
      |       e.label AS true_label
      |FROM pick p JOIN embeddings e ON e.vec_id = p.query_id
      |ORDER BY p.query_id""".stripMargin

  /** kNN label propagation through the trained IVF index — the
    * semi-supervised labeling stage of a curation pipeline (classify
    * unlabeled docs from a small labeled seed set): hold out every 5th
    * vector's label, probe the 2 nearest k-means centroids, rank the
    * LABELED points in those posting lists by exact quantized cosine,
    * and take the top-5 majority vote (ties broken by smaller label).
    * The true label rides along, so the result row IS the
    * accuracy-evaluation record. Candidate generation is the same
    * posting-list equi-join as every ANN path here — never all-pairs;
    * the vote is a tiny two-level aggregation on (query, label).
    */
  private val knnClassify = Q(
    "q_embed_knn_classify",
    (s, dir) => {
      import s.implicits._
      val raw = Tables(s, dir).embeddings
      val e = raw
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val labels = raw.select($"vec_id", $"label")
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val (cents, assignFinal) = VectorSim.kmeansFit(e, init, dims = 64, iters = 3)
      val posting = assignFinal
        .select($"vec_id".as("cand_id"), $"cent_id")
        .filter($"cand_id" % 5 =!= 0) // only labeled points may vote
      val probes = e.filter($"vec_id" % 5 === 0)
        .crossJoin(broadcast(cents))
        .withColumn("cos",
          VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
        .withColumn("rn",
          row_number().over(
            Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      val top5 = probes.join(posting, "cent_id")
        .select($"query_id", $"cand_id").distinct()
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 5)
      top5
        .join(labels.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .groupBy($"query_id", $"label")
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"n_votes".desc, $"label")))
        .filter($"vr" === 1)
        .join(
          labels.withColumnRenamed("vec_id", "query_id")
            .withColumnRenamed("label", "true_label"),
          "query_id")
        .select($"query_id", $"label".as("pred_label"), $"n_votes", $"true_label")
        .orderBy($"query_id")
    },
    Some(knnOracleSql(3)),
  )

  /** FILTERED vector search — the retrieval shape RAG serving actually
    * runs: top-k under a metadata predicate (here `label IN (0,1,2)`,
    * ~30% selectivity). The predicate applies to the POSTING LISTS
    * BEFORE ranking (pre-filtering), not to the ranked output
    * (post-filtering) — post-filtering top-k then discarding
    * non-matching rows can return FEWER than k survivors even when k
    * matching candidates exist; pre-filtering guarantees the top-k of
    * the filtered set. Plan-wise the label predicate lands on the
    * posting-list side of the equi-join, so candidate volume scales
    * with selectivity — at 100 TB a 1% filter makes the probe 100×
    * cheaper, it never widens it.
    */
  private val topkIvfFiltered = Q(
    "q_embed_topk_ivf_filtered",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", $"label", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val cents = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      def rankByCos(df: org.apache.spark.sql.DataFrame, part: String) =
        df.withColumn("cos",
            VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
          .withColumn("rn",
            row_number().over(
              Window.partitionBy(col(part)).orderBy($"cos".desc, $"cent_id")))
      // the index carries the filter column: posting lists are
      // (cand_id, cent_id, label)
      val assign = rankByCos(e.crossJoin(broadcast(cents)), "vec_id")
        .filter($"rn" === 1)
        .select($"vec_id".as("cand_id"), $"cent_id", $"label")
      val probes = rankByCos(
        e.filter($"vec_id" % 97 === 0).crossJoin(broadcast(cents)), "vec_id")
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      // predicate BELOW the posting-list join: only matching candidates
      // ever enter the probe
      val cand = probes
        .join(assign.filter($"label".isin(0, 1, 2)), "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct()
      cand
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb"),
          $"label"), "cand_id")
        .select($"query_id", $"cand_id", $"label",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    Some("""WITH q AS (
           |  SELECT vec_id, label,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings
           |),
           |n AS (
           |  SELECT vec_id, label, q,
           |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
           |  FROM q
           |),
           |cents AS (SELECT vec_id AS cent_id, q AS qc, n2 AS n2c FROM n WHERE vec_id % 100 = 1),
           |alldots AS (
           |  SELECT v.vec_id, c.cent_id,
           |         round(CAST(list_sum(list_transform(range(1, len(v.q) + 1),
           |                 i -> v.q[CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS DOUBLE)
           |               / (sqrt(v.n2) * sqrt(c.n2c)), 4) AS cos
           |  FROM n v CROSS JOIN cents c
           |),
           |ranked AS (
           |  SELECT vec_id, cent_id,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
           |  FROM alldots
           |),
           |assign AS (
           |  SELECT r.vec_id AS cand_id, r.cent_id, n.label
           |  FROM ranked r JOIN n ON n.vec_id = r.vec_id
           |  WHERE r.rn = 1
           |),
           |probes AS (
           |  SELECT vec_id AS query_id, cent_id FROM ranked
           |  WHERE rn <= 2 AND vec_id % 97 = 0
           |),
           |cand AS (
           |  SELECT DISTINCT p.query_id, a.cand_id
           |  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           |  WHERE p.query_id <> a.cand_id AND a.label IN (0, 1, 2)
           |),
           |scored AS (
           |  SELECT c.query_id, c.cand_id, nb.label,
           |         round(CAST(list_sum(list_transform(range(1, len(na.q) + 1),
           |                 i -> na.q[CAST(i AS INT)] * nb.q[CAST(i AS INT)])) AS DOUBLE)
           |               / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
           |  FROM cand c
           |  JOIN n na ON na.vec_id = c.query_id
           |  JOIN n nb ON nb.vec_id = c.cand_id
           |),
           |final AS (
           |  SELECT query_id, cand_id, label, cosine,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
           |  FROM scored
           |)
           |SELECT query_id, cand_id, label, cosine, rank
           |FROM final WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin),
  )

  /** Oracle for q_embed_hard_negatives: Lloyd CTEs, probe the trained
    * quantizer for every 10th vector, candidates = posting-list members
    * with a DIFFERENT label, exact-cosine top-3 per anchor.
    */
  private def hardNegOracleSql(iters: Int): String =
    kmeansCtes(iters) + s""",
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM (
      |    SELECT d.vec_id, d.cent_id,
      |           row_number() OVER (PARTITION BY d.vec_id ORDER BY d.cos DESC, d.cent_id) AS rn
      |    FROM (
      |      SELECT v.vec_id, c.cent_id, ${cosSql("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
      |      FROM n v CROSS JOIN cents${iters - 1} c
      |      WHERE v.vec_id % 10 = 0) d)
      |  WHERE rn <= 2
      |),
      |cand AS (
      |  SELECT DISTINCT p.query_id, eq.label AS anchor_label,
      |                  a.vec_id AS neg_id, en.label AS neg_label
      |  FROM probes p
      |  JOIN assign${iters - 1} a ON p.cent_id = a.cent_id
      |  JOIN embeddings eq ON eq.vec_id = p.query_id
      |  JOIN embeddings en ON en.vec_id = a.vec_id
      |  WHERE en.label <> eq.label
      |),
      |scored AS (
      |  SELECT c.query_id, c.anchor_label, c.neg_id, c.neg_label,
      |         ${cosSql("na.q", "na.n2", "nb.q", "nb.n2")} AS cosine
      |  FROM cand c
      |  JOIN n na ON na.vec_id = c.query_id
      |  JOIN n nb ON nb.vec_id = c.neg_id
      |)
      |SELECT query_id, anchor_label, neg_id, neg_label, cosine, rank
      |FROM (
      |  SELECT query_id, anchor_label, neg_id, neg_label, cosine,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neg_id) AS rank
      |  FROM scored)
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining — the contrastive-training data-prep stage
    * (the DPR / Contriever recipe): for each anchor vector, the top-3
    * most-similar candidates with a DIFFERENT label. Near-miss
    * negatives are what an embedding trainer needs — random negatives
    * are too easy to teach anything. Candidates come from the TRAINED
    * IVF index's posting lists (2 probes), with the label-differs
    * predicate applied BELOW the ranking join — the same
    * pre-filtering shape as q_embed_topk_ivf_filtered, so candidate
    * volume scales with label selectivity and the probe never widens
    * to all-pairs. At 100 TB this is the serving-side join of a
    * persisted index (q_embed_ivf_persist) against an anchor batch.
    */
  private val hardNegatives = Q(
    "q_embed_hard_negatives",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", $"label", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val (cents, assignFinal) = VectorSim.kmeansFit(e, init, dims = 64, iters = 3)
      // posting lists carry the filter column (label), exactly as the
      // filtered-search index does
      val posting = assignFinal
        .join(e.select($"vec_id", $"label"), "vec_id")
        .select($"vec_id".as("neg_id"), $"cent_id", $"label".as("neg_label"))
      val probes = e.filter($"vec_id" % 10 === 0)
        .crossJoin(broadcast(cents))
        .withColumn("cos",
          VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
        .withColumn("rn",
          row_number().over(
            Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"label".as("anchor_label"), $"cent_id")
      val cand = probes
        .join(posting, "cent_id")
        .filter($"neg_label" =!= $"anchor_label") // below the ranking join
        .select($"query_id", $"anchor_label", $"neg_id", $"neg_label").distinct()
      cand
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("neg_id"), $"q".as("qb"), $"n2".as("nb")), "neg_id")
        .select($"query_id", $"anchor_label", $"neg_id", $"neg_label",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neg_id")))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    Some(hardNegOracleSql(3)),
  )

  /** HYBRID retrieval — reciprocal-rank fusion (RRF, Cormack et al.
    * SIGIR'09: score = Σ 1/(60 + rank_i)) of a lexical BM25 ranking
    * and a semantic cosine ranking. This is the retrieval shape a
    * training-data curation stack actually serves (sparse+dense
    * candidates fused rank-wise, robust to incomparable score scales).
    * The two input lists come from the already-scale-audited paths —
    * BM25's postings move only the query terms, the dense side is one
    * query row broadcast against the corpus (linear, and swappable for
    * the IVF path when the corpus outgrows a scan) — and the fusion
    * itself joins two 50-row lists: free at any corpus size, because
    * rank lists are bounded by k, not by the corpus. Determinism: RRF
    * contributions are quantized to BIGINT micro-units BEFORE the sum
    * (exact integer math both engines); the row_number() adjacent to a
    * literal rank bound lets WindowGroupLimit prune per-partition
    * before the final top-k sort. doc_id↔vec_id alignment is the
    * fixture contract (both are 0..n-1 over the same corpus).
    */
  private val rankRrfFusion = Q(
    "q_rank_rrf_fusion",
    (s, dir) => {
      import s.implicits._
      val lex = graft.operators.TextAnalysis.bm25(
          Tables(s, dir).documents,
          Seq("window", "merge", "stream", "hash"), k1 = 1.2, b = 0.75)
        .withColumn("rank_lex",
          row_number().over(Window.orderBy($"score_q".desc, $"doc_id")))
        .filter($"rank_lex" <= 50)
        .select($"doc_id", $"rank_lex")
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
      val qv = e.filter($"vec_id" === 0)
        .select($"q".as("qa"), $"n2".as("na"))
      val sem = e.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(qv))
        .select($"vec_id".as("doc_id"),
          VectorSim.qcosine(
            VectorSim.qdotNative($"qa", $"q"), $"na", $"n2").as("cosine"))
        .withColumn("rank_sem",
          row_number().over(Window.orderBy($"cosine".desc, $"doc_id")))
        .filter($"rank_sem" <= 50)
        .select($"doc_id", $"rank_sem")
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select($"doc_id", $"rank_lex", $"rank_sem",
          (coalesce(round(lit(1000000.0) / (lit(60) + $"rank_lex")).cast("long"), lit(0L)) +
            coalesce(round(lit(1000000.0) / (lit(60) + $"rank_sem")).cast("long"), lit(0L)))
            .as("rrf_score"))
        .withColumn("rank",
          row_number().over(Window.orderBy($"rrf_score".desc, $"doc_id")))
        .filter($"rank" <= 20)
        .select($"rank", $"doc_id", $"rank_lex", $"rank_sem", $"rrf_score")
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
           |  SELECT doc_id, CAST(sum(c_q) AS BIGINT) AS score_q FROM contrib GROUP BY doc_id
           |),
           |lex AS (
           |  SELECT doc_id, rank_lex FROM (
           |    SELECT doc_id, row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank_lex
           |    FROM scores)
           |  WHERE rank_lex <= 50
           |),
           |q AS (
           |  SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings
           |),
           |n AS (
           |  SELECT vec_id, q,
           |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
           |  FROM q
           |),
           |qv AS (SELECT q AS qa, n2 AS na FROM n WHERE vec_id = 0),
           |cos AS (
           |  SELECT b.vec_id AS doc_id,
           |         round(CAST(list_sum(list_transform(range(1, len(qa) + 1),
           |                 i -> qa[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS DOUBLE)
           |               / (sqrt(na) * sqrt(b.n2)), 4) AS cosine
           |  FROM n b, qv WHERE b.vec_id <> 0
           |),
           |sem AS (
           |  SELECT doc_id, rank_sem FROM (
           |    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_sem
           |    FROM cos)
           |  WHERE rank_sem <= 50
           |),
           |fused AS (
           |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.rank_lex, s.rank_sem,
           |         coalesce(CAST(round(1000000.0 / (60 + l.rank_lex)) AS BIGINT), 0)
           |       + coalesce(CAST(round(1000000.0 / (60 + s.rank_sem)) AS BIGINT), 0) AS rrf_score
           |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
           |)
           |SELECT rank, doc_id, rank_lex, rank_sem, rrf_score FROM (
           |  SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank,
           |         doc_id, rank_lex, rank_sem, rrf_score
           |  FROM fused)
           |WHERE rank <= 20
           |ORDER BY rank""".stripMargin),
  )

  /** One DuckDB power-method iteration (see q_embed_pca_power): Xv
    * dots against v{prev}, per-dimension exact-integer sums, then the
    * renormalization with an EXPLICIT left-fold norm (list_reduce with
    * a prepended 0.0 accumulator) so the float shape matches
    * `VectorSim.powerIteration`'s foldLeft bit-for-bit.
    */
  private def pcaIterSql(prev: Int, cur: Int): String =
    s"""d$cur AS (
       |  SELECT n.vec_id, n.q,
       |         list_sum(list_transform(range(1, 65),
       |           i -> n.q[CAST(i AS INT)] * vv.v[CAST(i AS INT)])) AS d
       |  FROM nq n, v$prev vv
       |),
       |s$cur AS (
       |  SELECT j, CAST(sum(q[CAST(j AS INT)] * d) AS BIGINT) AS s
       |  FROM d$cur, unnest(range(1, 65)) AS t(j) GROUP BY j
       |),
       |v$cur AS (
       |  SELECT list(CAST(round(CAST(s AS DOUBLE) * 1000.0 / sqrt(nrm.n2)) AS BIGINT)
       |              ORDER BY j) AS v
       |  FROM s$cur, (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         list(CAST(s AS DOUBLE) ORDER BY j)), (acc, x) -> acc + x * x) AS n2
       |       FROM s$cur) nrm
       |)""".stripMargin

  /** Dominant-component PCA by the covariance-free power method
    * (`VectorSim.powerIteration` — 4 fixed iterations of Xᵀ(Xv), the
    * d×d covariance never materialized) and the per-row projection
    * onto the learned direction: the embedding-analytics primitive
    * behind whitening, spectral outlier screens, and 1-D curriculum
    * ordering of a vector corpus. Every iteration's data pass is
    * narrow + one ≤dims-group aggregation, so corpus size only enters
    * through the linear scans. The oracle replays the SAME four
    * iterations as chained CTEs on exact integer state — iterate
    * divergence of even one milli-unit in any dimension breaks every
    * downstream projection, so the hash pins the whole trajectory, not
    * just the final answer.
    */
  private val embedPcaPower = Q(
    "q_embed_pca_power",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", $"label", VectorSim.quantize($"embedding").as("q"))
        .persist() // 4 iterations + the projection reuse the quantized scan
      val v = VectorSim.powerIteration(e.select($"vec_id", $"q"), dims = 64, iters = 4)
      val vLit = typedlit(v)
      e.select($"vec_id", $"label",
          VectorSim.qdotNative($"q", vLit).as("proj"))
        .orderBy($"vec_id")
    },
    Some(s"""WITH nq AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings
            |),
            |v0 AS (SELECT list_transform(range(1, 65), i -> CAST(1000 AS BIGINT)) AS v),
            |${pcaIterSql(0, 1)},
            |${pcaIterSql(1, 2)},
            |${pcaIterSql(2, 3)},
            |${pcaIterSql(3, 4)}
            |SELECT n.vec_id, e.label,
            |       CAST(list_sum(list_transform(range(1, 65),
            |         i -> n.q[CAST(i AS INT)] * vv.v[CAST(i AS INT)])) AS BIGINT) AS proj
            |FROM nq n JOIN embeddings e USING (vec_id), v4 vv
            |ORDER BY vec_id""".stripMargin),
  )

  /** "All-but-the-top" embedding post-processing (Mu & Viswanath,
    * ICLR'18): remove the dominant principal direction from every
    * vector — the isotropy correction that measurably improves cosine
    * retrieval on anisotropic embedding spaces, and a direct consumer
    * of the power-iteration machinery. r = q − round(⟨q,v⟩·v/‖v‖²):
    * one narrow pass over the corpus once v (dims longs) is known, so
    * the whole correction is linear and shuffle-free beyond the
    * iteration's own ≤dims-group sums. Exactness: ⟨q,v⟩ and ‖v‖² are
    * exact integers; the single rounded double division per component
    * has identical expression shape in both engines; residual norms
    * are exact integer sums. The oracle re-derives v through the SAME
    * 4-iteration CTE chain, then checks every residual norm — the
    * projection coefficient being off by one milli-unit anywhere
    * breaks the hash.
    */
  private val embedAllButTop = Q(
    "q_embed_all_but_top",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .persist()
      val v = VectorSim.powerIteration(e, dims = 64, iters = 4)
      val n2v = v.map(x => x * x).sum // exact integer, matches the oracle's
      val vLit = typedlit(v)
      e.select($"vec_id", $"q", VectorSim.qdotNative($"q", vLit).as("d"))
        .select($"vec_id",
          zip_with($"q", vLit, (x, vj) =>
            x - round($"d".cast("double") * vj / lit(n2v.toDouble)).cast("long"))
            .as("r"),
          VectorSim.qnorm2($"q").as("orig_n2"))
        .select($"vec_id", VectorSim.qnorm2($"r").as("res_n2"), $"orig_n2")
        .orderBy($"vec_id")
    },
    Some(s"""WITH nq AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings
            |),
            |v0 AS (SELECT list_transform(range(1, 65), i -> CAST(1000 AS BIGINT)) AS v),
            |${pcaIterSql(0, 1)},
            |${pcaIterSql(1, 2)},
            |${pcaIterSql(2, 3)},
            |${pcaIterSql(3, 4)},
            |nv AS (SELECT CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE) AS n2v FROM v4),
            |dd AS (
            |  SELECT n.vec_id, n.q,
            |         list_sum(list_transform(range(1, 65),
            |           i -> n.q[CAST(i AS INT)] * vv.v[CAST(i AS INT)])) AS d
            |  FROM nq n, v4 vv
            |),
            |res AS (
            |  SELECT dd.vec_id,
            |         list_transform(range(1, 65), i -> dd.q[CAST(i AS INT)] -
            |           CAST(round(CAST(dd.d AS DOUBLE) * vv.v[CAST(i AS INT)] / nv.n2v) AS BIGINT)) AS r,
            |         list_sum(list_transform(dd.q, x -> x * x)) AS orig_n2
            |  FROM dd, v4 vv, nv
            |)
            |SELECT vec_id,
            |       CAST(list_sum(list_transform(r, x -> x * x)) AS BIGINT) AS res_n2,
            |       CAST(orig_n2 AS BIGINT) AS orig_n2
            |FROM res ORDER BY vec_id""".stripMargin),
  )

  /** One greedy MMR step k (k ≥ 2) for the oracle: the unpicked
    * shortlist candidate maximizing 7·rel − 3·max_{s∈selected} sim,
    * ties to the smaller id — exactly `mmrPick`'s argmax on the same
    * integer scores.
    */
  private def mmrStepSql(k: Int): String =
    s"""pick$k AS (
       |  SELECT $k AS step, c.vec_id,
       |         7 * c.rel_q - 3 * (SELECT max(p.sim_q) FROM prs p
       |                            JOIN acc${k - 1} s ON p.ca = c.vec_id
       |                                              AND p.cb = s.vec_id) AS mmr_q
       |  FROM sl c WHERE c.vec_id NOT IN (SELECT vec_id FROM acc${k - 1})
       |  ORDER BY mmr_q DESC, c.vec_id LIMIT 1
       |),
       |acc$k AS MATERIALIZED (SELECT * FROM acc${k - 1} UNION ALL SELECT * FROM pick$k)""".stripMargin

  /** Diversified top-k — Maximal Marginal Relevance (Carbonell &
    * Goldstein, SIGIR'98): greedily pick 8 of a 30-candidate
    * shortlist, each step maximizing λ·relevance − (1−λ)·max-
    * similarity-to-already-picked (λ = 0.7 as integer weights 7/3 on
    * the ×10⁴-quantized cosines — exact argmax, ties to the smaller
    * id). The curation use is diverse few-shot / eval-set selection
    * where plain top-k returns 8 near-copies of the same document.
    * Scale shape: the DISTRIBUTED work is the shortlist (here the
    * linear scan baseline, swappable for the IVF path) — the greedy
    * phase touches only shortlist×shortlist (≤ k² bounded pairs,
    * persisted once) regardless of corpus size, 8 driver-paced tiny
    * jobs. Oracle: the same 8 argmax steps as chained CTEs; one
    * different pick anywhere reorders everything after it and breaks
    * the hash.
    */
  private val rankMmrDiversify = Q(
    "q_rank_mmr_diversify",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
      val qv = e.filter($"vec_id" === 0)
        .select($"q".as("qa"), $"n2".as("na"))
      val shortlist = e.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(qv))
        .select($"vec_id", $"q", $"n2",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"q"), $"na", $"n2").as("rel"))
        .withColumn("rk",
          row_number().over(Window.orderBy($"rel".desc, $"vec_id")))
        .filter($"rk" <= 30)
        .select($"vec_id", $"q", $"n2",
          round($"rel" * 10000).cast("long").as("rel_q"))
        .persist()
      val prs = shortlist.as("a").join(shortlist.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("ca"), col("b.vec_id").as("cb"),
          round(VectorSim.qcosine(
            VectorSim.qdotNative(col("a.q"), col("b.q")),
            col("a.n2"), col("b.n2")) * 10000).cast("long").as("sim_q"))
        .persist()
      val rel = shortlist.select($"vec_id", $"rel_q")
      var picked = Vector.empty[(Int, Long, Long)] // (step, id, mmr_q)
      for (step <- 1 to 8) {
        val row =
          if (picked.isEmpty)
            rel.select($"vec_id", ($"rel_q" * 7).as("mmr_q"))
              .orderBy($"mmr_q".desc, $"vec_id").limit(1).head()
          else {
            val sel = picked.map(_._2)
            val maxSim = prs.filter($"cb".isin(sel: _*))
              .groupBy($"ca").agg(max($"sim_q").as("ms"))
            rel.filter(!$"vec_id".isin(sel: _*))
              .join(maxSim, $"vec_id" === $"ca")
              .select($"vec_id", ($"rel_q" * 7 - $"ms" * 3).as("mmr_q"))
              .orderBy($"mmr_q".desc, $"vec_id").limit(1).head()
          }
        picked :+= ((step, row.getLong(0), row.getLong(1)))
      }
      picked.toDF("step", "doc_id", "mmr_q").orderBy($"step")
    },
    Some(s"""WITH nq AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings
            |),
            |nn AS (
            |  SELECT vec_id, q,
            |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
            |  FROM nq
            |),
            |qv AS (SELECT q AS qa, n2 AS na FROM nn WHERE vec_id = 0),
            |cos AS (
            |  SELECT b.vec_id, b.q, b.n2,
            |         round(CAST(list_sum(list_transform(range(1, len(qa) + 1),
            |                 i -> qa[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS DOUBLE)
            |               / (sqrt(na) * sqrt(b.n2)), 4) AS rel
            |  FROM nn b, qv WHERE b.vec_id <> 0
            |),
            |sl AS MATERIALIZED (
            |  SELECT vec_id, q, n2, CAST(round(rel * 10000) AS BIGINT) AS rel_q
            |  FROM (SELECT *, row_number() OVER (ORDER BY rel DESC, vec_id) AS rk FROM cos)
            |  WHERE rk <= 30
            |),
            |prs AS MATERIALIZED (
            |  SELECT a.vec_id AS ca, b.vec_id AS cb,
            |         CAST(round(round(CAST(list_sum(list_transform(range(1, len(a.q) + 1),
            |                 i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS DOUBLE)
            |               / (sqrt(a.n2) * sqrt(b.n2)), 4) * 10000) AS BIGINT) AS sim_q
            |  FROM sl a JOIN sl b ON a.vec_id <> b.vec_id
            |),
            |pick1 AS (
            |  SELECT 1 AS step, vec_id, 7 * rel_q AS mmr_q
            |  FROM sl ORDER BY mmr_q DESC, vec_id LIMIT 1
            |),
            |acc1 AS MATERIALIZED (SELECT * FROM pick1),
            |${(2 to 8).map(mmrStepSql).mkString(",\n")}
            |SELECT step, CAST(vec_id AS BIGINT) AS doc_id, mmr_q
            |FROM acc8 ORDER BY step""".stripMargin),
  )

  /** ANN EVALUATION under the gate — recall@3 of the IVF path against
    * the exact brute-force ground truth, per query: the number a real
    * deployment tunes nprobe/centroid-count against, computed inside
    * the engine rather than eyeballed offline. The IVF side is the
    * q_embed_topk_ivf pipeline verbatim (2-probe posting-list
    * retrieval); the ground truth is the guard-bounded brute scan for
    * the SAME 1-in-97 probe set; recall is the exact intersection
    * count over 3. Scale shape: the expensive side (brute) is bounded
    * by the probe sample exactly as in q_embed_topk_brute — recall
    * measurement is a sampling activity by construction; the IVF side
    * is the production path.
    */
  private val embedIvfRecall = Q(
    "q_embed_ivf_recall",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val cents = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      def rankByCent(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("cos",
            VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
          .withColumn("rn",
            row_number().over(
              Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
      val assign = rankByCent(e.crossJoin(broadcast(cents)))
        .filter($"rn" === 1)
        .select($"vec_id".as("cand_id"), $"cent_id")
      val probes = rankByCent(
        e.filter($"vec_id" % 97 === 0).crossJoin(broadcast(cents)))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      def top3(pairs: org.apache.spark.sql.DataFrame) =
        pairs
          .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
          .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
          .select($"query_id", $"cand_id",
            VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
          .withColumn("rank",
            row_number().over(
              Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
          .filter($"rank" <= 3)
          .select($"query_id", $"cand_id")
      val ivfTop = top3(probes.join(assign, "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct())
      val bounded = graft.operators.Scale.requireAllPairsBounded(e, "q_embed_ivf_recall")
      val bruteTop = top3(
        bounded.filter($"vec_id" % 97 === 0).select($"vec_id".as("query_id"))
          .crossJoin(bounded.select($"vec_id".as("cand_id")))
          .filter($"query_id" =!= $"cand_id"))
      val hits = ivfTop.join(bruteTop, Seq("query_id", "cand_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("h"))
      e.filter($"vec_id" % 97 === 0).select($"vec_id".as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          round(coalesce($"h", lit(0L)) / 3.0, 4).as("recall"))
        .orderBy($"query_id")
    },
    Some("""WITH q AS (
           |  SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings
           |),
           |n AS MATERIALIZED (
           |  SELECT vec_id, q,
           |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
           |  FROM q
           |),
           |cents AS (SELECT vec_id AS cent_id, q AS qc, n2 AS n2c FROM n WHERE vec_id % 100 = 1),
           |ranked AS MATERIALIZED (
           |  SELECT vec_id, cent_id,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
           |  FROM (
           |    SELECT v.vec_id, c.cent_id,
           |           round(CAST(list_sum(list_transform(range(1, len(v.q) + 1),
           |                   i -> v.q[CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS DOUBLE)
           |                 / (sqrt(v.n2) * sqrt(c.n2c)), 4) AS cos
           |    FROM n v CROSS JOIN cents c)
           |),
           |assign AS (SELECT vec_id AS cand_id, cent_id FROM ranked WHERE rn = 1),
           |probes AS (
           |  SELECT vec_id AS query_id, cent_id FROM ranked
           |  WHERE rn <= 2 AND vec_id % 97 = 0
           |),
           |ivf AS (
           |  SELECT query_id, cand_id FROM (
           |    SELECT s.query_id, s.cand_id,
           |           row_number() OVER (PARTITION BY s.query_id
           |                              ORDER BY s.cosine DESC, s.cand_id) AS rank
           |    FROM (
           |      SELECT c.query_id, c.cand_id,
           |             round(CAST(list_sum(list_transform(range(1, len(na.q) + 1),
           |                     i -> na.q[CAST(i AS INT)] * nb.q[CAST(i AS INT)])) AS DOUBLE)
           |                   / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
           |      FROM (SELECT DISTINCT p.query_id, a.cand_id
           |            FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           |            WHERE p.query_id <> a.cand_id) c
           |      JOIN n na ON na.vec_id = c.query_id
           |      JOIN n nb ON nb.vec_id = c.cand_id) s)
           |  WHERE rank <= 3
           |),
           |brute AS (
           |  SELECT query_id, cand_id FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
           |             round(CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |                     i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS DOUBLE)
           |                   / (sqrt(a.n2) * sqrt(b.n2)), 4) DESC, b.vec_id) AS rank
           |    FROM n a JOIN n b ON a.vec_id % 97 = 0 AND a.vec_id <> b.vec_id)
           |  WHERE rank <= 3
           |),
           |hits AS (
           |  SELECT i.query_id, count(*) AS h
           |  FROM ivf i JOIN brute b ON i.query_id = b.query_id AND i.cand_id = b.cand_id
           |  GROUP BY 1
           |)
           |SELECT qs.query_id,
           |       CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
           |       round(coalesce(h.h, 0) / 3.0, 4) AS recall
           |FROM (SELECT vec_id AS query_id FROM n WHERE vec_id % 97 = 0) qs
           |LEFT JOIN hits h USING (query_id)
           |ORDER BY query_id""".stripMargin),
  )

  /** NDCG position discounts as pre-scaled integers
    * floor(1e12/log2(i+1)): computed ONCE here and interpolated into
    * BOTH engines as literals, so DCG accumulates as an exact long
    * (no double summation order, no cross-engine log2 ulp risk) and
    * the only floating-point step is the terminal NDCG division.
    */
  private val ndcgK = 5
  private val ndcgDisc: Seq[(Long, Long)] =
    (1 to ndcgK).map(i =>
      (i.toLong, (1e12 / (math.log(i + 1) / math.log(2.0))).toLong))
  private def ndcgDiscValues: String =
    ndcgDisc.map { case (p, d) => s"($p, $d)" }.mkString(", ")

  /** Ranking-quality EVALUATION under the gate — NDCG@5 of the IVF
    * retrieval ORDER against the exact brute-force ranking, per
    * query. Recall@k (q_embed_ivf_recall) says whether the right
    * neighbors surfaced; NDCG grades whether they surfaced in the
    * right positions, which is what a retrieval-augmented pipeline
    * actually consumes. Graded relevance of a candidate = k+1−(exact
    * rank) when it is in the exact top-k, else 0; DCG(q) = Σ rel·disc
    * over the IVF list, IDCG(q) = Σ (k+1−r)·disc(r) over the exact
    * list, both EXACT LONGS via the pre-scaled integer discounts
    * above; ndcg = dcg/idcg is one terminal double division, 6 dp,
    * with dcg/idcg emitted alongside so the gate pins the statistic.
    * Scale shape identical to q_embed_ivf_recall: the brute side is
    * bounded to the 1-in-97 probe sample behind the all-pairs guard
    * (ranking evaluation is a sampling activity by construction), the
    * IVF side is the production 2-probe posting-list path, and the
    * NDCG arithmetic itself touches ≤ k rows per probe.
    */
  private val embedIvfNdcg = Q(
    "q_embed_ivf_ndcg",
    (s, dir) => {
      import s.implicits._
      val k = ndcgK
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val cents = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      def rankByCent(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("cos",
            VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
          .withColumn("rn",
            row_number().over(
              Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
      val assign = rankByCent(e.crossJoin(broadcast(cents)))
        .filter($"rn" === 1)
        .select($"vec_id".as("cand_id"), $"cent_id")
      val probes = rankByCent(
        e.filter($"vec_id" % 97 === 0).crossJoin(broadcast(cents)))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      def topK(pairs: org.apache.spark.sql.DataFrame) =
        pairs
          .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
          .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
          .select($"query_id", $"cand_id",
            VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
          .withColumn("rank",
            row_number().over(
              Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
          .filter($"rank" <= k)
          .select($"query_id", $"cand_id", $"rank")
      val ivfTop = topK(probes.join(assign, "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct())
      val bounded = graft.operators.Scale.requireAllPairsBounded(e, "q_embed_ivf_ndcg")
      val bruteTop = topK(
        bounded.filter($"vec_id" % 97 === 0).select($"vec_id".as("query_id"))
          .crossJoin(bounded.select($"vec_id".as("cand_id")))
          .filter($"query_id" =!= $"cand_id"))
      val discDf = ndcgDisc.toDF("pos", "disc")
      val dcg = ivfTop
        .join(bruteTop.select($"query_id", $"cand_id", $"rank".as("ideal_rank")),
          Seq("query_id", "cand_id"), "left")
        .join(broadcast(discDf), $"rank" === $"pos")
        .groupBy($"query_id")
        .agg(sum(coalesce(lit(k + 1) - $"ideal_rank", lit(0)).cast("long") * $"disc")
          .as("dcg"))
      val idcg = bruteTop
        .join(broadcast(discDf), $"rank" === $"pos")
        .groupBy($"query_id")
        .agg(sum((lit(k + 1) - $"rank").cast("long") * $"disc").as("idcg"))
      e.filter($"vec_id" % 97 === 0).select($"vec_id".as("query_id"))
        .join(dcg, Seq("query_id"), "left")
        .join(idcg, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"dcg", lit(0L)).cast("long").as("dcg"),
          coalesce($"idcg", lit(0L)).cast("long").as("idcg"),
          when(coalesce($"idcg", lit(0L)) === 0, lit(null)).otherwise(
            round(coalesce($"dcg", lit(0L)).cast("double") /
              $"idcg".cast("double"), 6)).as("ndcg"))
        .orderBy($"query_id")
    },
    Some(s"""WITH q AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings
            |),
            |n AS MATERIALIZED (
            |  SELECT vec_id, q,
            |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
            |  FROM q
            |),
            |cents AS (SELECT vec_id AS cent_id, q AS qc, n2 AS n2c FROM n WHERE vec_id % 100 = 1),
            |ranked AS MATERIALIZED (
            |  SELECT vec_id, cent_id,
            |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
            |  FROM (
            |    SELECT v.vec_id, c.cent_id,
            |           round(CAST(list_sum(list_transform(range(1, len(v.q) + 1),
            |                   i -> v.q[CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS DOUBLE)
            |                 / (sqrt(v.n2) * sqrt(c.n2c)), 4) AS cos
            |    FROM n v CROSS JOIN cents c)
            |),
            |assign AS (SELECT vec_id AS cand_id, cent_id FROM ranked WHERE rn = 1),
            |probes AS (
            |  SELECT vec_id AS query_id, cent_id FROM ranked
            |  WHERE rn <= 2 AND vec_id % 97 = 0
            |),
            |ivf AS (
            |  SELECT query_id, cand_id, rank FROM (
            |    SELECT s.query_id, s.cand_id,
            |           row_number() OVER (PARTITION BY s.query_id
            |                              ORDER BY s.cosine DESC, s.cand_id) AS rank
            |    FROM (
            |      SELECT c.query_id, c.cand_id,
            |             round(CAST(list_sum(list_transform(range(1, len(na.q) + 1),
            |                     i -> na.q[CAST(i AS INT)] * nb.q[CAST(i AS INT)])) AS DOUBLE)
            |                   / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
            |      FROM (SELECT DISTINCT p.query_id, a.cand_id
            |            FROM probes p JOIN assign a ON p.cent_id = a.cent_id
            |            WHERE p.query_id <> a.cand_id) c
            |      JOIN n na ON na.vec_id = c.query_id
            |      JOIN n nb ON nb.vec_id = c.cand_id) s)
            |  WHERE rank <= $ndcgK
            |),
            |brute AS (
            |  SELECT query_id, cand_id, rank FROM (
            |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
            |             round(CAST(list_sum(list_transform(range(1, len(a.q) + 1),
            |                     i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS DOUBLE)
            |                   / (sqrt(a.n2) * sqrt(b.n2)), 4) DESC, b.vec_id) AS rank
            |    FROM n a JOIN n b ON a.vec_id % 97 = 0 AND a.vec_id <> b.vec_id)
            |  WHERE rank <= $ndcgK
            |),
            |disc(pos, d) AS (VALUES $ndcgDiscValues),
            |dcg AS (
            |  SELECT i.query_id,
            |         CAST(sum(coalesce(${ndcgK + 1} - b.rank, 0) * dd.d) AS BIGINT) AS dcg
            |  FROM ivf i
            |  LEFT JOIN brute b ON i.query_id = b.query_id AND i.cand_id = b.cand_id
            |  JOIN disc dd ON i.rank = dd.pos
            |  GROUP BY 1
            |),
            |idcg AS (
            |  SELECT query_id, CAST(sum((${ndcgK + 1} - rank) * d) AS BIGINT) AS idcg
            |  FROM brute JOIN disc ON rank = pos
            |  GROUP BY 1
            |)
            |SELECT qs.query_id,
            |       CAST(coalesce(dcg.dcg, 0) AS BIGINT) AS dcg,
            |       CAST(coalesce(idcg.idcg, 0) AS BIGINT) AS idcg,
            |       CASE WHEN coalesce(idcg.idcg, 0) = 0 THEN NULL
            |            ELSE round(CAST(coalesce(dcg.dcg, 0) AS DOUBLE)
            |                       / CAST(idcg.idcg AS DOUBLE), 6) END AS ndcg
            |FROM (SELECT vec_id AS query_id FROM n WHERE vec_id % 97 = 0) qs
            |LEFT JOIN dcg USING (query_id)
            |LEFT JOIN idcg USING (query_id)
            |ORDER BY query_id""".stripMargin),
  )

  /** Out-of-distribution scoring: the curation stage that flags the
    * embeddings FARTHEST from every trained centroid — junk, encoding
    * failures, or domain drift that no centroid represents. Reuses the
    * k-means machinery verbatim (train = the already-oracled Lloyd
    * loop); the OOD score is each vector's best-centroid cosine, and
    * the output is the bottom-30 — a TakeOrdered prune, so the corpus
    * never hits a global sort. At 100 TB the assignment is the same
    * broadcast-centroids narrow pass the IVF index already pays.
    */
  private val embedOod = Q(
    "q_embed_ood",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      VectorSim.kmeans(e, init, dims = 64, iters = 3)
        .orderBy($"cos".asc, $"vec_id")
        .limit(30)
        .select($"vec_id", $"cent_id", $"cos")
    },
    Some(kmeansCtes(3) + """
      |SELECT vec_id, cent_id, cos FROM assign2
      |ORDER BY cos, vec_id
      |LIMIT 30""".stripMargin),
  )

  /** Deterministic lightweight k-means coreset
    * (`VectorSim.lightweightCoreset` — Bachem et al. KDD 2018): a
    * 256-slot summary of the embedding corpus whose sampling law
    * q(x) = 1/(2n) + d²(x, μ)/(2Σd²) provably preserves k-means cost,
    * drawn with NO RNG — exact integer per-dimension mean, exact
    * integer d², and the cleared-denominator sensitivity weight
    * w = Σd² + n·d² on the systematic PPS line, so both engines
    * select the identical coreset with identical multiplicities. At
    * 100 TB this is the "cluster the corpus on a laptop" primitive:
    * one mean + one distance pass + one draw, and every downstream
    * k-means runs on 256 weighted rows.
    */
  private val embedCoreset = Q(
    "q_embed_coreset",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
      VectorSim.lightweightCoreset(e, dims = 64, m = 256L)
        .select($"vec_id", $"d2", $"w", $"sample_weight")
        .orderBy($"vec_id")
    },
    Some(s"""WITH qv AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings),
            |n AS (
            |  SELECT vec_id, q,
            |         CAST(list_sum(list_transform(q, x -> x * x)) AS HUGEINT) AS n2
            |  FROM qv),
            |mu AS (
            |  SELECT list(CAST(round(a) AS BIGINT) ORDER BY j) AS muq FROM (
            |    SELECT t.j, avg(q[CAST(t.j AS INT) + 1]) AS a
            |    FROM qv, unnest(range(0, 64)) AS t(j) GROUP BY t.j)),
            |mn AS (
            |  SELECT muq,
            |         CAST(list_sum(list_transform(muq, x -> x * x)) AS HUGEINT) AS n2mu
            |  FROM mu),
            |d AS (
            |  SELECT vec_id,
            |         n2 + n2mu - 2 * CAST(list_sum(list_transform(range(1, 65),
            |           i -> q[CAST(i AS INT)] * muq[CAST(i AS INT)])) AS HUGEINT) AS d2
            |  FROM n, mn),
            |t AS (SELECT CAST(sum(d2) AS HUGEINT) AS sumd2, count(*) AS nn FROM d),
            |wts AS (
            |  SELECT vec_id, d2,
            |         CASE WHEN sumd2 = 0 THEN 1 ELSE sumd2 + d2 * nn END AS w
            |  FROM d, t),
            |h AS (
            |  SELECT vec_id, d2, w,
            |         ${Relational.fnv63Sql("CAST(vec_id AS VARCHAR)")} AS h
            |  FROM wts),
            |c AS (
            |  SELECT vec_id, d2, w,
            |         CAST(sum(w) OVER (ORDER BY h % 64, h, vec_id
            |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cw
            |  FROM h),
            |wt AS (SELECT CAST(sum(w) AS HUGEINT) AS wtot FROM wts)
            |SELECT vec_id, CAST(d2 AS BIGINT) AS d2, CAST(w AS BIGINT) AS w,
            |       CAST((cw * 256) // wtot - ((cw - w) * 256) // wtot AS BIGINT)
            |         AS sample_weight
            |FROM c, wt
            |WHERE (cw * 256) // wtot - ((cw - w) * 256) // wtot > 0
            |ORDER BY vec_id""".stripMargin),
  )

  /** The coreset EARNING ITS KEEP: the k-means cost of a fixed
    * centroid set evaluated on the full corpus vs estimated from the
    * 256-row coreset alone — the quantity the lightweight-coreset
    * theorem bounds. Everything stays exact-integer until one final
    * expression: per-vector min squared distance to the centroids is
    * the integer n2 + n2c − 2⟨q,qc⟩ (centroid-id tie-break), the
    * exact cost is its decimal sum, and the coreset estimate clears
    * the estimator weight m_i/(m·q_i) into parts-per-billion integer
    * division — est_ppb = Σ (m_i·d2min_i·10⁹) // w_i, an order-free
    * integer sum — so both engines produce bit-identical doubles from
    * identical integers. The gate's rel_err column SHOWS the coreset
    * approximating the full cost (typically a few percent at m = 256),
    * and the hash pins the whole construction.
    */
  private val embedCoresetCost = Q(
    "q_embed_coreset_cost",
    (s, dir) => {
      import s.implicits._
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        ((a - pmod(a, b)) / b).cast("decimal(38,0)")
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val cents = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val d2min = e.crossJoin(broadcast(cents))
        .withColumn("dd", $"n2" + $"n2c" - lit(2L) * VectorSim.qdotNative($"q", $"qc"))
        .groupBy($"vec_id").agg(min($"dd").as("d2min"))
      val exact = d2min.agg(sum(dec($"d2min")).as("exact_sum"))
      val cs = VectorSim.lightweightCoreset(e, dims = 64, m = 256L)
      val est = cs.join(d2min, "vec_id")
        .select(
          fdiv(dec($"sample_weight") * dec($"d2min") * lit(1000000000L),
            dec($"w")).as("ppb"),
          $"n", $"sum_d2")
        .groupBy($"n", $"sum_d2")
        .agg(sum($"ppb").as("est_ppb"))
      est.crossJoin(broadcast(exact))
        .select(
          $"n",
          $"exact_sum".cast("double").as("exact_cost"),
          round(($"est_ppb".cast("double") * 2.0 * $"n".cast("double") *
            $"sum_d2".cast("double")) / lit(2.56e11), 2).as("coreset_cost"),
          round(
            abs(($"est_ppb".cast("double") * 2.0 * $"n".cast("double") *
              $"sum_d2".cast("double")) / lit(2.56e11) -
              $"exact_sum".cast("double")) / $"exact_sum".cast("double"),
            4).as("rel_err"))
    },
    Some(s"""WITH qv AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings),
            |n AS (
            |  SELECT vec_id, q,
            |         CAST(list_sum(list_transform(q, x -> x * x)) AS HUGEINT) AS n2
            |  FROM qv),
            |cents AS (SELECT vec_id AS cent_id, q AS qc, n2 AS n2c
            |          FROM n WHERE vec_id % 100 = 1),
            |dmin AS (
            |  SELECT v.vec_id,
            |         min(v.n2 + c.n2c - 2 * CAST(list_sum(list_transform(range(1, 65),
            |           i -> v.q[CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS HUGEINT))
            |           AS d2min
            |  FROM n v CROSS JOIN cents c GROUP BY v.vec_id),
            |ex AS (SELECT CAST(sum(d2min) AS HUGEINT) AS exact_sum FROM dmin),
            |mu AS (
            |  SELECT list(CAST(round(a) AS BIGINT) ORDER BY j) AS muq FROM (
            |    SELECT t.j, avg(q[CAST(t.j AS INT) + 1]) AS a
            |    FROM qv, unnest(range(0, 64)) AS t(j) GROUP BY t.j)),
            |mn AS (
            |  SELECT muq,
            |         CAST(list_sum(list_transform(muq, x -> x * x)) AS HUGEINT) AS n2mu
            |  FROM mu),
            |d AS (
            |  SELECT vec_id,
            |         n2 + n2mu - 2 * CAST(list_sum(list_transform(range(1, 65),
            |           i -> q[CAST(i AS INT)] * muq[CAST(i AS INT)])) AS HUGEINT) AS d2
            |  FROM n, mn),
            |t AS (SELECT CAST(sum(d2) AS HUGEINT) AS sumd2, count(*) AS nn FROM d),
            |wts AS (
            |  SELECT vec_id, d2,
            |         CASE WHEN sumd2 = 0 THEN 1 ELSE sumd2 + d2 * nn END AS w
            |  FROM d, t),
            |h AS (
            |  SELECT vec_id, w,
            |         ${Relational.fnv63Sql("CAST(vec_id AS VARCHAR)")} AS h
            |  FROM wts),
            |c AS (
            |  SELECT vec_id, w,
            |         CAST(sum(w) OVER (ORDER BY h % 64, h, vec_id
            |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cw
            |  FROM h),
            |wt AS (SELECT CAST(sum(w) AS HUGEINT) AS wtot FROM wts),
            |cs AS (
            |  SELECT vec_id, w,
            |         (cw * 256) // wtot - ((cw - w) * 256) // wtot AS sw
            |  FROM c, wt
            |  WHERE (cw * 256) // wtot - ((cw - w) * 256) // wtot > 0),
            |est AS (
            |  SELECT CAST(sum((CAST(cs.sw AS HUGEINT) * dmin.d2min * 1000000000)
            |           // cs.w) AS HUGEINT) AS est_ppb
            |  FROM cs JOIN dmin USING (vec_id))
            |SELECT CAST(nn AS BIGINT) AS n,
            |       CAST(exact_sum AS DOUBLE) AS exact_cost,
            |       round((CAST(est_ppb AS DOUBLE) * 2.0 * CAST(nn AS DOUBLE) *
            |         CAST(sumd2 AS DOUBLE)) / 2.56e11, 2) AS coreset_cost,
            |       round(abs((CAST(est_ppb AS DOUBLE) * 2.0 * CAST(nn AS DOUBLE) *
            |         CAST(sumd2 AS DOUBLE)) / 2.56e11 -
            |         CAST(exact_sum AS DOUBLE)) / CAST(exact_sum AS DOUBLE), 4)
            |         AS rel_err
            |FROM est, ex, t""".stripMargin),
  )

  /** Shared oracle CTE chain for the coreset-trained quantizer: the
    * full Lloyd CTEs (kmeansCtes(3)), the deterministic lightweight-
    * coreset selection with micro estimator weights (`csw.iw`), and a
    * 3-iteration WEIGHTED Lloyd over the coreset rows (`wv`), ending
    * at `wcents2` — the coreset-trained centroid table both the
    * drift/cost gate and the IVF-on-coreset gate consume.
    */
  private def coresetWeightedLloydCtes: String = {
    def cos(vq: String, vn: String, cq: String, cn: String) =
      cosSqlDims(64)(vq, vn, cq, cn)
    def wassign(k: Int) = s""",
      |wassign$k AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
      |    FROM (
      |      SELECT v.vec_id, c.cent_id, ${cos("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
      |      FROM wv v CROSS JOIN wcents$k c))
      |  WHERE rn = 1)""".stripMargin
    def wcents(k: Int) = s""",
      |wcents$k AS (
      |  SELECT cent_id, qc,
      |         CAST(list_sum(list_transform(qc, x -> x * x)) AS DOUBLE) AS n2c
      |  FROM (
      |    SELECT cent_id, list(CAST(round(a) AS BIGINT) ORDER BY j) AS qc
      |    FROM (
      |      SELECT s.cent_id, t.j,
      |             CAST(sum(v.iw * v.q[CAST(t.j AS INT) + 1]) AS DOUBLE) /
      |             CAST(sum(v.iw) AS DOUBLE) AS a
      |      FROM wassign${k - 1} s JOIN wv v ON v.vec_id = s.vec_id,
      |           unnest(range(0, 64)) AS t(j)
      |      GROUP BY s.cent_id, t.j)
      |    GROUP BY cent_id))""".stripMargin
    kmeansCtes(3) + s""",
      |ni AS (
      |  SELECT vec_id, q,
      |         CAST(list_sum(list_transform(q, x -> x * x)) AS HUGEINT) AS n2i
      |  FROM n),
      |mu AS (
      |  SELECT list(CAST(round(a) AS BIGINT) ORDER BY j) AS muq FROM (
      |    SELECT t.j, avg(q[CAST(t.j AS INT) + 1]) AS a
      |    FROM n, unnest(range(0, 64)) AS t(j) GROUP BY t.j)),
      |mn AS (
      |  SELECT muq,
      |         CAST(list_sum(list_transform(muq, x -> x * x)) AS HUGEINT) AS n2mu
      |  FROM mu),
      |d AS (
      |  SELECT vec_id,
      |         n2i + n2mu - 2 * CAST(list_sum(list_transform(range(1, 65),
      |           i -> q[CAST(i AS INT)] * muq[CAST(i AS INT)])) AS HUGEINT) AS d2
      |  FROM ni, mn),
      |t AS (SELECT CAST(sum(d2) AS HUGEINT) AS sumd2, count(*) AS nn FROM d),
      |wts AS (
      |  SELECT vec_id, d2,
      |         CASE WHEN sumd2 = 0 THEN 1 ELSE sumd2 + d2 * nn END AS w
      |  FROM d, t),
      |h AS (
      |  SELECT vec_id, w,
      |         ${Relational.fnv63Sql("CAST(vec_id AS VARCHAR)")} AS h
      |  FROM wts),
      |cc AS (
      |  SELECT vec_id, w,
      |         CAST(sum(w) OVER (ORDER BY h % 64, h, vec_id
      |           ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cw
      |  FROM h),
      |wt AS (SELECT CAST(sum(w) AS HUGEINT) AS wtot FROM wts),
      |csel AS (
      |  SELECT vec_id, w,
      |         (cw * 256) // wtot - ((cw - w) * 256) // wtot AS sw
      |  FROM cc, wt
      |  WHERE (cw * 256) // wtot - ((cw - w) * 256) // wtot > 0),
      |csw AS (
      |  SELECT vec_id,
      |         CASE WHEN sumd2 = 0 THEN CAST(sw AS HUGEINT)
      |              ELSE (CAST(sw AS HUGEINT) * 2 * nn * sumd2 * 1000000)
      |                   // (CAST(w AS HUGEINT) * 256)
      |         END AS iw
      |  FROM csel, t),
      |wv AS (
      |  SELECT n.vec_id, n.q, n.n2, csw.iw
      |  FROM csw JOIN n USING (vec_id)),
      |wcents0 AS (SELECT cent_id, qc, n2c FROM cents0)""".stripMargin +
      wassign(0) + wcents(1) + wassign(1) + wcents(2)
  }

  /** The coreset CONSUMER leg (VectorSim.kmeansFitWeighted): weighted
    * Lloyd over the 256-row coreset vs full-data Lloyd from the SAME
    * init, compared two ways — per-centroid drift (exact integer L2²
    * between corresponding trained centroids) and the cost gap (full-
    * corpus k-means cost under each trained set, exact decimal sums of
    * integer min-d², one double division at the end). This is what the
    * lightweight-coreset theorem is FOR: train on 256 weighted rows,
    * get centroids whose full-corpus cost is within ε of training on
    * everything. Estimator weights are integers end to end: the
    * unbiased weight mᵢ·(2nΣ)/(m·wᵢ) is floor-scaled by 10⁶ (micro-
    * weights — outlying rows with large wᵢ stay non-zero), so both
    * engines run the identical weighted update. At 100 TB the full-
    * Lloyd side of this gate is the thing you no longer run — the
    * coreset side's scan count (one mean + one distance pass + one
    * draw, then 256-row iterations) is the point.
    */
  private val embedCoresetKmeans = Q(
    "q_embed_coreset_kmeans",
    (s, dir) => {
      import s.implicits._
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        ((a - pmod(a, b)) / b).cast("decimal(38,0)")
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val (fullCents, _) = graft.operators.Lineage.settle(
        VectorSim.kmeansFit(e, init, dims = 64, iters = 3)._1)
      val cs = VectorSim.lightweightCoreset(e, dims = 64, m = 256L)
        .withColumn("iw",
          when($"sum_d2" === 0, dec($"sample_weight"))
            .otherwise(fdiv(
              dec($"sample_weight") * lit(2L) * dec($"n") * dec($"sum_d2") *
                lit(1000000L),
              dec($"w") * lit(256L)))
            .cast("long"))
        .select($"vec_id", $"iw")
      // settle the 256-row coreset join and both trained centroid
      // tables ONCE: the coreset chain is two corpus passes and the
      // Lloyd chains are iters× corpus scans — without the cut, every
      // downstream consumer (each weighted iteration, the drift join,
      // both cost audits) would re-execute them from scratch
      val (csVecs, _) = graft.operators.Lineage.settle(e.join(broadcast(cs), "vec_id"))
      val (wCents, _) = graft.operators.Lineage.settle(
        VectorSim.kmeansFitWeighted(csVecs, "iw", init, dims = 64, iters = 3)._1)
      def fullCost(cents: org.apache.spark.sql.DataFrame) =
        e.crossJoin(broadcast(cents))
          .withColumn("dd",
            $"n2" + $"n2c" - lit(2L) * VectorSim.qdotNative($"q", $"qc"))
          .groupBy($"vec_id").agg(min($"dd").as("d2min"))
          .agg(sum(dec($"d2min")).as("c"))
      val costF = fullCost(fullCents).select($"c".as("cf"))
      val costW = fullCost(wCents).select($"c".as("cw"))
      fullCents.select($"cent_id", $"qc".as("qf"))
        .join(wCents.select($"cent_id", $"qc".as("qw")), "cent_id")
        .crossJoin(broadcast(costF))
        .crossJoin(broadcast(costW))
        .select(
          $"cent_id",
          aggregate(zip_with($"qf", $"qw", (x, y) => (x - y) * (x - y)),
            lit(0L), (a, x) => a + x).as("drift_l2sq"),
          $"cf".cast("double").as("cost_full"),
          $"cw".cast("double").as("cost_coreset"),
          round(($"cw".cast("double") - $"cf".cast("double")) /
            $"cf".cast("double"), 4).as("cost_gap"))
        .orderBy($"cent_id")
    },
    Some {
      coresetWeightedLloydCtes + s""",
        |fint AS (
        |  SELECT cent_id, qc,
        |         CAST(list_sum(list_transform(qc, x -> x * x)) AS HUGEINT) AS n2ci
        |  FROM cents2),
        |wint AS (
        |  SELECT cent_id, qc,
        |         CAST(list_sum(list_transform(qc, x -> x * x)) AS HUGEINT) AS n2ci
        |  FROM wcents2),
        |costf AS (
        |  SELECT CAST(sum(d2min) AS HUGEINT) AS cf FROM (
        |    SELECT v.vec_id,
        |           min(v.n2i + c.n2ci - 2 * CAST(list_sum(list_transform(range(1, 65),
        |             i -> v.q[CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS HUGEINT))
        |             AS d2min
        |    FROM ni v CROSS JOIN fint c GROUP BY v.vec_id)),
        |costw AS (
        |  SELECT CAST(sum(d2min) AS HUGEINT) AS cw FROM (
        |    SELECT v.vec_id,
        |           min(v.n2i + c.n2ci - 2 * CAST(list_sum(list_transform(range(1, 65),
        |             i -> v.q[CAST(i AS INT)] * c.qc[CAST(i AS INT)])) AS HUGEINT))
        |             AS d2min
        |    FROM ni v CROSS JOIN wint c GROUP BY v.vec_id))
        |SELECT f.cent_id,
        |       CAST(list_sum(list_transform(range(1, 65),
        |         i -> (f.qc[CAST(i AS INT)] - w.qc[CAST(i AS INT)]) *
        |              (f.qc[CAST(i AS INT)] - w.qc[CAST(i AS INT)])))
        |         AS BIGINT) AS drift_l2sq,
        |       CAST(cf AS DOUBLE) AS cost_full,
        |       CAST(cw AS DOUBLE) AS cost_coreset,
        |       round((CAST(cw AS DOUBLE) - CAST(cf AS DOUBLE)) /
        |         CAST(cf AS DOUBLE), 4) AS cost_gap
        |FROM cents2 f JOIN wcents2 w USING (cent_id), costf, costw
        |ORDER BY cent_id""".stripMargin
    },
  )

  /** The coreset paying off in the ANN family: an IVF index whose
    * coarse quantizer is trained by weighted Lloyd ON THE 256-ROW
    * CORESET, then the FULL corpus is assigned in a single broadcast
    * pass and probed exactly as in [[topkIvfKmeans]] (nprobe = 2,
    * exact top-3 in the probed posting lists). The corpus-pass
    * arithmetic is the point: full-data training costs `iters`
    * corpus × k scans; this path costs one mean + one distance pass +
    * one draw (the coreset) + ONE assignment scan — at 100 TB the
    * difference between re-reading the corpus three times and reading
    * it once — and every downstream probe behaves identically. The
    * oracle composes the shared coreset-weighted-Lloyd CTE chain with
    * the standard IVF probe chain against the coreset-trained
    * centroids, so the hash pins training, assignment, and probing
    * end to end.
    */
  private val topkIvfCoreset = Q(
    "q_embed_topk_ivf_coreset",
    (s, dir) => {
      import s.implicits._
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        ((a - pmod(a, b)) / b).cast("decimal(38,0)")
      val e = Tables(s, dir).embeddings
        .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .persist()
      val init = e.filter($"vec_id" % 100 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val cs = VectorSim.lightweightCoreset(e, dims = 64, m = 256L)
        .withColumn("iw",
          when($"sum_d2" === 0, dec($"sample_weight"))
            .otherwise(fdiv(
              dec($"sample_weight") * lit(2L) * dec($"n") * dec($"sum_d2") *
                lit(1000000L),
              dec($"w") * lit(256L)))
            .cast("long"))
        .select($"vec_id", $"iw")
      // settle the coreset join and the trained quantizer once — the
      // coreset chain is corpus passes and wCents feeds BOTH the
      // posting assignment and the probe ranking
      val (csVecs, _) = graft.operators.Lineage.settle(e.join(broadcast(cs), "vec_id"))
      val (wCents, _) = graft.operators.Lineage.settle(
        VectorSim.kmeansFitWeighted(csVecs, "iw", init, dims = 64, iters = 3)._1)
      // the ONE full-corpus pass: assign everything to the coreset-
      // trained quantizer (centroids broadcast)
      val posting = VectorSim.assignToCentroids(e, wCents)
        .select($"vec_id".as("cand_id"), $"cent_id")
      val probes = e.filter($"vec_id" % 97 === 0)
        .crossJoin(broadcast(wCents))
        .withColumn("cos",
          VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
        .withColumn("rn",
          row_number().over(
            Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      val cand = probes.join(posting, "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct()
      cand
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    Some {
      coresetWeightedLloydCtes + s""",
        |wassignfull AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT vec_id, cent_id,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
        |    FROM (
        |      SELECT v.vec_id, c.cent_id,
        |             ${cosSqlDims(64)("v.q", "v.n2", "c.qc", "c.n2c")} AS cos
        |      FROM n v CROSS JOIN wcents2 c))
        |  WHERE rn = 1),
        |cents9 AS (SELECT cent_id, qc, n2c FROM wcents2),
        |assign9 AS (SELECT vec_id, cent_id FROM wassignfull)""".stripMargin +
        ivfProbeSql(9, 64, "v.vec_id % 97 = 0")
    },
  )

  val all: Seq[Q] =
    Seq(topkBrute, lshPairs, topkIvf, kmeansClusters, topkIvfKmeans, topkIvfPersist,
      topkPq, topkIvfPq, ivfRerank, knnClassify, topkIvfFiltered, hardNegatives,
      rankRrfFusion, embedPcaPower, embedAllButTop, rankMmrDiversify, embedIvfRecall,
      embedIvfNdcg, embedOod, embedCoreset, embedCoresetCost, embedCoresetKmeans,
      topkIvfCoreset)
}
