package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Scale, VectorSim}

/** Scalar quantization (SQ8) for embedding search: per-dimension
  * min/max learned from the corpus, each component compressed to an
  * 8-bit code, and search run ASYMMETRICALLY — the full-precision
  * query against dequantized codes — the standard memory-for-recall
  * trade (4× smaller vectors than float32, ~32× smaller than the
  * milli-quantized longs) that FAISS calls SQ8 and every vector store
  * ships alongside PQ.
  *
  * Scale shape: the stats pass is one narrow posexplode + a
  * dims-group aggregation (64 groups — map-side combined to nothing);
  * the learned model is 64 (min, span) pairs, collected driver-side
  * as a bounded model fetch and re-broadcast as array literals, so
  * encoding is a zero-shuffle narrow map over the corpus — the same
  * "model rides as a literal" pattern as the Bloom bitmap and the
  * rp-LSH hyperplanes. At 100 TB the codes feed the IVF posting
  * lists (q_embed_topk_ivf) unchanged; the brute ranking below is the
  * recall-measurement baseline and is enforced-bounded like
  * q_embed_topk_brute.
  *
  * Determinism: codes are EXACT integer floor divisions
  * (`(x−mn)·255 div span` — computed as `(a − pmod(a, b)) / b`, an
  * exact multiple, so the double division is exact), dequantized
  * values stay integers at 255× scale (`mn·255 + code·span`), and
  * the asymmetric cosine divides integer dot products — the 255
  * scale cancels between numerator and ‖x̂‖ — before one terminal
  * 4-dp round.
  */
object Quantize {

  private val dims = 64

  /** Exact floor division for nonnegative a, positive b: (a − a mod b)
    * is an exact multiple of b, so the double quotient is exact.
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  private val scalarQuantize = Q(
    "q_embed_scalar_quantize",
    (s, dir) => {
      import s.implicits._
      val e = Scale.requireAllPairsBounded(
        Tables(s, dir).embeddings
          .select($"vec_id", VectorSim.quantize($"embedding").as("q")),
        "q_embed_scalar_quantize")
      // per-dim (min, span): 64-group aggregation, then the model as literals
      val stats = e
        .select(posexplode($"q").as(Seq("pos", "x")))
        .groupBy($"pos")
        .agg(min($"x").as("mn"), max($"x").as("mx"))
        .orderBy($"pos")
        .collect()
      require(stats.length == dims, s"expected $dims dims, got ${stats.length}")
      val minArr = array(stats.map(r => lit(r.getLong(1))).toSeq: _*)
      val spanArr = array(stats.map(r =>
        lit(math.max(r.getLong(2) - r.getLong(1), 1L))).toSeq: _*)
      // encode + dequantize at 255× scale, one narrow map (codes would be
      // the stored form; x̂·255 keeps the math integer)
      val hat = e.select($"vec_id".as("cand_id"),
        transform($"q", (x, i) => {
          val mn = element_at(minArr, i + 1)
          val sp = element_at(spanArr, i + 1)
          mn * 255 + idiv((x - mn) * 255, sp) * sp
        }).as("xh"))
        .withColumn("n2h", VectorSim.qnorm2($"xh"))
      val queries = e.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("query_id"), $"q".as("qa"),
          VectorSim.qnorm2($"q").as("n2q"))
      queries
        .join(hat, $"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(
            VectorSim.qdotNative($"qa", $"xh"), $"n2q", $"n2h").as("cosine"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .select($"query_id", $"cand_id", $"rank", $"cosine")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH q AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings
            |),
            |st AS (
            |  SELECT i,
            |         min(q[CAST(i AS INT)]) AS mn,
            |         greatest(max(q[CAST(i AS INT)]) - min(q[CAST(i AS INT)]), 1) AS sp
            |  FROM q, unnest(range(1, ${dims + 1})) AS t(i)
            |  GROUP BY i
            |),
            |model AS (
            |  SELECT list(mn ORDER BY i) AS mins, list(sp ORDER BY i) AS sps FROM st
            |),
            |h AS (
            |  SELECT vec_id,
            |         list_transform(range(1, ${dims + 1}), i ->
            |           mins[CAST(i AS INT)] * 255 +
            |           ((q[CAST(i AS INT)] - mins[CAST(i AS INT)]) * 255 // sps[CAST(i AS INT)]) * sps[CAST(i AS INT)]) AS xh
            |  FROM q, model
            |),
            |hn AS (
            |  SELECT vec_id AS cand_id, xh,
            |         CAST(list_sum(list_transform(xh, x -> x * x)) AS DOUBLE) AS n2h
            |  FROM h
            |),
            |qn AS (
            |  SELECT vec_id AS query_id, q,
            |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2q
            |  FROM q WHERE vec_id % 50 = 0
            |),
            |pairs AS (
            |  SELECT a.query_id, b.cand_id,
            |         round(CAST(list_sum(list_transform(range(1, ${dims + 1}),
            |                 i -> a.q[CAST(i AS INT)] * b.xh[CAST(i AS INT)])) AS DOUBLE)
            |               / (sqrt(a.n2q) * sqrt(b.n2h)), 4) AS cosine
            |  FROM qn a JOIN hn b ON a.query_id <> b.cand_id
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

  /** Matryoshka (MRL) two-stage retrieval: shortlist by the FIRST 16
    * dimensions' cosine (MRL-trained embeddings front-load semantic
    * mass, so a prefix is itself a usable embedding — Kusupati et al.
    * 2022), then re-rank the ≤10 survivors with the full 64-dim
    * cosine for the final top-3. The adaptive-retrieval pattern: the
    * cheap stage touches every candidate at ¼ the per-pair cost (and
    * at corpus scale runs under the IVF posting-list machinery
    * unchanged — prefix vectors index exactly like full ones); the
    * exact stage touches 10 rows per query via id-keyed equi-joins.
    * Enforced-bounded here like every all-pairs exactness baseline.
    * The oracle replays shortlist + re-rank end-to-end, so a
    * rank-order difference between prefix and full scoring (the whole
    * approximation the technique trades on) breaks the hash.
    */
  private val prefixDims = 16

  private val matryoshkaRerank = Q(
    "q_embed_matryoshka_rerank",
    (s, dir) => {
      import s.implicits._
      val e = Scale.requireAllPairsBounded(
        Tables(s, dir).embeddings
          .select($"vec_id", VectorSim.quantize($"embedding").as("q"))
          .withColumn("p", slice($"q", 1, prefixDims))
          .withColumn("n2", VectorSim.qnorm2($"q"))
          .withColumn("n2p", VectorSim.qnorm2($"p")),
        "q_embed_matryoshka_rerank")
      val queries = e.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("query_id"),
          $"q".as("qa"), $"p".as("pa"), $"n2".as("na"), $"n2p".as("npa"))
      val shortlist = queries
        .join(e.select($"vec_id".as("cand_id"), $"p".as("pb"), $"n2p".as("npb")),
          $"query_id" =!= $"cand_id")
        .select($"query_id", $"pa", $"na", $"qa", $"cand_id",
          VectorSim.qcosine(
            VectorSim.qdotNative($"pa", $"pb"), $"npa", $"npb").as("pcos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"query_id").orderBy($"pcos".desc, $"cand_id")))
        .filter($"rn" <= 10)
        .select($"query_id", $"cand_id")
      shortlist
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")),
          "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")),
          "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb")
            .as("cosine"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .select($"query_id", $"cand_id", $"rank", $"cosine")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH q AS (
            |  SELECT vec_id,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            |  FROM embeddings
            |),
            |n AS (
            |  SELECT vec_id, q, q[1:$prefixDims] AS p,
            |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2,
            |         CAST(list_sum(list_transform(q[1:$prefixDims], x -> x * x)) AS DOUBLE) AS n2p
            |  FROM q
            |),
            |short AS (
            |  SELECT query_id, cand_id FROM (
            |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
            |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
            |             round(CAST(list_sum(list_transform(range(1, ${prefixDims + 1}),
            |                     i -> a.p[CAST(i AS INT)] * b.p[CAST(i AS INT)])) AS DOUBLE)
            |                   / (sqrt(a.n2p) * sqrt(b.n2p)), 4) DESC, b.vec_id) AS rn
            |    FROM n a JOIN n b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
            |  ) WHERE rn <= 10
            |),
            |rer AS (
            |  SELECT s.query_id, s.cand_id,
            |         round(CAST(list_sum(list_transform(range(1, ${dims + 1}),
            |                 i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS DOUBLE)
            |               / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cosine
            |  FROM short s
            |  JOIN n a ON a.vec_id = s.query_id
            |  JOIN n b ON b.vec_id = s.cand_id
            |)
            |SELECT query_id, cand_id,
            |       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank,
            |       cosine
            |FROM rer
            |QUALIFY rank <= 3
            |ORDER BY query_id, rank""".stripMargin),
  )

  val all: Seq[Q] = Seq(scalarQuantize, matryoshkaRerank)
}
