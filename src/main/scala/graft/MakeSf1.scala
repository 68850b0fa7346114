package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not part of the driver contract): synthesizes the sf1
  * scale-smoke dataset = 10 id-offset copies of sf0.1, per the
  * ARCHITECTURE.md "sf1 scale smoke" recipe. Round 4 built this
  * ad-hoc; this main makes the construction reproducible.
  *
  * Decorrelation choices (so stacked copies can't fabricate
  * super-linear work that real 10× data wouldn't have):
  *   - `documents.text` is word-stride-permuted per copy (stride =
  *     copy + 1): identical shingle/minhash STATISTICS, but no
  *     cross-copy near-duplicate structure — otherwise every doc
  *     would arrive in a 10-member near-dup clique and LSH pair
  *     counts would be quadratic in the copy count by construction.
  *   - `embeddings.embedding` is element-rotated per copy: same norm
  *     and coordinate distribution, but copies aren't cosine-1
  *     duplicates of each other (which would stack IVF posting lists
  *     with degenerate top-k ties).
  *   - every id column gets a large per-copy offset → key spaces stay
  *     disjoint (graph queries see 10 disjoint subgraphs, the honest
  *     shape of horizontally-grown data).
  *
  * Usage: runMain graft.MakeSf1 [outDir] [srcDir] [copies]
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local()
    val Off = 10000000L

    def stack(name: String)(transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val union = (0 until copies).map(c => transform(base, c)).reduce(_ union _)
      union.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[make-sf1] $name: ${copies}x -> $out/$name.parquet")
    }

    stack("documents") { (df, c) =>
      val stride = c + 1
      df.select(
        (col("doc_id") + c * Off).as("doc_id"),
        // interleave words by residue class mod stride; stride 1 (copy
        // 0) is the identity, so the original corpus is present intact
        array_join(
          flatten(transform(sequence(lit(0), lit(stride - 1)),
            r => filter(split(col("text"), " "),
              (_, i) => i % stride === r))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

    stack("embeddings") { (df, c) =>
      val d = 64
      val rot = c * 6 % d
      df.select(
        (col("vec_id") + c * Off).as("vec_id"),
        (if (rot == 0) col("embedding")
         else concat(
           slice(col("embedding"), rot + 1, d - rot),
           slice(col("embedding"), 1, rot))).as("embedding"),
        col("label"))
    }

    stack("orders") { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + c * Off)
        .withColumn("o_custkey", col("o_custkey") + c * Off)
    }

    stack("lineitem") { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + c * Off)
        .withColumn("l_partkey", col("l_partkey") + c * Off)
        .withColumn("l_suppkey", col("l_suppkey") + c * Off)
    }

    stack("events") { (df, c) =>
      df.withColumn("event_id", col("event_id") + c * Off)
        .withColumn("user_id", col("user_id") + c * Off)
    }

    // small dims pass through unchanged (scale-factor-invariant)
    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    spark.stop()
  }
}
