package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over a directed edge list — the importance-scoring pass a
  * crawl/curation pipeline runs to weight sources (cf. Page et al.,
  * "The PageRank Citation Ranking"): seed-domain ranking, dedup-keeper
  * selection by authority, mixture weighting by graph centrality.
  *
  * All rank arithmetic is SCALED-INTEGER, like `Mixture`'s sampling
  * rates: ranks live at `scale` (default 10⁶), neighbor shares are
  * integer division `r div outdeg`, and the damping update is
  * `(15·scale)/100 + (85·Σshares)/100` in BIGINT. Integer ops make the
  * fixpoint bit-reproducible in ANY engine at ANY partitioning — sums
  * of longs commute, divisions truncate identically — which is what
  * lets a DuckDB oracle replay the same iterations and hash-match.
  * The float rank is `rank_scaled / scale` (callers divide at the
  * end); truncation error per update is < 1/scale per node.
  *
  * Scale shape, per iteration (the standard distributed PageRank):
  *   - shares: ranks ⋈ outdeg on node — two narrow tables, broadcast
  *     or co-partitioned;
  *   - contributions: edges ⋈ shares on src (the big equi-join — at
  *     100 TB this is THE shuffle, on the edge table's natural key),
  *     then sum by dst with map-side partial aggregation;
  *   - update: nodes ⟕ contributions, coalesce(0) for in-degree-0
  *     nodes (they keep the 15% teleport floor).
  * The rank table is O(|V|) and settled per [[Fixpoint]] round (a
  * fixed round count, no convergence test); the edge table and
  * out-degree table are cut ONCE before the loop so no round re-runs
  * the caller's upstream derivation. The per-round plan is fully
  * distributed and its shuffles are sized to |E|.
  */
object PageRank {

  /** (src, dst) directed edges → (node, rank_scaled) for every node
    * appearing in any edge, after `iters` damped iterations from a
    * uniform start of `scale` per node. Dangling nodes (out-degree 0)
    * contribute nothing (their mass leaks, the common simplification);
    * in-degree-0 nodes converge to the teleport floor 15%·scale.
    */
  def pagerank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L,
  ): DataFrame = {
    require(iters >= 1, s"pagerank: iters ($iters) must be >= 1")
    val spark = edges.sparkSession
    // Materialize the edge derivation ONCE: `e` is read every iteration
    // by the contribution join, and `outdeg` / `nodes` derive from it —
    // without the cut, each round re-runs the caller's full upstream
    // plan (at 100 TB, the source scan + distinct) twice.
    val e = Lineage.cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    // size the loop's shuffles to the edge count, as in [[Components]]:
    // a small graph must not pay (default partitions) × (stages per
    // round) of empty-task scheduling; a big one gets the quotient back
    val nEdges = e.count()
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      val outdeg = Lineage.cut(e.groupBy(col("src")).agg(count(lit(1)).as("d")))
      val nodes = Lineage.cut(e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
      iterate("pagerank", e, outdeg, nodes.select(col("node"), lit(scale).as("r")), iters) {
        contribs => nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(15L * scale / 100L) + expr("(85 * coalesce(s, 0)) div 100")).as("r"))
      }
    }
  }

  /** `iters` damped rounds from the `start` ranks: shares = r div
    * outdeg, contributions summed per dst, `update` turns them into
    * the next (node, r). Round 0 is the first iteration, so the start
    * table is never materialized on its own.
    */
  private def iterate(op: String, e: DataFrame, outdeg: DataFrame, start: DataFrame,
      iters: Int)(update: DataFrame => DataFrame): DataFrame = {
    def round(ranks: DataFrame): DataFrame = {
      val shares = ranks
        .join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"), expr("r div d").as("share"))
      update(e.join(shares, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("s")))
    }
    Fixpoint.run(op, round(start), iters - 1, aggs = Nil, done = Fixpoint.never,
      strict = false)((ranks, _) => round(ranks))
  }

  /** Personalized PageRank: the teleport mass restarts ONLY onto the
    * seed set (Haveliwala, "Topic-Sensitive PageRank"), so ranks
    * measure proximity to the seeds instead of global authority — the
    * "more like these" expansion primitive (seed-domain crawl
    * frontiers, trusted-source propagation, related-item retrieval).
    *
    * Same scaled-integer discipline as [[pagerank]]: r₀ = scale on
    * seeds / 0 elsewhere, update r' = is_seed·15%·scale +
    * (85·Σ r div d) div 100 — every iteration bit-reproducible, so the
    * oracle unrolls identically. Seed membership is resolved ONCE into
    * the persisted node table (one left join), not re-joined per
    * round; per-iteration cost is identical to global PageRank.
    */
  def personalized(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L,
  ): DataFrame = {
    require(iters >= 1, s"personalized: iters ($iters) must be >= 1")
    val spark = edges.sparkSession
    // same once-only edge materialization + |E|-sized loop shuffles as
    // [[pagerank]]; seed membership is folded into the cut node table,
    // so the loop never touches `seeds` again
    val e = Lineage.cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val nEdges = e.count()
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      val outdeg = Lineage.cut(e.groupBy(col("src")).agg(count(lit(1)).as("d")))
      val nodes = Lineage.cut(e.select(col("src").as("node"))
        .union(e.select(col("dst")))
        .distinct()
        .join(seeds.select(col(seeds.columns.head).as("node"))
            .distinct().withColumn("__s", lit(1L)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__s"), lit(0L)).as("is_seed")))
      iterate("personalized", e, outdeg,
        nodes.select(col("node"), (col("is_seed") * scale).as("r")), iters) {
        contribs => nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (col("is_seed") * lit(15L * scale / 100L) +
              expr("(85 * coalesce(s, 0)) div 100")).as("r"))
      }
    }
  }

  /** HITS hubs-and-authorities (Kleinberg, "Authoritative Sources in a
    * Hyperlinked Environment") over a DIRECTED edge list — the
    * two-sided centrality PageRank can't express: on a user→item
    * graph, hub score ranks the users whose baskets point at
    * authoritative items, authority score ranks the items endorsed by
    * good hubs. Mutual recursion a ← Σ_{u→v} h(u), h ← Σ_{u→v} a(v).
    *
    * Scaled-integer discipline like [[pagerank]], with MAX
    * normalization in place of the textbook L2 (which needs a √ over
    * an accumulated double — libm in the loop): after each half-step,
    * x ← (x·scale) div max(x). Max-normalized iteration converges to
    * the same principal-eigenvector direction, the top node reads
    * exactly `scale`, and every operand stays an exact integer — the
    * oracle unrolls the identical halves. The normalizing max is
    * always > 0: the argmax hub is itself a source node, so some
    * authority sum sees a `scale`-valued hub (and vice versa).
    *
    * Scale shape, per iteration: two |E|-keyed equi-joins (src then
    * dst — THE shuffles at 100 TB, on the edges' natural keys) each
    * feeding a map-side-combined sum; the normalizing max is a 1-row
    * broadcast (it and the domain join share the raw sum's exchange);
    * every half-step is one [[Fixpoint]] round over the (node, h, a)
    * table, and loop shuffles are |E|-sized.
    * Dst-only nodes carry hub 0, src-only nodes authority 0, exactly
    * as the math says.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L,
  ): DataFrame = {
    require(iters >= 1, s"hits: iters ($iters) must be >= 1")
    val spark = edges.sparkSession
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      ((a - pmod(a, b)) / b).cast("long")
    val e = Lineage.cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val nEdges = e.count()
    require(nEdges > 0, "hits: empty edge set")
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      val nodes = Lineage.cut(e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
      // one half-step: push h along the edges onto authorities (toA),
      // or a back onto hubs, then max-normalize. Sums accumulate in
      // DECIMAL(38,0): h ≤ scale × in-degree would wrap a plain long
      // sum silently on very large hubs while the oracle sums in
      // HUGEINT — a silent cross-engine divergence.
      def half(state: DataFrame, toA: Boolean): DataFrame = {
        val (by, onto, from) = if (toA) ("src", "dst", "h") else ("dst", "src", "a")
        val raw = e.join(state, e(by) === state("node"))
          .groupBy(e(onto).as("node")).agg(sum(dec(col(from))).as("s"))
        val m = raw.agg(max(col("s")).as("m"))
        val v = fdiv(dec(coalesce(col("s"), lit(0))) * lit(scale), dec(col("m")))
        state.join(raw, Seq("node"), "left").crossJoin(broadcast(m))
          .select(col("node"), if (toA) col("h") else v.as("h"), if (toA) v.as("a") else col("a"))
      }
      // round 0 is the first authority half-step; rounds alternate after it
      val start = nodes.select(col("node"), lit(scale).as("h"), lit(null).cast("long").as("a"))
      Fixpoint.run("hits", half(start, toA = true), 2 * iters - 1, aggs = Nil,
        done = Fixpoint.never, strict = false)((s, r) => half(s, toA = r.index % 2 == 0))
        .select(col("node"), col("h").as("hub_scaled"), col("a").as("auth_scaled"))
    }
  }
}
