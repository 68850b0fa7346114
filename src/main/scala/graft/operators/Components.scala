package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the
  * canonicalization step every dedup pipeline needs after pair
  * generation: near-dup PAIRS (from MinHash-LSH / SimHash / cosine)
  * chain into duplicate CLUSTERS, and each cluster keeps one canonical
  * document (its minimum id, the usual deterministic pick).
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with its own id; each round, a node's label becomes the min
  * of its own and its neighbors' labels; at fixpoint, every node in a
  * component carries the component's minimum id. Each round is ONE
  * equi-join (labels to the symmetric edge list) plus ONE min
  * aggregation — both shuffles on the node key, linear in |E| — so a
  * round costs the same as any keyed aggregation over the edge list,
  * and the loop state (the label table) is O(|V|).
  *
  * Convergence: labels only ever decrease, so the label-sum is a
  * strictly decreasing fixpoint witness; the loop stops when the sum
  * is unchanged (checked on DECIMAL(38,0) — overflow-proof). Rounds
  * needed = the largest component's diameter, which for dedup graphs
  * is small (duplicate clusters are near-cliques: most members link
  * directly to most others). For adversarial long-chain graphs at
  * 100 TB scale the same loop accepts a higher `maxIters`, or swap in
  * alternating large-star/small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") which converges in
  * O(log² n) — the per-round plan shape is identical, which is the
  * part that matters for the engine.
  *
  * The driver-side loop is the standard Spark shape for iterative
  * graph algorithms (same as `VectorSim.kmeansFit`): the per-round
  * plan is fully distributed; only the 1-row convergence checksum is
  * collected.
  *
  * Lineage: each round's label table references the previous round's
  * TWICE (once directly, once through the propagation join), so an
  * uncut plan doubles per round and a 15-round chain OOMs the planner
  * before a single task runs. Each round is therefore a [[Fixpoint]]
  * round, which settles the label table.
  */
object Components {

  /** (src, dst) edges → (node, component) for every node that appears
    * in an edge; `component` is the minimum node id in the connected
    * component. Throws if `maxIters` rounds don't reach the fixpoint
    * (an unconverged label table is a silently wrong answer).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 20,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // symmetric closure: propagation must flow both directions.
    // Eagerly CHECKPOINTED, not persisted: a cache substitutes only at
    // execution time, so every loop action would still re-ANALYZE the
    // caller's full upstream plan — and a curation chain feeding this
    // loop through several stacked 2-consumer persist points has an
    // analyzed tree that doubles at each such point (the analyzer
    // walks shared subtrees once per occurrence). Measured: the v3
    // curation chain spent ~50 s of pure driver-side re-analysis
    // across the loop's actions at sf0.01. The checkpoint makes every
    // round plan against a leaf.
    // Size the loop's shuffles to the EDGE COUNT, not the session-wide
    // default: every round materializes and re-reads the label table
    // once per shuffle partition, so a 30-edge dedup graph on 32
    // partitions spends the whole loop on empty-partition overhead —
    // the same keys-per-task sizing rule the streaming gates apply to
    // state stores. (Same rows-per-partition target at 10⁹ edges: the
    // conf scales up instead of down.) The static side is laid out on
    // the round join's key, so every round reads it exchange-free.
    val (sym, nEdges) = GraphAlgos.prepped(GraphAlgos.symmetric(e), "dst")
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      // the label checksum is the fixpoint witness (labels only decrease)
      Fixpoint.run("connectedComponents",
        sym.select($"src".as("node")).distinct().withColumn("component", $"node"),
        maxIters, aggs = Seq(sum($"component".cast("decimal(38,0)"))),
        done = Fixpoint.stable,
        hint = "a component's diameter exceeds the budget; raise maxIters") { (labels, _) =>
        // a node's candidate labels: its own + every neighbor's current
        val prop = sym.join(labels, $"dst" === $"node")
          .select($"src".as("node"), $"component")
        labels.union(prop).groupBy($"node").agg(min($"component").as("component"))
      }
    }
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * ADVERSARIAL-GRAPH form of [[connectedComponents]]: min-label
    * propagation needs diameter rounds (a 10⁶-node path graph = 10⁶
    * rounds), the star alternation converges in O(log² n) by
    * repeatedly collapsing each node's neighborhood onto its minimum.
    * Use it when the duplicate graph stops being near-clique-shaped;
    * the per-round plan shape is the same keyed join + aggregation as
    * the min-label loop, so nothing new is asked of the cluster.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ⁺(u)) — long tails fold toward small ids;
    *  - small-star(u): every neighbor v ≤ u (they are all < u after
    *    orientation) re-attaches to m — stars flatten.
    *
    * Each phase is ONE groupBy(min) + ONE equi-join on the node key,
    * shuffles sized by |E|, one [[Fixpoint]] round per alternation.
    * Convergence is checked by an (edge-count, Σsrc, Σdst) checksum
    * on DECIMAL(38,0); because checksum equality is necessary but not
    * sufficient, the final edge set is then VALIDATED to be a star
    * forest (no parent is itself a child — a 2-chain would mean a
    * false fixpoint) before labels are returned, so a wrong stop
    * fails loudly rather than canonicalizing against a half-collapsed
    * forest.
    */
  def connectedComponentsStar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 50,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // eager checkpoint, not persist — cuts the caller's plan tree out
    // of every round's re-analysis (see connectedComponents)
    val e0 = Lineage.cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val nEdges = e0.count()
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      // every node that appears in an edge — the output domain, and
      // the singleton fallback for nodes whose edges were all self-loops
      val nodes = Lineage.cut(e0.select($"src".as("node"))
        .union(e0.select($"dst".as("node"))).distinct())

      def largeStar(e: DataFrame): DataFrame = {
        val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
          .filter($"src" =!= $"dst")
        val mins = sym.groupBy($"src").agg(min($"dst").as("mn"))
          .select($"src".as("u"), least($"src", $"mn").as("m"))
        sym.filter($"dst" > $"src")
          .join(mins, $"src" === $"u")
          .select($"dst".as("src"), $"m".as("dst"))
          .distinct()
      }

      def smallStar(e: DataFrame): DataFrame = {
        val o = e.select(greatest($"src", $"dst").as("src"),
          least($"src", $"dst").as("dst"))
          .filter($"src" =!= $"dst")
        val mins = o.groupBy($"src").agg(min($"dst").as("m"))
        o.join(mins, "src")
          .select($"dst".as("node"), $"m")
          .filter($"node" =!= $"m")
          .select($"node".as("src"), $"m".as("dst"))
          .union(mins.select($"src", $"m".as("dst")))
          .distinct()
      }

      // (edge count, Σsrc + Σdst) on DECIMAL(38,0): stable ⇒ fixpoint
      // (necessary, not sufficient — validated below); an edge-free
      // graph (all self-loops) is done at round 0. Round 0 is the
      // first alternation, so `maxIters` counts it.
      val cur = Fixpoint.run("connectedComponentsStar", smallStar(largeStar(e0)),
        maxIters - 1,
        aggs = Seq(count(lit(1)),
          sum($"src".cast("decimal(38,0)") + $"dst".cast("decimal(38,0)"))),
        done = (p, r) => r.getLong(0) == 0L || r == p,
        hint = s"raise maxIters (now $maxIters, round 0 included)") { (e, _) =>
        smallStar(largeStar(e))
      }
      // star-forest validation: a parent that is itself a child means
      // the checksum stopped on a non-fixpoint — refuse to answer
      val chains = cur.join(
        cur.select($"src".as("dst"), lit(1).as("__is_child")), "dst")
        .limit(1).count()
      require(chains == 0L,
        "connectedComponentsStar checksum converged on a non-star edge " +
          "set (a parent is itself a child) — raise maxIters")
      nodes
        .join(cur.select($"src".as("node"), $"dst".as("parent")), Seq("node"), "left")
        .select($"node", coalesce($"parent", $"node").as("component"))
    }
  }
}
