package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting and BFS — the two graph analytics a
  * curation pipeline asks of a similarity/co-occurrence graph after
  * components (cluster density → how clique-like the duplicate
  * clusters are; hop distance → how far contamination spreads from a
  * seed set). Both are expressed as keyed equi-joins so Catalyst picks
  * shuffle strategies and AQE sizes them; nothing is collected to the
  * driver except BFS's per-round frontier count (one long).
  */
object GraphAlgos {

  /** Per-node triangle counts over an undirected simple edge list
    * (one row per edge, `u < v`, no self-loops).
    *
    * Classic degree-ordered orientation (Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer"): orient every edge
    * from its lower endpoint to its higher endpoint in the total order
    * (degree, id). Wedges are then generated ONLY at each wedge's
    * lowest-ordered node, so a hub of degree d generates O(d_out²)
    * wedges where d_out is its OUT-degree in the orientation — and no
    * node's out-degree exceeds O(√|E|), which is the bound that kills
    * the last-reducer skew a naive per-node wedge join has. Every step
    * is an equi-join on a node key: deg join, wedge self-join on the
    * apex, closure probe on the (lo, hi) pair.
    *
    * Each triangle {a,b,c} is found exactly once (at its minimum-order
    * apex) and credited to all three corners via a 3-way explode.
    * Returns (node, tri_count) for every node in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))
    enumerateTriangles(e)
      .select(explode(array($"a", $"b", $"c")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("tri_count"))
  }

  /** Every triangle exactly once, as (a, b, c): `a` the triangle's
    * minimum node in the (degree, id) orientation order, `b`/`c` its
    * two out-neighbors with the closing edge oriented b→c. The
    * degree-ordered orientation machinery of [[triangleCounts]],
    * shared with [[trussNumbers]]; expects a `(u, v)` long edge list,
    * one row per undirected edge, no self-loops.
    */
  private[operators] def enumerateTriangles(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val deg = e.select($"u".as("node")).union(e.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    // orientation key: (degree, id) lexicographic, packed into one
    // struct so the comparison is a single codegen'd predicate
    val withDeg = e
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    val oriented = withDeg.select(
      when(struct($"du", $"u") < struct($"dv", $"v"), struct($"u".as("n"), $"du".as("d")))
        .otherwise(struct($"v".as("n"), $"dv".as("d"))).as("lo"),
      when(struct($"du", $"u") < struct($"dv", $"v"), struct($"v".as("n"), $"dv".as("d")))
        .otherwise(struct($"u".as("n"), $"du".as("d"))).as("hi"))
      .select($"lo.n".as("src"), struct($"hi.d", $"hi.n").as("dk"), $"hi.n".as("dst"))
    // wedges at the apex: unordered {b, c} pairs of out-neighbors,
    // ordered by the same (degree, id) key so each wedge appears once
    val w1 = oriented.select($"src".as("a"), $"dk".as("bk"), $"dst".as("b"))
    val w2 = oriented.select($"src".as("a"), $"dk".as("ck"), $"dst".as("c"))
    val wedges = w1.join(w2, Seq("a")).filter($"bk" < $"ck")
      .select($"a", $"b", $"c")
    // closure probe: the wedge {b,c} closes iff the oriented edge b→c
    // exists (b precedes c in orientation order by construction)
    val closing = oriented.select($"src".as("b"), $"dst".as("c"))
    wedges.join(closing, Seq("b", "c")).select($"a", $"b", $"c")
  }

  /** Hop distance from a seed node over an undirected edge list:
    * iterative frontier expansion (the MapReduce BFS). Each round is
    * one equi-join (frontier × symmetric edges) plus one anti-join
    * against the visited set — both keyed on the node, linear in the
    * frontier's incident edges; the only driver-side value per round
    * is the new frontier's row count, one [[Fixpoint]] round each.
    * Rounds are bounded by the graph's eccentricity from the seed, capped at
    * `maxDepth` — unreached nodes are simply absent from the result,
    * which is the honest answer (no sentinel distances).
    */
  def bfsLevels(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      seed: Long,
      maxDepth: Int = 20,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(uCol).cast("long").as("src"), col(vCol).cast("long").as("dst"))
    val (sym, nEdges) = prepped(symmetric(e), "src")
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      // depth only grows, so an already-seen node keeps its first level
      // and only newly-reached nodes [[improve]]. Capped, not failed, at
      // maxDepth.
      Fixpoint.run("bfsLevels",
        Seq((seed, 0L)).toDF("node", "dist").withColumn("chg", lit(true)), maxDepth,
        strict = false) { (state, r) =>
        improve(state, state.filter($"chg").join(sym, $"node" === $"src")
          .select($"dst".as("node"), lit(r.index.toLong).as("dist")), "dist")
      }.select($"node", $"dist")
    }
  }

  /** Weighted single-source shortest paths by frontier Bellman–Ford —
    * the Pregel paper's flagship example (Malewicz et al., SIGMOD '10,
    * §5.2), re-expressed as keyed joins: per round, only nodes whose
    * tentative distance IMPROVED last round (the frontier) propagate
    * `dist + w` across their edges, candidates are pre-aggregated with
    * a map-side-combinable per-node `min`, and a left join against the
    * current table keeps strict improvements only. With non-negative
    * weights the frontier empties in at most |V| rounds (each node's
    * final distance is fixed once the cheapest path to it has
    * propagated), so frontier-empty ⟺ fixpoint — the same
    * convergence-witness discipline as [[Components]]. Per-round cost
    * is O(frontier out-edges), NOT O(|E|): matching Pregel's "vertices
    * vote to halt", the property that makes the loop viable at 10⁹
    * edges where full-relaxation Bellman–Ford (|V|·|E|) is not.
    * Each round is a [[Fixpoint]] round and the loop's shuffles are
    * sized to the edge count (see [[Components]]). Weights must be
    * non-negative longs: a
    * negative weight voids the frontier-converges argument, so it
    * fails loudly inside the plan rather than looping. Returns
    * (node, dist) for every node reachable from `seed`.
    */
  def sssp(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      wCol: String,
      seed: Long,
      maxIters: Int = 60,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(
      col(uCol).cast("long").as("src"),
      col(vCol).cast("long").as("dst"),
      when(col(wCol).cast("long") >= 0, col(wCol).cast("long"))
        .otherwise(raise_error(concat(lit("sssp: negative edge weight "),
          col(wCol).cast("string"),
          lit(" — frontier Bellman–Ford requires non-negative weights"))))
        .as("w"))
    // undirected: relax in both directions
    val (sym, nEdges) = prepped(symmetric(e), "src")
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      Fixpoint.run("sssp",
        Seq((seed, 0L)).toDF("node", "dist").withColumn("chg", lit(true)), maxIters,
        hint = "a shortest path tree is deeper than the budget; raise maxIters") {
        (state, _) => improve(state, state.filter($"chg").join(sym, $"node" === $"src")
          .select($"dst".as("node"), ($"dist" + $"w").as("dist")), "dist")
      }.select($"node", $"dist")
    }
  }

  /** Deterministic truncated random walks — the DeepWalk/node2vec
    * corpus generator (Perozzi et al., KDD '14: short random walks as
    * "sentences" for skip-gram training over a graph). Every coin is
    * the engine's cross-engine fnv63 hash of (start, walk, step,
    * current node), so the corpus is a pure function of the graph: a
    * re-run, a retried task, or the DuckDB oracle produce the SAME
    * walks — reproducible-training-data semantics instead of
    * seed-per-partition RNG state.
    *
    * Scale shape: adjacency gets a positional index once (row_number
    * per source — one shuffle+sort over |E|), then every step is TWO
    * node-keyed equi-joins: state ⋈ degree (compute `choice = fnv63 %
    * deg`), then state ⋈ adjacency on (src, idx) = (node, choice).
    * Joining on the precomputed position rather than filtering the
    * neighbor list keeps per-step work at O(walks), never O(walks ×
    * degree) — a hub with 10⁶ neighbors costs a walk exactly one
    * probe, the skew shape that matters on power-law graphs. State is
    * one row per walk per step; lineage cut per step.
    *
    * Returns (start, walk, step, node) for step = 0..steps — the walk
    * corpus in long form. Walks never get stuck: every node in an
    * edge has degree ≥ 1 under symmetrization.
    */
  def deterministicWalks(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      walksPerNode: Int,
      steps: Int,
  ): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1,
      s"deterministicWalks: need walksPerNode >= 1 and steps >= 1, " +
        s"got $walksPerNode, $steps")
    val spark = edges.sparkSession
    import spark.implicits._
    graft.functions.Fnv63Hash.register(spark)
    val e = edges.select(col(uCol).cast("long").as("src"),
      col(vCol).cast("long").as("dst")).distinct()
    val sym = Lineage.cut(symmetric(e).distinct())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src").orderBy($"dst")
    val adj = Lineage.cut(sym.withColumn("idx", row_number().over(w) - 1))
    val deg = Lineage.cut(adj.groupBy($"src".as("dnode")).agg(count(lit(1)).as("deg")))
    val walkIds = array((0 until walksPerNode).map(lit): _*)
    var cur = Lineage.cut(deg.select($"dnode".as("start"))
      .withColumn("walk", explode(walkIds))
      .withColumn("node", $"start"))
    var out = cur.withColumn("step", lit(0))
      .select($"start", $"walk", $"step", $"node")
    // not a [[Fixpoint]] loop: `out` reads every step's state, so no
    // step may be released, and there is no convergence to test
    for (k <- 1 to steps) {
      val coin = expr(
        s"fnv63(concat(cast(start as string), '_', cast(walk as string), " +
          s"'_', '$k', '_', cast(node as string)))")
      cur = Lineage.cut(cur.join(deg, $"node" === $"dnode")
        .withColumn("choice", coin % $"deg")
        .join(adj, $"node" === $"src" && $"choice" === $"idx")
        .select($"start", $"walk", $"dst".as("node")))
      out = out.union(cur.withColumn("step", lit(k))
        .select($"start", $"walk", $"step", $"node"))
      // the accumulator is otherwise a (steps+1)-way union of the cut
      // per-step frames — fine at 10 steps, a 101-way plan at 100.
      // Materialize the union every 16 steps so plan width stays
      // bounded regardless of walk length (each arm is already a
      // settled frame, so the cut just collapses the union).
      if (k % 16 == 0) out = Lineage.cut(out)
    }
    out
  }

  /** Deterministic fixed-fanout neighbor sampling — GraphSAGE's
    * minibatch neighborhoods (Hamilton et al., NeurIPS '17: aggregate
    * over a sampled fixed-size neighbor set instead of the full
    * adjacency, so per-node work is O(k) regardless of degree).
    * Neighbors are ranked by the cross-engine fnv63 hash of the
    * (node, neighbor) pair — the sample is a pure function of the
    * graph: every epoch, retry, and the oracle select the SAME
    * neighborhoods, which is what makes GNN training data
    * reproducible and cacheable. Ranking is a per-node window
    * (row_number over (hash, neighbor)); a hub sorts its posting list
    * once — |E| log(deg) total, the same per-node work class as the
    * triangle orientation — and everything downstream of the sample
    * is O(k·|V|). Returns (node, nbr, rnk) with rnk = 1..k.
    */
  def sampleNeighbors(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      k: Int,
  ): DataFrame = {
    require(k >= 1, s"sampleNeighbors: k must be >= 1, got $k")
    val spark = edges.sparkSession
    import spark.implicits._
    graft.functions.Fnv63Hash.register(spark)
    val e = edges.select(col(uCol).cast("long").as("src"),
      col(vCol).cast("long").as("dst")).distinct()
    val sym = e.union(e.select($"dst".as("src"), $"src".as("dst"))).distinct()
    val h = expr("fnv63(concat(cast(src as string), '_', cast(dst as string)))")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src").orderBy($"h", $"dst")
    sym.withColumn("h", h)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"src".as("node"), $"dst".as("nbr"), $"rnk")
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k,
    * by iterative peeling — drop all nodes of degree < k, recompute
    * degrees, repeat to fixpoint (the dense-cluster extractor: on a
    * near-dup similarity graph the k-core is the template/boilerplate
    * cluster; low-core nodes are incidental pairs). Each round is ONE
    * map-side-combinable degree count plus TWO node-keyed semi-joins —
    * linear in surviving edges, shrinking monotonically — one
    * [[Fixpoint]] round each. Convergence witness: the
    * symmetric edge COUNT is strictly decreasing until fixpoint, so
    * count-unchanged ⟺ no node was peeled ⟺ done; throws past
    * `maxIters` (an unconverged peel is a silently-too-large core).
    * Returns (node, core_deg) — each surviving node with its degree
    * INSIDE the core.
    */
  def kCore(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      k: Int,
      maxIters: Int = 40,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(uCol).cast("long").as("src"), col(vCol).cast("long").as("dst"))
    val sym = Lineage.cut(symmetric(e))
    val nSym = sym.count()
    // loop shuffles sized to the (initial) edge count, as in
    // [[Components]]: the peel only shrinks, so the quotient is an
    // upper bound; small graphs skip empty-task scheduling overhead
    ScopedConf.withShufflePartitionsFor(spark, nSym) {
      def peel(cur: DataFrame): DataFrame = {
        val keep = cur.groupBy($"src").agg(count(lit(1)).as("d"))
          .filter($"d" >= k).select($"src")
        cur.join(keep, "src").join(keep.withColumnRenamed("src", "dst"), "dst")
          .select($"src", $"dst")
      }
      // round 0 is the first peel, compared with the input's count
      Fixpoint.run("kCore", peel(sym), maxIters - 1, aggs = Seq(count(lit(1))),
        done = (p, r) => r.getLong(0) == Option(p).fold(nSym)(_.getLong(0)),
        hint = s"raise maxIters (now $maxIters, round 0 included)") {
        (cur, _) => peel(cur)
      }.groupBy($"src").agg(count(lit(1)).as("core_deg"))
        .select($"src".as("node"), $"core_deg")
    }
  }

  /** Core NUMBERS (coreness of every node) by h-index iteration (Lü
    * et al., PNAS 113(9) 2016): initialize every node to its degree,
    * then repeatedly replace each node's value with the h-index of
    * its neighbors' values; the fixpoint is exactly the node's
    * coreness. A genuinely different algorithm from [[kCore]]'s peel
    * — no shrinking edge set — and the natural one when you want the
    * full coreness COLUMN (peeling yields one k's membership per run).
    *
    * FRONTIER refinement (same improved-only shape as [[sssp]]): a
    * node's h-index reads ONLY its neighbors' values, so it can
    * change in round i only if some neighbor changed in round i−1.
    * Round 1 computes every node; after that only the
    * changed-neighbor set is recomputed, and the round's new value
    * table is (old values) patched with (recomputed-and-different).
    * Round-for-round this produces EXACTLY the full Jacobi recompute's
    * value tables (CoreNumbersSpec proves it against a sequential full
    * recompute) — but late rounds, where a handful of nodes still
    * move, touch a tiny fraction of |E| instead of scanning the whole
    * graph: the window that ranks neighbor values, the dominant cost,
    * shrinks with the frontier.
    *
    * Scale shape per round: one equi-join of the DIRTY-incident edge
    * subset against the |V| value table, a map-side-combinable
    * (node, value) count, a node-partitioned window over the DISTINCT
    * (node, value) pairs that survive it (keyed, never global — and
    * far smaller than the edge set once neighborhoods concentrate on
    * few coreness values), a node-keyed max aggregation, and one
    * |V|-keyed left join to patch the value table. Values are monotonically non-increasing per node, so an
    * empty changed set is a fixpoint witness; one [[Fixpoint]] round
    * each.
    *
    * `roundProbe` (test hook): called with (round, full value table)
    * after each round — how the spec asserts round-for-round equality
    * with the full recompute without slowing the production path.
    *
    * Returns (node, coreness).
    */
  def coreNumbers(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      maxIters: Int = 60,
      roundProbe: Option[(Int, DataFrame) => Unit] = None,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(uCol).cast("long").as("src"), col(vCol).cast("long").as("dst"))
    // loop shuffles sized to the edge count, as in [[sssp]]. BOTH
    // per-round probes of the symmetric edge table — the recompute's
    // dirty-incident expansion and the next-frontier neighbor probe —
    // are keyed on src (the frontier probe exploits symmetry: rows
    // with src ∈ changed emit the same neighbor set as rows with
    // dst ∈ changed), so the src-prepped side serves both
    val (sym, nEdges) = prepped(symmetric(e), "src")
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy($"src").orderBy($"val".desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      var rounds = 0
      // state (node, c, chg): chg marks last round's changed values;
      // round 0 is the degree table, which certifies nobody
      val out = Fixpoint.run("coreNumbers",
        sym.groupBy($"src").agg(count(lit(1)).cast("long").as("c"))
          .select($"src".as("node"), $"c", lit(true).as("chg")), maxIters) { (state, r) =>
        if (r.index > 1) roundProbe.foreach(_(r.index - 1, state.select($"node", $"c")))
        rounds = r.index
        val cur = state.select($"node", $"c")
        // the dirty set CARRIES each node's current value (c): nodes
        // with a CHANGED neighbor (round 1: everyone), so change
        // detection is a narrow filter over the round's result — no
        // extra |V| join per round
        val dirty = if (r.index == 1) cur else cur.join(
          sym.join(state.filter($"chg").select($"node".as("src")), Seq("src"))
            .select($"dst".as("node")).distinct(),
          Seq("node"))
        // h-index of the neighbor multiset, for dirty nodes only, at
        // VALUE granularity: h = max over distinct neighbor values v of
        // min(v, C(v)), where C(v) = #neighbors with value ≥ v — the
        // rank formulation max(min(rank, value)) collapsed onto the
        // value histogram. (⟸ if C(v) ≥ v then t=v qualifies; else the
        // C(v) neighbors ≥ v are also ≥ C(v), so t=C(v) qualifies.
        // ⟹ for h's witness t₀ take v = smallest distinct value ≥ t₀:
        // C(v) = C(t₀) ≥ t₀, so min(v, C(v)) ≥ t₀.) The windowed sort
        // then runs over DISTINCT (node, value) pairs — produced by a
        // map-side-combinable count — instead of every incident edge:
        // as the iteration converges, neighborhoods concentrate on few
        // coreness values, so a hub's window input collapses from its
        // degree to its value support. c_old is constant per src, so
        // max() carries it through both aggregates without a second
        // grouping key (which would force another shuffle).
        val recomputed = sym
          .join(dirty.select($"node".as("src"), $"c".as("c_old")), Seq("src"))
          .join(cur.select($"node".as("dst"), $"c".as("val")), Seq("dst"))
          .groupBy($"src", $"val")
          .agg(count(lit(1)).cast("long").as("cnt"), max($"c_old").as("c_old"))
          .withColumn("cum", sum($"cnt").over(wcum))
          .groupBy($"src")
          .agg(max(least($"val", $"cum")).as("c"), max($"c_old").as("c_old"))
        // the full next value table with the changed bit folded in:
        // every dirty node takes its recomputed value, everyone else
        // carries over — disjoint, so anti-join + union, no outer join
        cur.join(dirty.select($"node"), Seq("node"), "left_anti")
          .select($"node", $"c", lit(false).as("chg"))
          .union(recomputed.select($"src".as("node"), $"c",
            ($"c" =!= $"c_old").as("chg")))
      }
      roundProbe.foreach(_(rounds, out.select($"node", $"c")))
      out.select($"node", $"c".as("coreness"))
    }
  }

  /** Truss decomposition — per-EDGE truss numbers, the triangle-level
    * strengthening of coreness (an edge's truss is the largest k such
    * that it survives in the k-truss, the maximal subgraph where
    * every edge closes ≥ k−2 triangles). Computed by the LOCAL
    * h-index iteration (Sariyüce, Seshadhri & Pinar, "Local
    * algorithms for hierarchical dense subgraph discovery", VLDB
    * 2018 — the (2,3)-nucleus analog of Lü et al.'s k-core h-index):
    *
    *   λ₀(e) = support(e);
    *   λ_{i+1}(e) = h-index{ min(λᵢ(f), λᵢ(g)) : triangle {e,f,g} };
    *   fixpoint λ* = truss(e) − 2.
    *
    * The decisive scale property vs the textbook peel: the triangle
    * set is enumerated ONCE (degree-ordered orientation via
    * [[enumerateTriangles]], apex out-degree ≤ O(√|E|), so no
    * last-reducer hub skew) into a static (edge, partner-edge,
    * partner-edge) incidence, and every subsequent round is keyed
    * joins against that fixed table — no shrinking-graph re-count of
    * triangles per peel level, which at 10⁹ edges is the difference
    * between one triangle enumeration and kmax·rounds of them.
    *
    * FRONTIER refinement, exactly [[coreNumbers]]'s shape: λ(e) reads
    * only its triangle partners' values, so only edges sharing a
    * triangle with a changed edge are recomputed; the round's value
    * table is (old) patched with (recomputed-and-different). Values
    * are non-increasing, so an empty changed set witnesses the
    * fixpoint; triangle-free edges hold λ = 0 (truss 2) from round 0
    * — already their fixpoint, never recomputed. Per-round cost: one
    * incidence equi-join against the dirty set, two edge-keyed value
    * lookups, a map-side-combinable (edge, ρ) count, an edge-
    * partitioned window over the DISTINCT (edge, ρ) pairs (the
    * value-granularity h-index of [[coreNumbers]] — window input
    * collapses from triangle count to value support), an edge-keyed
    * max, and one |E|-keyed patch join — one [[Fixpoint]] round.
    * `roundProbe` is the same spec hook as [[coreNumbers]]'s.
    *
    * Returns (u, v, truss) for EVERY input edge, truss = λ* + 2.
    */
  def trussNumbers(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      maxIters: Int = 60,
      roundProbe: Option[(Int, DataFrame) => Unit] = None,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Lineage.cut(edges
      .select(least(col(uCol), col(vCol)).cast("long").as("u"),
        greatest(col(uCol), col(vCol)).cast("long").as("v"))
      .filter($"u" =!= $"v").distinct())
    // static incidence: each triangle contributes one row per member
    // edge e with its two partner edges (f, g), all in canonical
    // (min, max) form — 3T rows, built once, reused every round
    def ce(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(least(x, y).as("u"), greatest(x, y).as("v"))
    val incRaw = Lineage.cut(enumerateTriangles(e)
      .select(explode(array(
        struct(ce($"a", $"b").as("e"), ce($"a", $"c").as("f"), ce($"b", $"c").as("g")),
        struct(ce($"a", $"c").as("e"), ce($"a", $"b").as("f"), ce($"b", $"c").as("g")),
        struct(ce($"b", $"c").as("e"), ce($"a", $"b").as("f"), ce($"a", $"c").as("g")),
      )).as("r"))
      .select($"r.e.u".as("eu"), $"r.e.v".as("ev"),
        $"r.f.u".as("fu"), $"r.f.v".as("fv"),
        $"r.g.u".as("gu"), $"r.g.v".as("gv")))
    // size the loop's shuffles to the incidence + edge volume, as in
    // [[coreNumbers]] (rationale there)
    val nWork = incRaw.count() + e.count()
    // static incidence laid out on (eu, ev) — the key of BOTH per-round
    // probes (the recompute's dirty join and the next-frontier probe,
    // re-keyed onto the e-slot below) AND of the initial support groupBy
    val inc = Lineage.prep(incRaw, Seq("eu", "ev"), Some(ScopedConf.partitionsFor(spark, nWork)))
    ScopedConf.withShufflePartitionsFor(spark, nWork) {
      val sup = inc.groupBy($"eu", $"ev").agg(count(lit(1)).cast("long").as("c"))
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy($"eu", $"ev").orderBy($"val".desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      var rounds = 0
      // state (u, v, c, chg); round 1 recomputes every edge IN a
      // triangle — support-0 edges already sit at their fixpoint
      // (h-index of ∅ = 0 = λ₀)
      val out = Fixpoint.run("trussNumbers",
        e.join(sup, $"u" === $"eu" && $"v" === $"ev", "left")
          .select($"u", $"v", coalesce($"c", lit(0L)).as("c"))
          .withColumn("chg", $"c" > 0), maxIters) { (state, r) =>
        if (r.index > 1) roundProbe.foreach(_(r.index - 1, state.select($"u", $"v", $"c")))
        rounds = r.index
        val cur = state.select($"u", $"v", $"c")
        // next frontier: edges sharing a triangle with a changed edge —
        // probed on the PREPPED (eu, ev) key: the incidence holds all
        // three rotations, so the rows whose e-slot is a changed edge
        // enumerate exactly the co-triangle partners (their f/g slots)
        // in ONE exchange-free join
        val dirty =
          if (r.index == 1) state.filter($"chg").select($"u", $"v", $"c")
          else cur.join(inc
            .join(state.filter($"chg").select($"u".as("eu"), $"v".as("ev")), Seq("eu", "ev"))
            .select(explode(array(
              struct($"fu".as("u"), $"fv".as("v")),
              struct($"gu".as("u"), $"gv".as("v")))).as("p"))
            .select($"p.u", $"p.v")
            .distinct(), Seq("u", "v"))
        // ρ per (dirty edge, triangle) = min of the two partners'
        // values; then the value-granularity h-index over ρ (see
        // coreNumbers for the histogram-collapse argument). c_old is
        // constant per edge, so max() carries it through both
        // aggregates without widening the grouping key.
        val recomputed = inc
          .join(dirty.select($"u".as("eu"), $"v".as("ev"), $"c".as("c_old")),
            Seq("eu", "ev"))
          .join(cur.select($"u".as("fu"), $"v".as("fv"), $"c".as("cf")), Seq("fu", "fv"))
          .join(cur.select($"u".as("gu"), $"v".as("gv"), $"c".as("cg")), Seq("gu", "gv"))
          .select($"eu", $"ev", $"c_old", least($"cf", $"cg").as("val"))
          .groupBy($"eu", $"ev", $"val")
          .agg(count(lit(1)).cast("long").as("cnt"), max($"c_old").as("c_old"))
          .withColumn("cum", sum($"cnt").over(wcum))
          .groupBy($"eu", $"ev")
          .agg(max(least($"val", $"cum")).as("c"), max($"c_old").as("c_old"))
        cur.join(dirty.select($"u", $"v"), Seq("u", "v"), "left_anti")
          .select($"u", $"v", $"c", lit(false).as("chg"))
          .union(recomputed.select($"eu".as("u"), $"ev".as("v"), $"c",
            ($"c" =!= $"c_old").as("chg")))
      }
      roundProbe.foreach(_(rounds, out.select($"u", $"v", $"c")))
      out.select($"u", $"v", ($"c" + 2L).as("truss"))
    }
  }

  /** Approximate neighborhood function (ANF: Palmer et al., "ANF: a
    * fast and scalable tool for data analysis in massive graphs";
    * register refinement per Boldi & Vigna's HyperBall): for every
    * node and every radius t ≤ `maxT`, an HLL estimate of |{m :
    * dist(n, m) ≤ t}| — the primitive behind effective-diameter,
    * centrality-without-BFS-per-node, and reachability profiling on
    * graphs where per-node exact BFS is unpayable.
    *
    * The whole algorithm is sketch algebra over
    * [[graft.functions.HllRegisters]]: round 0 seeds each node with
    * the singleton sketch of itself; round t merges (bytewise max)
    * each node's own sketch with its neighbors' round-(t−1) sketches.
    * Register merge is EXACT set union, so after t rounds each node
    * holds precisely sketch(its t-hop ball) — the distributed merge
    * tree and a direct sketch of the final set must agree bit for
    * bit, which is how the gate oracle checks this without mirroring
    * the iteration.
    *
    * Scale shape per round: one |E|-keyed equi-join moving 4 KiB
    * register payloads + one node-keyed aggregation whose map-side
    * partial merge collapses every task to ≤ |V_task| sketches before
    * the shuffle. All state is fixed-size per node — the property
    * that makes ANF viable where exact neighborhood sets are
    * quadratic. Lineage is cut per round.
    *
    * Returns (node, t, estimate, nonzero_buckets,
    * register_sum_scaled) for t = 0..maxT.
    */
  def anf(edges: DataFrame, uCol: String, vCol: String, maxT: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    anfRegisters(edges, uCol, vCol, maxT)
      .select($"node", $"t",
        call_function(graft.functions.HllRegisters.EvalName, $"regs").as("ev"))
      .select($"node", $"t", $"ev.estimate".as("estimate"),
        $"ev.nonzero_buckets".as("nonzero_buckets"),
        $"ev.register_sum_scaled".as("register_sum_scaled"))
  }

  /** The ANF iteration's raw output: (node, t, regs) with the 4 KiB
    * register binary per (node, radius) — the STORAGE format for a
    * graph-sketch lake. Persisting this instead of the evaluated
    * estimates keeps the sketches mergeable (register merge ≡ ball
    * union), so stored sketches can later serve diameter / harmonic /
    * closeness / any-subset-union queries without re-running the
    * iteration — the graph analog of q_sketch_hll_lake's
    * train-once/serve-many story.
    */
  def anfRegisters(edges: DataFrame, uCol: String, vCol: String, maxT: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    graft.functions.HllRegisters.register(spark)
    val e = edges.select(col(uCol).cast("long").as("src"), col(vCol).cast("long").as("dst"))
    // static join side laid out on the round join's key: every
    // round's neighbor equi-join reads the |E| side exchange-free and
    // sort-free instead of re-shuffling it per radius. Partitioned at
    // the SESSION shuffle count, deliberately NOT the 50k-rows
    // quotient the narrow loops use: rows here carry 4 KiB register
    // payloads and the per-row merge is the engine's hottest
    // aggregate, so rows-per-partition sizing would serialize the
    // merge onto 1-2 partitions at bench scale (measured: the scoped
    // variant ran anf_closeness 0.80× — CPU down, wall up, the
    // parallelism-starvation signature).
    val sym = Lineage.prep(Lineage.cut(symmetric(e).distinct()), Seq("dst"))
    var cur = Lineage.cut(sym.select($"src".as("node")).distinct()
      .select($"node",
        call_function(graft.functions.HllRegisters.InitName,
          $"node".cast("string")).as("regs")))
    var out = cur.select($"node", lit(0).as("t"), $"regs")
    // not a [[Fixpoint]] loop: `out` reads every radius's state, so no
    // round may be released, and there is no convergence to test
    for (t <- 1 to maxT) {
      val fromNbrs = sym
        .join(cur.select($"node".as("dst"), $"regs"), "dst")
        .select($"src".as("node"), $"regs")
      cur = Lineage.cut(fromNbrs.union(cur)
        .groupBy($"node")
        .agg(call_function(graft.functions.HllRegisters.MergeName, $"regs").as("regs")))
      out = out.union(cur.select($"node", lit(t).as("t"), $"regs"))
    }
    out
  }

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007) for a FIXED
    * iteration count — the community-detection baseline. Every round,
    * each node adopts the most frequent label among its neighbors with
    * a fully pinned tie order (max count, then MIN label), which is
    * what makes the trajectory engine-independent: asynchronous/
    * random-order LPA is famously non-deterministic, so this is the
    * variant an oracle can check. Per round: one labels⋈edges
    * equi-join, one (node,label) count (map-side combined), one
    * single-aggregation argmax — `max_by(lbl, (c, -lbl))`: struct
    * ordering gives max count then MIN label in ONE map-side-
    * combinable pass, no max-count self-join, so each round's plan
    * references its input exactly once and the whole fixed-round
    * trajectory pipelines as one job with a shallow lineage (no
    * per-round checkpoint needed; for high round counts, checkpoint
    * every ~10 rounds). Shuffle volume ∝ |E| per round; the loop's
    * shuffle-partition count is sized to |E| as in [[Components]], and
    * the result is materialized once at the end (inside that scope) so
    * the lazy trajectory actually executes at the narrowed width.
    *
    * Returns (node, lbl) for every node with ≥ 1 edge.
    */
  def labelPropagation(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      iters: Int,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))
    // |E|-sized loop shuffles as in [[Components]]: the fixed-round
    // trajectory pipelines as one job, but every round still stages
    // two shuffles (pair count, per-node argmax) whose partition count
    // would otherwise be the session default regardless of graph size;
    // the label equi-join reads the v-prepped side exchange-free —
    // without it the pipelined trajectory re-reads one reused exchange
    // of `bi` per round
    val (bi, nEdges) = prepped(
      e.union(e.select($"v".as("u"), $"u".as("v"))).distinct(), "v")
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      var labels = bi.select($"u".as("node")).distinct()
        .withColumn("lbl", $"node")
      // not a [[Fixpoint]] loop: the trajectory is never cut per round
      // (one job for all rounds), which a per-round settle would break
      for (_ <- 1 to iters) {
        labels = bi
          .join(labels.select($"node".as("v"), $"lbl"), "v")
          .groupBy($"u", $"lbl").agg(count(lit(1)).as("c"))
          // (c, -lbl) is unique per (u, lbl) row, so the argmax is total:
          // max count first, then the SMALLEST label among the tied
          .groupBy($"u").agg(max_by($"lbl", struct($"c", -$"lbl")).as("lbl"))
          .select($"u".as("node"), $"lbl")
      }
      // materialize INSIDE the narrowed-partition scope so the loop's
      // shuffles actually run at `parts` (the trajectory is lazy)
      Lineage.cut(labels)
    }
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the DIRECTED edge list obtained by writing
    * each undirected edge both ways — the standard summary of whether
    * hubs attach to hubs (r > 0, social-graph-like) or to leaves
    * (r < 0, hub-and-spoke), which decides whether a crawl frontier
    * or a dedup cluster graph needs skew handling at all.
    *
    * Both-directions symmetry makes Σx = Σy and Σx² = Σy², so
    *   r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)
    * over the per-edge degree pairs (x, y). One degree aggregation,
    * two node-keyed equi-joins to stamp (deg(u), deg(v)) on each
    * directed edge, one global roll-up to four DECIMAL(38,0) moments
    * — a single row out, divisions deferred to the terminal select
    * (exact operands, one double division, 6 dp). A hub's key repeats
    * deg-many times in the stamp joins; that is the plain
    * replicate-the-dim-row shape AQE's skew split handles, not a
    * last-reducer trap (the aggregate is map-side combined).
    *
    * Returns one row: (m_directed, r_assort) — r_assort NULL when the
    * degree sequence is constant (zero variance, r undefined: e.g. a
    * perfect matching or a cycle).
    */
  def degreeAssortativity(
      edges: DataFrame,
      uCol: String,
      vCol: String,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))
    val bi = e.union(e.select($"v".as("u"), $"u".as("v")))
    val deg = bi.groupBy($"u").agg(count(lit(1)).cast("decimal(38,0)").as("deg"))
      .select($"u".as("node"), $"deg")
    val pairs = bi
      .join(deg.select($"node".as("u"), $"deg".as("x")), "u")
      .join(deg.select($"node".as("v"), $"deg".as("y")), "v")
    val s = pairs.agg(
      count(lit(1)).cast("decimal(38,0)").as("m"),
      sum($"x").as("sx"),
      sum($"x" * $"y").as("sxy"),
      sum($"x" * $"x").as("sxx"),
    )
    val num = $"m" * $"sxy" - $"sx" * $"sx"
    val den = $"m" * $"sxx" - $"sx" * $"sx"
    s.select(
      $"m".cast("long").as("m_directed"),
      when(den === 0, lit(null))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as("r_assort"),
    )
  }

  /** Earliest-arrival TIME-RESPECTING reachability over a directed
    * temporal edge list (Wu et al., "Path problems in temporal
    * graphs", VLDB 2014): node v is reachable from `seed` iff some
    * path uses edges in NON-DECREASING timestamp order, and its
    * earliest arrival is the minimum last-edge timestamp over such
    * paths. This is what static reachability silently gets wrong on
    * event/interaction graphs — influence, contamination, and
    * information can only flow forward in time, so a static BFS
    * overstates spread through anti-chronological paths.
    *
    * Each edge carries a DEPARTURE and an ARRIVAL time (the flight-
    * itinerary model; for instantaneous contact edges pass the same
    * column for both): the edge is usable from u iff `dep ≥ arr(u)`,
    * and lands at `arr`. The two-field model is what lets a caller
    * add SHORTCUT edges — a composed chronological path (u…w) becomes
    * one edge (u, w, dep = first hop's time, arr = last hop's time)
    * with identical semantics, and doubling shortcuts over chain-
    * structured inputs collapse the round count from the temporal
    * diameter to its logarithm (see q_graph_temporal_reach, where the
    * per-(type, day) hand-off chains are chronological by
    * construction, so the level-2^l skip edges are exact composites
    * and the fixpoint provably unchanged).
    *
    * Frontier relaxation, exactly the [[sssp]] shape: per round, the
    * improved-last-round nodes join their out-edges FILTERED to
    * `dep >= arrival`, candidates pre-aggregate with a map-side min
    * per dst, and a left join keeps strict improvements. Arrivals
    * only decrease, so frontier-empty ⟺ fixpoint; rounds are bounded
    * by the (shortcut-reduced) temporal diameter; per-round cost is
    * O(frontier out-edges), never O(|E|), one [[Fixpoint]] round each.
    * Returns
    * (node, arr) for every time-respecting-reachable node; the seed
    * carries `arr = startTs` (it departs on any edge with
    * dep ≥ startTs). Unreachable nodes are absent — the honest
    * answer, as in [[bfsLevels]].
    */
  def temporalReachable(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seed: Long,
      startTs: Long = 0L,
      maxIters: Int = 100,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, nEdges) = temporalPrep(edges, uCol, vCol, depCol, arrCol)
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      Fixpoint.run("temporalReachable",
        Seq((seed, startTs)).toDF("node", "arr").withColumn("chg", lit(true)), maxIters) {
        (state, _) => improve(state, state.filter($"chg")
          .join(e, $"node" === $"src" && $"dep" >= $"arr")
          .select($"dst".as("node"), $"ets".as("arr")), "arr")
      }.select($"node", $"arr")
    }
  }

  /** Temporal edges WITH DOUBLING SHORTCUTS from chain-structured
    * rows — the reusable form of the construction the temporal gates
    * introduced: given rows that form chronological chains within
    * `partCols` groups (ordered by `ordCols`, each row carrying its
    * node and its event time), emit the hand-off edges
    * node_i → node_{i+1} (dep = arr = ts_{i+1}) PLUS the level-2^l
    * composites node_i → node_{i+2^l} (dep = ts_{i+1},
    * arr = ts_{i+2^l}) for l = 1..maxLevel. Because the chain is
    * chronological, every shortcut is an exact composite of real
    * hops — [[temporalReachable]]/[[temporalLatestDeparture]] fixpoints
    * are provably unchanged while the frontier crosses a k-row chain
    * in O(log k) rounds instead of k (the equivalence is hash-proved
    * by the temporal gates, whose oracles use base edges only).
    *
    * The chronology PRECONDITION is enforced in-plan: a row whose
    * successor's time precedes its own raises, rather than silently
    * emitting shortcuts that claim paths the base chain doesn't have.
    * One window pass computes all leads; self-edges (the same node
    * reappearing) drop. Returns distinct (u, v, dep, arr) longs.
    */
  def chainShortcuts(
      chains: DataFrame,
      partCols: Seq[String],
      ordCols: Seq[String],
      nodeCol: String,
      tsCol: String,
      maxLevel: Int = 12,
      maxWait: Option[Long] = None,
      arrivalSlack: Option[Long] = None,
  ): DataFrame = {
    require(maxLevel >= 0 && maxLevel <= 40,
      s"chainShortcuts: maxLevel must be in [0, 40], got $maxLevel")
    require(arrivalSlack.isEmpty || maxWait.isDefined,
      "chainShortcuts: arrivalSlack gating needs maxWait (it tightens " +
        "the wait predicate, it does not replace it)")
    arrivalSlack.foreach(g => require(g > 0,
      s"chainShortcuts: arrivalSlack must be > 0, got $g"))
    val spark = chains.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*).orderBy(ordCols.map(col): _*)
    val levels = (0 to maxLevel).map(1 << _)
    val dep1 = lead(col(tsCol).cast("long"), 1).over(w)
    // WAIT-RESPECTING shortcuts (maxWait = Some(W)): a level-2^l
    // composite contracts 2^l − 1 INTERMEDIATE waits (the chain gaps
    // ts_{j+1} − ts_j for j in [i+1, i+2^l−1]); under a bounded-waiting
    // path model it is a valid edge ONLY if every contracted wait is
    // ≤ W — otherwise the shortcut would claim a path the base chain
    // forbids. One gap column + one bounded rows-window max per level
    // computes the worst contracted wait; the first hop's own wait
    // stays checked by the traversal's join predicate (the composite
    // carries the real first departure). Level-1 edges contract
    // nothing and are always emitted.
    val gap1 = lead(col(tsCol).cast("long"), 1).over(w) - col(tsCol).cast("long")
    // G-SLACK gating (arrivalSlack = Some(g), used by the
    // quantizeArrivals traversal): the interior-wait condition
    // tightens from `gap ≤ W` to the g-slack predicate on the pair
    // (arrival ts_j, next departure ts_{j+1}) —
    //   ts_{j+1} ≥ ceil_g(ts_j)  ∧  ts_{j+1} ≤ floor_g(ts_j) + W —
    // the SAME predicate the class-keyed traversal applies at its own
    // hops, checked here EXACTLY at composition time, so traversing a
    // composite is indistinguishable from walking its base hops under
    // g-slack (the fixpoint-equality argument carries over verbatim:
    // entry hop checked by the traversal join, interiors here).
    val slackOk1: Column = arrivalSlack match {
      case Some(g) =>
        val ts = col(tsCol).cast("long")
        ((dep1 >= ts + pmod(-ts, lit(g))) &&
          (dep1 - (ts - pmod(ts, lit(g))) <= maxWait.get)).cast("int")
      case None => lit(1)
    }
    // ONE window pass emits every level's (v, arr, gate) as a struct
    // array, exploded into edge rows — the previous shape unioned 13
    // per-level filter branches over the same Window subplan, and
    // Spark re-evaluates the window (sort + all lead/max/min columns)
    // once PER BRANCH (only the exchange below it is reused), so the
    // widest operator in the whole temporal family ran 13× per query.
    // The explode materializes each window column exactly once; the
    // emitted (u, v, dep, arr) set is identical (same per-level
    // null/gate filters, applied post-explode).
    //
    // WAIT GATES via one next-break pointer, not per-level sliding
    // windows (guide §1.2 step 2 — per-task work): the old gated shape
    // evaluated max(__gap)/min(__ok) over rowsBetween(1, l−1) once PER
    // LEVEL — Spark's bounded window frames re-scan the frame per row,
    // so the 12 gated levels cost Σ(2^l − 1) ≈ 8 190 frame rows PER
    // INPUT ROW. Equivalent formulation with ONE column: __nb = the
    // smallest row number AFTER this row whose interior predicate
    // FAILS (a running min over the reverse order — one extra
    // per-partition sort, O(1) per row). A level-2^l composite at row
    // i contracts the interior predicates at rows i+1..i+2^l−1, so its
    // gate is exactly `__nb IS NULL OR __nb ≥ __rn + 2^l` — identical
    // wherever the composite's v is non-null (when lead(node, l) is
    // null the gate is unread: the post-explode filter drops the row
    // either way, and rows i+1..i+l−1 all exist whenever v isn't null,
    // so the old frame never saw partition-truncated input where it
    // mattered).
    val gated = maxWait.isDefined
    val wRev = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*).orderBy($"__rn".desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // pass 1 (asc): every level's leads + the chronology check + the
    // interior-predicate columns + the row number — all in ONE window
    val base = chains
      .withColumn("__dep",
        when(dep1 < col(tsCol).cast("long"), raise_error(concat(
          lit("chainShortcuts: successor time precedes the row's own — "),
          lit("the chain is not chronological along the given order"))))
          .otherwise(dep1))
      .withColumn("__gap", gap1)
      .withColumn("__ok", slackOk1)
      .withColumn("__rn", row_number().over(w))
      .withColumns(
        levels.map(l => s"__v$l" ->
          lead(col(nodeCol).cast("long"), l).over(w)).toMap ++
        levels.map(l => s"__a$l" ->
          lead(col(tsCol).cast("long"), l).over(w)).toMap)
    // pass 2 (desc, gated only): __nb — the smallest row number after
    // this row whose interior predicate FAILS (null = none fails); a
    // null predicate (partition-last row) fails, matching "no
    // successor to hand off to"
    val withNb =
      if (!gated) base.withColumn("__nb", lit(null).cast("int"))
      else {
        val qualifies: Column = arrivalSlack match {
          case Some(_) => coalesce($"__ok" === 1, lit(false))
          case None => coalesce($"__gap" <= maxWait.get, lit(false))
        }
        base.withColumn("__nb",
          min(when(!qualifies, $"__rn")).over(wRev))
      }
    val lvlStructs = levels.map { l =>
      val ok: Column =
        if (gated && l > 1) $"__nb".isNull || $"__nb" >= $"__rn" + l
        else lit(true)
      struct(col(s"__v$l").as("v"), col(s"__a$l").as("a"), ok.as("ok"))
    }
    withNb
      .select(col(nodeCol).cast("long").as("u"), col("__dep").as("dep"),
        array(lvlStructs: _*).as("__lv"))
      .select($"u", $"dep", explode($"__lv").as("__x"))
      .filter($"__x.v".isNotNull && $"__x.ok")
      .select($"u", $"__x.v".as("v"), $"dep", $"__x.a".as("arr"))
      .filter($"u" =!= $"v")
      .distinct()
  }

  /** BOUNDED-WAITING temporal reachability — earliest arrival when a
    * path may wait at most `maxWait` at every intermediate node: edge
    * (u, v, dep, arr) is usable from an arrival a at u iff
    * dep ≥ a AND dep − a ≤ maxWait (the source chooses when to leave,
    * so its first hop needs only dep ≥ startTs; Wu et al. VLDB 2014's
    * waiting-constrained variant). This is the OTHER non-monotone
    * temporal problem: a LATER arrival at u can reach edges an early
    * arrival cannot wait for, so single-arrival relaxation is wrong
    * and (d, a) Pareto pruning is UNSOUND too (a larger arrival is not
    * dominated — its waiting window sits later). Per-node state is
    * therefore the set of DISTINCT reachable arrival times, bounded by
    * the node's in-edge timestamp support — exact dedup is the only
    * sound reduction, and the loop is the [[temporalReachable]]
    * frontier shape with a set in the scalar's place.
    *
    * Shortcut edges must be wait-respecting — see [[chainShortcuts]]'s
    * `maxWait` gating; composites from plain chainShortcuts would
    * contract over-long intermediate waits and OVERSTATE reachability.
    *
    * Returns (node, arr) per reachable (node, arrival-time) label with
    * the minimum arrival per node — (node, arr_min) — seed excluded.
    */
  def temporalBoundedWait(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seed: Long,
      maxWait: Long,
      startTs: Long = 0L,
      maxIters: Int = 100,
  ): DataFrame = {
    require(maxWait >= 0, s"temporalBoundedWait: maxWait must be >= 0, got $maxWait")
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, nEdges) = temporalPrep(edges, uCol, vCol, depCol, arrCol)
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      // the round's frontier is the state filtered to chg (the labels
      // [[novel]] flagged); the label count guards the state's mass
      Fixpoint.run("temporalBoundedWait",
        e.filter($"src" === seed && $"dep" >= startTs)
          .select($"dst".as("node"), $"ets".as("a")).distinct()
          .withColumn("chg", lit(true)), maxIters,
        done = Fixpoint.labelCapped(spark, "temporalBoundedWait",
          "coarsen the edge arrival timestamps before calling")) { (state, _) =>
        novel(state, state.filter($"chg")
          .join(e, $"node" === $"src" && $"dep" >= $"a" && $"dep" - $"a" <= maxWait)
          .select($"dst".as("node"), $"ets".as("a")), Seq("node", "a"))
      }.filter($"node" =!= seed)
        .groupBy($"node").agg(min($"a").as("arr"))
    }
  }

  /** Merge candidate (node, `v`) rows into (node, `v`, chg) state by
    * min, flagging the improved rows — no previous value, or the min
    * beat it — which ARE the next frontier: ONE node-keyed groupBy
    * (map-side combined) per round. State has one row per node, so
    * max(prev) recovers the single previous value.
    */
  private def improve(state: DataFrame, cand: DataFrame, v: String): DataFrame =
    state.select(col("node"), col(v), col(v).as("prev"))
      .unionByName(cand.withColumn("prev", lit(null).cast("long")))
      .groupBy(col("node")).agg(min(col(v)).as(v), max(col("prev")).as("prev"))
      .select(col("node"), col(v), (col("prev").isNull || col(v) < col("prev")).as("chg"))

  /** Merge candidate label rows into label-SET state: ONE groupBy on
    * the label `keys` flags the NOVEL labels (no state row carried the
    * label into the round ⇒ max(old) is null), which ARE the next
    * frontier.
    */
  private[operators] def novel(state: DataFrame, cand: DataFrame, keys: Seq[String]): DataFrame =
    state.select(keys.map(col) :+ lit(true).as("old"): _*)
      .unionByName(cand.select(keys.map(col) :+ lit(null).cast("boolean").as("old"): _*))
      .groupBy(keys.map(col): _*).agg(max(col("old")).isNull.as("chg"))

  /** LATEST-DEPARTURE influence set — the backward twin of
    * [[temporalReachable]]: every node that can reach `target` along
    * a chronological path, with ld(v) = the LATEST time one could
    * leave v and still arrive by `endTs` ("which sources could have
    * influenced this artifact, and how late" — contamination
    * provenance, the reverse of spread). Computed by TIME REVERSAL,
    * not a second algorithm: reverse every edge and negate its
    * times — (u, v, dep, arr) ↦ (v, u, −arr, −dep) — and
    * latest-departure-to-target becomes earliest-arrival-from-target
    * exactly (departure feasibility arr ≤ ld(v) maps to the reversed
    * dep′ ≥ arr′ filter; max-departure maps to min-arrival through
    * the negation). One wrapper, all of [[temporalReachable]]'s
    * frontier/settle/release machinery reused. Returns (node, ld);
    * the target itself carries ld = endTs.
    */
  def temporalLatestDeparture(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      target: Long,
      endTs: Long,
      maxIters: Int = 100,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val reversed = edges.select(
      col(vCol).as("ru"),
      col(uCol).as("rv"),
      (-col(arrCol).cast("long")).as("rdep"),
      (-col(depCol).cast("long")).as("rarr"))
    temporalReachable(reversed, "ru", "rv", "rdep", "rarr",
      seed = target, startTs = -endTs, maxIters = maxIters)
      .select($"node", (-$"arr").as("ld"))
  }

  /** PARETO-FRONT temporal labels from `seed` — the state behind
    * fastest-duration (and other non-monotone) temporal path problems
    * (Wu et al., "Path problems in temporal graphs", VLDB 2014 §5):
    * unlike earliest arrival, duration is NOT monotone in a single
    * arrival label — a path that leaves the source later can arrive
    * later yet be faster — so per-node state is the set of
    * NON-DOMINATED (d, a) pairs, d = the path's departure time FROM
    * THE SOURCE, a = its arrival at the node. (d, a) dominates
    * (d′, a′) iff d ≥ d′ ∧ a ≤ a′ (left later, arrived no later):
    * a dominated label can never beat its dominator on duration
    * (a′ − d′ ≥ a − d follows from the two inequalities) and
    * every chronological extension of it is dominated by the same
    * extension of the dominator — so pruning to the Pareto front is
    * lossless for ANY objective monotone in (−d, a), duration
    * included.
    *
    * State is BOUNDED BY STRUCTURE, not by corpus rows: d only takes
    * values from the seed's out-edge departure times, so each node's
    * front holds at most that many pairs (one minimal arrival per
    * distinct source departure) — seed out-degree, not |V| or |E|.
    *
    * Frontier relaxation, the [[temporalReachable]] shape with the
    * label set in place of the scalar: per round the NEW pairs join
    * out-edges under `dep ≥ a`, candidates pre-aggregate map-side to
    * min(a) per (node, d), the union with the state re-prunes to the
    * front per node (a window PARTITIONED BY NODE over the bounded
    * front — never corpus-wide), and the next frontier is the set
    * difference (anti join on the full label). Pruned-away labels
    * never resurrect: domination is transitive, so a dominator (or
    * its dominator) is always still present to kill the re-candidate.
    * Rounds are bounded by the (shortcut-reduced) temporal diameter,
    * exactly as for earliest arrival, one [[Fixpoint]] round each.
    *
    * Returns (node, d, a) — the Pareto front per reachable node, seed
    * excluded (its trivial label has no departed edge). Shortcut
    * edges from [[chainShortcuts]] preserve the fronts exactly: a
    * composite edge carries its first hop's departure, so every
    * shortcut path realizes the same (d, a) as the base path it
    * contracts.
    */
  def temporalParetoLabels(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seed: Long,
      startTs: Long = 0L,
      maxIters: Int = 100,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, nEdges) = temporalPrep(edges, uCol, vCol, depCol, arrCol)
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      // keep each node's Pareto front: per (node, d) only the minimal
      // arrival survives, then a pair survives iff its arrival beats
      // every pair departing no earlier (running min over d desc)
      def prune(labels: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"node").orderBy($"d".desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        labels.groupBy($"node", $"d").agg(min($"a").as("a"))
          .withColumn("__best", min($"a").over(w))
          .filter($"__best".isNull || $"a" < $"__best")
          .drop("__best")
      }
      // first hops: the seed departs on any edge with dep >= startTs,
      // stamping the path's source departure. The round's state is the
      // merged state with the fresh rows flagged (plain union: a fresh
      // pair may dominate a stale state pair, but stale pairs are
      // harmless — they never re-relax, they can only KILL future
      // candidates a live dominator would kill anyway, and no objective
      // monotone in (−d, a) can prefer them; the public front re-prunes
      // once at the end). (A keyed-cut merge was MEASURED here and
      // reverted: fronts are structurally small, so a per-round
      // repartition costs more than the exchange it saves.)
      prune(Fixpoint.run("temporalParetoLabels", prune(
        e.filter($"src" === seed && $"dep" >= startTs)
          .select($"dst".as("node"), $"dep".as("d"), $"ets".as("a")))
        .withColumn("chg", lit(true)), maxIters) { (state, _) =>
        val cand = state.filter($"chg")
          .join(e, $"node" === $"src" && $"dep" >= $"a")
          .select($"dst".as("node"), $"d", $"ets".as("a"))
          .groupBy($"node", $"d").agg(min($"a").as("a"))
        // survivors: candidates no state pair dominates-or-equals —
        // a node-keyed anti join with the dominance predicate, so the
        // per-round cost is |cand| × front width (bounded), never a
        // re-prune of the whole state; prune() then settles dominance
        // among the round's own survivors
        val fresh = prune(cand.as("c")
          .join(state.as("s"),
            $"c.node" === $"s.node" && $"s.d" >= $"c.d" && $"s.a" <= $"c.a",
            "left_anti"))
        state.select($"node", $"d", $"a", lit(false).as("chg"))
          .unionByName(fresh.withColumn("chg", lit(true)))
      }.filter($"node" =!= seed))
    }
  }

  /** FASTEST-DURATION temporal reachability — for every node
    * time-respecting-reachable from `seed`, the minimum elapsed time
    * of any chronological path (arrival minus the departure from the
    * source; Wu et al. VLDB 2014's "fastest path"). This is the
    * question earliest arrival answers WRONG whenever leaving later
    * is faster: min(a − d) over the node's Pareto front, which a
    * single arrival label cannot carry. One aggregate over
    * [[temporalParetoLabels]]; returns (node, fastest), seed excluded,
    * unreachable nodes absent.
    */
  def temporalFastest(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seed: Long,
      startTs: Long = 0L,
      maxIters: Int = 100,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    temporalParetoLabels(edges, uCol, vCol, depCol, arrCol, seed, startTs, maxIters)
      .groupBy($"node").agg(min($"a" - $"d").as("fastest"))
  }

  /** MULTI-SEED Pareto-front fastest durations — [[temporalFastest]]
    * for a BATCH of seeds in ONE shared frontier loop: state carries a
    * `seed` column, every front/prune/anti-join is keyed
    * (seed, node), and the per-round expansion joins ALL seeds'
    * frontiers against the edge set at once — so the round count is
    * the max temporal diameter across seeds, NOT the sum (the per-seed
    * loops the single-seed API would cost), and each round's edge-join
    * shuffle amortizes across the batch. State stays structurally
    * bounded: each (seed, node) front holds at most that seed's
    * out-departure support. This is the centrality shape — per-seed
    * closeness/reach aggregates over the fronts are one groupBy over
    * the returned (seed, node, fastest) frame.
    */
  def temporalFastestMulti(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seeds: Seq[Long],
      startTs: Long = 0L,
      maxIters: Int = 100,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    temporalParetoLabelsMulti(edges, uCol, vCol, depCol, arrCol, seeds,
      startTs, maxIters)
      .groupBy($"seed", $"node").agg(min($"a" - $"d").as("fastest"))
  }

  /** The PARETO FRONTS behind [[temporalFastestMulti]], public for
    * front reuse: (seed, node, d, a) rows, per (seed, node) the
    * dominance-pruned front. Exposing the fronts instead of the
    * aggregated readout is what makes the START-TIME RESTRICTION
    * identity composable across the seed batch: the front for
    * (seed, start T) is exactly this frame filtered to d ≥ T (the
    * identity is per-seed — a dominator never departs earlier than
    * what it dominates, so dominance within the d ≥ T subset is
    * inherited both ways), giving the full seed × start-time profile
    * MATRIX from ONE shared frontier loop — k_seeds × k_starts
    * questions for one loop's cost, where the naive API pays a loop
    * per pair. Aggregating min(a − d) over the front equals the
    * unpruned readout (a dominated pair (d, a) has a witness with
    * d' ≥ d, a' ≤ a, so a' − d' ≤ a − d: pruning never loses the
    * minimum).
    */
  def temporalParetoLabelsMulti(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seeds: Seq[Long],
      startTs: Long = 0L,
      maxIters: Int = 100,
  ): DataFrame = {
    require(seeds.nonEmpty, "temporalParetoLabelsMulti: seeds must be non-empty")
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, nEdges) = temporalPrep(edges, uCol, vCol, depCol, arrCol)
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      def prune(labels: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"seed", $"node").orderBy($"d".desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        labels.groupBy($"seed", $"node", $"d").agg(min($"a").as("a"))
          .withColumn("__best", min($"a").over(w))
          .filter($"__best".isNull || $"a" < $"__best")
          .drop("__best")
      }
      val seedsDf = seeds.distinct.toDF("seed")
      // the [[temporalParetoLabels]] round, keyed (seed, node)
      prune(Fixpoint.run("temporalParetoLabelsMulti", prune(
        e.join(broadcast(seedsDf), $"src" === $"seed" && $"dep" >= startTs)
          .select($"seed", $"dst".as("node"), $"dep".as("d"), $"ets".as("a")))
        .withColumn("chg", lit(true)), maxIters) { (state, _) =>
        val cand = state.filter($"chg")
          .join(e, $"node" === $"src" && $"dep" >= $"a")
          .select($"seed", $"dst".as("node"), $"d", $"ets".as("a"))
          .groupBy($"seed", $"node", $"d").agg(min($"a").as("a"))
        val fresh = prune(cand.as("c")
          .join(state.as("s"),
            $"c.seed" === $"s.seed" && $"c.node" === $"s.node" &&
              $"s.d" >= $"c.d" && $"s.a" <= $"c.a",
            "left_anti"))
        state.select($"seed", $"node", $"d", $"a", lit(false).as("chg"))
          .unionByName(fresh.withColumn("chg", lit(true)))
      }.filter($"node" =!= $"seed"))
    }
  }

  /** ALL-NODES temporal reach cardinality by ANF over the TEMPORAL
    * frontier — the tier between exact per-seed temporal closures
    * (one frontier loop per seed: unpayable for every node) and
    * static ANF (which ignores chronology and overstates reach):
    * for EVERY node at once, an HLL estimate of |{w : v reaches w
    * along a time-respecting path}| in ONE shared iteration, no
    * per-seed fan-out — the operator a 100-TB temporal graph
    * actually runs for influence profiling.
    *
    * State is one 4 KiB register binary per (node, BREAKPOINT) — a
    * breakpoint is one of the node's distinct out-edge departures, so
    * state rows number the BASE chain rows, not the (shortcut-
    * multiplied) edge count, and not |V|·|E|. S(x, b) sketches the
    * node set reachable from x by a chronological path whose first
    * hop departs ≥ b; the recursion
    *   S(x, b) = ⋃ { {y} ∪ S(y, pb(e)) : e = (x→y, dep ≥ b, arr) }
    * needs no source column because a path's feasibility depends
    * only on its own hop chronology. pb(e) — the smallest breakpoint
    * of y at or after e's arrival — is STATIC, computed once as an
    * interleaved-window as-of over longs (no payload), which turns
    * every round's suffix lookup into a plain (node, breakpoint)
    * EQUI-join. Register merge is EXACT set union (HllRegisters'
    * contract), so the fixpoint registers equal a direct sketch of
    * the true reach set bit for bit — the property the gate oracle
    * checks by rebuilding every register from the exact recursive
    * closure; the only approximation is HLL's own readout
    * (ε ≈ 1.04/√m). `registerWidth` (m, default 4096) is the COST
    * knob: the register binary is the unit every round moves, so
    * m = 512 cuts the iteration's bytes 8× at ε ≈ 4.6 % — the
    * setting a reach-profiling deployment actually runs
    * ([[graft.functions.HllRegistersM]]; at m = 4096 the bytes are
    * identical to the fixed-width family).
    *
    * Round shape, chosen for what it does NOT move: the {y}
    * singleton contributions pre-aggregate ONCE (static initAtDep,
    * one row per (x, dep)); the only per-round payload movement is
    * the equi-join's |E| pointer rows picking up their 4 KiB suffix
    * sketch plus one (x, dep)-keyed merge (map-side combinable) —
    * one payload shuffle per round, state settles at base-table
    * size. (The first cut of this operator keyed state by EDGE and
    * re-derived suffixes with an interleaved payload window per
    * round; on the hand-off chains that moved ~8× the bytes —
    * measured 70 s vs the shape here — and an in×out pair join
    * would be ~170×.) Convergence costs no register comparison
    * join: registers only grow, so the global register_sum_scaled
    * (strictly decreasing per change) is stable iff the state is —
    * one scalar aggregate per round. Rounds track the longest
    * edge-successor chain; feeding [[chainShortcuts]] edges (plain,
    * monotone semantics — shortcuts preserve reachability)
    * collapses that to O(log chain) exactly as in the exact gates.
    * Returns the FULL suffix table (node, dep, regs), a narrow
    * projection backed by the loop's settled state —
    * S(x, b) for every breakpoint b of every node with ≥ 1 out-edge.
    * That table answers every START TIME for free: reach from x
    * starting at T is S(x, smallest b ≥ T), because no breakpoint
    * lies in [T, b) so the edges departing ≥ T are exactly those
    * departing ≥ b — the readout-only profile sweep
    * (q_graph_temporal_anf_profile). [[temporalAnfReach]] is the
    * min-b readout (the full out-edge union per node); reach counts
    * nodes reachable via ≥ 1 hop (the source itself included only if
    * a temporal cycle returns to it).
    */
  def temporalAnfReachState(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      maxIters: Int = 40,
      registerWidth: Int = 4096,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    graft.functions.HllRegistersM.register(spark)
    graft.functions.HllRegistersM.checkWidth(registerWidth)
    val e = Lineage.cut(temporalEdges(edges, uCol, vCol, depCol, arrCol)
      .distinct()
      .withColumn("eid", monotonically_increasing_id()))
    val nEdges = e.count()
    val dstInit = call_function(
      graft.functions.HllRegistersM.InitName, $"dst".cast("string"),
      lit(registerWidth)).as("regs")
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      val mergeOf = (c: Column) =>
        call_function(graft.functions.HllRegistersM.MergeName, c)
      val W = org.apache.spark.sql.expressions.Window
      // STATIC pointer pass (longs only): pb(e) = the smallest
      // breakpoint of e.dst at or after e.arr — an interleaved as-of
      // window: breakpoint rows (isB=1, carrying their dep) and edge
      // query rows (isB=0) scan time-descending, so the LAST
      // breakpoint seen at a query row is the smallest one ≥ its arr
      // (ties: breakpoints first — the bound is inclusive)
      val bps = e.select($"src".as("pn"), $"dep".as("pb")).distinct()
      val wAsof = W.partitionBy($"pn").orderBy($"tt".desc, $"isB".desc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val (ePtr, _) = Lineage.settle(
        bps.select($"pn", $"pb".as("tt"), lit(1).as("isB"),
            $"pb", lit(null).cast("long").as("eid"))
          .union(e.select($"dst".as("pn"), $"ets".as("tt"), lit(0).as("isB"),
            lit(null).cast("long").as("pb"), $"eid"))
          .withColumn("pbAt", last($"pb", ignoreNulls = true).over(wAsof))
          .filter($"isB" === 0 && $"pbAt".isNotNull)
          .select($"eid", $"pbAt"))
      // pointer rows the rounds re-join: (src, dep) of the edge plus
      // its (dst, pbAt) state key, laid out on that key, so every
      // round's contrib join reads the pointer side exchange-free and
      // sort-free instead of re-shuffling all |E| pointer rows per round
      val eq = Lineage.prep(e.join(ePtr, "eid").select($"src", $"dep", $"dst", $"pbAt"),
        Seq("dst", "pbAt"), Some(ScopedConf.partitionsFor(spark, nEdges)))
      // static {y} contributions, pre-merged to one row per (x, dep)
      val (initAtDep, _) = Lineage.settle(
        e.select($"src", $"dep", dstInit)
          .groupBy($"src", $"dep").agg(mergeOf($"regs").as("regs")))
      // grouped (x, dep) contributions → suffix state S(x, b): running
      // merge over the node's breakpoints, departure-descending
      def suffixize(grouped: DataFrame): DataFrame = {
        val w = W.partitionBy($"src").orderBy($"dep".desc)
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        grouped.withColumn("regs", mergeOf($"regs").over(w))
      }
      // per-row monotone change witness: registers only grow under
      // merge, so a row's register_sum_scaled strictly decreases iff
      // its registers changed — a LONG comparison, no binary diff
      def withSum(df: DataFrame): DataFrame = df.withColumn("rsum",
        call_function(graft.functions.HllRegistersM.EvalName, $"regs")
          .getField("register_sum_scaled"))
      // INCREMENTAL rounds (merge is idempotent + monotone, so stale
      // contributions are already absorbed and never need re-sending):
      // only state rows whose registers changed last round re-enter
      // the equi-join — the per-round payload tracks the active front,
      // which decays geometrically once the long chains saturate,
      // instead of re-moving all |E| sketches every round.
      //
      // KEYED state, JOIN-shaped merge (guide §2.3/§2.4 — shuffle the
      // proxy, not the payload): the state lives hash(src)-partitioned
      // across rounds (a `keyed` settle preserves the layout while
      // dropping origin stats, so the estimate cannot compound), and
      // the round folds the contributions in with a
      // co-partitioned LEFT join — contribG is repartitioned on src at
      // the state's partition count, so its (src, dep) groupBy AND the
      // state join AND the suffix window all run exchange-free. Per
      // round the only REGISTER BYTES that cross an exchange are the
      // round's contributions (decaying with the active front); the
      // previous union + groupBy(src, dep) + window shape re-exchanged
      // the ENTIRE register table twice per round (once hash(src, dep)
      // for the merge, once hash(src) for the window). The left join
      // is lossless: every contribution key (src, dep) is an edge key,
      // and the key space is fixed at init, so no contribution lands
      // outside the state. Because union-merge is idempotent,
      // re-running the suffix window over ALREADY-SUFFIXIZED rows is
      // the identity —
      //   ⋃_{dep ≥ b} S(x, dep) = ⋃_{dep ≥ b} ⋃_{d' ≥ dep} grouped(x, d')
      //                         = ⋃_{d' ≥ b} grouped(x, d') = S(x, b)
      // — so folding per-key (scalar hll_merge2) and re-windowing
      // yields bit-identical registers (register-wise max is
      // associative, commutative, idempotent; the register-exact
      // oracle pins it). The change bit rides the same pass (`rsum <
      // prevSum` after the window, prevSum carried through the join).
      val merge2 = (a: Column, b: Column) =>
        call_function(graft.functions.HllRegistersM.Merge2Name, a, b)
      val partsK = ScopedConf.partitionsFor(spark, nEdges)
      // init: suffixize's window exchange lands the state hash(src)
      val state = Fixpoint.run("temporalAnfReach",
        withSum(suffixize(initAtDep)).withColumn("chg", lit(true)), maxIters, keyed = true,
        hint = "raise maxIters (or feed chainShortcuts edges to collapse rounds)") { (state, _) =>
        val changed = state.filter($"chg")
          .select($"src".as("qn"), $"dep".as("qb"), $"regs")
        val contrib = eq
          .join(changed, $"dst" === $"qn" && $"pbAt" === $"qb")
          .select($"src", $"dep", $"regs")
        // combined once per key, landed on the state's partitioning
        val contribG = contrib.repartition(partsK, $"src")
          .groupBy($"src", $"dep").agg(mergeOf($"regs").as("cregs"))
        withSum(suffixize(
          state.join(contribG, Seq("src", "dep"), "left")
            .select($"src", $"dep",
              merge2($"regs", $"cregs").as("regs"),
              $"rsum".as("prevSum"))))
          .withColumn("chg", $"rsum" < $"prevSum")
          .select($"src", $"dep", $"regs", $"rsum", $"chg")
      }
      // the FULL suffix table: S(x, b) for every breakpoint b — the
      // profile readouts (any start time T) come from this for free.
      // A narrow projection over the loop's already-settled state: no
      // re-settle (copying every register binary once more measured
      // +13 s at sf0.1 for zero benefit — readouts re-read the
      // materialized rows either way).
      state.select($"src".as("node"), $"dep", $"regs")
    }
  }

  /** All-nodes temporal reach sketches — [[temporalAnfReachState]]'s
    * fixpoint read out at each node's WIDEST suffix, S(x, min b) =
    * the full out-edge union; one row per node with ≥ 1 out-edge.
    */
  def temporalAnfReach(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      maxIters: Int = 40,
      registerWidth: Int = 4096,
  ): DataFrame = {
    val st = temporalAnfReachState(edges, uCol, vCol, depCol, arrCol,
      maxIters, registerWidth)
    val spark = st.sparkSession
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    // size the readout's window shuffle to the (materialized) state,
    // as the in-loop shuffles were — the count is a cheap job over the
    // settled rdd, not a recompute
    ScopedConf.withShufflePartitionsFor(spark, st.count()) {
      Lineage.settle(
        st.withColumn("__rn",
            row_number().over(W.partitionBy($"node").orderBy($"dep".asc)))
          .filter($"__rn" === 1)
          .select($"node", $"regs"))._1
    }
  }

  /** START-TIME SWEEP over [[temporalAnfReachState]]'s settled suffix
    * table — the k-independent profile readout: reach from x starting
    * at T is S(x, smallest breakpoint b ≥ T) (no breakpoint lies in
    * [T, b), so the out-edges departing ≥ T are exactly those
    * departing ≥ b), and that identity holds for ANY T — the sweep
    * grid is a parameter, not a property of the operator.
    *
    * Plan shape (the part that matters at scale): the per-T argmin is
    * computed on a NARROW (node, dep) projection — k long-only
    * aggregations, register binaries never enter those shuffles —
    * then ONE equi-join on (node, dep) fetches each picked suffix's
    * registers. Register bytes therefore cross the wire at most once
    * for the WHOLE sweep, regardless of k (the previous 3-cell
    * readout ran one row_number window pass over the full register
    * table per cell — k full register shuffles). The picks side is
    * k·|nodes| narrow rows; AQE broadcasts it when small, and at
    * scale the sort-merge join still moves registers once. Picks are
    * settled (narrow rows — cheap) under the state-sized scoped
    * shuffle partitioning, same sizing rule as every other readout
    * over this table; the register-carrying join is left lazy for the
    * caller's plan.
    *
    * Returns (node, sweep, start_ms, regs) — one row per node per
    * sweep cell that has ≥ 1 breakpoint ≥ T (a node with none is
    * absent from that cell, matching the exact-closure semantics).
    */
  def temporalAnfProfile(state: DataFrame, startTimes: Seq[Long]): DataFrame = {
    require(startTimes.nonEmpty, "temporalAnfProfile: empty start-time grid")
    val spark = state.sparkSession
    import spark.implicits._
    val narrow = state.select($"node", $"dep")
    val picks = ScopedConf.withShufflePartitionsFor(spark, state.count()) {
      Lineage.settle(
        startTimes.zipWithIndex.map { case (t, i) =>
          narrow.filter($"dep" >= t)
            .groupBy($"node").agg(min($"dep").as("dep"))
            .withColumn("sweep", lit(i))
            .withColumn("start_ms", lit(t))
        }.reduce(_ unionByName _))._1
    }
    state.join(picks, Seq("node", "dep"))
      .select($"node", $"sweep", $"start_ms", $"regs")
  }

  /** FASTEST DURATION UNDER A WAITING BOUND — the composition of the
    * two non-monotone temporal variants: minimize elapsed time a − d
    * over chronological paths that never wait more than `maxWait` at
    * an intermediate node. Neither parent's state suffices: duration
    * needs the source departure d carried per label, and waiting
    * bounds make (d, a) Pareto pruning UNSOUND (a later arrival's
    * waiting window sits later — it can catch edges a dominating
    * label cannot), so per-node state is the full DISTINCT (d, a)
    * pair set — bounded by (seed out-departure support) × (in-edge
    * arrival support) per node, with exact dedup the only sound
    * reduction; this is deliberately the maximal state contract in
    * the temporal family, the honest cost of the composed problem.
    *
    * That contract is ENFORCED, not prose: the per-round convergence
    * count doubles as a state-mass guard
    * (`spark.graft.temporalLabelMaxRows`, see [[Fixpoint.labelCapped]]) —
    * a dense seed raises loudly instead of ballooning until the round
    * budget saves it. The in-plan lever is `quantizeDepartures =
    * Some(q)`: the seed departure d each label carries is floored to
    * a multiple of q (`dep − pmod(dep, q)` — exact long arithmetic),
    * so labels differing only within a q-bucket of d MERGE and the
    * state bound becomes (seed departure support / q) × (in-edge
    * arrival support). Traversal is UNAFFECTED (edge usability
    * depends only on the arrival a, never on d), so the reachable
    * (node, a) set — and therefore the reachable node set — is
    * exact; only the duration readout coarsens: the reported fastest
    * is min(a − floor(d/q)·q) ≥ min(a − d), a conservative UPPER
    * bound within [true, true + q). Same frontier/settle/release
    * loop; shortcut edges must be wait-respecting
    * ([[chainShortcuts]] maxWait gating).
    *
    * `quantizeArrivals = Some(g)` is the ARRIVAL-side lever — the one
    * that bites when the label product grows on the arrival axis (the
    * measured shape at scale: many distinct in-edge arrivals per
    * node). It does NOT coarsen any timestamp; it tightens the edge
    * usability predicate to its g-SLACK form
    *   dep ≥ ceil_g(a)  ∧  dep ≤ floor_g(a) + maxWait
    * (stricter than the exact `a ≤ dep ≤ a + maxWait` on both ends),
    * under which usability depends on the label's arrival ONLY
    * through the pair (floor_g(a), ceil_g(a)) — so labels whose
    * arrivals share that pair are traversal-EQUIVALENT and the state
    * key collapses from (node, d, a) to (node, d, arrival-class),
    * bounding per-node state by (d support) × (time range / g + 1)
    * classes instead of the raw arrival support. The class keeps
    * min(a) across ALL rounds (later, smaller same-class arrivals
    * merge in without re-traversal — successors are class-determined,
    * so re-traversal could add nothing), which makes the result
    * EXACTLY the closure of the g-slack predicate over exact labels:
    * deterministic, oracle-expressible, hash-gateable. The contract
    * is one-sided and precise: every reported (node, fastest) is the
    * duration of a REAL wait-bounded path (the predicate only ever
    * forbids), so fastest ≥ the true optimum; and every path with
    * per-hop slack ≥ g (dep ≥ a + g and dep − a ≤ maxWait − g at
    * every hop) is found, so fastest ≤ the best g-slack path's
    * duration. g trades the slack margin against state mass; no
    * precondition on the data (no grid alignment required).
    * Composes freely with `quantizeDepartures` (the axes are
    * independent). Returns (node, fastest), seed excluded.
    */
  def temporalBoundedWaitFastest(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seed: Long,
      maxWait: Long,
      startTs: Long = 0L,
      maxIters: Int = 100,
      quantizeDepartures: Option[Long] = None,
      quantizeArrivals: Option[Long] = None,
  ): DataFrame = {
    require(maxWait >= 0,
      s"temporalBoundedWaitFastest: maxWait must be >= 0, got $maxWait")
    quantizeDepartures.foreach(q => require(q > 0,
      s"temporalBoundedWaitFastest: quantizeDepartures must be > 0, got $q"))
    quantizeArrivals.foreach(g => require(g > 0,
      s"temporalBoundedWaitFastest: quantizeArrivals must be > 0, got $g"))
    val spark = edges.sparkSession
    import spark.implicits._
    quantizeArrivals match {
      case Some(g) =>
        // the g-slack loop settles (node, d, af, ac) → min a; fastest
        // is a readout over that state (see temporalBoundedWaitArrState)
        temporalBoundedWaitArrState(edges, uCol, vCol, depCol, arrCol,
          seed, maxWait, g, startTs, maxIters, quantizeDepartures)
          .filter($"node" =!= seed)
          .groupBy($"node").agg(min($"a" - $"d").as("fastest"))

      case None =>
        val (e, nEdges) = temporalPrep(edges, uCol, vCol, depCol, arrCol)
        ScopedConf.withShufflePartitionsFor(spark, nEdges) {
          // the [[temporalBoundedWait]] round with d carried per label
          Fixpoint.run("temporalBoundedWaitFastest",
            e.filter($"src" === seed && $"dep" >= startTs)
              .select($"dst".as("node"), departure(quantizeDepartures), $"ets".as("a"))
              .distinct().withColumn("chg", lit(true)), maxIters,
            done = Fixpoint.labelCapped(spark, "temporalBoundedWaitFastest",
              "pass quantizeDepartures = Some(q) to merge d within q-buckets " +
                "(exact reachability, duration upper-bounded within q) and/or " +
                "quantizeArrivals = Some(g) to collapse arrival classes " +
                "(the g-slack contract)")) { (state, _) =>
            novel(state, state.filter($"chg")
              .join(e, $"node" === $"src" && $"dep" >= $"a" && $"dep" - $"a" <= maxWait)
              .select($"dst".as("node"), $"d", $"ets".as("a")), Seq("node", "d", "a"))
          }.filter($"node" =!= seed)
            .groupBy($"node").agg(min($"a" - $"d").as("fastest"))
        }
    }
  }

  /** A label's carried seed departure `d`: the edge's dep, floored to a
    * multiple of q under `quantizeDepartures = Some(q)` (exact long
    * arithmetic — pmod is always non-negative, so this is floor
    * division × q for any sign of dep).
    */
  private def departure(quantize: Option[Long]): Column = quantize match {
    case Some(q) => (col("dep") - pmod(col("dep"), lit(q))).as("d")
    case None => col("dep").as("d")
  }

  /** (u, v, dep, arr) → (src, dst, dep, ets) longs, dropping
    * time-reversed rows (a path cannot arrive before it departs).
    */
  private def temporalEdges(edges: DataFrame, uCol: String, vCol: String,
      depCol: String, arrCol: String): DataFrame =
    edges.select(col(uCol).cast("long").as("src"),
      col(vCol).cast("long").as("dst"), col(depCol).cast("long").as("dep"),
      col(arrCol).cast("long").as("ets"))
      .filter(col("dep") <= col("ets"))

  /** [[temporalEdges]] laid out on src for the frontier equi-join
    * ([[prepped]]): unprepped, every round re-shuffles and re-sorts all
    * |E| rows (measured ~1.2 s/round of the bounded-wait loops'
    * ~1.4 s/round at sf0.1), a per-round cost that scales with the
    * CORPUS rather than the frontier. The count sizes the loop's
    * scoped shuffles.
    */
  private def temporalPrep(edges: DataFrame, uCol: String, vCol: String,
      depCol: String, arrCol: String): (DataFrame, Long) =
    prepped(temporalEdges(edges, uCol, vCol, depCol, arrCol), "src")

  /** Cut `raw`, count it, and lay it out on `key` at the partition
    * count the loop's scoped shuffles will use ([[Lineage.prep]]), so
    * every round's equi-join on `key` reads it exchange-free and
    * sort-free (guide §2.4). Returns (prepped, row count).
    */
  private[operators] def prepped(raw: DataFrame, key: String): (DataFrame, Long) = {
    val cut = Lineage.cut(raw)
    val n = cut.count()
    (Lineage.prep(cut, Seq(key), Some(ScopedConf.partitionsFor(raw.sparkSession, n))), n)
  }

  /** A (src, dst, …) edge list with every edge also written dst → src. */
  private[operators] def symmetric(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src") +: col("src").as("dst") +:
      e.columns.filterNot(Set("src", "dst")).map(col): _*))

  /** The g-slack bounded-wait loop's SETTLED STATE TABLE —
    * (node, d, af, ac, a): for every (node, carried seed departure d,
    * arrival class [af = floor_g(a), ac = ceil_g(a)]) the minimum
    * EXACT arrival a. This is [[temporalBoundedWaitFastest]]'s
    * `quantizeArrivals` branch with the readout lifted off, exposed
    * for the quantization-error audits: because the g-slack usability
    * predicate reads arrivals only through their class and NEVER
    * reads d, one settled state answers every d-side readout —
    * `min(a − d)` is the aq configuration's fastest, and
    * `min(a − floor_q(d))` is EXACTLY the composed aqq
    * configuration's (the engine's `quantizeDepartures` floors d at
    * the seed rows and never touches it again, so flooring at
    * readout is the identical function of the identical label set —
    * the identity the aqq oracle also uses, flooring d at its seed
    * rows). One coarse loop therefore prices BOTH levers' audits.
    *
    * Seed-node rows are NOT filtered; readouts exclude
    * `node === seed` themselves. Pass `quantizeDepartures` only when
    * the caller wants the d-bucket state collapse (the audit passes
    * None to keep exact d for the split readout).
    */
  def temporalBoundedWaitArrState(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      depCol: String,
      arrCol: String,
      seed: Long,
      maxWait: Long,
      arrivalQuantum: Long,
      startTs: Long = 0L,
      maxIters: Int = 100,
      quantizeDepartures: Option[Long] = None,
  ): DataFrame = {
    require(maxWait >= 0,
      s"temporalBoundedWaitArrState: maxWait must be >= 0, got $maxWait")
    require(arrivalQuantum > 0,
      s"temporalBoundedWaitArrState: arrivalQuantum must be > 0, got $arrivalQuantum")
    quantizeDepartures.foreach(q => require(q > 0,
      s"temporalBoundedWaitArrState: quantizeDepartures must be > 0, got $q"))
    val g = arrivalQuantum
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, nEdges) = temporalPrep(edges, uCol, vCol, depCol, arrCol)
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      // arrival-class columns: floor / ceil of an arrival to the
      // g-grid, exact long arithmetic (pmod is always non-negative)
      def clsFloor(a: Column): Column = a - pmod(a, lit(g))
      def clsCeil(a: Column): Column = a + pmod(-a, lit(g))
      // ONE class-keyed groupBy both merges the round's candidates into
      // the state (min exact arrival per class — a known class
      // re-reached with a smaller arrival improves the readout but never
      // re-enters the frontier, successors being class-determined) and
      // flags the class-NOVEL rows (no state row carried the class in ⇒
      // max(old) null), which ARE the next frontier
      Fixpoint.run("temporalBoundedWaitArrState",
        e.filter($"src" === seed && $"dep" >= startTs)
          .select($"dst".as("node"), departure(quantizeDepartures),
            clsFloor($"ets").as("af"), clsCeil($"ets").as("ac"),
            $"ets".as("a"))
          .groupBy($"node", $"d", $"af", $"ac").agg(min($"a").as("a"))
          .withColumn("chg", lit(true)), maxIters,
        done = Fixpoint.labelCapped(spark, "temporalBoundedWaitArrState",
          s"raise quantizeArrivals past $g to merge more arrival classes " +
            "(and/or pass quantizeDepartures)")) { (state, _) =>
        // g-slack usability reads only the CLASS, never the exact
        // arrival: dep ≥ ceil_g(a), dep ≤ floor_g(a) + maxWait —
        // stricter than exact on both ends, so every path taken is
        // real; class-constant, so one traversal per class suffices
        val cand = state.filter($"chg")
          .join(e, $"node" === $"src" && $"dep" >= $"ac" &&
            $"dep" - $"af" <= maxWait)
          .select($"dst".as("node"), $"d",
            clsFloor($"ets").as("af"), clsCeil($"ets").as("ac"),
            $"ets".as("a"), lit(null).cast("boolean").as("old"))
        state.select($"node", $"d", $"af", $"ac", $"a", lit(true).as("old"))
          .unionByName(cand)
          .groupBy($"node", $"d", $"af", $"ac")
          .agg(min($"a").as("a"), max($"old").isNull.as("chg"))
        // the settled state itself — a narrow projection, NO re-settle
        // (the readouts re-read the materialized rows either way)
      }.select($"node", $"d", $"af", $"ac", $"a")
    }
  }

  /** Strongly-connected-component condensation of a DIRECTED graph
    * over a BOUNDED node domain — event/page/state types, dimensions
    * that do NOT grow with the corpus (session-flow condensation, not
    * web-graph SCC). The 100-TB shape is: distill the corpus to a
    * type-level digraph first (one scan, caller's job), condense the
    * distilled graph here, where the frames are ≤ V² rows by
    * construction.
    *
    * Transitive closure by path doubling: reach ← reach ∪ (reach ⋈
    * reach), so a path of length 2^r is found by round r —
    * ⌈log₂ V⌉ [[Fixpoint]] rounds, each one keyed equi-join +
    * distinct, until the pair count repeats. Seeding
    * with identity pairs makes the closure reflexive, so the SCC of v
    * is exactly {w : reach(v,w)} ∩ {w : reach(w,v)} — computed as
    * closure ∩ closureᵀ, no second algorithm — and singletons fall
    * out without a special case. scc_id = the component's minimum
    * node (deterministic), scc_size = its cardinality.
    *
    * `maxNodes` is the all-pairs guard: a domain past it means the
    * caller is condensing the wrong graph (per-entity ids, not
    * types), and the fail must be loud, not a V² explosion.
    */
  def sccCondensation(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      maxNodes: Long = 4096L,
      maxRounds: Int = 20,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = edges
      .select(col(uCol).cast("string").as("a"), col(vCol).cast("string").as("b"))
    // node domain from the UNFILTERED edges: a node whose only edges
    // are self-loops must still appear as a singleton SCC (the
    // identity-seeded closure handles it), not vanish with the loop
    val nodes = raw.select($"a".as("n")).union(raw.select($"b".as("n"))).distinct()
    val e = raw.filter($"a" =!= $"b").distinct()
    val nNodes = nodes.count()
    require(nNodes <= maxNodes,
      s"sccCondensation: $nNodes nodes exceeds maxNodes=$maxNodes — the " +
        "V² closure is for bounded type domains; condense a distilled " +
        "graph, not per-entity ids")
    // a repeated pair count is the fixpoint witness
    val reach = Fixpoint.run("sccCondensation",
      nodes.select($"n".as("a"), $"n".as("b")).union(e).distinct(), maxRounds,
      aggs = Seq(count(lit(1))), done = Fixpoint.stable,
      hint = s"raise maxRounds (covers paths up to 2^$maxRounds)") { (reach, _) =>
      reach.as("r1").join(reach.as("r2"), col("r1.b") === col("r2.a"))
        .select(col("r1.a").as("a"), col("r2.b").as("b"))
        .union(reach)
        .distinct()
    }
    val mutual = reach.intersect(reach.select($"b".as("a"), $"a".as("b")))
    mutual.groupBy($"a")
      .agg(min($"b").as("scc_id"), count(lit(1)).as("scc_size"))
      .select($"a".as("node"), $"scc_id", $"scc_size")
  }
}
