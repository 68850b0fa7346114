package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a PER-ENTITY directed graph —
  * follows/links/citations, node domains that GROW with the corpus —
  * by Forward-Backward-Trim (Fleischer, Hendrickson & Pınar,
  * "On identifying strongly connected components in parallel", 2000;
  * engineering per Slota, Rajamanickam & Madduri, "BFS and
  * coloring-based parallel algorithms for strongly connected
  * components", IPDPS 2014). This is the corpus-scale complement of
  * [[GraphAlgos.sccCondensation]]: the condensation's V² path-doubling
  * closure is right for bounded type domains and REFUSES large ones;
  * this one never builds a reachability relation at all — every step
  * is an |E|-keyed equi-join, so a 10⁹-edge follows graph is as
  * shuffle-shaped as PageRank.
  *
  * The round structure, all subproblems advancing TOGETHER in one
  * plan (a `part` column carries the subproblem id, so "recurse on
  * the three remainders" is a groupBy, not driver-side fan-out):
  *
  *   1. TRIM to fixpoint: a node with no in-edge or no out-edge
  *      within its part is a singleton SCC (nothing can both reach
  *      and be reached by it) — assign and drop. Peeling cascades:
  *      DAG regions dissolve entirely here, one topological layer
  *      per iteration, which is what keeps pivot rounds for the
  *      cyclic cores only.
  *   2. PIVOT: each part's fnv63-MINIMAL node (node ties broken by
  *      id) — deterministic like a minimum (no RNG to disagree across
  *      engines/retries), but the pivot's POSITION in the part's
  *      condensation DAG is pseudo-random. That is the quicksort
  *      median argument: a plain min-node pivot degenerates on
  *      monotone-id SCC chains (the pivot always lands at one END, so
  *      each round peels exactly one SCC — rounds ≈ #SCCs), while the
  *      hashed pivot halves the chain in expectation — rounds
  *      O(log #SCCs) on ANY id assignment, adversarial included
  *      (spec-pinned on a 100-SCC monotone chain under default
  *      budgets).
  *   3. FW/BW: frontier BFS from the pivots along, then against, the
  *      within-part edges (the [[GraphAlgos.bfsLevels]] shape, all
  *      parts at once). SCC(pivot) = F ∩ B; scc_id = min(F ∩ B) —
  *      the component's minimum node, matching sccCondensation's
  *      convention (one extra part-keyed agg, since the hashed pivot
  *      is no longer itself the minimum).
  *   4. SPLIT: survivors fall into F∖B, B∖F, or neither; each
  *      (part, quadrant) group becomes a new part keyed by ITS
  *      minimum node. Edges between quadrants can never close a cycle
  *      (they'd have put both ends in F ∩ B), so confining the next
  *      round's BFS to within-part edges loses nothing.
  *
  * Convergence: every round assigns at least each active part's pivot
  * SCC, so the active set strictly shrinks; with hashed pivots a
  * C-SCC chain needs O(log C) rounds in expectation (each pivot lands
  * at a pseudo-random chain position and the split halves the part),
  * and `maxRounds` bounds the residual tail risk, failing loudly like
  * the other iterative operators. The loop state is ONE
  * (node, part, scc_id) table — a resolved node carries its scc_id,
  * an unresolved one its subproblem — and every pivot round, trim pass
  * and BFS step is a [[Fixpoint]] round over it.
  *
  * Returns (node, scc_id, scc_size) for EVERY node in the edge list —
  * including nodes whose only edges are self-loops (singletons).
  */
object SccEntity {

  def scc(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 30,
      maxBfsIters: Int = 300,
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // node domain from the UNFILTERED edges (self-loop-only nodes are
    // singleton SCCs, not absentees); self-loops never change SCC
    // membership, so the traversal graph drops them
    val nodes = raw.select($"src".as("node")).union(raw.select($"dst"))
      .distinct()
    val e = Lineage.cut(raw.filter($"src" =!= $"dst").distinct())
    val nEdges = e.count()
    ScopedConf.withShufflePartitionsFor(spark, nEdges) {
      // every subproblem is keyed by its MINIMUM node id. Seed the
      // partition from WEAKLY-connected components: disjoint weak
      // components advance through their own pivot rounds IN PARALLEL
      // instead of queueing through one global subproblem's "neither"
      // quadrant — on k disconnected communities that is
      // max-rounds-per-community instead of the sum. Nodes with no
      // traversal edges (self-loop-only) seed their own singleton parts.
      val parts =
        if (nEdges == 0) nodes.select($"node", $"node".as("part"))
        else nodes.join(
          // star contraction, not min-label propagation: seeding must
          // not be the depth-limited step (a 200-node weak chain is 200
          // label rounds but O(log²) star rounds, same |E|-keyed plan)
          Components.connectedComponentsStar(e, "src", "dst")
            .select($"node", $"component".as("part")),
          Seq("node"), "left")
          .select($"node", coalesce($"part", $"node").as("part"))
      val assign = Fixpoint.run("SccEntity.scc",
        parts.withColumn("scc_id", lit(null).cast("long")), maxRounds,
        aggs = Seq(count_if($"scc_id".isNull)),
        hint = "an unusually deep SCC condensation chain; raise maxRounds") { (state, r) =>
        val (trimmed, live) = trim(e, state)
        r.own(trimmed)
        if (live == 0L) trimmed.drop("chg") else pivot(e, trimmed, r, maxBfsIters)
      }.select($"node", $"scc_id")
      val sizes = assign.groupBy($"scc_id")
        .agg(count(lit(1)).as("scc_size"))
      assign.join(sizes, "scc_id").select($"node", $"scc_id", $"scc_size")
    }
  }

  /** TRIM to fixpoint: an unresolved node with no in-edge or no
    * out-edge within its part is a singleton SCC. Returns the settled
    * state (with the last pass's `chg`) and its unresolved count.
    */
  private def trim(e: DataFrame, state: DataFrame): (DataFrame, Long) = {
    val spark = e.sparkSession
    import spark.implicits._
    def pass(s: DataFrame): DataFrame = {
      val ae = withinPartEdges(e, s.filter($"scc_id".isNull))
      val outs = ae.select($"src".as("node")).distinct().withColumn("has_out", lit(1L))
      val ins = ae.select($"dst".as("node")).distinct().withColumn("has_in", lit(1L))
      val chg = $"scc_id".isNull && ($"has_out".isNull || $"has_in".isNull)
      s.join(outs, Seq("node"), "left").join(ins, Seq("node"), "left")
        .select($"node", $"part", when(chg, $"node").otherwise($"scc_id").as("scc_id"),
          chg.as("chg"))
    }
    var live = 0L
    val out = Fixpoint.run("SccEntity.trim", pass(state), Int.MaxValue,
      aggs = Seq(count_if($"chg"), count_if($"scc_id".isNull)),
      done = (_, r) => { live = r.getLong(1); r.getLong(0) == 0L || live == 0L }) {
      (s, _) => pass(s)
    }
    (out, live)
  }

  /** One pivot round on the trimmed state: hashed pivot per part,
    * FW/BW from it, SCC(pivot) = F ∩ B resolved, the other quadrants
    * split into new parts. Returns the next state, unsettled.
    */
  private def pivot(e: DataFrame, state: DataFrame, r: Fixpoint.Round,
      maxBfsIters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val act = state.filter($"scc_id".isNull).select($"node", $"part")
    // hashed pivot (scaladoc step 2): one part-keyed map-side-combinable
    // agg; min_by on (hash, node) keeps determinism
    val pivots = act.groupBy($"part")
      .agg(min_by($"node", struct(
        call_function(graft.functions.Fnv63Hash.name, $"node".cast("string")),
        $"node")).as("node"))
      .select($"node", $"part")
    val fb = r.own(reachBoth(withinPartEdges(e, act), pivots, maxBfsIters))
    val f = fb.filter($"d" === "f").select($"node", $"part").withColumn("inf", lit(true))
    val b = fb.filter($"d" === "b").select($"node", $"part").withColumn("inb", lit(true))
    // one (part, quadrant) min serves BOTH outputs: the s-quadrant's
    // min is the resolved SCC's id (the hashed pivot is not itself the
    // min), the other quadrants' mins key the next round's parts
    val q = act.join(f, Seq("node", "part"), "left").join(b, Seq("node", "part"), "left")
      .withColumn("q", when($"inf" && $"inb", lit("s")).when($"inf", lit("f"))
        .when($"inb", lit("b")).otherwise(lit("n")))
      .withColumn("np", min($"node").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"part", $"q")))
    state.filter($"scc_id".isNotNull).select($"node", $"part", $"scc_id")
      .unionByName(q.select($"node", $"np".as("part"),
        when($"q" === "s", $"np").as("scc_id")))
  }

  /** Edges whose BOTH endpoints are in `active` in the SAME part,
    * stamped with that part: two node-keyed equi-joins. Cross-part
    * edges vanish — they can never participate in a cycle again (see
    * the SPLIT step).
    */
  private def withinPartEdges(e: DataFrame, active: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.join(active.select($"node".as("src"), $"part"), "src")
      .join(active.select($"node".as("dst"), $"part".as("p2")), "dst")
      .filter($"part" === $"p2")
      .select($"src", $"dst", $"part")
  }

  /** Multi-source frontier BFS over the within-part edges, FORWARD AND
    * BACKWARD AT ONCE: the transpose traversal rides the same loop on
    * a direction-tagged edge table, so the visited set is keyed
    * (node, part, d) with d ∈ {f, b} and the round count is
    * max(fw depth, bw depth), not their sum. Each round merges the
    * expansion into the visited set ([[GraphAlgos.novel]]).
    */
  private def reachBoth(
      ae: DataFrame,
      pivots: DataFrame,
      maxIters: Int,
  ): DataFrame = {
    val spark = ae.sparkSession
    import spark.implicits._
    // the direction-tagged edge table laid out on the round join's key
    // (at the scoped shuffle partition count, so the counts line up)
    val step = Lineage.prep(
      ae.select($"src".as("node"), $"dst".as("next"), $"part", lit("f").as("d"))
        .union(ae.select($"dst".as("node"), $"src".as("next"), $"part",
          lit("b").as("d"))),
      Seq("node", "part", "d"))
    val visited = Fixpoint.run("SccEntity.reachBoth",
      pivots.select($"node", $"part")
        .crossJoin(spark.createDataset(Seq("f", "b")).toDF("d"))
        .withColumn("chg", lit(true)),
      maxIters, hint = "graph diameter exceeds the budget; raise maxBfsIters") { (state, _) =>
      GraphAlgos.novel(state, state.filter($"chg")
        .join(step, Seq("node", "part", "d"))
        .select($"next".as("node"), $"part", $"d"), Seq("node", "part", "d"))
    }
    Lineage.release(step)
    visited
  }
}
