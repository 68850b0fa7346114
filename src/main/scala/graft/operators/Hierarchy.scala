package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening by POINTER DOUBLING — the warehouse
  * "explode the org chart / category tree / BOM" operator: given
  * (id, parent) rows (a forest; roots have parent = id), resolve every
  * node's ROOT and DEPTH without a recursive CTE (which Spark lacks)
  * and without depth-many self-joins.
  *
  * Each round every node's ancestor pointer jumps to its ancestor's
  * ancestor and accumulates the hop distance — after k rounds a
  * pointer spans up to 2^k original edges, so a depth-d forest
  * converges in ⌈log₂ d⌉ rounds rather than d. Each round is ONE
  * equi-join of the pointer table with itself on the ancestor key
  * (shuffle keyed on node id, state O(|V|)), run as a [[Fixpoint]]
  * round — and the reason a million-deep pathological chain is 20
  * rounds, not a million.
  *
  * Convergence witness: a node is DONE when its ancestor is a root;
  * the count of unfinished nodes is strictly decreasing (each round
  * at least doubles every unfinished node's span). The round's one
  * aggregate returns that count next to the node count; `maxIters`
  * throws rather than return a silently-partial flattening.
  */
object Hierarchy {

  /** (id, parent) → (id, root, depth). Roots are rows with
    * parent = id (depth 0). Every parent must itself appear as an id —
    * a dangling pointer never converges and throws at `maxIters`.
    */
  def flattenForest(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      maxIters: Int = 20,
  ): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val init = nodes.select(
      col(idCol).cast("long").as("id"),
      col(parentCol).cast("long").as("anc"),
      when(col(parentCol).cast("long") === col(idCol).cast("long"), 0L)
        .otherwise(1L).as("depth"),
      // root-ness of the CURRENT ancestor rides along so a round can
      // tell finished rows apart without a second join
      (col(parentCol).cast("long") === col(idCol).cast("long")).as("done"))
    // the propagation join is INNER: a node whose ancestor pointer
    // targets a non-existent id would silently VANISH and the pending
    // count would read 0 — every round's row count must equal the
    // previous one (hence round 0's node count)
    val noneLost: Fixpoint.Done = (p, r) => {
      require(p == null || r.getLong(0) == p.getLong(0),
        s"flattenForest: ${p.getLong(0) - r.getLong(0)} nodes lost — " +
          "dangling parent pointer (every parent must appear as an id)")
      r.getLong(1) == 0L
    }
    Fixpoint.run("flattenForest", init, maxIters,
      aggs = Seq(count(lit(1)), count_if(!$"done")), done = noneLost,
      hint = "nodes unresolved — cycle or depth > 2^maxIters") { (state, _) =>
      val a = state.as("a")
      val p = state.select($"id".as("p_id"), $"anc".as("p_anc"),
        $"depth".as("p_depth"), $"done".as("p_done")).as("p")
      a.join(p, $"a.anc" === $"p.p_id")
        .select(
          $"a.id".as("id"),
          when($"a.done", $"a.anc").otherwise($"p.p_anc").as("anc"),
          when($"a.done", $"a.depth").otherwise($"a.depth" + $"p.p_depth").as("depth"),
          ($"a.done" || $"p.p_done").as("done"))
    }.select($"id", $"anc".as("root"), $"depth")
  }
}
