package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.ScopedConf
import graft.operators.{GraphAlgos, SccEntity}

/** Graph analytics over derived co-occurrence graphs (the shapes a
  * curation pipeline builds from near-dup pairs or co-purchase
  * baskets): triangle counting with degree-ordered orientation and
  * frontier BFS. Complements the existing graph family (PageRank,
  * connected components, hierarchy flattening) with the density and
  * reachability measures.
  */
object Graph {

  /** Top-20 triangle-heavy parts in the co-purchase graph (parts
    * sharing an order = an edge). `GraphAlgos.triangleCounts` orients
    * edges by (degree, id) so wedge generation is bounded by
    * out-degree² ≤ O(|E|) per node — the last-reducer-skew-proof
    * formulation. The DuckDB oracle deliberately uses a DIFFERENT
    * formulation (VERDICT r5 #2): plain id-ordered adjacency
    * intersection — each triangle a<b<c found once via the three
    * id-ordered edges (a,b),(b,c),(a,c), no degree table, no
    * orientation — so a bug in the orientation/wedge/closure program
    * cannot be mirrored by the oracle. (GraphAlgosSpec additionally
    * pins the operator against closed forms and a brute-force
    * triple-enumeration counter.)
    */
  private val graphTriangles = Q(
    "q_graph_triangles",
    (s, dir) => {
      import s.implicits._
      val items = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.p" < $"b.p")
        .select($"a.p".as("u"), $"b.p".as("v")).distinct()
      GraphAlgos.triangleCounts(edges, "u", "v")
        .orderBy($"tri_count".desc, $"node")
        .limit(20)
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS MATERIALIZED (
           |  SELECT DISTINCT a.p AS u, b.p AS v
           |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
           |),
           |t AS (
           |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |  FROM e e1
           |  JOIN e e2 ON e2.u = e1.v
           |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
           |)
           |SELECT node, count(*) AS tri_count FROM (
           |  SELECT a AS node FROM t
           |  UNION ALL SELECT b FROM t
           |  UNION ALL SELECT c FROM t)
           |GROUP BY node
           |ORDER BY tri_count DESC, node
           |LIMIT 20""".stripMargin),
  )

  /** Hop distance from the minimum part id over the SPARSE adjacency
    * graph (parts on CONSECUTIVE line numbers of the same order — a
    * path per order, chained across orders through shared parts), via
    * `GraphAlgos.bfsLevels` frontier expansion. The oracle is a DuckDB
    * recursive CTE taking min(dist) over all generated paths — a
    * different formulation of the same reachability semantics, which
    * is exactly what makes it a strong check of the iterative loop.
    * The one driver-side value besides per-round frontier counts is
    * the seed (a 1-row min).
    */
  private val graphBfsLevels = Q(
    "q_graph_bfs_levels",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      val seed = edges.agg(min($"u")).head.getLong(0)
      GraphAlgos.bfsLevels(edges, "u", "v", seed, maxDepth = 20)
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE li AS (
           |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p FROM lineitem
           |),
           |e0 AS (
           |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
           |),
           |sym AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
           |bfs AS (
           |  SELECT (SELECT min(u) FROM e0) AS node, 0 AS dist
           |  UNION
           |  SELECT e.dst, bfs.dist + 1
           |  FROM bfs JOIN sym e ON e.src = bfs.node
           |  WHERE bfs.dist < 20
           |)
           |SELECT node, CAST(min(dist) AS BIGINT) AS dist
           |FROM bfs
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** Weighted shortest distances from the minimum part id over the
    * same sparse adjacency graph as q_graph_bfs_levels, with a
    * data-derived integer edge weight (1 + (qty_a + qty_b) mod 5,
    * min over duplicate edges — exact long arithmetic in both
    * engines), via `GraphAlgos.sssp` frontier Bellman–Ford: only
    * nodes improved last round propagate, so per-round cost tracks
    * the active frontier, not |E| (Pregel SIGMOD '10 §5.2 semantics).
    * Bounded-radius semantics (dist < 60, ~10× the measured max of
    * 4–6) keep the two engines' truncation aligned. The oracle is a
    * DIFFERENT formulation of the same semantics: a DuckDB recursive
    * CTE enumerating all weighted walks of total weight < 60 with
    * (node, dist) dedup and taking min(dist) per node — no rounds, no
    * frontier, no improvement test — so a bug in the relaxation loop
    * cannot be mirrored. The one driver-side value is the seed (a
    * 1-row min, same as the BFS gate).
    */
  private val graphSssp = Q(
    "q_graph_sssp",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"),
          $"l_partkey".as("p"), $"l_quantity".cast("long").as("q"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"),
          (lit(1L) + ($"a.q" + $"b.q") % 5L).as("w"))
        .groupBy($"u", $"v").agg(min($"w").as("w"))
      val seed = edges.agg(min($"u")).head.getLong(0)
      GraphAlgos.sssp(edges, "u", "v", "w", seed, maxIters = 60)
        .filter($"dist" < 60)
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE li AS (
           |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p,
           |         CAST(l_quantity AS BIGINT) AS q
           |  FROM lineitem
           |),
           |e0 AS (
           |  SELECT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v,
           |         min(1 + (a.q + b.q) % 5) AS w
           |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
           |  GROUP BY 1, 2
           |),
           |sym AS (SELECT u AS src, v AS dst, w FROM e0
           |        UNION ALL SELECT v, u, w FROM e0),
           |walk AS (
           |  SELECT (SELECT min(u) FROM e0) AS node, 0 AS d
           |  UNION
           |  SELECT e.dst, walk.d + e.w
           |  FROM walk JOIN sym e ON e.src = walk.node
           |  WHERE walk.d + e.w < 60
           |)
           |SELECT node, CAST(min(d) AS BIGINT) AS dist
           |FROM walk
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** Deterministic DeepWalk corpus (Perozzi et al., KDD '14) over the
    * sparse adjacency graph: 2 walks of length 4 from every node,
    * every step chosen by the cross-engine fnv63 hash of (start,
    * walk, step, node) mod degree — the walk corpus is a pure
    * function of the graph, so retries, re-runs, and the oracle all
    * produce identical "sentences" (reproducible training data, no
    * RNG state). `GraphAlgos.deterministicWalks` keeps each step at
    * two node-keyed equi-joins (degree for the choice, positional
    * adjacency for the move) — O(walks) per step even on power-law
    * degree skew. The oracle unrolls the same four steps in DuckDB
    * with `row_number`-indexed adjacency and the BIGINT+HUGEINT fnv63
    * program — an independent implementation of every moving part
    * (window indexing, hash, modulus, join chain).
    */
  private val graphWalks = Q(
    "q_graph_walks",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      GraphAlgos.deterministicWalks(edges, "u", "v", walksPerNode = 2, steps = 4)
        .orderBy($"start", $"walk", $"step")
    },
    Some {
      def coin(k: Int) = Relational.fnv63Sql(
        s"CAST(s.start AS VARCHAR) || '_' || CAST(s.walk AS VARCHAR) || " +
          s"'_' || '$k' || '_' || CAST(s.node AS VARCHAR)")
      def stepCte(k: Int) =
        s"""s$k AS (
           |  SELECT s.start, s.walk, $k AS step, a.dst AS node
           |  FROM s${k - 1} s
           |  JOIN deg d ON d.node = s.node
           |  JOIN adj a ON a.src = s.node AND a.idx = (${coin(k)}) % d.deg
           |)""".stripMargin
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p FROM lineitem
         |),
         |e0 AS (
         |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
         |),
         |sym AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
         |adj AS (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
         |  FROM sym
         |),
         |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
         |s0 AS (
         |  SELECT d.node AS start, w.walk, 0 AS step, d.node
         |  FROM deg d CROSS JOIN (SELECT 0 AS walk UNION ALL SELECT 1) w
         |),
         |${stepCte(1)},
         |${stepCte(2)},
         |${stepCte(3)},
         |${stepCte(4)}
         |SELECT start, CAST(walk AS INT) AS walk, CAST(step AS INT) AS step, node
         |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
         |      UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
         |      UNION ALL SELECT * FROM s4)
         |ORDER BY start, walk, step""".stripMargin
    },
  )

  /** GraphSAGE-style fixed-fanout neighbor sample (Hamilton et al.,
    * NeurIPS '17) over the co-purchase graph: each node's 5
    * lowest-fnv63-ranked neighbors — deterministic, so every training
    * epoch, task retry, and the oracle draw the SAME neighborhoods
    * (reproducible GNN minibatch data). The oracle recomputes the
    * ranking with DuckDB's own window machinery over the
    * BIGINT+HUGEINT fnv63 program — independent hash, window, and
    * tiebreak implementations.
    */
  private val graphNeighborSample = Q(
    "q_graph_neighbor_sample",
    (s, dir) => {
      import s.implicits._
      val items = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.p" < $"b.p")
        .select($"a.p".as("u"), $"b.p".as("v")).distinct()
      GraphAlgos.sampleNeighbors(edges, "u", "v", k = 5)
        .orderBy($"node", $"rnk")
    },
    Some(s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
            |e0 AS (
            |  SELECT DISTINCT a.p AS u, b.p AS v
            |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
            |),
            |sym AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
            |ranked AS (
            |  SELECT src, dst,
            |         row_number() OVER (
            |           PARTITION BY src
            |           ORDER BY ${Relational.fnv63Sql(
                           "CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)")}, dst
            |         ) AS rnk
            |  FROM sym
            |)
            |SELECT src AS node, dst AS nbr, CAST(rnk AS INT) AS rnk
            |FROM ranked WHERE rnk <= 5
            |ORDER BY node, rnk""".stripMargin),
  )

  /** 20-core of the sparse adjacency graph (`GraphAlgos.kCore`
    * iterative peeling to fixpoint): the dense-cluster extractor —
    * nodes that remain when everything of degree < 20 is repeatedly
    * stripped, with their in-core degree. The oracle deliberately uses
    * a DIFFERENT algorithm (VERDICT r6 #3, closing the last
    * same-formulation graph oracle): CORE NUMBERS via the h-index
    * iteration (Lü/Chen/Ren/Zhang/Zhou/Stanley, "Vital nodes
    * identification in complex networks" family result: initializing
    * every node to its degree and repeatedly replacing each node's
    * value with the h-index of its neighbors' values converges to the
    * node's coreness), then k-core = {coreness ≥ k} and in-core degree
    * = neighbors within that set. No peel, no shrinking edge set —
    * a bug in the peel loop cannot be mirrored by the oracle. 40
    * unrolled rounds vs ≤20 observed to converge at sf0.001/0.01/0.1;
    * post-fixpoint rounds are identity, so over-unrolling is safe.
    */
  private val graphKcore = Q(
    "q_graph_kcore",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      GraphAlgos.kCore(edges, "u", "v", k = 20, maxIters = 40)
        .orderBy($"node")
    },
    Some(kcoreOracleSql(k = 20, rounds = 40)),
  )

  /** Oracle for q_graph_kcore, SECOND formulation: the same symmetric
    * edge derivation, then core numbers by h-index iteration — c0 =
    * degree; each round, a node's value becomes the h-index of its
    * neighbors' values (`max(least(rn, val))` over neighbors ranked by
    * value desc); the fixpoint is the coreness. The k-core and its
    * in-core degrees are then read off {coreness ≥ k} without ever
    * peeling an edge set.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p FROM lineitem
        |),
        |und AS (
        |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
        |),
        |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und),
        |c0 AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS c FROM e0 GROUP BY src)""".stripMargin
    val rs = (1 to rounds).map { i =>
      s""",
         |c$i AS MATERIALIZED (
         |  SELECT src AS node, max(least(rn, val)) AS c FROM (
         |    SELECT e.src, p.c AS val,
         |           row_number() OVER (PARTITION BY e.src ORDER BY p.c DESC) AS rn
         |    FROM e0 e JOIN c${i - 1} p ON e.dst = p.node)
         |  GROUP BY src)""".stripMargin
    }.mkString
    s"""$head$rs,
       |core AS MATERIALIZED (SELECT node FROM c$rounds WHERE c >= $k)
       |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e0 e
       |JOIN core a ON e.src = a.node
       |JOIN core b ON e.dst = b.node
       |GROUP BY e.src
       |ORDER BY node""".stripMargin
  }

  /** The k-core AGAIN from the h-index side — completing the
    * cross-formulation square with q_graph_kcore: that gate runs
    * Spark PEELING against a DuckDB h-index oracle; this one runs the
    * Spark H-INDEX operator (`GraphAlgos.coreNumbers`, full coreness
    * column, no peel) against the DuckDB PEEL oracle (the exact
    * unrolled-peel program that was q_graph_kcore's oracle through
    * round 6). Both algorithms now exist in both engines, every
    * pairing checked; identical output shape (node, core_deg), so the
    * two gates must also hash-match EACH OTHER. GraphAlgosSpec
    * additionally pins the full coreness column against a sequential
    * peel on brute-force-checkable graphs.
    */
  private val graphKcoreHindex = Q(
    "q_graph_kcore_hindex",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      val core = GraphAlgos.coreNumbers(edges, "u", "v")
        .filter($"coreness" >= 20).select($"node")
      val sym = edges.select($"u".as("src"), $"v".as("dst"))
        .union(edges.select($"v", $"u"))
      sym.join(core.withColumnRenamed("node", "src"), "src")
        .join(core.withColumnRenamed("node", "dst"), "dst")
        .groupBy($"src")
        .agg(count(lit(1)).as("core_deg"))
        .select($"src".as("node"), $"core_deg")
        .orderBy($"node")
    },
    Some(kcorePeelOracleSql(k = 20, rounds = 24)),
  )

  /** The round-1-6 q_graph_kcore oracle, now serving the h-index gate:
    * the same symmetric edge derivation, then `rounds` unrolled peel
    * iterations (degree count → keep-set → two semi-joins), identity
    * once the fixpoint is reached (sf0.01 converges in 15).
    */
  private def kcorePeelOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p FROM lineitem
        |),
        |und AS (
        |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
        |),
        |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und)""".stripMargin
    val rs = (1 to rounds).map { i =>
      s""",
         |k$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.src
         |  JOIN k$i b ON e.dst = b.src
         |)""".stripMargin
    }.mkString
    s"""$head$rs
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$rounds
       |GROUP BY src
       |ORDER BY node""".stripMargin
  }

  /** Truss decomposition of the co-purchase graph — per-edge truss
    * numbers, the triangle-level strengthening of coreness that a
    * dedup/curation pipeline reads as "how clique-like is the
    * community this relation sits in" (k-truss ⊂ (k−1)-core, but far
    * tighter: it demands triangles, not just degree). Spark side:
    * `GraphAlgos.trussNumbers` — triangles enumerated ONCE via the
    * degree-ordered orientation into a static incidence, then the
    * LOCAL h-index iteration (Sariyüce et al., VLDB '18) with
    * coreNumbers-style frontier refinement; no per-level triangle
    * recount ever. Oracle: the textbook algorithm the operator
    * deliberately avoids — an unrolled support-PEEL over a SHRINKING
    * edge set (cascade-remove support < k−2, assign truss k−1, bump
    * k when stable), recounting triangles from scratch every round.
    * Different algorithm, different program shape, same 28983-row
    * (u, v, truss) table, hash-matched.
    */
  private val graphTruss = Q(
    "q_graph_truss",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      GraphAlgos.trussNumbers(edges, "u", "v")
        .orderBy($"u", $"v")
    },
    Some(trussPeelOracleSql(rounds = 32)),
  )

  /** Unrolled branchless truss peel: per round, triangles among the
    * REMAINING edges (three-way canonical-edge join), per-edge
    * support via the three member-roles, then — carrying the scalar
    * k in a 1-row CTE — peel `support < k−2` into the output with
    * truss k−1, or bump k when no edge is low. sf0.001 converges in
    * 23 rounds (kmax 5), sf0.01 in 8 (kmax 4); an unconverged chain
    * leaves edges unassigned and the row-count gate fails loudly.
    * Every round CTE is MATERIALIZED (chained inlining is exponential
    * otherwise — see lpIterSql).
    */
  private def trussPeelOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p FROM lineitem
        |),
        |und AS (
        |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
        |),
        |rem0 AS MATERIALIZED (SELECT u, v FROM und),
        |k0 AS MATERIALIZED (SELECT 3 AS k),
        |out0 AS MATERIALIZED (
        |  SELECT CAST(NULL AS BIGINT) AS u, CAST(NULL AS BIGINT) AS v,
        |         CAST(NULL AS BIGINT) AS truss WHERE 1 = 0)""".stripMargin
    val rs = (1 to rounds).map { i =>
      val p = i - 1
      s""",
         |t$i AS MATERIALIZED (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM rem$p a JOIN rem$p b ON b.u = a.v JOIN rem$p c ON c.u = a.u AND c.v = b.v),
         |st$i AS MATERIALIZED (
         |  SELECT r.u, r.v, coalesce(s.s, 0) AS s
         |  FROM rem$p r LEFT JOIN (
         |    SELECT u, v, count(*) AS s FROM (
         |      SELECT x AS u, y AS v FROM t$i
         |      UNION ALL SELECT y, z FROM t$i
         |      UNION ALL SELECT x, z FROM t$i) e GROUP BY u, v) s USING (u, v)),
         |low$i AS MATERIALIZED (SELECT st.u, st.v FROM st$i st, k$p kk WHERE st.s < kk.k - 2),
         |k$i AS MATERIALIZED (
         |  SELECT kk.k + CASE WHEN (SELECT count(*) FROM low$i) = 0 THEN 1 ELSE 0 END AS k
         |  FROM k$p kk),
         |rem$i AS MATERIALIZED (SELECT st.u, st.v FROM st$i st, k$p kk WHERE st.s >= kk.k - 2),
         |out$i AS MATERIALIZED (
         |  SELECT u, v, truss FROM out$p
         |  UNION ALL
         |  SELECT l.u, l.v, CAST(kk.k - 1 AS BIGINT) AS truss FROM low$i l, k$p kk)""".stripMargin
    }.mkString
    s"""$head$rs
       |SELECT u, v, truss FROM out$rounds ORDER BY u, v""".stripMargin
  }

  /** One synchronous LPA round for the oracle: neighbor-label counts,
    * per-node max count, min label among the tied — the same pinned
    * argmax as `GraphAlgos.labelPropagation`. `it$k` is MATERIALIZED
    * because it is referenced twice per round (count + argmax) and
    * chained CTE inlining grows exponentially otherwise.
    */
  private def lpIterSql(k: Int): String =
    s"""it$k AS MATERIALIZED (
       |  SELECT b.u AS node, l.lbl, count(*) AS c
       |  FROM bi b JOIN lp${k - 1} l ON l.node = b.v GROUP BY 1, 2
       |),
       |mx$k AS (SELECT node, max(c) AS mc FROM it$k GROUP BY node),
       |lp$k AS MATERIALIZED (
       |  SELECT t.node, min(t.lbl) AS lbl
       |  FROM it$k t JOIN mx$k m ON m.node = t.node AND t.c = m.mc
       |  GROUP BY t.node
       |)""".stripMargin

  /** Community detection via 3 rounds of synchronous label propagation
    * over the co-purchase graph (same edges as q_graph_triangles).
    * Deterministic by construction — pinned tie order every round (see
    * `GraphAlgos.labelPropagation`), so the oracle replays the exact
    * trajectory: one node adopting a different label in round 1
    * cascades into different communities by round 3 and breaks the
    * hash. Output carries each node's final label and its community's
    * size.
    */
  private val graphLabelProp = Q(
    "q_graph_label_prop",
    (s, dir) => {
      import s.implicits._
      // every-3rd-order subgraph: same co-purchase structure, a third
      // of the edge volume — LPA is 3 rounds × (join + 2 aggs) over
      // |E|, and the gate pays that 3× per bench run; the subgraph
      // keeps the per-round cost proportional without changing what is
      // being checked (the full-graph path is the same operator)
      val items = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 3 === 0)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.p" < $"b.p")
        .select($"a.p".as("u"), $"b.p".as("v")).distinct()
      val labels = GraphAlgos.labelPropagation(edges, "u", "v", iters = 3)
      val sizes = labels.groupBy($"lbl").agg(count(lit(1)).as("comm_size"))
      labels.join(sizes, "lbl")
        .select($"node", $"lbl", $"comm_size")
        .orderBy($"node")
    },
    Some(s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
            |              FROM lineitem WHERE l_orderkey % 3 = 0),
            |e AS (
            |  SELECT DISTINCT a.p AS u, b.p AS v
            |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
            |),
            |bi AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v, u FROM e),
            |lp0 AS (SELECT DISTINCT u AS node, u AS lbl FROM bi),
            |${lpIterSql(1)},
            |${lpIterSql(2)},
            |${lpIterSql(3)},
            |sizes AS (SELECT lbl, count(*) AS comm_size FROM lp3 GROUP BY lbl)
            |SELECT l.node, l.lbl, s.comm_size
            |FROM lp3 l JOIN sizes s USING (lbl)
            |ORDER BY l.node""".stripMargin),
  )

  /** Link prediction by neighbor-set Jaccard: for every NON-edge pair
    * sharing at least one neighbor, |N(u) ∩ N(v)| / |N(u) ∪ N(v)| —
    * the classic similarity-based recommender over the co-purchase
    * graph (every-3rd-order subgraph, same derivation as LPA).
    *
    * Scale shape: candidate pairs come from a WEDGE equi-join through
    * the shared neighbor — candidate volume is Σ_w deg(w)², bounded by
    * capping the wedge-center degree at 200 (hubs connect everything
    * to everything and carry no similarity signal — the same df-cap
    * trick as PPJoin's prefix filter; the oracle replays the cap, so
    * the gate checks the CAPPED semantics at every SF). Degrees join
    * in on both endpoints, the existing-edge anti-join removes known
    * links, and the top-20 cut collapses to TakeOrderedAndProject.
    * Jaccard = c/(du+dv−c) divides exact integers in both engines
    * before one 4-dp round.
    */
  private val graphJaccardLinkpred = Q(
    "q_graph_jaccard_linkpred",
    (s, dir) => {
      import s.implicits._
      val items = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 7 === 0)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      // edges feeds adj (twice, via the union), the anti-join, and —
      // through adj — deg and centers; without persists the expensive
      // co-purchase self-join would be recomputed once per consumer
      // (measured 5× slower), and `centers` is itself both sides of
      // the wedge join
      val edges = items.as("a").join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.p" < $"b.p")
        .select($"a.p".as("u"), $"b.p".as("v")).distinct().persist()
      val adj = edges.select($"u".as("node"), $"v".as("nbr"))
        .union(edges.select($"v".as("node"), $"u".as("nbr")))
      val deg = adj.groupBy($"node").agg(count(lit(1)).as("d")).persist()
      // wedge centers capped: a neighbor seen from > 64 nodes is a hub
      val centers = adj.join(
        deg.filter($"d" <= 64).select($"node".as("nbr")), "nbr").persist()
      val cand = centers.as("x").join(centers.as("y"),
          $"x.nbr" === $"y.nbr" && $"x.node" < $"y.node")
        .groupBy($"x.node".as("u"), $"y.node".as("v"))
        .agg(count(lit(1)).as("common"))
      cand
        .join(edges, Seq("u", "v"), "left_anti")
        .join(deg.select($"node".as("u"), $"d".as("du")), "u")
        .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
        .select($"u", $"v", $"common",
          round($"common" / ($"du" + $"dv" - $"common").cast("double"), 4)
            .as("jaccard"))
        .orderBy($"jaccard".desc, $"u", $"v")
        .limit(20)
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
           |              FROM lineitem WHERE l_orderkey % 7 = 0),
           |e AS (
           |  SELECT DISTINCT a.p AS u, b.p AS v
           |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
           |),
           |adj AS (SELECT u AS node, v AS nbr FROM e
           |        UNION ALL SELECT v, u FROM e),
           |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
           |centers AS (
           |  SELECT a.node, a.nbr FROM adj a
           |  JOIN deg c ON c.node = a.nbr AND c.d <= 64
           |),
           |cand AS (
           |  SELECT x.node AS u, y.node AS v, count(*) AS common
           |  FROM centers x JOIN centers y
           |    ON x.nbr = y.nbr AND x.node < y.node
           |  GROUP BY x.node, y.node
           |)
           |SELECT c.u, c.v, c.common,
           |       round(c.common / CAST(du.d + dv.d - c.common AS DOUBLE), 4) AS jaccard
           |FROM cand c
           |JOIN deg du ON du.node = c.u
           |JOIN deg dv ON dv.node = c.v
           |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v)
           |ORDER BY jaccard DESC, c.u, c.v
           |LIMIT 20""".stripMargin),
  )

  /** Modularity of the LPA communities, computed in-engine — the
    * eval-in-engine companion to q_graph_label_prop (same pattern as
    * q_embed_ivf_recall / q_dedup_lsh_recall): Newman's
    * Q = Σ_c (e_c/m − (d_c/2m)²), the number that says whether the
    * communities are real structure or noise. EXACT integer form per
    * community: (4·m·e_c − d_c²) / 4m² — numerator and denominator
    * are integers in both engines, one terminal 6-dp round. Scale
    * shape: two label equi-joins tag each edge's endpoints, then
    * everything folds to ≤|communities| groups (map-side combined);
    * |E| is the one broadcast scalar.
    */
  private val graphModularity = Q(
    "q_graph_modularity",
    (s, dir) => {
      import s.implicits._
      val items = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 3 === 0)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.p" < $"b.p")
        .select($"a.p".as("u"), $"b.p".as("v")).distinct().persist()
      val labels = GraphAlgos.labelPropagation(edges, "u", "v", iters = 3)
        .persist()
      val m = edges.agg(count(lit(1)).as("m"))
      val deg = edges.select($"u".as("node")).union(edges.select($"v".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("d"))
      val eIn = edges
        .join(labels.select($"node".as("u"), $"lbl".as("lu")), "u")
        .join(labels.select($"node".as("v"), $"lbl".as("lv")), "v")
        .filter($"lu" === $"lv")
        .groupBy($"lu".as("lbl")).agg(count(lit(1)).as("e_in"))
      labels.join(deg, "node")
        .groupBy($"lbl")
        .agg(count(lit(1)).as("n_members"), sum($"d").as("d_c"))
        .join(eIn, Seq("lbl"), "left_outer")
        .withColumn("e_in", coalesce($"e_in", lit(0L)))
        .crossJoin(broadcast(m))
        .select($"lbl", $"n_members", $"e_in", $"d_c",
          // + 0.0 normalizes IEEE −0.0 (an exactly-balanced community
          // rounds to negative zero in one engine and not the other)
          (round((lit(4L) * $"m" * $"e_in" - $"d_c" * $"d_c") /
            (lit(4L) * $"m" * $"m").cast("double"), 6) + lit(0.0)).as("q_contrib"))
        .orderBy($"lbl")
    },
    Some(s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
            |              FROM lineitem WHERE l_orderkey % 3 = 0),
            |e AS (
            |  SELECT DISTINCT a.p AS u, b.p AS v
            |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
            |),
            |bi AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v, u FROM e),
            |lp0 AS (SELECT DISTINCT u AS node, u AS lbl FROM bi),
            |${lpIterSql(1)},
            |${lpIterSql(2)},
            |${lpIterSql(3)},
            |m AS (SELECT count(*) AS m FROM e),
            |deg AS (SELECT u AS node, count(*) AS d FROM bi GROUP BY u),
            |ein AS (
            |  SELECT la.lbl, count(*) AS e_in
            |  FROM e
            |  JOIN lp3 la ON la.node = e.u
            |  JOIN lp3 lb ON lb.node = e.v AND la.lbl = lb.lbl
            |  GROUP BY 1
            |),
            |dc AS (
            |  SELECT l.lbl, count(*) AS n_members, sum(d.d) AS d_c
            |  FROM lp3 l JOIN deg d USING (node)
            |  GROUP BY 1
            |)
            |SELECT dc.lbl, dc.n_members, coalesce(ein.e_in, 0) AS e_in,
            |       CAST(dc.d_c AS BIGINT) AS d_c,
            |       round((4 * m.m * coalesce(ein.e_in, 0) - dc.d_c * dc.d_c)
            |             / CAST(4 * m.m * m.m AS DOUBLE), 6) + 0.0 AS q_contrib
            |FROM dc LEFT JOIN ein USING (lbl), m
            |ORDER BY dc.lbl""".stripMargin),
  )

  /** Approximate neighborhood function over the sparse adjacency graph
    * (`GraphAlgos.anf`): per (node, radius ≤ 2), the HLL-sketched ball
    * size — ANF/HyperBall, the reachability profiler that replaces
    * per-node BFS at 100 TB. The check exploits that register merge is
    * EXACT set union: Spark grows each node's sketch by iterative
    * distributed bytewise-max merges, while the oracle computes each
    * node's exact t-hop reachable SET (two unrolled expansion rounds)
    * and sketches that set directly from the same fnv63 registers —
    * two genuinely different formulations that must agree on every
    * register sum, nonzero count, and estimate bit-for-bit.
    */
  private val graphAnfHll = Q(
    "q_graph_anf_hll",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 7 === 0)
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      GraphAlgos.anf(edges, "u", "v", maxT = 2)
        .select($"node", $"t", $"nonzero_buckets".cast("long").as("nonzero_buckets"),
          $"register_sum_scaled", round($"estimate", 4).as("ball_estimate"))
        .orderBy($"node", $"t")
    },
    Some(s"""WITH li AS (
            |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p
            |  FROM lineitem WHERE l_orderkey % 7 = 0
            |),
            |e0 AS (
            |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
            |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
            |),
            |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
            |                     UNION SELECT v, u FROM e0),
            |r0 AS (SELECT DISTINCT src AS node, src AS member FROM sym),
            |r1 AS MATERIALIZED (
            |  SELECT * FROM r0 UNION SELECT src, dst FROM sym
            |),
            |r2 AS MATERIALIZED (
            |  SELECT * FROM r1
            |  UNION
            |  SELECT r.node, s.dst FROM r1 r JOIN sym s ON s.src = r.member
            |),
            |all_t AS (
            |  SELECT node, 0 AS t, member FROM r0
            |  UNION ALL SELECT node, 1, member FROM r1
            |  UNION ALL SELECT node, 2, member FROM r2
            |),
            |h AS (
            |  SELECT node, t, ${Relational.fnv63Sql("CAST(member AS VARCHAR)")} AS h
            |  FROM all_t
            |),
            |regs AS (
            |  SELECT node, t, ${Relational.fnv63Bucket("h")} AS bucket,
            |         max(${Relational.fnv63RankOf(Relational.fnv63Tail("h"))}) AS r
            |  FROM h GROUP BY 1, 2, 3
            |),
            |agg AS (
            |  SELECT node, t,
            |         CAST(count(*) AS BIGINT) AS nonzero_buckets,
            |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
            |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
            |  FROM regs GROUP BY node, t
            |)
            |SELECT node, t, nonzero_buckets, register_sum_scaled,
            |       round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
            |             (register_sum_scaled / 1073741824.0), 4) AS ball_estimate
            |FROM agg
            |ORDER BY node, t""".stripMargin),
  )

  /** DOULION sparsified triangle estimation (Tsourakakis et al.,
    * "DOULION: counting triangles in massive graphs with a coin") —
    * the 100-TB answer when even the degree-ordered exact count is too
    * much: keep each edge with probability p (here 1/4, decided by the
    * engine's deterministic fnv63 hash of the edge key, so both
    * engines and every re-run sample the SAME subgraph), count
    * triangles exactly on the sparsified graph, scale by 1/p³.
    * Variance is bounded and the work drops by ~p³ on the wedge join.
    * The per-node estimates ride the same `GraphAlgos.triangleCounts`
    * operator; the oracle samples with the identical hash predicate
    * but counts via the independent id-ordered adjacency intersection
    * — so the sampling layer and the counting layer are both checked,
    * without mirroring the orientation program.
    */
  private val graphTrianglesDoulion = Q(
    "q_graph_triangles_doulion",
    (s, dir) => {
      import s.implicits._
      val items = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.p" < $"b.p")
        .select($"a.p".as("u"), $"b.p".as("v"))
        // the coin is a pure function of (u, v), so it commutes with
        // the dedup — sampling BEFORE the distinct cuts the edge
        // derivation's shuffle by 1/p too, not just the wedge join
        .filter(
          expr("fnv63(concat(cast(u as string), '_', cast(v as string)))") % 4 === 0)
        .distinct()
      GraphAlgos.triangleCounts(edges, "u", "v")
        .select($"node", $"tri_count".as("sampled_tris"),
          ($"tri_count" * 64L).as("tri_estimate")) // 1/p³ = 4³
        .orderBy($"tri_estimate".desc, $"node")
        .limit(20)
    },
    Some(s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
            |e AS MATERIALIZED (
            |  SELECT u, v FROM (
            |    SELECT DISTINCT a.p AS u, b.p AS v
            |    FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
            |  )
            |  WHERE ${Relational.fnv63Sql(
               "CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)")} % 4 = 0
            |),
            |t AS (
            |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
            |  FROM e e1
            |  JOIN e e2 ON e2.u = e1.v
            |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            |)
            |SELECT node, count(*) AS sampled_tris,
            |       CAST(count(*) * 64 AS BIGINT) AS tri_estimate
            |FROM (
            |  SELECT a AS node FROM t
            |  UNION ALL SELECT b FROM t
            |  UNION ALL SELECT c FROM t)
            |GROUP BY node
            |ORDER BY tri_estimate DESC, node
            |LIMIT 20""".stripMargin),
  )

  /** Effective diameter via the neighborhood function — HyperBall's
    * headline use: N(t) = Σ_nodes |ball(node, t)| estimated from the
    * ANF sketches for t = 0..4, and the 90 %-effective-diameter flag
    * (smallest t whose N(t) ≥ 0.9·N(t_max)). Per-node estimates are
    * rounded then summed as EXACT DECIMAL (aggregation order can't
    * move a bit; one terminal double cast), and the 90 % comparison is
    * integer-scaled decimal (×10 vs ×9), so the flag is
    * engine-identical. The oracle unrolls exact reachability to
    * radius 4, hashes the ~|V| distinct members ONCE (the member
    * domain is tiny even when the (node, t, member) fact table is
    * not), and sketches each exact ball directly.
    */
  private val graphAnfDiameter = Q(
    "q_graph_anf_diameter",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 7 === 0)
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      val perT = GraphAlgos.anf(edges, "u", "v", maxT = 4)
        .select($"t", round($"estimate", 4).cast("decimal(20,4)").as("est"))
        .groupBy($"t")
        .agg(sum($"est").as("n_t_dec"), count(lit(1)).as("n_nodes"))
      val nMax = perT.filter($"t" === 4).select($"n_t_dec".as("n_max_dec"))
      perT.crossJoin(broadcast(nMax))
        .select($"t", $"n_nodes",
          $"n_t_dec".cast("double").as("n_t"),
          ($"n_t_dec" * 10 >= $"n_max_dec" * 9).as("reaches_90pct"))
        .orderBy($"t")
    },
    Some(s"""WITH li AS (
            |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p
            |  FROM lineitem WHERE l_orderkey % 7 = 0
            |),
            |e0 AS (
            |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
            |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
            |),
            |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
            |                     UNION SELECT v, u FROM e0),
            |r0 AS (SELECT DISTINCT src AS node, src AS member FROM sym),
            |r1 AS MATERIALIZED (
            |  SELECT * FROM r0 UNION SELECT src, dst FROM sym
            |),
            |r2 AS MATERIALIZED (
            |  SELECT * FROM r1
            |  UNION SELECT r.node, s.dst FROM r1 r JOIN sym s ON s.src = r.member
            |),
            |r3 AS MATERIALIZED (
            |  SELECT * FROM r2
            |  UNION SELECT r.node, s.dst FROM r2 r JOIN sym s ON s.src = r.member
            |),
            |r4 AS MATERIALIZED (
            |  SELECT * FROM r3
            |  UNION SELECT r.node, s.dst FROM r3 r JOIN sym s ON s.src = r.member
            |),
            |all_t AS (
            |  SELECT node, 0 AS t, member FROM r0
            |  UNION ALL SELECT node, 1, member FROM r1
            |  UNION ALL SELECT node, 2, member FROM r2
            |  UNION ALL SELECT node, 3, member FROM r3
            |  UNION ALL SELECT node, 4, member FROM r4
            |),
            |dh AS MATERIALIZED (
            |  SELECT member, ${Relational.fnv63Sql("CAST(member AS VARCHAR)")} AS h
            |  FROM (SELECT DISTINCT src AS member FROM sym)
            |),
            |regs AS (
            |  SELECT a.node, a.t, ${Relational.fnv63Bucket("d.h")} AS bucket,
            |         max(${Relational.fnv63RankOf(Relational.fnv63Tail("d.h"))}) AS r
            |  FROM all_t a JOIN dh d USING (member)
            |  GROUP BY 1, 2, 3
            |),
            |agg AS (
            |  SELECT node, t,
            |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
            |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
            |  FROM regs GROUP BY node, t
            |),
            |est AS (
            |  SELECT node, t,
            |         round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
            |               (register_sum_scaled / 1073741824.0), 4) AS e
            |  FROM agg
            |),
            |per_t AS (
            |  SELECT t, CAST(count(*) AS BIGINT) AS n_nodes,
            |         sum(CAST(e AS DECIMAL(20,4))) AS n_t_dec
            |  FROM est GROUP BY t
            |),
            |mx AS (SELECT n_t_dec AS n_max_dec FROM per_t WHERE t = 4)
            |SELECT t, n_nodes, CAST(n_t_dec AS DOUBLE) AS n_t,
            |       (n_t_dec * 10 >= n_max_dec * 9) AS reaches_90pct
            |FROM per_t, mx
            |ORDER BY t""".stripMargin),
  )

  /** Bounded-radius harmonic centrality via the neighborhood function
    * — the application HyperBall was BUILT for (Boldi & Vigna,
    * "In-core computation of geometric centralities with HyperBall"):
    * h(n) = Σ_{t≥1} (|B(n,t)| − |B(n,t−1)|) / t, every new node at
    * distance t contributing 1/t — computed here to radius 4 from the
    * SAME per-(node, t) register sketches as q_graph_anf_hll, with no
    * per-node BFS anywhere. Arithmetic is engine-exact: per-(node, t)
    * estimates are rounded to 4 dp decimals, ring differences are
    * weighted by 12/t ∈ {12, 6, 4, 3} (×12 = lcm(1..4)) so the
    * weighted sum stays an EXACT decimal (no 1/3 anywhere); ordering
    * and the tie-break are on that exact value, and the one terminal
    * double division by 12 is IEEE-identical in both engines. The
    * oracle computes each node's exact t-hop ball (unrolled
    * expansion), sketches it directly, and applies the same ring
    * arithmetic — different reachability formulation, same registers
    * bit-for-bit.
    *
    * Scale shape: rides `GraphAlgos.anf` (per round one |E|-keyed join
    * of 4 KiB payloads + node-keyed merge agg), then a node-keyed
    * 5-row window and a TakeOrdered top-20 — nothing new shuffles.
    */
  private val graphAnfHarmonic = Q(
    "q_graph_anf_harmonic",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 7 === 0)
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"node").orderBy($"t")
      GraphAlgos.anf(edges, "u", "v", maxT = 4)
        .select($"node", $"t",
          round($"estimate", 4).cast("decimal(20,4)").as("est"))
        .withColumn("prev", lag($"est", 1).over(w))
        .filter($"t" >= 1)
        .groupBy($"node")
        .agg(sum(($"est" - $"prev") *
          when($"t" === 1, 12).when($"t" === 2, 6)
            .when($"t" === 3, 4).otherwise(3)).as("h12"))
        .select($"node", $"h12".cast("double").as("harmonic_x12"),
          round($"h12".cast("double") / 12.0, 4).as("harmonic_c"))
        .orderBy($"harmonic_x12".desc, $"node")
        .limit(20)
    },
    Some(s"""WITH li AS (
            |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p
            |  FROM lineitem WHERE l_orderkey % 7 = 0
            |),
            |e0 AS (
            |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
            |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
            |),
            |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
            |                     UNION SELECT v, u FROM e0),
            |r0 AS (SELECT DISTINCT src AS node, src AS member FROM sym),
            |r1 AS MATERIALIZED (
            |  SELECT * FROM r0 UNION SELECT src, dst FROM sym
            |),
            |r2 AS MATERIALIZED (
            |  SELECT * FROM r1
            |  UNION SELECT r.node, s.dst FROM r1 r JOIN sym s ON s.src = r.member
            |),
            |r3 AS MATERIALIZED (
            |  SELECT * FROM r2
            |  UNION SELECT r.node, s.dst FROM r2 r JOIN sym s ON s.src = r.member
            |),
            |r4 AS MATERIALIZED (
            |  SELECT * FROM r3
            |  UNION SELECT r.node, s.dst FROM r3 r JOIN sym s ON s.src = r.member
            |),
            |all_t AS (
            |  SELECT node, 0 AS t, member FROM r0
            |  UNION ALL SELECT node, 1, member FROM r1
            |  UNION ALL SELECT node, 2, member FROM r2
            |  UNION ALL SELECT node, 3, member FROM r3
            |  UNION ALL SELECT node, 4, member FROM r4
            |),
            |dh AS MATERIALIZED (
            |  SELECT member, ${Relational.fnv63Sql("CAST(member AS VARCHAR)")} AS h
            |  FROM (SELECT DISTINCT src AS member FROM sym)
            |),
            |regs AS (
            |  SELECT a.node, a.t, ${Relational.fnv63Bucket("d.h")} AS bucket,
            |         max(${Relational.fnv63RankOf(Relational.fnv63Tail("d.h"))}) AS r
            |  FROM all_t a JOIN dh d USING (member)
            |  GROUP BY 1, 2, 3
            |),
            |agg AS (
            |  SELECT node, t,
            |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
            |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
            |  FROM regs GROUP BY node, t
            |),
            |est AS (
            |  SELECT node, t,
            |         CAST(round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
            |               (register_sum_scaled / 1073741824.0), 4)
            |              AS DECIMAL(20,4)) AS e
            |  FROM agg
            |),
            |rings AS (
            |  SELECT e1.node,
            |         (e1.e - e0.e) *
            |         (CASE e1.t WHEN 1 THEN 12 WHEN 2 THEN 6
            |                    WHEN 3 THEN 4 ELSE 3 END) AS wdiff
            |  FROM est e1
            |  JOIN est e0 ON e0.node = e1.node AND e0.t = e1.t - 1
            |  WHERE e1.t >= 1
            |),
            |h AS (SELECT node, sum(wdiff) AS h12 FROM rings GROUP BY node)
            |SELECT node, CAST(h12 AS DOUBLE) AS harmonic_x12,
            |       round(CAST(h12 AS DOUBLE) / 12, 4) AS harmonic_c
            |FROM h
            |ORDER BY h12 DESC, node
            |LIMIT 20""".stripMargin),
  )

  /** Bounded-radius closeness + Lin's index from the same ANF
    * sketches — the other two geometric centralities HyperBall
    * computes (Boldi & Vigna §4): sum-of-distances S(n) =
    * Σ_{t≥1} t·(|B(n,t)|−|B(n,t−1)|) (integer ring weights — exact
    * decimal, no lcm scaling even needed), reachable-set size
    * r(n) = |B(n, T)|, and Lin's index r(n)²/S(n) — the
    * unreachability-robust closeness variant (nodes reaching more of
    * the graph rank higher even though their distance sum grows).
    * Division only in the terminal projection, IEEE-identical both
    * engines; ordering and the top-20 cut are on exact decimals.
    */
  private val graphAnfCloseness = Q(
    "q_graph_anf_closeness",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 7 === 0)
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"node").orderBy($"t")
      GraphAlgos.anf(edges, "u", "v", maxT = 4)
        .select($"node", $"t",
          round($"estimate", 4).cast("decimal(20,4)").as("est"))
        .withColumn("prev", lag($"est", 1).over(w))
        .groupBy($"node")
        .agg(
          sum(when($"t" >= 1, ($"est" - $"prev") * $"t")).as("sumdist"),
          max(when($"t" === 4, $"est")).as("reach"))
        .select($"node",
          $"reach".cast("double").as("reachable_est"),
          $"sumdist".cast("double").as("sum_dist"),
          round(($"reach".cast("double") * $"reach".cast("double")) /
            $"sumdist".cast("double"), 4).as("lin_index"))
        .orderBy($"sumdist".desc, $"node")
        .limit(20)
    },
    Some(s"""WITH li AS (
            |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p
            |  FROM lineitem WHERE l_orderkey % 7 = 0
            |),
            |e0 AS (
            |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
            |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
            |),
            |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
            |                     UNION SELECT v, u FROM e0),
            |r0 AS (SELECT DISTINCT src AS node, src AS member FROM sym),
            |r1 AS MATERIALIZED (
            |  SELECT * FROM r0 UNION SELECT src, dst FROM sym
            |),
            |r2 AS MATERIALIZED (
            |  SELECT * FROM r1
            |  UNION SELECT r.node, s.dst FROM r1 r JOIN sym s ON s.src = r.member
            |),
            |r3 AS MATERIALIZED (
            |  SELECT * FROM r2
            |  UNION SELECT r.node, s.dst FROM r2 r JOIN sym s ON s.src = r.member
            |),
            |r4 AS MATERIALIZED (
            |  SELECT * FROM r3
            |  UNION SELECT r.node, s.dst FROM r3 r JOIN sym s ON s.src = r.member
            |),
            |all_t AS (
            |  SELECT node, 0 AS t, member FROM r0
            |  UNION ALL SELECT node, 1, member FROM r1
            |  UNION ALL SELECT node, 2, member FROM r2
            |  UNION ALL SELECT node, 3, member FROM r3
            |  UNION ALL SELECT node, 4, member FROM r4
            |),
            |dh AS MATERIALIZED (
            |  SELECT member, ${Relational.fnv63Sql("CAST(member AS VARCHAR)")} AS h
            |  FROM (SELECT DISTINCT src AS member FROM sym)
            |),
            |regs AS (
            |  SELECT a.node, a.t, ${Relational.fnv63Bucket("d.h")} AS bucket,
            |         max(${Relational.fnv63RankOf(Relational.fnv63Tail("d.h"))}) AS r
            |  FROM all_t a JOIN dh d USING (member)
            |  GROUP BY 1, 2, 3
            |),
            |agg AS (
            |  SELECT node, t,
            |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
            |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
            |  FROM regs GROUP BY node, t
            |),
            |est AS (
            |  SELECT node, t,
            |         CAST(round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
            |               (register_sum_scaled / 1073741824.0), 4)
            |              AS DECIMAL(20,4)) AS e
            |  FROM agg
            |),
            |stats AS (
            |  SELECT e1.node,
            |         sum((e1.e - e0.e) * e1.t) AS sumdist,
            |         max(CASE WHEN e1.t = 4 THEN e1.e END) AS reach4
            |  FROM est e1
            |  JOIN est e0 ON e0.node = e1.node AND e0.t = e1.t - 1
            |  WHERE e1.t >= 1
            |  GROUP BY e1.node
            |)
            |SELECT node,
            |       CAST(reach4 AS DOUBLE) AS reachable_est,
            |       CAST(sumdist AS DOUBLE) AS sum_dist,
            |       round(CAST(reach4 AS DOUBLE) * CAST(reach4 AS DOUBLE) /
            |             CAST(sumdist AS DOUBLE), 4) AS lin_index
            |FROM stats
            |ORDER BY sumdist DESC, node
            |LIMIT 20""".stripMargin),
  )

  /** Graph-sketch LAKE: run the ANF iteration ONCE, persist the raw
    * per-(node, radius) register binaries to parquet, then serve
    * MULTIPLE centrality analytics — the neighborhood-function curve
    * N(t), total harmonic mass, total sum-of-distances — from the
    * STORED sketches alone, never re-running the iteration (the graph
    * analog of q_sketch_hll_lake's train-once/serve-many story; at
    * 100 TB the iteration is the expensive part and the lake is ≤
    * |V|·(maxT+1) fixed 4 KiB rows). Registers, not estimates, are
    * what's stored — merge ≡ ball union keeps the lake composable for
    * queries this gate doesn't anticipate. The oracle rebuilds every
    * register from exact unrolled reachability and computes the same
    * summary rows, so build, parquet round-trip of the binary column,
    * and every served metric sit under one hash.
    */
  private val graphAnfLake = Q(
    "q_sketch_anf_lake",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .filter($"l_orderkey" % 7 === 0)
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      val lake = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft_anf_lake_${s.sparkContext.applicationId}").getPath
      GraphAlgos.anfRegisters(edges, "u", "v", maxT = 4)
        .write.mode("overwrite").parquet(lake)
      val est = s.read.parquet(lake)
        .select($"node", $"t",
          round(call_function(graft.functions.Hll.EvalName, $"regs")
            .getField("estimate"), 4).cast("decimal(20,4)").as("est"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"node").orderBy($"t")
      val rings = est.withColumn("prev", lag($"est", 1).over(w))
        .filter($"t" >= 1)
        .select($"t", ($"est" - $"prev").as("d"))
      val perT = est.groupBy($"t")
        .agg(sum($"est").as("v"))
        .select(concat(lit("n_t_"), $"t").as("metric"),
          $"v".cast("double").as("value"))
      val nNodes = est.agg(countDistinct($"node").as("n"))
        .select(lit("n_nodes").as("metric"), $"n".cast("double").as("value"))
      val harmonic = rings
        .agg(sum($"d" * when($"t" === 1, 12).when($"t" === 2, 6)
          .when($"t" === 3, 4).otherwise(3)).as("v"))
        .select(lit("harmonic_total_x12").as("metric"), $"v".cast("double").as("value"))
      val sumdist = rings
        .agg(sum($"d" * $"t").as("v"))
        .select(lit("sumdist_total").as("metric"), $"v".cast("double").as("value"))
      perT.union(nNodes).union(harmonic).union(sumdist).orderBy($"metric")
    },
    Some(s"""WITH li AS (
            |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p
            |  FROM lineitem WHERE l_orderkey % 7 = 0
            |),
            |e0 AS (
            |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
            |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
            |),
            |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
            |                     UNION SELECT v, u FROM e0),
            |r0 AS (SELECT DISTINCT src AS node, src AS member FROM sym),
            |r1 AS MATERIALIZED (
            |  SELECT * FROM r0 UNION SELECT src, dst FROM sym
            |),
            |r2 AS MATERIALIZED (
            |  SELECT * FROM r1
            |  UNION SELECT r.node, s.dst FROM r1 r JOIN sym s ON s.src = r.member
            |),
            |r3 AS MATERIALIZED (
            |  SELECT * FROM r2
            |  UNION SELECT r.node, s.dst FROM r2 r JOIN sym s ON s.src = r.member
            |),
            |r4 AS MATERIALIZED (
            |  SELECT * FROM r3
            |  UNION SELECT r.node, s.dst FROM r3 r JOIN sym s ON s.src = r.member
            |),
            |all_t AS (
            |  SELECT node, 0 AS t, member FROM r0
            |  UNION ALL SELECT node, 1, member FROM r1
            |  UNION ALL SELECT node, 2, member FROM r2
            |  UNION ALL SELECT node, 3, member FROM r3
            |  UNION ALL SELECT node, 4, member FROM r4
            |),
            |dh AS MATERIALIZED (
            |  SELECT member, ${Relational.fnv63Sql("CAST(member AS VARCHAR)")} AS h
            |  FROM (SELECT DISTINCT src AS member FROM sym)
            |),
            |regs AS (
            |  SELECT a.node, a.t, ${Relational.fnv63Bucket("d.h")} AS bucket,
            |         max(${Relational.fnv63RankOf(Relational.fnv63Tail("d.h"))}) AS r
            |  FROM all_t a JOIN dh d USING (member)
            |  GROUP BY 1, 2, 3
            |),
            |agg AS (
            |  SELECT node, t,
            |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
            |              (4096 - count(*)) * 1073741824 AS BIGINT) AS register_sum_scaled
            |  FROM regs GROUP BY node, t
            |),
            |est AS (
            |  SELECT node, t,
            |         CAST(round(0.7213 / (1 + 1.079 / 4096.0) * 4096.0 * 4096.0 /
            |               (register_sum_scaled / 1073741824.0), 4)
            |              AS DECIMAL(20,4)) AS e
            |  FROM agg
            |),
            |rings AS (
            |  SELECT e1.t, e1.e - e0.e AS d
            |  FROM est e1
            |  JOIN est e0 ON e0.node = e1.node AND e0.t = e1.t - 1
            |  WHERE e1.t >= 1
            |)
            |SELECT metric, value FROM (
            |  SELECT 'n_t_' || t AS metric, CAST(sum(e) AS DOUBLE) AS value
            |  FROM est GROUP BY t
            |  UNION ALL
            |  SELECT 'n_nodes', CAST(count(DISTINCT node) AS DOUBLE) FROM est
            |  UNION ALL
            |  SELECT 'harmonic_total_x12',
            |         CAST(sum(d * (CASE t WHEN 1 THEN 12 WHEN 2 THEN 6
            |                              WHEN 3 THEN 4 ELSE 3 END)) AS DOUBLE)
            |  FROM rings
            |  UNION ALL
            |  SELECT 'sumdist_total', CAST(sum(d * t) AS DOUBLE) FROM rings
            |)
            |ORDER BY metric""".stripMargin),
  )

  /** End-to-end graph-embedding TRAINING-PAIR pipeline — the
    * composition a training-data team actually runs (DeepWalk/node2vec
    * data prep, Perozzi et al. KDD '14 §4; negative sampling per
    * word2vec, Mikolov et al. NIPS '13 §2.2), assembled from three
    * already-oracled stages the way curation_v3 composes the text
    * stages:
    *
    *   1. deterministic truncated walks over the co-purchase graph
    *      (the q_graph_walks operator — every coin is fnv63, so the
    *      corpus is a pure function of the graph);
    *   2. skip-gram pairs over the walk "sentences", window ±2 — the
    *      same position-equi-join shape as q_text_skipgram, on
    *      (start, walk, step) instead of (doc_id, pos); top-100 pairs
    *      by (count desc, center, context) are the batch;
    *   3. two negatives per positive pair, drawn deterministically by
    *      fnv63 from a BUCKETED node catalog: node → (bucket = h%64,
    *      idx = rank within bucket), pair-coin → (bucket, idx) lookup.
    *      The per-bucket window keeps the catalog build partitioned —
    *      no global row_number over |V| — and the 64-row bucket-count
    *      table rides a broadcast.
    *
    * Everything is integer/hash arithmetic, so the DuckDB oracle
    * replays the whole pipeline exactly (walks via unrolled step CTEs,
    * the hash via the BIGINT+HUGEINT fnv63 program) — same walks, same
    * pairs, same negatives, bit for bit.
    */
  private val pipelineGraphEmbedding = Q(
    "q_pipeline_graph_embedding",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"), $"l_partkey".as("p"))
      val edges = li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"b.ln" === $"a.ln" + 1 && $"a.p" =!= $"b.p")
        .select(least($"a.p", $"b.p").as("u"), greatest($"a.p", $"b.p").as("v"))
        .distinct()
      val walks = GraphAlgos.deterministicWalks(edges, "u", "v",
        walksPerNode = 2, steps = 4)
      val pairs = walks.as("c").join(walks.as("o"),
          $"c.start" === $"o.start" && $"c.walk" === $"o.walk" &&
            $"c.step" =!= $"o.step" &&
            abs($"c.step" - $"o.step") <= 2)
        .groupBy($"c.node".as("center"), $"o.node".as("context"))
        .agg(count(lit(1)).as("pair_count"))
      val top = pairs.orderBy($"pair_count".desc, $"center", $"context").limit(100)
      val nodes = edges.select($"u".as("node"))
        .union(edges.select($"v".as("node"))).distinct()
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy($"bucket").orderBy($"node")
      val bucketed = nodes
        .withColumn("bucket", expr("fnv63(cast(node as string)) % 64"))
        .withColumn("idx", row_number().over(wb) - 1)
      val bcnt = bucketed.groupBy($"bucket").agg(count(lit(1)).as("bcnt"))
      top
        .withColumn("j", explode(array(lit(0), lit(1))))
        .withColumn("coin", expr(
          "fnv63(concat(cast(center as string), '_', cast(context as string), " +
            "'_', cast(j as string)))"))
        .withColumn("bucket", $"coin" % 64)
        .join(broadcast(bcnt), Seq("bucket"))
        .withColumn("idx", expr("(coin div 64) % bcnt"))
        .join(bucketed.select($"bucket", $"idx", $"node".as("neg_node")),
          Seq("bucket", "idx"))
        .select($"center", $"context", $"pair_count", $"j", $"neg_node")
        .orderBy($"center", $"context", $"j")
    },
    Some {
      def coin(k: Int) = Relational.fnv63Sql(
        s"CAST(s.start AS VARCHAR) || '_' || CAST(s.walk AS VARCHAR) || " +
          s"'_' || '$k' || '_' || CAST(s.node AS VARCHAR)")
      def stepCte(k: Int) =
        s"""s$k AS (
           |  SELECT s.start, s.walk, $k AS step, a.dst AS node
           |  FROM s${k - 1} s
           |  JOIN deg d ON d.node = s.node
           |  JOIN adj a ON a.src = s.node AND a.idx = (${coin(k)}) % d.deg
           |)""".stripMargin
      val nodeHash = Relational.fnv63Sql("CAST(node AS VARCHAR)")
      val pairCoin = Relational.fnv63Sql(
        "CAST(center AS VARCHAR) || '_' || CAST(context AS VARCHAR) || " +
          "'_' || CAST(j AS VARCHAR)")
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p FROM lineitem
         |),
         |e0 AS (
         |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.p <> b.p
         |),
         |sym AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
         |adj AS (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
         |  FROM sym
         |),
         |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
         |s0 AS (
         |  SELECT d.node AS start, w.walk, 0 AS step, d.node
         |  FROM deg d CROSS JOIN (SELECT 0 AS walk UNION ALL SELECT 1) w
         |),
         |${stepCte(1)},
         |${stepCte(2)},
         |${stepCte(3)},
         |${stepCte(4)},
         |walks AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
         |          UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
         |          UNION ALL SELECT * FROM s4),
         |pairs AS (
         |  SELECT c.node AS center, o.node AS context, count(*) AS pair_count
         |  FROM walks c JOIN walks o
         |    ON o.start = c.start AND o.walk = c.walk AND o.step <> c.step
         |   AND abs(o.step - c.step) <= 2
         |  GROUP BY 1, 2
         |),
         |top AS (
         |  SELECT * FROM pairs ORDER BY pair_count DESC, center, context LIMIT 100
         |),
         |nodes AS (SELECT u AS node FROM e0 UNION SELECT v FROM e0),
         |bucketed AS (
         |  SELECT node, bucket,
         |         row_number() OVER (PARTITION BY bucket ORDER BY node) - 1 AS idx
         |  FROM (SELECT node, ($nodeHash) % 64 AS bucket FROM nodes)
         |),
         |bcnt AS (SELECT bucket, count(*) AS bcnt FROM bucketed GROUP BY 1),
         |negs AS (
         |  SELECT t.center, t.context, t.pair_count, j.j, ($pairCoin) AS coin
         |  FROM top t CROSS JOIN (SELECT 0 AS j UNION ALL SELECT 1) j
         |)
         |SELECT n.center, n.context, n.pair_count, CAST(n.j AS INT) AS j,
         |       b.node AS neg_node
         |FROM negs n
         |JOIN bcnt c ON c.bucket = n.coin % 64
         |JOIN bucketed b ON b.bucket = n.coin % 64
         |              AND b.idx = (n.coin // 64) % c.bcnt
         |ORDER BY center, context, j""".stripMargin
    },
  )

  /** Degree assortativity of the co-purchase graph
    * (`GraphAlgos.degreeAssortativity` — Newman 2002 Pearson degree
    * correlation, exact DECIMAL(38,0) moments, one double division).
    * The oracle recomputes the same moments over HUGEINT sums with
    * the by-symmetry-simplified closed form — near 0 here (parts
    * co-occur ~uniformly), strongly negative on stars, positive on
    * hub-clustered social graphs; the one-number skew triage for any
    * derived graph before the heavier algorithms run.
    */
  private val graphAssortativity = Q(
    "q_graph_assortativity",
    (s, dir) => {
      import s.implicits._
      val items = Tables(s, dir).lineitem
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          $"a.ok" === $"b.ok" && $"a.p" < $"b.p")
        .select($"a.p".as("u"), $"b.p".as("v")).distinct()
      GraphAlgos.degreeAssortativity(edges, "u", "v")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS MATERIALIZED (
           |  SELECT DISTINCT a.p AS u, b.p AS v
           |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
           |),
           |b AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
           |d AS (SELECT u AS node, CAST(count(*) AS HUGEINT) AS deg FROM b GROUP BY u),
           |p AS (SELECT du.deg AS x, dv.deg AS y
           |      FROM b JOIN d du ON du.node = b.u JOIN d dv ON dv.node = b.v),
           |s AS (SELECT CAST(count(*) AS HUGEINT) AS m, sum(x) AS sx,
           |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
           |SELECT CAST(m AS BIGINT) AS m_directed,
           |       CASE WHEN m * sxx - sx * sx = 0 THEN NULL ELSE
           |         round(CAST(m * sxy - sx * sx AS DOUBLE) /
           |               CAST(m * sxx - sx * sx AS DOUBLE), 6) END AS r_assort
           |FROM s""".stripMargin),
  )

  /** SCC condensation of the NET-FLOW session digraph: distill the
    * events corpus to type-level transitions (one scan: per-user lag
    * window + (a, b) count), keep a→b only where the observed a→b
    * mass STRICTLY exceeds b→a (ties and self-loops drop — the
    * dominant-direction tournament), then condense with
    * `GraphAlgos.sccCondensation`: which page/event types form
    * recirculating cores vs one-way funnel stages. The corpus-sized
    * work is the distillation; the V² closure runs on the bounded
    * type domain (guarded at 4096). Oracle: the identical net-flow
    * edge derivation, then a RECURSIVE-CTE transitive closure —
    * set-union reachability, a different program shape than the
    * Spark side's path-doubling join loop.
    */
  private val graphScc = Q(
    "q_graph_scc",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = Tables(s, dir).events
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull && $"prev_type" =!= $"event_type")
        .groupBy($"prev_type".as("a"), $"event_type".as("b"))
        .agg(count(lit(1)).as("n"))
      val rev = pairs.select($"b".as("a"), $"a".as("b"), $"n".as("m"))
      val net = pairs.join(rev, Seq("a", "b"), "left")
        .filter($"n" > coalesce($"m", lit(0L)))
        .select($"a", $"b")
      GraphAlgos.sccCondensation(net, "a", "b").orderBy($"node")
    },
    Some("""WITH RECURSIVE seq AS (
           |  SELECT user_id, event_type,
           |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           |  FROM events),
           |p AS (
           |  SELECT prev_type AS a, event_type AS b, CAST(count(*) AS BIGINT) AS n
           |  FROM seq WHERE prev_type IS NOT NULL AND prev_type <> event_type
           |  GROUP BY 1, 2),
           |net AS (
           |  SELECT p.a, p.b FROM p LEFT JOIN p r ON p.a = r.b AND p.b = r.a
           |  WHERE p.n > coalesce(r.n, 0)),
           |nodes AS (SELECT a AS n FROM net UNION SELECT b FROM net),
           |reach AS (
           |  SELECT n AS a, n AS b FROM nodes
           |  UNION
           |  SELECT reach.a, net.b FROM reach JOIN net ON reach.b = net.a),
           |mutual AS (
           |  SELECT f.a, f.b FROM reach f JOIN reach g ON f.a = g.b AND f.b = g.a)
           |SELECT a AS node, min(b) AS scc_id, CAST(count(*) AS BIGINT) AS scc_size
           |FROM mutual GROUP BY a
           |ORDER BY node""".stripMargin),
  )

  /** SCC over a PER-ENTITY digraph — the graph [[graphScc]]'s 4096-node
    * condensation guard refuses: per-user daily hand-off chains (for
    * each (event_type, day), users ordered by first event; an edge
    * from each user to the next), a node domain that grows with the
    * corpus. `SccEntity.scc` runs Forward-Backward-Trim — every step
    * an |E|-keyed join, no V² frame anywhere — so the same query
    * stands at a 10⁹-user follows graph. The corpus-sized work is the
    * distillation scan + the |E|-keyed rounds; the oracle replays the
    * identical edge derivation, then a RECURSIVE-CTE set-union
    * closure — a completely different program shape (global
    * reachability relation vs trim/pivot/BFS recursion), which is the
    * point of the cross-check.
    */
  private val graphSccEntity = Q(
    "q_graph_scc_entity",
    (s, dir) => {
      import s.implicits._
      val fe = Tables(s, dir).events
        .groupBy($"event_type", date_trunc("day", $"ts").as("bkt"), $"user_id")
        .agg(min($"ts").as("fts"), min($"event_id").as("feid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type", $"bkt").orderBy($"fts", $"feid", $"user_id")
      val chain = fe.withColumn("v", lead($"user_id", 1).over(w))
        .filter($"v".isNotNull && $"v" =!= $"user_id")
        .select($"user_id".as("u"), $"v")
        .distinct()
      SccEntity.scc(chain, "u", "v").orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v FROM chain WHERE v IS NOT NULL AND u <> v),
           |nodes AS (SELECT DISTINCT u AS n FROM e UNION SELECT DISTINCT v FROM e),
           |reach AS (
           |  SELECT n AS a, n AS b FROM nodes
           |  UNION
           |  SELECT reach.a, e.v FROM reach JOIN e ON reach.b = e.u),
           |mutual AS (
           |  SELECT f.a, f.b FROM reach f JOIN reach g ON f.a = g.b AND f.b = g.a)
           |SELECT a AS node, min(b) AS scc_id, CAST(count(*) AS BIGINT) AS scc_size
           |FROM mutual GROUP BY a
           |ORDER BY node""".stripMargin),
  )

  /** Time-respecting earliest-arrival reachability
    * (`GraphAlgos.temporalReachable`) over the same per-(type, day)
    * hand-off chains as [[graphSccEntity]], now carrying each edge's
    * hand-off TIMESTAMP (the successor's first event, epoch ms):
    * from the minimum user, who can be influenced through a
    * chronologically consistent chain, and how early — the question
    * static reachability answers WRONG (anti-chronological paths
    * don't spread anything). Seed fetched as a bounded 1-row driver
    * pull (the k-means-centroid pattern).
    *
    * The SCALE move: each (type, day) chain is chronological by
    * construction (ordered by first-event time), so the query adds
    * DOUBLING SHORTCUT edges (u_i → u_{i+2^l}, depart = the first
    * hop's time, arrive = the last's) — exact composites of real
    * paths, so the fixpoint is provably unchanged, but the frontier
    * crosses a k-user chain in O(log k) rounds instead of k. Without
    * them the round count IS the temporal diameter, which grows with
    * users-per-day (measured: 62 rounds at sf0.1, >100 at sf1); with
    * them the loop converges in a few dozen rounds at any SF for
    * ~13× edge volume — the classic shortcut trade, and the right
    * one when rounds are the scarce resource. Oracle: recursive-CTE
    * candidate-arrival closure over the BASE edges only (shortcuts
    * add nothing semantically — that the two sides hash-match is
    * itself the proof).
    */
  /** First-event rows → shortcut chain; split from [[handoffChain]] so
    * the STREAMING twin (whose fe frame accumulates in complete-mode
    * state rather than a batch groupBy) shares the exact chain
    * derivation with the batch gates.
    */
  private def chainFromFe(
      fe: org.apache.spark.sql.DataFrame,
      maxWait: Option[Long] = None,
      arrivalSlack: Option[Long] = None)
      : org.apache.spark.sql.DataFrame =
    // ordering stays at FULL timestamp precision (fts, feid, user) —
    // the ms-truncated edge time is monotone along it, which is all
    // chainShortcuts' chronology contract needs
    GraphAlgos.chainShortcuts(fe,
      partCols = Seq("event_type", "bkt"),
      ordCols = Seq("fts", "feid", "user_id"),
      nodeCol = "user_id", tsCol = "ts_ms", maxLevel = 12, maxWait = maxWait,
      arrivalSlack = arrivalSlack)

  /** The per-(type, day) user hand-off chains WITH doubling shortcut
    * edges, shared by the whole temporal gate family: (u, v, dep, arr)
    * where level-2^l rows compose 2^l consecutive chronological hops
    * (see [[graphTemporalReach]]'s scaladoc for the equivalence
    * argument).
    */
  /** The first-event rows the chain derives from — split out so the
    * two-chain audit gates (aq_error, aqq_error) can compute the
    * events scan + groupBy ONCE and window it twice with different
    * gating, instead of paying the scan per chain.
    */
  private def feFrame(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy($"event_type", date_trunc("day", $"ts").as("bkt"), $"user_id")
      .agg(min($"ts").as("fts"), min($"event_id").as("feid"))
      .withColumn("ts_ms", unix_millis($"fts"))
  }

  private def handoffChain(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxWait: Option[Long] = None,
      arrivalSlack: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    // materialized ONCE: every temporal gate runs 1-2 driver actions
    // over the chain (seed / t0 pulls) BEFORE the frontier loop's own
    // edge-prep cut, and each action re-ran the whole events-scan →
    // groupBy → 13-lead window → explode → distinct pipeline — the
    // cut makes the pulls and the loop read the same materialized rows
    graft.operators.Lineage.cut(chainFromFe(feFrame(s, dir), maxWait, arrivalSlack))
  }

  private val graphTemporalReach = Q(
    "q_graph_temporal_reach",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalReachable(chain, "u", "v", "dep", "arr", seed)
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |reach AS (
           |  SELECT s AS node, CAST(0 AS BIGINT) AS arr FROM sd
           |  UNION
           |  SELECT e.v, e.ts FROM reach JOIN e ON e.u = reach.node
           |   AND e.ts >= reach.arr)
           |SELECT node, CAST(min(arr) AS BIGINT) AS arr
           |FROM reach GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** Backward twin of [[graphTemporalReach]] —
    * `GraphAlgos.temporalLatestDeparture`: every user who could have
    * influenced the MAXIMUM user through a chronological hand-off
    * path, with the latest moment they could still have done so
    * (contamination provenance: the reverse of spread). Computed by
    * TIME REVERSAL through the identical forward operator — reverse
    * each edge, negate its times — so one frontier implementation
    * serves both directions. Same shortcut edges (exact composites
    * compose backwards too); the oracle walks the BASE edges backwards
    * from the target with a max-at-the-end candidate closure.
    */
  private val graphTemporalInfluence = Q(
    "q_graph_temporal_influence",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val bounds = chain.agg(max(greatest($"u", $"v")).as("t"),
        max($"arr").as("endts")).head
      GraphAlgos.temporalLatestDeparture(chain, "u", "v", "dep", "arr",
        target = bounds.getLong(0), endTs = bounds.getLong(1))
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |tg AS (SELECT max(greatest(u, v)) AS t, max(ts) AS endts FROM e),
           |infl AS (
           |  SELECT t AS node, endts AS ld FROM tg
           |  UNION
           |  SELECT e.u, e.ts FROM infl JOIN e ON e.v = infl.node
           |   AND e.ts <= infl.ld)
           |SELECT node, CAST(max(ld) AS BIGINT) AS ld
           |FROM infl GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** FASTEST-DURATION temporal reachability
    * (`GraphAlgos.temporalFastest`) over the same hand-off chains as
    * [[graphTemporalReach]]: for every user the minimum ELAPSED time
    * of any chronologically consistent influence path from the seed —
    * the question earliest arrival answers wrong whenever leaving
    * later is faster. Duration is non-monotone in a single arrival
    * label, so per-node state is the PARETO FRONT of (source
    * departure, arrival) pairs (Wu et al. VLDB 2014 §5), bounded by
    * the seed's out-edge departure support, never corpus rows.
    *
    * Scale shape inherited whole from the earliest-arrival gate: the
    * same doubling shortcut edges (exact composites carrying their
    * first hop's departure, so fronts are provably preserved — the
    * hash match against a base-edges-only oracle is the proof), the
    * same |frontier|-keyed relaxation joins, per-node window pruning
    * over the bounded front, settle/release per round. Oracle:
    * recursive-CTE enumeration of the FULL label sets (no pruning) on
    * base edges — a deliberately different program shape whose min
    * must agree with the pruned frontier loop.
    */
  private val graphTemporalFastest = Q(
    "q_graph_temporal_fastest",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalFastest(chain, "u", "v", "dep", "arr", seed)
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, labels.d, e.ts
           |  FROM labels JOIN e ON e.u = labels.node AND e.ts >= labels.a)
           |SELECT node, CAST(min(a - d) AS BIGINT) AS fastest
           |FROM labels WHERE node <> (SELECT s FROM sd)
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** The PARETO FRONTS themselves (`GraphAlgos.temporalParetoLabels`)
    * — a strictly stronger pin than [[graphTemporalFastest]]'s
    * min-duration aggregate: the front of a fixed label set is UNIQUE
    * (no arrival-order dependence — dominance is a property of the
    * set, not the construction), so the gate hash-matches every
    * (node, departure, arrival) pair the pruned frontier loop retains
    * against an oracle that enumerates ALL labels and filters
    * non-dominated ones with a NOT EXISTS — the pruning itself is
    * what's under the hash. This is the temporal-profile query (Wu et
    * al.'s profile problem): "for every start time, when do I
    * arrive", the full answer surface behind fastest/earliest.
    */
  private val graphTemporalProfile = Q(
    "q_graph_temporal_profile",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalParetoLabels(chain, "u", "v", "dep", "arr", seed)
        .orderBy($"node", $"d")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, labels.d, e.ts
           |  FROM labels JOIN e ON e.u = labels.node AND e.ts >= labels.a)
           |SELECT node, CAST(d AS BIGINT) AS d, CAST(a AS BIGINT) AS a
           |FROM labels l
           |WHERE node <> (SELECT s FROM sd)
           |  AND NOT EXISTS (
           |    SELECT 1 FROM labels m
           |    WHERE m.node = l.node
           |      AND ((m.d > l.d AND m.a <= l.a) OR (m.d >= l.d AND m.a < l.a)))
           |ORDER BY node, d""".stripMargin),
  )

  /** MULTI-SEED temporal closeness (`GraphAlgos.temporalFastestMulti`):
    * fastest durations from a BATCH of seeds in one shared frontier
    * loop — the round count is the max temporal diameter over seeds,
    * not the sum, and every round's edge join carries all seeds'
    * frontiers at once (the centrality shape: per-seed aggregates over
    * shared front computation). Seeds are the three smallest node ids
    * (a bounded deterministic driver pull, the k-means-init pattern).
    * Per seed the gate emits reach count, total fastest duration, and
    * a libm-free harmonic closeness — Σ 10¹² div (1 + fastest_ms),
    * integer floor division term by term, so the centrality is an
    * order-free exact sum both engines reproduce bit for bit. Oracle:
    * the same recursive-CTE FULL label-closure enumeration as the
    * single-seed gates, seeded three ways — the hash match proves the
    * shared-loop batching changes nothing a seed can observe.
    */
  private val graphTemporalMultiCloseness = Q(
    "q_graph_temporal_multi_closeness",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val seeds = chain.select($"u".as("nd")).union(chain.select($"v".as("nd")))
        .distinct().orderBy($"nd").limit(3)
        .collect().map(_.getLong(0)).toSeq
      def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        ((a - pmod(a, b)) / b).cast("long")
      GraphAlgos.temporalFastestMulti(chain, "u", "v", "dep", "arr", seeds)
        .groupBy($"seed")
        .agg(
          count(lit(1)).as("n_reached"),
          sum($"fastest").as("sum_fastest"),
          sum(fdiv(lit(1000000000000L), lit(1L) + $"fastest")).as("harmonic_ppt"))
        .orderBy($"seed")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |nodes AS (SELECT DISTINCT nd FROM (
           |  SELECT u AS nd FROM e UNION ALL SELECT v AS nd FROM e)),
           |sd AS (SELECT nd AS s FROM nodes ORDER BY nd LIMIT 3),
           |labels AS (
           |  SELECT sd.s, e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT l.s, e.v, l.d, e.ts
           |  FROM labels l JOIN e ON e.u = l.node AND e.ts >= l.a),
           |fast AS (
           |  SELECT s, node, min(a - d) AS fastest
           |  FROM labels WHERE node <> s GROUP BY s, node)
           |SELECT s AS seed, CAST(count(*) AS BIGINT) AS n_reached,
           |       CAST(sum(fastest) AS BIGINT) AS sum_fastest,
           |       CAST(sum(1000000000000 // (1 + fastest)) AS BIGINT)
           |         AS harmonic_ppt
           |FROM fast GROUP BY s
           |ORDER BY seed""".stripMargin),
  )

  /** BOUNDED-WAITING temporal reachability
    * (`GraphAlgos.temporalBoundedWait`, maxWait = 2 000 000 ms ≈ 33 min
    * — the chains' median hand-off gap is ~18 min, p90 ~1 h, so the
    * bound genuinely bites): earliest arrival when influence cannot
    * linger more than W at any intermediate user. The second
    * non-monotone temporal problem: a LATER arrival can catch an edge
    * the earliest cannot wait for, so (d, a) Pareto pruning is
    * UNSOUND here and per-node state is the distinct reachable
    * arrival-time set (exact dedup, bounded by in-edge timestamp
    * support). The shortcut edges are WAIT-RESPECTING — a composite is
    * emitted only when every contracted intermediate gap is ≤ W
    * (chainShortcuts' maxWait gating; plain composites would contract
    * over-long waits and overstate reachability, the spec's negative
    * control) — and the oracle walks BASE edges only, so the hash
    * match proves the gating exact. Rounds stay O(log chain) for the
    * wait-feasible spans.
    */
  private val graphTemporalBoundedWait = Q(
    "q_graph_temporal_bounded_wait",
    (s, dir) => {
      import s.implicits._
      val w = 2000000L
      val chain = handoffChain(s, dir, maxWait = Some(w))
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalBoundedWait(chain, "u", "v", "dep", "arr", seed, w)
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, e.ts AS a FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, e.ts FROM labels JOIN e ON e.u = labels.node
           |   AND e.ts >= labels.a AND e.ts - labels.a <= 2000000)
           |SELECT node, CAST(min(a) AS BIGINT) AS arr
           |FROM labels WHERE node <> (SELECT s FROM sd)
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** FASTEST DURATION UNDER THE WAITING BOUND
    * (`GraphAlgos.temporalBoundedWaitFastest`) — the composition of
    * the round's two non-monotone temporal gates: minimum elapsed
    * influence time when no intermediate user may hold the baton
    * longer than W. Per-node state is the full distinct (d, a) label
    * set (duration needs d; waiting bounds make Pareto pruning
    * unsound), exact dedup only; the same wait-respecting shortcut
    * edges as [[graphTemporalBoundedWait]], with the base-edges-only
    * oracle enumerating the complete label closure — the hash match
    * proves pruning-free state + shortcut gating at once.
    */
  private val graphTemporalBwFastest = Q(
    "q_graph_temporal_bw_fastest",
    (s, dir) => {
      import s.implicits._
      val w = 2000000L
      val chain = handoffChain(s, dir, maxWait = Some(w))
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalBoundedWaitFastest(chain, "u", "v", "dep", "arr", seed, w)
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, labels.d, e.ts
           |  FROM labels JOIN e ON e.u = labels.node
           |   AND e.ts >= labels.a AND e.ts - labels.a <= 2000000)
           |SELECT node, CAST(min(a - d) AS BIGINT) AS fastest
           |FROM labels WHERE node <> (SELECT s FROM sd)
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** FRONT REUSE ACROSS A START-TIME SWEEP: the Pareto fronts from ONE
    * [[GraphAlgos.temporalParetoLabels]] loop answer EVERY start time
    * — the front for start T is exactly the full front restricted to
    * d ≥ T (a dominator has d ≥ the dominated label's d, so dominance
    * within the subset is inherited both ways; argued here, pinned by
    * the hash). The gate runs the loop ONCE (fronts settled) and
    * emits three start times' (n_reached, sum of per-node fastest)
    * from filtered aggregates — the k-question profile sweep at the
    * cost of one question, where the naive API would pay k frontier
    * loops. Oracle: the full unpruned label closure, filtered per
    * start time — so the hash also re-proves the restriction identity
    * against an enumeration that never pruned anything.
    */
  private val graphTemporalProfileSweep = Q(
    "q_graph_temporal_profile_sweep",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      val t0 = chain.agg(min($"dep".cast("long"))).head.getLong(0)
      val (fronts, _) = graft.operators.Lineage.settle(
        GraphAlgos.temporalParetoLabels(chain, "u", "v", "dep", "arr", seed))
      Seq(0L, 21600000L, 43200000L).zipWithIndex.map { case (off, i) =>
        fronts.filter($"d" >= t0 + off)
          .groupBy($"node").agg(min($"a" - $"d").as("fastest"))
          .agg(count(lit(1)).as("n_reached"),
            coalesce(sum($"fastest"), lit(0L)).as("sum_fastest"))
          .select(lit(i).as("sweep"), lit(t0 + off).as("start_ms"),
            $"n_reached", $"sum_fastest")
      }.reduce(_ union _).orderBy($"sweep")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, labels.d, e.ts
           |  FROM labels JOIN e ON e.u = labels.node AND e.ts >= labels.a),
           |t0 AS (SELECT min(ts) AS t FROM e),
           |sweep AS (
           |  SELECT 0 AS k, 0 AS off
           |  UNION ALL SELECT 1, 21600000
           |  UNION ALL SELECT 2, 43200000),
           |fr AS (
           |  SELECT sw.k, l.node, min(l.a - l.d) AS fastest
           |  FROM labels l, sweep sw, t0
           |  WHERE l.d >= t0.t + sw.off AND l.node <> (SELECT s FROM sd)
           |  GROUP BY sw.k, l.node),
           |agg AS (
           |  SELECT k, count(*) AS c, sum(fastest) AS sf FROM fr GROUP BY k)
           |SELECT CAST(sw.k AS INTEGER) AS sweep,
           |       CAST(t0.t + sw.off AS BIGINT) AS start_ms,
           |       CAST(coalesce(agg.c, 0) AS BIGINT) AS n_reached,
           |       CAST(coalesce(agg.sf, 0) AS BIGINT) AS sum_fastest
           |FROM sweep sw CROSS JOIN t0 LEFT JOIN agg ON agg.k = sw.k
           |ORDER BY sweep""".stripMargin),
  )

  /** ALL-NODES temporal reach via ANF over the temporal frontier
    * ([[GraphAlgos.temporalAnfReach]]) — every user's time-respecting
    * influence-set size from ONE O(|E|)-state iteration, where exact
    * per-seed closures would cost a frontier loop per node. Runs on
    * the SHORTCUT chain (plain composites — monotone semantics, so
    * reachability is preserved and rounds collapse to O(log chain));
    * the oracle rebuilds every node's HLL registers from the exact
    * BASE-edge recursive closure with the fnv63 register SQL at the
    * SAME width. Register merge is exact set union, so the hash match
    * proves the edge-sketch fixpoint computes precisely sketch(true
    * reach set) for every node — approximation lives only in HLL's
    * readout, which both sides evaluate identically. The gate runs
    * registerWidth = 512 (ε ≈ 1.04/√512 ≈ 4.6 %) — the iteration
    * moves one register binary per active pointer per round, so the
    * width is the dominant cost term and 512 is the setting a reach
    * profile actually ships (8× fewer bytes than the 4096 the
    * cardinality gates use); the oracle's bucket/tail/rank SQL uses
    * the matching 9-bit split (h >> 54, 54-bit tail, rank cap 30).
    */
  /** Shared readout of [[GraphAlgos.temporalAnfReach]]'s register
    * state (batch gate + streaming twin): evaluate each node's widest
    * suffix sketch to (estimate, nonzero, register sum).
    */
  private def anfReachReadout(regs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import regs.sparkSession.implicits._
    regs
      .select($"node",
        call_function(graft.functions.Hll.EvalWName, $"regs").as("ev"))
      .select($"node",
        round($"ev.estimate", 4).cast("decimal(20,4)").as("reach_est"),
        $"ev.nonzero_buckets".as("nonzero_buckets"),
        $"ev.register_sum_scaled".as("reg_sum"))
      .orderBy($"node")
  }

  private val graphTemporalAnf = Q(
    "q_graph_temporal_anf",
    (s, dir) => {
      val chain = handoffChain(s, dir)
      anfReachReadout(GraphAlgos.temporalAnfReach(chain, "u", "v", "dep", "arr",
        registerWidth = 512))
    },
    Some(temporalAnfOracleSql),
  )

  /** The fnv63 register-rebuild CTEs shared by every ANF oracle: given
    * a `labels` CTE in scope carrying (`keyCols`…, node), emits
    * mem/dh/regs/agg where `agg` holds (`keyCols`…, reg_sum,
    * nonzero_buckets) at width 512 — ONE copy of the 9-bit bucket
    * split, the rank CASE (52/55/cap-30), and the register-sum
    * identity, so a width or estimator change cannot silently diverge
    * between the batch, streaming, and profile gates.
    */
  private def anfRegisterCtesSql(keyCols: String): String =
    s"""mem AS (SELECT DISTINCT $keyCols, node AS member FROM labels),
       |dh AS MATERIALIZED (
       |  SELECT member, ${Relational.fnv63Sql("CAST(member AS VARCHAR)")} AS h
       |  FROM (SELECT DISTINCT node AS member FROM labels)),
       |regs AS (
       |  SELECT $keyCols, (h >> 54) AS bucket,
       |         max(least(CASE
       |           WHEN (h & ((CAST(1 AS BIGINT) << 54) - 1)) = 0 THEN 52
       |           ELSE 55 - length(bin(h & ((CAST(1 AS BIGINT) << 54) - 1)))
       |         END, 30)) AS r
       |  FROM mem JOIN dh USING (member)
       |  GROUP BY $keyCols, bucket),
       |agg AS (
       |  SELECT $keyCols,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST(30 - r AS INT)) +
       |              (512 - count(*)) * 1073741824 AS BIGINT) AS reg_sum,
       |         CAST(count(*) AS BIGINT) AS nonzero_buckets
       |  FROM regs GROUP BY $keyCols)""".stripMargin

  /** The width-512 HLL estimate readout over `agg`'s reg_sum. A def,
    * not a val: gate vals declared ABOVE force the lazy oracle string
    * during object init, before a val here would be assigned.
    */
  private def anfEstimateSql: String =
    "CAST(round(0.7213 / (1 + 1.079 / 512.0) * 512.0 * 512.0 / " +
      "(reg_sum / 1073741824.0), 4) AS DECIMAL(20,4))"

  /** Register-exact oracle shared by q_graph_temporal_anf and its
    * streaming twin: rebuild every node's HLL registers from the exact
    * BASE-edge recursive closure with [[anfRegisterCtesSql]]'s fnv63
    * register SQL at width 512 (9-bit bucket split, rank cap 30).
    */
  private lazy val temporalAnfOracleSql: String =
    s"""WITH RECURSIVE fe AS (
            |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
            |         min(ts) AS fts, min(event_id) AS feid
            |  FROM events GROUP BY 1, 2, 3),
            |chain AS (
            |  SELECT user_id AS u,
            |         lead(user_id) OVER (PARTITION BY event_type, bkt
            |                             ORDER BY fts, feid, user_id) AS v,
            |         lead(fts) OVER (PARTITION BY event_type, bkt
            |                         ORDER BY fts, feid, user_id) AS vts
            |  FROM fe),
            |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
            |      FROM chain WHERE v IS NOT NULL AND u <> v),
            |labels AS (
            |  SELECT e.u AS s, e.v AS node, e.ts AS a FROM e
            |  UNION
            |  SELECT l.s, e.v, e.ts
            |  FROM labels l JOIN e ON e.u = l.node AND e.ts >= l.a),
            |${anfRegisterCtesSql("s")}
            |SELECT s AS node,
            |       $anfEstimateSql AS reach_est,
            |       nonzero_buckets, reg_sum
            |FROM agg
            |ORDER BY node""".stripMargin

  /** STREAMING twin of [[graphTemporalAnf]] — the one member of the
    * temporal/sketch families that lacked a live monitor. The
    * reference anchor is the collector's live feed
    * (`collector/src/main.rs:358-397`): exactly the arrival stream an
    * influence-reach monitor would watch. The STREAMING state is the
    * chain's ground truth — first event per (type, day, user) — whose
    * aggregates are both mergeable MINs, so complete-mode accumulation
    * is the grouped-KS pattern at BASE-table-size state (one row per
    * (type, day, user), independent of stream length); every arriving
    * event either creates its row or min-merges into it. The FINISH
    * reuses the batch machinery verbatim on the settled state —
    * [[chainFromFe]] (shortcuts included) then
    * [[GraphAlgos.temporalAnfReach]] at the same width 512 and the
    * shared readout — and gates against the IDENTICAL register-exact
    * oracle as the batch gate, so the hash match proves the
    * incremental first-event state converges to exactly the batch
    * chain input (the same proof shape as q_stream_dedup_lsh's
    * bucket-state convergence).
    */
  private val graphStreamTemporalAnf = Q(
    "q_stream_temporal_anf",
    (s, dir) => {
      import s.implicits._
      val fe = ScopedConf.streamGate(s, "graft_stream_temporal_anf_gate", "complete") {
        Tables.normalizeEventTs(Tables.streamTable(s, dir, "events"))
          .groupBy($"event_type", date_trunc("day", $"ts").as("bkt"), $"user_id")
          .agg(min($"ts").as("fts"), min($"event_id").as("feid"))
      }
      // batch finish on the settled first-event state: shortcut chain +
      // register fixpoint + shared readout, all identical to the batch gate
      val feB = fe.withColumn("ts_ms", unix_millis($"fts"))
      anfReachReadout(GraphAlgos.temporalAnfReach(
        chainFromFe(feB), "u", "v", "dep", "arr", registerWidth = 512))
    },
    Some(temporalAnfOracleSql),
  )

  /** The profile gate's sweep grid: 8 cells at 3-hour spacing. A
    * `def` (object-init-order trap — gate vals interpolate this into
    * their oracle strings).
    */
  private def anfProfileOffsets: Seq[Long] = (0 to 7).map(_ * 10800000L)

  /** The exact-closure profile oracle for ANY sweep grid: per cell k,
    * the BASE-edge recursive closure with the seed-hop constraint
    * dep ≥ t0 + off(k), registers rebuilt at width 512.
    */
  private def anfProfileOracleSql(offsets: Seq[Long]): String = {
    val sweepRows = offsets.zipWithIndex.map { case (off, k) =>
      if (k == 0) s"  SELECT $k AS k, $off AS off"
      else s"  UNION ALL SELECT $k, $off"
    }.mkString("\n")
    s"""WITH RECURSIVE fe AS (
       |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
       |         min(ts) AS fts, min(event_id) AS feid
       |  FROM events GROUP BY 1, 2, 3),
       |chain AS (
       |  SELECT user_id AS u,
       |         lead(user_id) OVER (PARTITION BY event_type, bkt
       |                             ORDER BY fts, feid, user_id) AS v,
       |         lead(fts) OVER (PARTITION BY event_type, bkt
       |                         ORDER BY fts, feid, user_id) AS vts
       |  FROM fe),
       |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
       |      FROM chain WHERE v IS NOT NULL AND u <> v),
       |t0 AS (SELECT min(ts) AS t FROM e),
       |sweep AS (
       |$sweepRows),
       |labels AS (
       |  SELECT sw.k, e.u AS s, e.v AS node, e.ts AS a
       |  FROM e, sweep sw, t0 WHERE e.ts >= t0.t + sw.off
       |  UNION
       |  SELECT l.k, l.s, e.v, e.ts
       |  FROM labels l JOIN e ON e.u = l.node AND e.ts >= l.a),
       |${anfRegisterCtesSql("k, s")}
       |SELECT a.s AS node, CAST(a.k AS INTEGER) AS sweep,
       |       CAST(t0.t + sw.off AS BIGINT) AS start_ms,
       |       $anfEstimateSql AS reach_est,
       |       nonzero_buckets, reg_sum
       |FROM agg a JOIN sweep sw ON sw.k = a.k CROSS JOIN t0
       |ORDER BY node, sweep""".stripMargin
  }

  /** ALL-NODES reach profile across a START-TIME SWEEP from ONE ANF
    * fixpoint — the front-reuse trick (q_graph_temporal_profile_sweep,
    * q_graph_temporal_matrix) extended to the ANF family: the
    * per-(node, breakpoint) suffix table S(x, b) that
    * [[GraphAlgos.temporalAnfReachState]] settles already answers
    * EVERY start time, because reach from x starting at T is
    * S(x, smallest breakpoint ≥ T) — no breakpoint lies in [T, b),
    * so the out-edges departing ≥ T are exactly those departing ≥ b.
    * The sweep grid is a PARAMETER
    * ([[GraphAlgos.temporalAnfProfile]] takes any `Seq[Long]` of
    * start times), and the readout is k-INDEPENDENT in register
    * traffic: narrow (node, min dep ≥ T) picks per cell, ONE
    * register-carrying equi-join for the whole grid — so this gate
    * sweeps 8 cells at 3-hour spacing for ~1× the one-profile price,
    * where the naive API pays 8 fixpoints. Oracle: the exact
    * BASE-edge recursive closure with the seed-hop constraint
    * dep ≥ T per sweep cell, registers rebuilt at the same width
    * 512 — each cell's hash re-proves BOTH the suffix-readout
    * identity and shortcut-invariance at interior breakpoints (the
    * batch gate pins only the widest suffix; this pins S(x, b) at
    * every swept b).
    */
  private val graphTemporalAnfProfile = Q(
    "q_graph_temporal_anf_profile",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val t0 = chain.agg(min($"dep".cast("long"))).head.getLong(0)
      val st = GraphAlgos.temporalAnfReachState(chain, "u", "v", "dep", "arr",
        registerWidth = 512)
      GraphAlgos.temporalAnfProfile(st, anfProfileOffsets.map(t0 + _))
        .select($"node", $"sweep", $"start_ms",
          call_function(graft.functions.Hll.EvalWName, $"regs").as("ev"))
        .select($"node", $"sweep", $"start_ms",
          round($"ev.estimate", 4).cast("decimal(20,4)").as("reach_est"),
          $"ev.nonzero_buckets".as("nonzero_buckets"),
          $"ev.register_sum_scaled".as("reg_sum"))
        .orderBy($"node", $"sweep")
    },
    Some(anfProfileOracleSql(anfProfileOffsets)),
  )

  /** The SEED × START-TIME PROFILE MATRIX from ONE frontier loop —
    * the composition of round 11's two front-reuse tricks: the
    * multi-seed shared loop (state keyed (seed, node), rounds = max
    * diameter across seeds, not the sum) and the start-time
    * restriction identity (front(T) = front(0) restricted to d ≥ T,
    * applied per seed — dominance is inherited both ways inside the
    * d ≥ T subset). [[GraphAlgos.temporalParetoLabelsMulti]] runs
    * ONCE (fronts settled); the 3 seeds × 3 start times = 9 cells
    * are filtered aggregates over the same frame, so the matrix
    * costs one loop where the naive API pays nine. Cells where a
    * (seed, T) pair reaches nothing stay present with zeros (the
    * seed grid is crossed with the sweep grid, aggregates
    * left-joined in). Oracle: the per-seed full unpruned label
    * closure, filtered per start time — every cell's hash re-proves
    * the restriction identity against an enumeration that never
    * pruned, seed by seed.
    */
  private val graphTemporalMatrix = Q(
    "q_graph_temporal_matrix",
    (s, dir) => {
      import s.implicits._
      val chain = handoffChain(s, dir)
      val seeds = chain.select($"u".as("nd")).union(chain.select($"v".as("nd")))
        .distinct().orderBy($"nd").limit(3)
        .collect().map(_.getLong(0)).toSeq
      val t0 = chain.agg(min($"dep".cast("long"))).head.getLong(0)
      val (fronts, _) = graft.operators.Lineage.settle(
        GraphAlgos.temporalParetoLabelsMulti(chain, "u", "v", "dep", "arr", seeds))
      val grid = seeds.toDF("seed").crossJoin(
        Seq((0, 0L), (1, 21600000L), (2, 43200000L)).toDF("sweep", "off"))
        .select($"seed", $"sweep", ($"off" + t0).as("start_ms"))
      val cells = Seq(0L, 21600000L, 43200000L).zipWithIndex.map { case (off, i) =>
        fronts.filter($"d" >= t0 + off)
          .groupBy($"seed", $"node").agg(min($"a" - $"d").as("fastest"))
          .groupBy($"seed").agg(count(lit(1)).as("n_reached"),
            sum($"fastest").as("sum_fastest"))
          .select($"seed", lit(i).as("sweep"), $"n_reached", $"sum_fastest")
      }.reduce(_ union _)
      grid.join(cells, Seq("seed", "sweep"), "left")
        .select($"seed", $"sweep", $"start_ms",
          coalesce($"n_reached", lit(0L)).as("n_reached"),
          coalesce($"sum_fastest", lit(0L)).as("sum_fastest"))
        .orderBy($"seed", $"sweep")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |nodes AS (SELECT DISTINCT nd FROM (
           |  SELECT u AS nd FROM e UNION ALL SELECT v AS nd FROM e)),
           |sd AS (SELECT nd AS s FROM nodes ORDER BY nd LIMIT 3),
           |labels AS (
           |  SELECT sd.s, e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT l.s, e.v, l.d, e.ts
           |  FROM labels l JOIN e ON e.u = l.node AND e.ts >= l.a),
           |t0 AS (SELECT min(ts) AS t FROM e),
           |sweep AS (
           |  SELECT 0 AS k, 0 AS off
           |  UNION ALL SELECT 1, 21600000
           |  UNION ALL SELECT 2, 43200000),
           |fr AS (
           |  SELECT l.s, sw.k, l.node, min(l.a - l.d) AS fastest
           |  FROM labels l, sweep sw, t0
           |  WHERE l.d >= t0.t + sw.off AND l.node <> l.s
           |  GROUP BY l.s, sw.k, l.node),
           |agg AS (
           |  SELECT s, k, count(*) AS c, sum(fastest) AS sf
           |  FROM fr GROUP BY s, k)
           |SELECT sd.s AS seed, CAST(sw.k AS INTEGER) AS sweep,
           |       CAST(t0.t + sw.off AS BIGINT) AS start_ms,
           |       CAST(coalesce(agg.c, 0) AS BIGINT) AS n_reached,
           |       CAST(coalesce(agg.sf, 0) AS BIGINT) AS sum_fastest
           |FROM sd CROSS JOIN sweep sw CROSS JOIN t0
           |LEFT JOIN agg ON agg.s = sd.s AND agg.k = sw.k
           |ORDER BY seed, sweep""".stripMargin),
  )

  /** The quantizeDepartures knob UNDER THE DRIVER HASH — not just
    * spec-pinned: [[graphTemporalBwFastest]] with seed departures
    * floored to 1-hour buckets (`quantizeDepartures = 3 600 000 ms`),
    * against an oracle whose recursive label closure floors the SAME
    * d at the seed rows (`(ts // q) * q`) and carries it unchanged —
    * so the hash match proves the knob's exact semantics end to end:
    * the reachable node set is IDENTICAL to the exact gate's (the
    * traversal never reads d) and every duration is the documented
    * conservative upper bound within its q-bucket. This is the lever
    * a dense-seed deployment pulls when the label-support guard
    * raises; gating it keeps the coarse semantics from drifting.
    */
  private val graphTemporalBwFastestQuantized = Q(
    "q_graph_temporal_bw_fastest_q",
    (s, dir) => {
      import s.implicits._
      val w = 2000000L
      val chain = handoffChain(s, dir, maxWait = Some(w))
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalBoundedWaitFastest(chain, "u", "v", "dep", "arr",
        seed, w, quantizeDepartures = Some(3600000L))
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, (e.ts // 3600000) * 3600000 AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, labels.d, e.ts
           |  FROM labels JOIN e ON e.u = labels.node
           |   AND e.ts >= labels.a AND e.ts - labels.a <= 2000000)
           |SELECT node, CAST(min(a - d) AS BIGINT) AS fastest
           |FROM labels WHERE node <> (SELECT s FROM sd)
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** The quantizeArrivals knob UNDER THE DRIVER HASH — the ARRIVAL-
    * side state lever ([[GraphAlgos.temporalBoundedWaitFastest]]
    * `quantizeArrivals = 600 000 ms`), the axis the departure knob
    * cannot touch (measured at sf1: label growth is arrival-
    * dominated). Semantics are the g-SLACK closure — edge usable iff
    * `dep ≥ ceil_g(a) ∧ dep ≤ floor_g(a) + W` — which is
    * deterministic and exactly enumerable, so the oracle walks the
    * full recursive label closure over BASE edges with the SAME
    * tightened predicate in SQL (`ceil`/`floor` spelled in modular
    * arithmetic at the join), while the Spark side runs class-keyed
    * state over g-slack-GATED shortcut edges (chainShortcuts
    * `arrivalSlack` — interior waits checked with the identical
    * predicate at composition time). The hash match therefore proves
    * three things at once: the class-collapse is exact for the
    * g-slack semantics, min-arrival merging across rounds loses
    * nothing, and the slack-gated shortcuts preserve the fixpoint.
    * Every reported duration is a REAL wait-bounded path's (the
    * predicate only forbids), so this coarsening never invents
    * reachability — the honest trade is completeness only for paths
    * with per-hop slack ≥ g.
    */
  private val graphTemporalBwFastestArrQuantized = Q(
    "q_graph_temporal_bw_fastest_aq",
    (s, dir) => {
      import s.implicits._
      val w = 2000000L
      val g = 600000L
      val chain = handoffChain(s, dir, maxWait = Some(w), arrivalSlack = Some(g))
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalBoundedWaitFastest(chain, "u", "v", "dep", "arr",
        seed, w, quantizeArrivals = Some(g))
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, labels.d, e.ts
           |  FROM labels JOIN e ON e.u = labels.node
           |   AND e.ts >= labels.a + ((600000 - labels.a % 600000) % 600000)
           |   AND e.ts - (labels.a - (labels.a % 600000)) <= 2000000)
           |SELECT node, CAST(min(a - d) AS BIGINT) AS fastest
           |FROM labels WHERE node <> (SELECT s FROM sd)
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** BOTH quantization levers COMPOSED under one hash — the dense-
    * deployment configuration: seed departures floored to 1-hour
    * buckets (`quantizeDepartures`) AND the g-slack arrival predicate
    * (`quantizeArrivals`, 10 min) in the same loop, state
    * (node, d-bucket, arrival-class). The axes are independent by
    * construction — d is never read by traversal, the g-slack
    * predicate never reads d — so the composed semantics is exactly
    * "the g-slack closure with floored seed departures", which is
    * what the oracle enumerates (floor at the seed rows, tightened
    * predicate at the recursion; each lever's oracle edit, applied
    * together). The hash match pins the composition, not just the
    * parts: a traversal that accidentally coupled the axes (e.g.
    * read the floored d in the slack window) would diverge here
    * while both single-lever gates stayed green.
    */
  private val graphTemporalBwFastestBothQuantized = Q(
    "q_graph_temporal_bw_fastest_aqq",
    (s, dir) => {
      import s.implicits._
      val w = 2000000L
      val g = 600000L
      val chain = handoffChain(s, dir, maxWait = Some(w), arrivalSlack = Some(g))
      val seed = chain.agg(min(least($"u", $"v"))).head.getLong(0)
      GraphAlgos.temporalBoundedWaitFastest(chain, "u", "v", "dep", "arr",
        seed, w, quantizeDepartures = Some(3600000L), quantizeArrivals = Some(g))
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |labels AS (
           |  SELECT e.v AS node, (e.ts // 3600000) * 3600000 AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, labels.d, e.ts
           |  FROM labels JOIN e ON e.u = labels.node
           |   AND e.ts >= labels.a + ((600000 - labels.a % 600000) % 600000)
           |   AND e.ts - (labels.a - (labels.a % 600000)) <= 2000000)
           |SELECT node, CAST(min(a - d) AS BIGINT) AS fastest
           |FROM labels WHERE node <> (SELECT s FROM sd)
           |GROUP BY node
           |ORDER BY node""".stripMargin),
  )

  /** The g-slack QUANTIZATION-ERROR AUDIT — the aq contract is
    * one-sided (paths must carry per-hop slack ≥ g, so nodes can DROP
    * and durations can only OVERSTATE); this gate turns that contract
    * into a MEASURED operating point the way q_embed_ivf_recall priced
    * nprobe: both legs — the exact bounded-wait fastest closure and
    * the g-slack aq closure at the SAME W/g as the aq gate — run
    * in-engine, join per node, and emit the dropped-node count plus
    * the overstatement distribution (zero/overstated counts, max,
    * sum, and a g-bucketed histogram of f_aq − f_exact). Soundness
    * of the sign: aq labels are real wait-bounded paths (the
    * predicate only forbids), so per node min-over-subset ≥
    * min-over-all — overstatement is provably ≥ 0, and the gate's
    * zero-count row measures how often the lever is FREE. Oracle:
    * both recursive label closures side by side in one
    * WITH RECURSIVE block (exact predicate and tightened predicate),
    * joined and summarized with identical arithmetic — so the hash
    * pins the audit itself, not just the legs.
    */
  private val graphTemporalAqError = Q(
    "q_graph_temporal_aq_error",
    (s, dir) => {
      import s.implicits._
      val w = 2000000L
      val g = 600000L
      // one events scan + first-event groupBy feeds BOTH chains (the
      // two windows differ only in slack gating)
      val fe = graft.operators.Lineage.cut(feFrame(s, dir))
      val chainExact = graft.operators.Lineage.cut(
        chainFromFe(fe, maxWait = Some(w)))
      val seed = chainExact.agg(min(least($"u", $"v"))).head.getLong(0)
      val exact = GraphAlgos.temporalBoundedWaitFastest(
        chainExact, "u", "v", "dep", "arr", seed, w)
      val chainAq = chainFromFe(fe, maxWait = Some(w), arrivalSlack = Some(g))
      val aq = GraphAlgos.temporalBoundedWaitFastest(
        chainAq, "u", "v", "dep", "arr", seed, w, quantizeArrivals = Some(g))
      val (j, _) = graft.operators.Lineage.settle(
        exact.select($"node", $"fastest".as("f_exact"))
          .join(aq.select($"node", $"fastest".as("f_aq")), Seq("node"), "left")
          .withColumn("over", $"f_aq" - $"f_exact"))
      val stats = j.agg(
          count(lit(1)).as("n_exact"),
          count($"f_aq").as("n_aq"),
          sum(when($"over" === 0L, 1L).otherwise(0L)).as("n_zero"),
          sum(when($"over" > 0L, 1L).otherwise(0L)).as("n_over"),
          coalesce(max($"over"), lit(0L)).as("over_max"),
          coalesce(sum($"over"), lit(0L)).as("over_sum"))
        .select(explode(array(
          struct(lit("nodes_exact").as("stat"), $"n_exact".cast("long").as("v")),
          struct(lit("nodes_aq").as("stat"), $"n_aq".cast("long").as("v")),
          struct(lit("nodes_dropped").as("stat"),
            ($"n_exact" - $"n_aq").cast("long").as("v")),
          struct(lit("nodes_exact_duration").as("stat"), $"n_zero".cast("long").as("v")),
          struct(lit("nodes_overstated").as("stat"), $"n_over".cast("long").as("v")),
          struct(lit("overstatement_max_ms").as("stat"), $"over_max".cast("long").as("v")),
          struct(lit("overstatement_sum_ms").as("stat"), $"over_sum".cast("long").as("v")),
        )).as("r"))
        .select($"r.stat".as("stat"), $"r.v".as("v"))
      val buckets = j.filter($"over" > 0L)
        .groupBy(($"over" / lit(g)).cast("long").as("k"))
        .agg(count(lit(1)).as("n"))
        .select(concat(lit("over_g_bucket_"),
          lpad($"k".cast("string"), 4, "0")).as("stat"), $"n".cast("long").as("v"))
      stats.union(buckets).orderBy($"stat")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |lex AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, lex.d, e.ts
           |  FROM lex JOIN e ON e.u = lex.node
           |   AND e.ts >= lex.a AND e.ts - lex.a <= 2000000),
           |laq AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, laq.d, e.ts
           |  FROM laq JOIN e ON e.u = laq.node
           |   AND e.ts >= laq.a + ((600000 - laq.a % 600000) % 600000)
           |   AND e.ts - (laq.a - (laq.a % 600000)) <= 2000000),
           |fx AS (SELECT node, min(a - d) AS f FROM lex
           |       WHERE node <> (SELECT s FROM sd) GROUP BY node),
           |fa AS (SELECT node, min(a - d) AS f FROM laq
           |       WHERE node <> (SELECT s FROM sd) GROUP BY node),
           |j AS (SELECT fx.node, fx.f AS f_exact, fa.f AS f_aq,
           |             fa.f - fx.f AS ov
           |      FROM fx LEFT JOIN fa ON fx.node = fa.node),
           |stats AS (
           |  SELECT 'nodes_exact' AS stat, count(*) AS v FROM j
           |  UNION ALL SELECT 'nodes_aq', count(f_aq) FROM j
           |  UNION ALL SELECT 'nodes_dropped', count(*) - count(f_aq) FROM j
           |  UNION ALL SELECT 'nodes_exact_duration',
           |    count(*) FILTER (WHERE ov = 0) FROM j
           |  UNION ALL SELECT 'nodes_overstated',
           |    count(*) FILTER (WHERE ov > 0) FROM j
           |  UNION ALL SELECT 'overstatement_max_ms', coalesce(max(ov), 0) FROM j
           |  UNION ALL SELECT 'overstatement_sum_ms', coalesce(sum(ov), 0) FROM j
           |  UNION ALL
           |  SELECT 'over_g_bucket_' || lpad(CAST(ov // 600000 AS VARCHAR), 4, '0'),
           |         count(*)
           |  FROM j WHERE ov > 0 GROUP BY 1)
           |SELECT stat, CAST(v AS BIGINT) AS v FROM stats
           |ORDER BY stat""".stripMargin),
  )

  /** The quantization-error audit at the COMPOSED (aqq) operating
    * point — the dense-deployment configuration both levers on
    * (q_graph_temporal_bw_fastest_aqq: d floored to 1-hour buckets,
    * g-slack arrival classes at 10 min), priced the way
    * [[graphTemporalAqError]] priced the arrival lever alone, with
    * the overstatement SPLIT by lever. The engine side runs the
    * exact bounded-wait closure plus ONE g-slack loop
    * ([[GraphAlgos.temporalBoundedWaitArrState]] with exact d), and
    * reads BOTH coarse configurations off the same settled state:
    * f_aq = min(a − d), f_aqq = min(a − floor_q(d)) — the latter
    * EQUALS the composed engine run's output because the g-slack
    * traversal never reads d and `quantizeDepartures` is a pure
    * per-label floor at the seed rows (the identity the aqq gate's
    * own oracle already pins). So the audit prices the full
    * composition for one exact + one coarse closure, not three.
    *
    * Soundness of the signs, telescoped per node:
    * f_exact ≤ f_aq (aq labels are real wait-bounded paths; min over
    * a subset) and f_aq ≤ f_aqq (a − floor_q(d) ≥ a − d pointwise on
    * the same label set) — so over_g = f_aq − f_exact ≥ 0,
    * over_d = f_aqq − f_aq ≥ 0, and the total
    * over = f_aqq − f_exact = over_g + over_d, with over_d < q by
    * construction. Nodes can drop ONLY to the g-slack lever (the
    * d-floor never touches traversal), which the paired
    * nodes_aq/nodes_aqq counts make visible. Oracle: both closures
    * in one WITH RECURSIVE block — exact predicate and g-slack
    * predicate (exact d carried) — with faq/faqq read off the SAME
    * laq closure by the same floor identity, joined and summarized
    * with identical arithmetic.
    */
  private val graphTemporalAqqError = Q(
    "q_graph_temporal_aqq_error",
    (s, dir) => {
      import s.implicits._
      val w = 2000000L
      val g = 600000L
      val q = 3600000L
      // shared first-event frame, as in the aq_error gate
      val fe = graft.operators.Lineage.cut(feFrame(s, dir))
      val chainExact = graft.operators.Lineage.cut(
        chainFromFe(fe, maxWait = Some(w)))
      val seed = chainExact.agg(min(least($"u", $"v"))).head.getLong(0)
      val exact = GraphAlgos.temporalBoundedWaitFastest(
        chainExact, "u", "v", "dep", "arr", seed, w)
      val chainAq = chainFromFe(fe, maxWait = Some(w), arrivalSlack = Some(g))
      val st = GraphAlgos.temporalBoundedWaitArrState(
        chainAq, "u", "v", "dep", "arr", seed, w, g)
      val coarse = st.filter($"node" =!= seed)
        .groupBy($"node").agg(
          min($"a" - $"d").as("f_aq"),
          min($"a" - ($"d" - pmod($"d", lit(q)))).as("f_aqq"))
      val (j, _) = graft.operators.Lineage.settle(
        exact.select($"node", $"fastest".as("f_exact"))
          .join(coarse, Seq("node"), "left")
          .withColumn("over_g", $"f_aq" - $"f_exact")
          .withColumn("over_d", $"f_aqq" - $"f_aq")
          .withColumn("over", $"f_aqq" - $"f_exact"))
      val stats = j.agg(
          count(lit(1)).as("n_exact"),
          count($"f_aqq").as("n_aqq"),
          sum(when($"over" === 0L, 1L).otherwise(0L)).as("n_zero"),
          sum(when($"over" > 0L, 1L).otherwise(0L)).as("n_over"),
          coalesce(max($"over"), lit(0L)).as("over_max"),
          coalesce(sum($"over"), lit(0L)).as("over_sum"),
          sum(when($"over_g" > 0L, 1L).otherwise(0L)).as("ng_over"),
          coalesce(max($"over_g"), lit(0L)).as("g_max"),
          coalesce(sum($"over_g"), lit(0L)).as("g_sum"),
          sum(when($"over_d" > 0L, 1L).otherwise(0L)).as("nd_over"),
          coalesce(max($"over_d"), lit(0L)).as("d_max"),
          coalesce(sum($"over_d"), lit(0L)).as("d_sum"))
        .select(explode(array(
          struct(lit("nodes_exact").as("stat"), $"n_exact".cast("long").as("v")),
          struct(lit("nodes_aqq").as("stat"), $"n_aqq".cast("long").as("v")),
          struct(lit("nodes_dropped").as("stat"),
            ($"n_exact" - $"n_aqq").cast("long").as("v")),
          struct(lit("nodes_exact_duration").as("stat"), $"n_zero".cast("long").as("v")),
          struct(lit("nodes_overstated").as("stat"), $"n_over".cast("long").as("v")),
          struct(lit("overstatement_max_ms").as("stat"), $"over_max".cast("long").as("v")),
          struct(lit("overstatement_sum_ms").as("stat"), $"over_sum".cast("long").as("v")),
          struct(lit("gslack_overstated").as("stat"), $"ng_over".cast("long").as("v")),
          struct(lit("gslack_over_max_ms").as("stat"), $"g_max".cast("long").as("v")),
          struct(lit("gslack_over_sum_ms").as("stat"), $"g_sum".cast("long").as("v")),
          struct(lit("dfloor_overstated").as("stat"), $"nd_over".cast("long").as("v")),
          struct(lit("dfloor_over_max_ms").as("stat"), $"d_max".cast("long").as("v")),
          struct(lit("dfloor_over_sum_ms").as("stat"), $"d_sum".cast("long").as("v")),
        )).as("r"))
        .select($"r.stat".as("stat"), $"r.v".as("v"))
      val buckets = j.filter($"over" > 0L)
        .groupBy(($"over" / lit(g)).cast("long").as("k"))
        .agg(count(lit(1)).as("n"))
        .select(concat(lit("over_g_bucket_"),
          lpad($"k".cast("string"), 4, "0")).as("stat"), $"n".cast("long").as("v"))
      stats.union(buckets).orderBy($"stat")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         lead(fts) OVER (PARTITION BY event_type, bkt
           |                         ORDER BY fts, feid, user_id) AS vts
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v, epoch_ms(vts) AS ts
           |      FROM chain WHERE v IS NOT NULL AND u <> v),
           |sd AS (SELECT min(least(u, v)) AS s FROM e),
           |lex AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, lex.d, e.ts
           |  FROM lex JOIN e ON e.u = lex.node
           |   AND e.ts >= lex.a AND e.ts - lex.a <= 2000000),
           |laq AS (
           |  SELECT e.v AS node, e.ts AS d, e.ts AS a
           |  FROM e JOIN sd ON e.u = sd.s
           |  UNION
           |  SELECT e.v, laq.d, e.ts
           |  FROM laq JOIN e ON e.u = laq.node
           |   AND e.ts >= laq.a + ((600000 - laq.a % 600000) % 600000)
           |   AND e.ts - (laq.a - (laq.a % 600000)) <= 2000000),
           |fx AS (SELECT node, min(a - d) AS f FROM lex
           |       WHERE node <> (SELECT s FROM sd) GROUP BY node),
           |fa AS (SELECT node, min(a - d) AS f_aq,
           |              min(a - (d // 3600000) * 3600000) AS f_aqq
           |       FROM laq WHERE node <> (SELECT s FROM sd) GROUP BY node),
           |j AS (SELECT fx.node, fx.f AS f_exact, fa.f_aq, fa.f_aqq,
           |             fa.f_aq - fx.f AS ovg, fa.f_aqq - fa.f_aq AS ovd,
           |             fa.f_aqq - fx.f AS ov
           |      FROM fx LEFT JOIN fa ON fx.node = fa.node),
           |stats AS (
           |  SELECT 'nodes_exact' AS stat, count(*) AS v FROM j
           |  UNION ALL SELECT 'nodes_aqq', count(f_aqq) FROM j
           |  UNION ALL SELECT 'nodes_dropped', count(*) - count(f_aqq) FROM j
           |  UNION ALL SELECT 'nodes_exact_duration',
           |    count(*) FILTER (WHERE ov = 0) FROM j
           |  UNION ALL SELECT 'nodes_overstated',
           |    count(*) FILTER (WHERE ov > 0) FROM j
           |  UNION ALL SELECT 'overstatement_max_ms', coalesce(max(ov), 0) FROM j
           |  UNION ALL SELECT 'overstatement_sum_ms', coalesce(sum(ov), 0) FROM j
           |  UNION ALL SELECT 'gslack_overstated',
           |    count(*) FILTER (WHERE ovg > 0) FROM j
           |  UNION ALL SELECT 'gslack_over_max_ms', coalesce(max(ovg), 0) FROM j
           |  UNION ALL SELECT 'gslack_over_sum_ms', coalesce(sum(ovg), 0) FROM j
           |  UNION ALL SELECT 'dfloor_overstated',
           |    count(*) FILTER (WHERE ovd > 0) FROM j
           |  UNION ALL SELECT 'dfloor_over_max_ms', coalesce(max(ovd), 0) FROM j
           |  UNION ALL SELECT 'dfloor_over_sum_ms', coalesce(sum(ovd), 0) FROM j
           |  UNION ALL
           |  SELECT 'over_g_bucket_' || lpad(CAST(ov // 600000 AS VARCHAR), 4, '0'),
           |         count(*)
           |  FROM j WHERE ov > 0 GROUP BY 1)
           |SELECT stat, CAST(v AS BIGINT) AS v FROM stats
           |ORDER BY stat""".stripMargin),
  )

  /** The condensation DAG of the per-entity SCC decomposition — what a
    * pipeline actually CONSUMES downstream of [[graphSccEntity]]:
    * collapse each strongly-connected community to its scc_id and keep
    * the distinct between-community edges (guaranteed acyclic, so
    * topological scheduling / funnel analysis applies). Two node-keyed
    * stamp joins against the assignment + a distinct — the condensed
    * frame is ≤ |E| rows and usually orders of magnitude smaller.
    * Oracle: the same recursive-closure assignment, then the same
    * endpoint mapping.
    */
  private val graphSccEntityDag = Q(
    "q_graph_scc_entity_dag",
    (s, dir) => {
      import s.implicits._
      // SPARSE variant of the hand-off derivation — only each group's
      // FIRST pair (the day's opener hands to the runner-up): the full
      // chains strongly connect everyone (one SCC ⇒ an empty DAG says
      // nothing); the openers' graph fragments into singletons + small
      // cycles, so the condensation has real between-community edges
      val fe = Tables(s, dir).events
        .groupBy($"event_type", date_trunc("day", $"ts").as("bkt"), $"user_id")
        .agg(min($"ts").as("fts"), min($"event_id").as("feid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type", $"bkt").orderBy($"fts", $"feid", $"user_id")
      val chain = fe
        .withColumn("v", lead($"user_id", 1).over(w))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1 && $"v".isNotNull && $"v" =!= $"user_id")
        .select($"user_id".as("u"), $"v")
        .distinct()
      val assign = SccEntity.scc(chain, "u", "v")
        .select($"node", $"scc_id")
      chain
        .join(assign.select($"node".as("u"), $"scc_id".as("src_scc")), "u")
        .join(assign.select($"node".as("v"), $"scc_id".as("dst_scc")), "v")
        .filter($"src_scc" =!= $"dst_scc")
        .select($"src_scc", $"dst_scc")
        .distinct()
        .orderBy($"src_scc", $"dst_scc")
    },
    Some("""WITH RECURSIVE fe AS (
           |  SELECT event_type, date_trunc('day', ts) AS bkt, user_id,
           |         min(ts) AS fts, min(event_id) AS feid
           |  FROM events GROUP BY 1, 2, 3),
           |chain AS (
           |  SELECT user_id AS u,
           |         lead(user_id) OVER (PARTITION BY event_type, bkt
           |                             ORDER BY fts, feid, user_id) AS v,
           |         row_number() OVER (PARTITION BY event_type, bkt
           |                            ORDER BY fts, feid, user_id) AS rn
           |  FROM fe),
           |e AS (SELECT DISTINCT u, v FROM chain
           |      WHERE rn = 1 AND v IS NOT NULL AND u <> v),
           |nodes AS (SELECT DISTINCT u AS n FROM e UNION SELECT DISTINCT v FROM e),
           |reach AS (
           |  SELECT n AS a, n AS b FROM nodes
           |  UNION
           |  SELECT reach.a, e.v FROM reach JOIN e ON reach.b = e.u),
           |mutual AS (
           |  SELECT f.a, f.b FROM reach f JOIN reach g ON f.a = g.b AND f.b = g.a),
           |assign AS (SELECT a AS node, min(b) AS scc_id FROM mutual GROUP BY a)
           |SELECT DISTINCT su.scc_id AS src_scc, sv.scc_id AS dst_scc
           |FROM e JOIN assign su ON su.node = e.u
           |       JOIN assign sv ON sv.node = e.v
           |WHERE su.scc_id <> sv.scc_id
           |ORDER BY src_scc, dst_scc""".stripMargin),
  )

  val all: Seq[Q] = Seq(graphTriangles, graphBfsLevels, graphSssp, graphWalks,
    graphNeighborSample, graphKcore, graphKcoreHindex, graphTruss,
    graphLabelProp, graphJaccardLinkpred, graphModularity, graphAnfHll,
    graphTrianglesDoulion, graphAnfDiameter, graphAnfHarmonic, graphAnfCloseness,
    graphAnfLake, pipelineGraphEmbedding, graphAssortativity, graphScc,
    graphSccEntity, graphTemporalReach, graphTemporalInfluence,
    graphTemporalFastest, graphTemporalBoundedWait, graphTemporalProfile, graphTemporalBwFastest,
    graphTemporalMultiCloseness, graphTemporalBwFastestQuantized, graphTemporalProfileSweep,
    graphTemporalBwFastestArrQuantized, graphTemporalMatrix, graphTemporalAnf,
    graphTemporalBwFastestBothQuantized, graphSccEntityDag,
    graphTemporalAqError, graphStreamTemporalAnf, graphTemporalAnfProfile,
    graphTemporalAqqError)
}
