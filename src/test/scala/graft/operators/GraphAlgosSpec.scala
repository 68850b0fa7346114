package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Closed-form graphs for triangle counting and BFS: structures where
  * the right answer is computable by hand, including the shapes that
  * break naive implementations (shared edges — double counting; hub
  * wedges — orientation; disconnected components and depth caps —
  * honest absence).
  */
class GraphAlgosSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphAlgos.triangleCounts(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bfs(edges: Seq[(Long, Long)], seed: Long, maxDepth: Int = 20): Map[Long, Long] =
    GraphAlgos.bfsLevels(edges.toDF("u", "v"), "u", "v", seed, maxDepth)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: every node sits in 3 of the 4 triangles") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(tri(k4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("two triangles sharing an edge: shared endpoints counted once per triangle") {
    // 1-2-3 and 2-3-4 share edge {2,3}
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(g) === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("path graph has no triangles (empty result, not zeros)") {
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === Map.empty)
  }

  test("star + rim: hub orientation does not double count") {
    // wheel on 4 rim nodes: hub 0 to each of 1..4, rim cycle 1-2-3-4-1
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L),
      (1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    // 4 triangles, each hub + adjacent rim pair; rim node in 2 each
    assert(tri(g) === Map(0L -> 4L, 1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("BFS on a chain: hop distances, unreachable component absent") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    assert(bfs(g, seed = 1L) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("BFS depth cap truncates honestly (no sentinel distances)") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(bfs(g, seed = 1L, maxDepth = 2) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    GraphAlgos.kCore(edges.toDF("u", "v"), "u", "v", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("2-core peels a tail off a triangle, cascading through the chain") {
    // triangle 1-2-3 with tail 3-4-5: peeling 5 exposes 4, both go
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(core(g, k = 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("k above the max degree peels everything (empty core)") {
    assert(core(Seq((1L, 2L), (2L, 3L)), k = 3) === Map.empty)
  }

  test("already-a-core graph converges in one no-op round") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(core(k4, k = 3) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("BFS takes the shortest of multiple paths") {
    // 1-2-3-4 chain plus shortcut 1-4
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(bfs(g, seed = 1L) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  // —— second-formulation cross-checks (VERDICT r5 #2): the gate oracle
  // used to mirror the degree-ordered orientation step-for-step, so a
  // shared formulation bug would have passed both sides. These pin the
  // algorithm against closed forms and an INDEPENDENT brute-force
  // counter that never orients anything.

  test("K7 closed form: every node sits in C(6,2) = 15 triangles") {
    val k7 = for (a <- 1L to 7L; b <- (a + 1) to 7L) yield (a, b)
    assert(tri(k7) === (1L to 7L).map(_ -> 15L).toMap)
  }

  test("complete bipartite K_{3,4} is triangle-free") {
    val g = for (a <- 1L to 3L; b <- 11L to 14L) yield (a, b)
    assert(tri(g) === Map.empty)
  }

  test("random graphs match a brute-force triple-enumeration counter") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 8
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.18
      } yield (a, b)).toSeq
      // independent formulation: no orientation, no joins — literal
      // "for every unordered triple, are all three edges present"
      val es = edges.toSet
      def adj(a: Long, b: Long) = es((a min b, a max b))
      val expected = (for {
        a <- 1L to n; b <- (a + 1) to n; c <- (b + 1) to n
        if adj(a, b) && adj(b, c) && adj(a, c)
        node <- Seq(a, b, c)
      } yield node).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(tri(edges) === expected, s"trial $trial, n=$n, |E|=${edges.size}")
    }
  }

  test("DOULION-style sampled estimate tracks the exact global triangle " +
    "count (deterministic fnv63 coin, p = 1/2)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val n = 60
    val edges = (for {
      a <- 1L to n; b <- (a + 1) to n
      if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    def total(m: Map[Long, Long]): Long = m.values.sum / 3
    val exact = total(tri(edges))
    val sampled = edges.toDF("u", "v")
      .filter(org.apache.spark.sql.functions.expr(
        "fnv63(concat(cast(u as string), '_', cast(v as string)))") % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val estimate = total(tri(sampled)) * 8 // 1/p³ = 2³
    // the coin is fixed, so this is a deterministic regression pin: the
    // estimator's relative error on this graph stays what it is today
    // (and DOULION's variance bound says it should be small at p = 1/2)
    assert(exact > 100, s"graph too sparse for a meaningful check: $exact")
    val relErr = math.abs(estimate.toDouble - exact) / exact
    assert(relErr < 0.25,
      s"sampled estimate $estimate vs exact $exact (rel err $relErr)")
  }

  test("k-core on random graphs matches an independent sequential peeler") {
    // mutable adjacency-set peeling — one node at a time, no rounds,
    // no joins — vs the operator's synchronized round-based peel; the
    // fixpoint (and in-core degrees) must agree regardless
    def seqPeel(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
      edges.foreach { case (u, v) =>
        adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
        adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
      }
      var changed = true
      while (changed) {
        changed = false
        adj.keys.toSeq.foreach { n =>
          if (adj.contains(n) && adj(n).size < k) {
            adj(n).foreach(m => adj(m) -= n)
            adj -= n
            changed = true
          }
        }
      }
      adj.map { case (n, s) => n -> s.size.toLong }.toMap
    }
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 25 + trial * 10
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.15
      } yield (a, b)).toSeq
      assert(core(edges, k = 3) === seqPeel(edges, k = 3),
        s"trial $trial, |E|=${edges.size}")
    }
  }

  test("coreNumbers (h-index iteration) matches full coreness from an " +
    "independent min-degree sequential peeler on random graphs") {
    // Matula-Beck style: repeatedly remove a minimum-degree node; its
    // core number is the running max of min-degrees seen — one node at
    // a time, no h-index anywhere
    def seqCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
      edges.foreach { case (u, v) =>
        adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
        adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
      }
      val res = scala.collection.mutable.Map.empty[Long, Long]
      var runningMax = 0L
      while (adj.nonEmpty) {
        val (n, nbrs) = adj.minBy { case (n, s) => (s.size, n) }
        runningMax = math.max(runningMax, nbrs.size.toLong)
        res(n) = runningMax
        nbrs.foreach(m => adj(m) -= n)
        adj -= n
      }
      res.toMap
    }
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.2
      } yield (a, b)).toSeq
      val got = GraphAlgos.coreNumbers(edges.toDF("u", "v"), "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === seqCoreness(edges), s"trial $trial, |E|=${edges.size}")
    }
  }

  test("coreNumbers frontier refinement is round-for-round IDENTICAL to " +
    "the full Jacobi h-index recompute (not just same fixpoint)") {
    // sequential FULL recompute: every node's h-index from the whole
    // previous-round table, every round — the reference the frontier
    // version must reproduce exactly
    def fullRounds(edges: Seq[(Long, Long)]): Seq[Map[Long, Long]] = {
      val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def hIndex(vals: Seq[Long]): Long = {
        val sorted = vals.sorted(Ordering[Long].reverse)
        sorted.zipWithIndex.map { case (v, idx) => math.min(idx + 1L, v) }.max
      }
      var cur = adj.view.mapValues(_.size.toLong).toMap
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
      var moved = true
      while (moved) {
        val nxt = cur.map { case (n, _) => n -> hIndex(adj(n).map(cur)) }
        moved = nxt != cur
        cur = nxt
        rounds += cur
      }
      rounds.toSeq
    }
    val rnd = new scala.util.Random(59)
    for (trial <- 1 to 2) {
      val n = 25 + trial * 10
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.15
      } yield (a, b)).toSeq
      val expect = fullRounds(edges)
      val got = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
      val probe: (Int, org.apache.spark.sql.DataFrame) => Unit = (_, df) =>
        got += df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      GraphAlgos.coreNumbers(edges.toDF("u", "v"), "u", "v",
        roundProbe = Some(probe)).collect()
      // same number of rounds to the fixpoint witness, same table at
      // every round (frontier's last probe repeats the fixpoint table,
      // matching the full recompute's no-change round)
      assert(got.size === expect.size, s"trial $trial round count")
      got.zip(expect).zipWithIndex.foreach { case ((g, e), r) =>
        assert(g === e, s"trial $trial round ${r + 1}")
      }
    }
  }

  test("coreNumbers closed forms: K5 is all 4s; a path is all 1s; a " +
    "triangle with a pendant tail is {2,2,2,1,1}") {
    def cn(edges: Seq[(Long, Long)]): Map[Long, Long] =
      GraphAlgos.coreNumbers(edges.toDF("u", "v"), "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k5 = for { a <- 1L to 5; b <- (a + 1) to 5 } yield (a, b)
    assert(cn(k5) === (1L to 5L).map(_ -> 4L).toMap)
    assert(cn(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(cn(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }

  private def sssp(edges: Seq[(Long, Long, Long)], seed: Long): Map[Long, Long] =
    GraphAlgos.sssp(edges.toDF("u", "v", "w"), "u", "v", "w", seed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("sssp on a weighted chain: cumulative weights, unreachable component absent") {
    val g = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 7L), (10L, 11L, 1L))
    assert(sssp(g, seed = 1L) === Map(1L -> 0L, 2L -> 3L, 3L -> 4L, 4L -> 11L))
  }

  test("sssp prefers a cheap long path over an expensive direct edge " +
    "(the case hop-count BFS gets wrong)") {
    // direct 1-2 costs 10; detour 1-3-4-2 costs 1+1+1 = 3
    val g = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L))
    assert(sssp(g, seed = 1L) === Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 2L))
  }

  test("sssp requires a SECOND relaxation round when a cheaper path arrives " +
    "after a node is first reached (frontier re-propagates improvements)") {
    // 2 is first reached at dist 10 in round 1; round 2's frontier {3}
    // improves it to 2, and the improvement must propagate onward to 5
    val g = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 5L, 1L))
    assert(sssp(g, seed = 1L) === Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 5L -> 3L))
  }

  test("sssp with all weights 1 agrees with bfsLevels") {
    val rnd = new scala.util.Random(7)
    val edges = (for (_ <- 1 to 120) yield {
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val viaBfs = bfs(edges, seed = edges.map(_._1).min, maxDepth = 100)
    assert(sssp(edges.map { case (u, v) => (u, v, 1L) },
      seed = edges.map(_._1).min) === viaBfs)
  }

  test("sssp matches a sequential Dijkstra on random weighted graphs " +
    "(different formulation: priority queue, no rounds)") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 4) {
      val n = 25 + rnd.nextInt(25)
      val edges = (for (_ <- 1 to n * 4) yield {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        val w = 1L + rnd.nextInt(9)
        if (a != b) Some((math.min(a, b), math.max(a, b), w)) else None
      }).flatten.groupBy(e => (e._1, e._2))
        .map { case ((u, v), es) => (u, v, es.map(_._3).min) }.toSeq
      val seed = edges.map(_._1).min
      // sequential Dijkstra over the symmetric adjacency map
      val adj = (edges ++ edges.map { case (u, v, w) => (v, u, w) })
        .groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
      val dist = scala.collection.mutable.Map(seed -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, seed))(
        Ordering.by[(Long, Long), Long](-_._1))
      val done = scala.collection.mutable.Set.empty[Long]
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (!done(u)) {
          done += u
          for ((v, w) <- adj.getOrElse(u, Seq.empty)
               if d + w < dist.getOrElse(v, Long.MaxValue)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
      }
      assert(sssp(edges, seed) === dist.toMap, s"trial $trial, |E|=${edges.size}")
    }
  }

  private def walks(edges: Seq[(Long, Long)], r: Int, steps: Int): Seq[(Long, Int, Int, Long)] =
    GraphAlgos.deterministicWalks(edges.toDF("u", "v"), "u", "v", r, steps)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))

  /** Sequential re-implementation of the walk semantics: in-memory
    * sorted adjacency, same fnv63 coin — no joins, no window. */
  private def seqWalks(edges: Seq[(Long, Long)], r: Int, steps: Int): Seq[(Long, Int, Int, Long)] = {
    val sym = (edges ++ edges.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    (for {
      start <- adj.keys.toSeq.sorted
      w <- 0 until r
    } yield {
      var node = start
      (start, w, 0, node) +: (1 to steps).map { k =>
        val ns = adj(node)
        val h = graft.functions.Fnv63.hash(
          s"${start}_${w}_${k}_$node".getBytes("UTF-8"))
        node = ns(((h % ns.size)).toInt)
        (start, w, k, node)
      }
    }).flatten
  }

  test("deterministicWalks: every step lands on a neighbor, walks have full " +
    "length, and two runs produce the identical corpus") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    val a = walks(g, r = 2, steps = 3)
    val b = walks(g, r = 2, steps = 3)
    assert(a === b)
    assert(a.size === 4 * 2 * 4) // 4 nodes x 2 walks x (steps+1)
    val sym = (g ++ g.map(_.swap)).toSet
    val byWalk = a.groupBy(t => (t._1, t._2))
    for ((_, path) <- byWalk; Seq(p, q) <- path.sortBy(_._3).map(_._4).sliding(2))
      assert(sym.contains((p, q)), s"step $p -> $q is not an edge")
  }

  test("deterministicWalks: accumulator plan width is bounded by the " +
    "16-step materialization, not the walk length") {
    val g = Seq((1L, 2L))
    def planNodes(steps: Int): Int =
      GraphAlgos.deterministicWalks(g.toDF("u", "v"), "u", "v", 1, steps)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    // 17 and 33 both sit one step past a materialization boundary, so
    // their plans must be the SAME width — a 33-step walk must not
    // carry a 34-way union
    assert(planNodes(33) == planNodes(17),
      "walk accumulator plan grows with step count past the cut cadence")
  }

  test("deterministicWalks on a path graph: degree-1 endpoints must bounce back") {
    val g = Seq((1L, 2L), (2L, 3L))
    val a = walks(g, r = 1, steps = 2)
    // from 1: forced to 2; from 3: forced to 2
    assert(a.filter(_._1 == 1L).map(_._4).head === 1L)
    assert(a.filter(t => t._1 == 1L && t._3 == 1).map(_._4).head === 2L)
    assert(a.filter(t => t._1 == 3L && t._3 == 1).map(_._4).head === 2L)
  }

  test("deterministicWalks matches the sequential in-memory simulation " +
    "on random graphs (independent adjacency/indexing/coin path)") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(20)
      val edges = (for (_ <- 1 to n * 3) yield {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
      }).flatten.distinct
      assert(walks(edges, r = 2, steps = 4) ===
        seqWalks(edges, r = 2, steps = 4).sortBy(t => (t._1, t._2, t._3)),
        s"trial $trial, |E|=${edges.size}")
    }
  }

  private def sample(edges: Seq[(Long, Long)], k: Int): Seq[(Long, Long, Int)] =
    GraphAlgos.sampleNeighbors(edges.toDF("u", "v"), "u", "v", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3))

  test("sampleNeighbors: at most k per node, exactly deg when deg < k, " +
    "every sampled pair is an edge, and ranks are 1..n dense") {
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L))
    val got = sample(g, k = 2)
    val sym = (g ++ g.map(_.swap)).toSet
    val byNode = got.groupBy(_._1)
    assert(byNode(1L).size === 2) // deg 4, capped at k
    assert(byNode(4L).size === 1 && byNode(4L).head._2 === 1L) // deg 1
    for ((_, rows) <- byNode) {
      assert(rows.map(_._3).sorted === (1 to rows.size))
      for ((n, b, _) <- rows) assert(sym.contains((n, b)), s"($n,$b) not an edge")
    }
  }

  test("sampleNeighbors is deterministic across runs and matches a " +
    "sequential fnv63 ranking") {
    val rnd = new scala.util.Random(29)
    val n = 30
    val edges = (for (_ <- 1 to 90) yield {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val got = sample(edges, k = 3)
    assert(got === sample(edges, k = 3))
    val sym = (edges ++ edges.map(_.swap)).distinct
    val want = sym.groupBy(_._1).toSeq.flatMap { case (src, es) =>
      es.map(_._2).distinct
        .sortBy(d => (graft.functions.Fnv63.hash(s"${src}_$d".getBytes("UTF-8")), d))
        .take(3).zipWithIndex.map { case (d, i) => (src, d, i + 1) }
    }.sortBy(t => (t._1, t._3))
    assert(got === want)
  }

  test("sssp fails loudly on a negative edge weight") {
    val ex = intercept[Exception] {
      sssp(Seq((1L, 2L, 1L), (2L, 3L, -4L)), seed = 1L)
    }
    assert(ex.getMessage.contains("negative edge weight") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative edge weight")))
  }

  private def assort(edges: Seq[(Long, Long)]): (Long, Option[Double]) = {
    val r = GraphAlgos.degreeAssortativity(edges.toDF("u", "v"), "u", "v")
      .collect().head
    (r.getAs[Long]("m_directed"),
      if (r.isNullAt(r.fieldIndex("r_assort"))) None
      else Some(r.getAs[Double]("r_assort")))
  }

  test("assortativity: a star is perfectly disassortative (r = -1)") {
    // hub 0 (deg 3) only ever pairs with leaves (deg 1)
    assert(assort(Seq((0L, 1L), (0L, 2L), (0L, 3L))) == (6L, Some(-1.0)))
  }

  test("assortativity: path P3 is -1, constant-degree cycle is NULL") {
    // P3 moments by hand: M=4, Σx=6, Σxy=8, Σx²=10 → (32−36)/(40−36) = −1
    assert(assort(Seq((1L, 2L), (2L, 3L))) == (4L, Some(-1.0)))
    // C4: every degree 2 → zero variance, r undefined
    assert(assort(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == (8L, None))
  }

  test("assortativity: a hub-hub edge lifts r above the star's -1") {
    // two deg-4 hubs joined to each other, leaves elsewhere: the two
    // (4,4) directed pairs raise the correlation; by hand r = -324/432
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 6L), (2L, 7L), (2L, 8L))
    assert(assort(g) == (14L, Some(-0.75)))
  }

  private def truss(edges: Seq[(Long, Long)]): Map[(Long, Long), Long] =
    GraphAlgos.trussNumbers(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("trussNumbers closed forms: K4 is all 4s, K4 minus an edge all 3s, " +
    "a triangle with a pendant tail is {3,3,3,2}, a path all 2s") {
    val k4 = for { a <- 1L to 4; b <- (a + 1) to 4 } yield (a, b)
    assert(truss(k4) === k4.map(_ -> 4L).toMap)
    val k4m = k4.filterNot(_ == ((3L, 4L)))
    assert(truss(k4m) === k4m.map(_ -> 3L).toMap)
    val tail = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    assert(truss(tail) === Map((1L, 2L) -> 3L, (1L, 3L) -> 3L,
      (2L, 3L) -> 3L, (3L, 4L) -> 2L))
    assert(truss(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ===
      Map((1L, 2L) -> 2L, (2L, 3L) -> 2L, (3L, 4L) -> 2L))
  }

  test("trussNumbers: two triangles sharing an edge form one 3-truss " +
    "(the shared edge's 2 triangles do NOT make it a 4-truss edge)") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    assert(truss(g) === g.map(_ -> 3L).toMap)
  }

  test("trussNumbers matches an independent sequential support-peel " +
    "decomposition on random graphs") {
    // textbook peel: for k = 3, 4, ...: cascade-remove edges closing
    // < k-2 triangles in the REMAINING graph, assigning truss k-1 —
    // shrinking edge set and per-level triangle recount, no h-index,
    // no static incidence: a genuinely different algorithm
    def seqTruss(edges: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
      val canon = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }
        .filter { case (u, v) => u != v }.distinct
      val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
      canon.foreach { case (u, v) =>
        adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
        adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
      }
      val rem = scala.collection.mutable.Set(canon: _*)
      val res = scala.collection.mutable.Map.empty[(Long, Long), Long]
      var k = 3L
      while (rem.nonEmpty) {
        val low = rem.filter { case (u, v) => (adj(u) & adj(v)).size < k - 2 }.toSeq
        if (low.nonEmpty) low.foreach { case e @ (u, v) =>
          res(e) = k - 1; rem -= e; adj(u) -= v; adj(v) -= u
        }
        else k += 1
      }
      res.toMap
    }
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 3) {
      val n = 15 + trial * 8
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.25
      } yield (a, b)).toSeq
      assert(truss(edges) === seqTruss(edges), s"trial $trial, |E|=${edges.size}")
    }
  }

  test("trussNumbers frontier refinement is round-for-round IDENTICAL to " +
    "the full Jacobi h-index recompute (not just same fixpoint)") {
    // sequential FULL recompute over the static triangle incidence:
    // every edge's h-index of min-partner-values, every round
    def fullRounds(edges: Seq[(Long, Long)]): Seq[Map[(Long, Long), Long]] = {
      val canon = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
      val adj = canon.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val inc = scala.collection.mutable.Map.empty[(Long, Long),
        List[((Long, Long), (Long, Long))]].withDefaultValue(Nil)
      for {
        (u, v) <- canon
        w <- adj(u) & adj(v)
        if w > v
      } {
        val (ab, ac, bc) = ((u, v), (u, w), (v, w))
        inc(ab) = (ac, bc) :: inc(ab)
        inc(ac) = (ab, bc) :: inc(ac)
        inc(bc) = (ab, ac) :: inc(bc)
      }
      def hIndex(vals: Seq[Long]): Long =
        if (vals.isEmpty) 0L
        else vals.sorted(Ordering[Long].reverse).zipWithIndex
          .map { case (v, idx) => math.min(idx + 1L, v) }.max
      var cur = canon.map(e => e -> inc(e).size.toLong).toMap
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[(Long, Long), Long]]
      var moved = true
      while (moved) {
        val nxt = cur.map { case (e, _) =>
          e -> hIndex(inc(e).map { case (f, g) => math.min(cur(f), cur(g)) })
        }
        moved = nxt != cur
        cur = nxt
        rounds += cur
      }
      rounds.toSeq
    }
    val rnd = new scala.util.Random(67)
    for (trial <- 1 to 2) {
      val n = 18 + trial * 8
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.25
      } yield (a, b)).toSeq
      val expect = fullRounds(edges)
      val got = scala.collection.mutable.ArrayBuffer.empty[Map[(Long, Long), Long]]
      val probe: (Int, org.apache.spark.sql.DataFrame) => Unit = (_, df) =>
        got += df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      GraphAlgos.trussNumbers(edges.toDF("u", "v"), "u", "v",
        roundProbe = Some(probe)).collect()
      assert(got.size === expect.size, s"trial $trial round count")
      got.zip(expect).zipWithIndex.foreach { case ((g, e), r) =>
        assert(g === e, s"trial $trial round ${r + 1}")
      }
    }
  }
}
