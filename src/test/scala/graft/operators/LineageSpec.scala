package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The opt-in reliable-checkpoint path for iterative graph loops:
  * `spark.graft.graph.reliableCheckpoint=true` switches every
  * per-round lineage cut from executor-local blocks (lost with an
  * executor) to `checkpoint()` files under
  * `spark.graft.graph.checkpointDir` — identical results, real files
  * on the fault-tolerant store.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withReliable[T](dir: String)(body: => T): T = {
    spark.conf.set(Lineage.ReliableKey, "true")
    spark.conf.set(Lineage.DirKey, dir)
    try body
    finally {
      spark.conf.set(Lineage.ReliableKey, "false")
      spark.conf.unset(Lineage.DirKey)
    }
  }

  test("a full iterative loop under the reliable path matches the default " +
    "path and writes real checkpoint files") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (2L, 6L)).toDF("u", "v")
    val expected = GraphAlgos.coreNumbers(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck").toString
    def countFiles(f: java.io.File): Int =
      Option(f.listFiles()).getOrElse(Array.empty)
        .map(c => if (c.isDirectory) countFiles(c) else 1).sum
    // the CONTEXT checkpoint dir wins if an earlier suite already set
    // one (setCheckpointDir is once-per-context) — scan the real one
    def actual = new java.io.File(new java.net.URI(
      spark.sparkContext.getCheckpointDir.getOrElse("file://" + ckDir)).getPath)
    val (got, before, after) = withReliable(ckDir) {
      val before = countFiles(actual)
      val got = GraphAlgos.coreNumbers(edges, "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (got, before, countFiles(actual))
    }
    assert(got === expected)
    // the rounds actually went through the reliable store: RDD
    // checkpoint files exist under the configured dir
    assert(after > before, s"expected checkpoint files under $actual")
  }

  test("reliable=true without a checkpoint dir fails loudly") {
    // a fresh context-level dir may linger from the previous test; the
    // guard only fires when NEITHER the conf nor the context has one —
    // simulate the cold-start case on a throwaway check
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Lineage.ReliableKey, "true")
      try {
        val ex = intercept[IllegalArgumentException] {
          Lineage.cut(Seq((1L, 2L)).toDF("a", "b"))
        }
        assert(ex.getMessage.contains(Lineage.DirKey))
      } finally spark.conf.set(Lineage.ReliableKey, "false")
    } else succeed
  }

  test("release deletes a superseded reliable checkpoint's files; loops " +
    "retain a bounded number of rounds, not the whole trajectory") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_release_ck").toString
    withReliable(ckDir) {
      // the CONTEXT checkpoint dir wins if an earlier test already set
      // one (setCheckpointDir is once-per-context) — scan the real one
      def rddDirs(): Set[String] = {
        val actual = new java.io.File(
          new java.net.URI(spark.sparkContext.getCheckpointDir.getOrElse(
            "file://" + ckDir)).getPath)
        def walk(f: java.io.File): Seq[java.io.File] =
          Option(f.listFiles()).getOrElse(Array.empty).toSeq
            .flatMap(c => if (c.isDirectory) c +: walk(c) else Seq.empty)
        walk(actual).filter(_.getName.startsWith("rdd-")).map(_.getPath).toSet
      }
      // direct: cut → files exist; release → gone
      val before = rddDirs()
      val df = Lineage.cut(Seq((1L, 2L)).toDF("a", "b"))
      assert(df.count() == 1)
      val mine = rddDirs() -- before
      assert(mine.nonEmpty, "cut in reliable mode should create an rdd-* dir")
      Lineage.release(df)
      assert((rddDirs() -- before).isEmpty, "release should delete the files")
      // settled frames transfer ownership to the wrapper the caller holds
      val (s, _) = Lineage.settle(Seq((3L, 4L)).toDF("a", "b"))
      assert(s.count() == 1)
      assert((rddDirs() -- before).nonEmpty)
      Lineage.release(s)
      assert((rddDirs() -- before).isEmpty)
      // end-to-end: a multi-round loop retains O(1) checkpoints — the
      // static symmetric edges + the final state — NOT one per round.
      // A 14-node path takes ~7 h-index rounds (the endpoint 1s creep
      // inward one hop per round), so unreleased rounds would show up.
      val path = (1L to 13L).map(i => (i, i + 1L))
      val out = GraphAlgos.coreNumbers(path.toDF("u", "v"), "u", "v")
      assert(out.collect().forall(_.getLong(1) == 1L)) // a path is all 1-core
      val retained = rddDirs() -- before
      assert(retained.size <= 3,
        s"expected bounded retention (static edges + final state), " +
          s"found ${retained.size} rdd dirs")
    }
  }

  test("release only deletes dirs cut() attributed: foreign rdd-* dirs " +
    "survive, and releasing an untracked frame is a no-op " +
    "(the single-writer contract's bounded failure mode)") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_attr_ck").toString
    withReliable(ckDir) {
      val actualDir = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.getOrElse(
          "file://" + ckDir)).getPath)
      // simulate another writer's checkpoint landing in the same dir
      val foreign = new java.io.File(actualDir, "rdd-99999999")
      foreign.mkdirs()
      val marker = new java.io.File(foreign, "part-00000")
      java.nio.file.Files.writeString(marker.toPath, "foreign")
      // our own cut + release cycle must not touch it
      val df = Lineage.cut(Seq((1L, 2L)).toDF("a", "b"))
      assert(df.count() == 1)
      Lineage.release(df)
      assert(foreign.isDirectory && marker.isFile,
        "release deleted a dir cut() never attributed")
      // an untracked frame (no cut) releases as a no-op
      val plain = Seq((5L, 6L)).toDF("a", "b")
      Lineage.release(plain)
      assert(foreign.isDirectory && marker.isFile)
      foreign.listFiles().foreach(_.delete()); foreign.delete()
      ()
    }
  }

  // also covers PageRank and hierarchy flattening (name kept stable)
  test("the round-9 loops (FW-BW SCC, temporal reach) run under the " +
    "reliable path with identical results and bounded retention") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 10L)).toDF("u", "v")
    val tEdges = Seq((1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 15L),
      (1L, 4L, 40L)).toDF("u", "v", "ts")
    def sccMap() = SccEntity.scc(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def reachMap() = GraphAlgos.temporalReachable(
      tEdges, "u", "v", "ts", "ts", 1L, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rankMap() = PageRank.pagerank(edges, "u", "v", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def forestMap() = Hierarchy.flattenForest(
      Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 5L), (6L, 5L)).toDF("id", "parent"),
      "id", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (sccDefault, reachDefault) = (sccMap(), reachMap())
    val (rankDefault, forestDefault) = (rankMap(), forestMap())
    val ckDir = java.nio.file.Files.createTempDirectory("graft_r9_reliable").toString
    withReliable(ckDir) {
      assert(sccMap() === sccDefault)
      assert(reachMap() === reachDefault)
      assert(rankMap() === rankDefault)
      assert(forestMap() === forestDefault)
      // retention stays bounded through the loops' many cut/settle
      // rounds — released rounds must not pile up
      val actual = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.getOrElse(
          "file://" + ckDir)).getPath)
      def rddDirs(f: java.io.File): Int =
        Option(f.listFiles()).getOrElse(Array.empty)
          .map(c => (if (c.getName.startsWith("rdd-")) 1 else 0) +
            (if (c.isDirectory) rddDirs(c) else 0)).sum
      assert(rddDirs(actual) <= 30,
        s"reliable retention unbounded: ${rddDirs(actual)} rdd dirs")
    }
  }

  // cutAgg/settleAgg are now `settle(df, aggs)` (name kept stable)
  test("cutAgg/settleAgg: the fused aggregate row matches a separate " +
    "aggregate, the materialized rows match settle's, and the reliable " +
    "path (eager fallback) agrees") {
    import org.apache.spark.sql.functions._
    val src = Seq((1L, true), (2L, false), (3L, true)).toDF("k", "chg")
    val (m, row) = Lineage.settle(src, Seq(count_if($"chg"), count(lit(1))))
    assert(row.getLong(0) == 2L && row.getLong(1) == 3L)
    assert(m.collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
    val ckDir = java.nio.file.Files.createTempDirectory("graft_cutagg_ck").toString
    withReliable(ckDir) {
      val (mr, rr) = Lineage.settle(src, Seq(count_if($"chg")))
      assert(rr.getLong(0) == 2L)
      assert(mr.collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
      Lineage.release(mr)
    }
  }

  // settleKeyedAgg is now `settle(df, aggs, keyed = true)` (name kept
  // stable)
  test("settleKeyedAgg keeps the physical layout (the next keyed join/" +
    "window plans exchange-free) AND drops origin stats (no compounding " +
    "estimate), with rows identical to settle's") {
    import org.apache.spark.sql.functions._
    val base = Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 7L)).toDF("k", "v")
      .repartition(4, $"k").sortWithinPartitions($"k", $"v")
    val (keyed, row) = Lineage.settle(base, Seq(count(lit(1))), keyed = true)
    assert(row.getLong(0) == 4L)
    // layout preserved: the analyzed leaf reports hash(k) partitioning
    val lr = keyed.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(lr.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
      s"expected HashPartitioning, got ${lr.outputPartitioning}")
    assert(lr.outputOrdering.nonEmpty, "expected preserved sort order")
    // stats dropped: iterated self-joins do not compound the estimate
    var df = keyed
    for (_ <- 1 to 6) {
      val d2 = df.as("a").join(df.as("b"), Seq("k"))
        .select($"k", ($"a.v" + $"b.v").as("v"))
      df = Lineage.settle(d2.repartition(4, $"k"), Seq(count(lit(1))), keyed = true)._1
    }
    val bits = df.queryExecution.optimizedPlan.stats.sizeInBytes
      .bigInteger.bitLength
    assert(bits <= 70,
      s"estimate bit-length $bits — origin stats compound through a keyed settle")
    // and an aggregation keyed on k over the keyed frame plans NO exchange
    val agg = keyed.groupBy($"k").agg(sum($"v"))
    val exchanges = agg.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"keyed groupBy over a keyed settle planned ${exchanges.size} exchange(s)")
  }

  test("prep keeps the layout it establishes; the same cut planned under " +
    "AQE drops it (the adaptive root reports UnknownPartitioning)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    val base = Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 7L)).toDF("k", "v")
    def leaf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    // descends into the adaptive plan (a plain collect stops at its root)
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      helper.collect(df.groupBy($"k").agg(sum($"v")).queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val prepped = Lineage.prep(base, Seq("k"), Some(4))
    assert(leaf(prepped).outputPartitioning.isInstanceOf[HashPartitioning])
    assert(leaf(prepped).outputOrdering.nonEmpty)
    assert(exchanges(prepped) == 0)
    val aqeCut = Lineage.cut(base.repartition(4, $"k").sortWithinPartitions($"k"))
    assert(leaf(aqeCut).outputPartitioning == UnknownPartitioning(0),
      s"expected AQE to drop the layout, got ${leaf(aqeCut).outputPartitioning}")
    assert(exchanges(aqeCut) == 1)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("settle drops origin stats: the size estimate's bit-length stays " +
    "flat across an iterated self-join loop (checkpointing alone lets the " +
    "BigInt estimate COMPOUND until stats estimation eats the driver)") {
    var df = Lineage.settle(Seq((1L, 1L), (2L, 2L)).toDF("node", "c"))._1
    for (_ <- 1 to 8) {
      df = Lineage.settle(
        df.as("a").join(df.as("b"), Seq("node"))
          .select($"node", ($"a.c" + $"b.c").as("c")))._1
    }
    val bits = df.queryExecution.optimizedPlan.stats.sizeInBytes
      .bigInteger.bitLength
    assert(bits <= 70,
      s"estimate bit-length $bits — origin stats are compounding through the loop")
    assert(df.collect().map(_.getLong(0)).sorted === Array(1L, 2L))
  }
}
