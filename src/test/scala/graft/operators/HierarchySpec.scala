package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hierarchy.flattenForest: root/depth resolution vs a scalar
  * reference walk, logarithmic convergence on a deep chain, multiple
  * roots, and the loud failure modes (cycle, dangling parent).
  */
class HierarchySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def flatten(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Hierarchy.flattenForest(pairs.toDF("id", "parent"), "id", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("two-tree forest: every node gets its own tree's root and hop count") {
    // tree A: 1 <- 2 <- 4, 1 <- 3 ; tree B: 10 <- 11
    val got = flatten(Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (10L, 10L), (11L, 10L)))
    assert(got == Map(
      1L -> ((1L, 0L)), 2L -> ((1L, 1L)), 3L -> ((1L, 1L)),
      4L -> ((1L, 2L)), 10L -> ((10L, 0L)), 11L -> ((10L, 1L))))
  }

  test("a 200-deep chain resolves (doubling: ~8 rounds, not 200)") {
    val chain = (0L to 200L).map(i => (i, math.max(i - 1, 0L)))
    val got = flatten(chain)
    assert(got(200L) == ((0L, 200L)))
    assert(got(1L) == ((0L, 1L)))
    assert(got(0L) == ((0L, 0L)))
  }

  test("scalar reference agreement on the gate's id div 2 forest") {
    val n = 500L
    val pairs = (0L until n).map(i => (i, if (i < 10) i else i / 2))
    val got = flatten(pairs)
    def ref(i: Long): (Long, Long) = {
      var (x, d) = (i, 0L)
      while (x >= 10) { x = x / 2; d += 1 }
      (x, d)
    }
    (0L until n).foreach(i => assert(got(i) == ref(i), s"node $i"))
  }

  test("reliable checkpointing: same result as the default path, with the " +
    "rounds' files under the checkpoint dir") {
    val chain = (0L to 40L).map(i => (i, math.max(i - 1, 0L)))
    val expected = flatten(chain)
    val ckDir = java.nio.file.Files.createTempDirectory("graft_hierarchy_ck").toString
    spark.conf.set(Lineage.ReliableKey, "true")
    spark.conf.set(Lineage.DirKey, ckDir)
    try {
      // the context checkpoint dir is once-per-context: scan the real one
      val actual = new java.io.File(new java.net.URI(
        spark.sparkContext.getCheckpointDir.getOrElse("file://" + ckDir)).getPath)
      def rddDirs(): Set[String] = Option(actual.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("rdd-")).map(_.getName).toSet
      val before = rddDirs()
      val out = Hierarchy.flattenForest(chain.toDF("id", "parent"), "id", "parent")
      assert(out.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap ==
        expected)
      assert((rddDirs() -- before).nonEmpty, s"expected rdd-* files under $actual")
    } finally {
      spark.conf.set(Lineage.ReliableKey, "false")
      spark.conf.unset(Lineage.DirKey)
    }
  }

  test("a cycle throws instead of silently not converging") {
    val e = intercept[IllegalArgumentException] {
      flatten(Seq((1L, 2L), (2L, 1L)))
    }
    assert(e.getMessage.contains("unresolved"))
  }

  test("a dangling parent throws (the node would otherwise vanish " +
    "from the inner propagation join — a silent partial result)") {
    val e = intercept[IllegalArgumentException] {
      flatten(Seq((1L, 1L), (2L, 99L)))
    }
    assert(e.getMessage.contains("dangling"))
  }
}
