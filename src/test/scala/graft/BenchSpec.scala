package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The timing harness (`Bench.run`, `--only`, the artifact) and the one
  * session factory it runs on.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val subset = Seq("q_agg_pricing_summary", "q_agg_pivot")

  test("--only subset at sf0.001: one row per query, each with 3 run records") {
    val rows = Bench.run(spark, sf, Bench.select(List("--only", subset.mkString(","))))
    assert(rows.map(_.name) == subset)
    rows.foreach { r =>
      assert(r.runs.size == Bench.Runs, r.name)
      r.runs.foreach { x =>
        assert(x.wallS > 0 && x.cpuS >= 0 && x.gcS >= 0 && x.compiles >= 0, s"${r.name}: $x")
      }
      assert(r.minS == r.runs.map(_.wallS).min)
    }
    assert(Bench.total(rows) == rows.map(_.minS).sum)

    val json = new ObjectMapper().readTree(Bench.artifact(rows, sf, 4))
    assert(json.get("value").asDouble == Bench.total(rows))
    assert(json.get("queries").fieldNames.asScala.toSeq == subset.sorted)
    subset.foreach { q =>
      val runs = json.get("runs").get(q)
      assert(runs.size == Bench.Runs)
      assert(runs.elements.asScala.forall(r =>
        Seq("wall_s", "cpu_s", "gc_s", "compiles").forall(r.has)))
    }
  }

  test("a query that throws makes its row and the total read -1") {
    val boom: Bench.QueryFn = (_, _) => throw new IllegalStateException("boom")
    val rows = Bench.run(spark, sf,
      Seq("q_agg_pivot" -> SparkEntry.queries("q_agg_pivot"), "q_boom" -> boom))
    val byName = rows.map(r => r.name -> r).toMap
    assert(byName("q_agg_pivot").minS > 0)
    assert(byName("q_boom").minS == -1.0)
    assert(Bench.total(rows) == -1.0)
    assert(new ObjectMapper().readTree(Bench.artifact(rows, sf, 4))
      .get("queries").get("q_boom").asDouble == -1.0)
  }

  test("an unknown --only name fails loudly, naming it") {
    val e = intercept[IllegalArgumentException](
      Bench.select(List("--only", "q_agg_pivot,q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!e.getMessage.contains("q_agg_pivot"))
  }

  test("GraftSession.local: functions callable from SQL text and the " +
    "effective session settings") {
    // a fresh session over the shared context: other suites change
    // runtime confs on the shared one
    val s = GraftSession.local(4).newSession()
    assert(!s.sql("SELECT fnv63('abc') AS h").head().isNullAt(0))
    val expected = Map(
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.shuffle.partitions" -> s.sparkContext.defaultParallelism.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    expected.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    assert(s.sparkContext.defaultParallelism == 4)
  }
}
