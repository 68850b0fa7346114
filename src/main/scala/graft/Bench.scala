package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one timing harness.
  *
  * Protocol: warm the JVM and the codegen cache by running every
  * selected query once on sf0.001 (the same plan over a different
  * directory emits identical generated source, so the measured plans
  * are pre-compiled without touching the measured data), then time
  * each query three times to the noop sink (which materializes every
  * column, unlike `count()`) with `clearCache` between runs, and keep
  * the min: the host shares physical cores with other tenants, and a
  * multi-second stall can hit any single run. A failing run makes its
  * query and the total read -1, so a breakage never reads as a speedup.
  *
  * Usage: `graft.Bench [--only q1,q2,...]` (env: `SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_BENCH_OUT`). The artifact holds the
  * `queries` map of min seconds plus, per query, the record of every
  * run (wall, process CPU, JVM GC, codegen compiles). A full run writes
  * it to `bench_full.json`; an `--only` run writes `bench_only.json`
  * next to it and never touches the full-suite artifact.
  */
object Bench {
  type QueryFn = (SparkSession, String) => DataFrame

  val Runs = 3

  /** One timed run. `wallS` is -1 when the run threw. In local mode
    * driver and executors share one JVM, so process CPU and GC cover
    * the executors too; a stalled run with flat CPU, GC and compiles
    * points outside the JVM (host steal).
    */
  final case class Run(wallS: Double, cpuS: Double, gcS: Double, compiles: Long)

  final case class Row(name: String, runs: Seq[Run]) {
    def failed: Boolean = runs.exists(_.wallS < 0)
    def minS: Double = if (failed) -1.0 else runs.map(_.wallS).min
  }

  def main(args: Array[String]): Unit = {
    val queries = select(args.toList)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val out =
      if (args.isEmpty) fullOut
      else Paths.get(fullOut).resolveSibling("bench_only.json").toString
    val spark = GraftSession.local(cpus)
    try {
      val rows = run(spark, sfDir, queries)
      Files.write(Paths.get(out),
        (artifact(rows, sfDir, cpus) + "\n").getBytes(StandardCharsets.UTF_8))
      println(summary(rows, sfDir, out))
    } finally spark.stop()
  }

  /** The registry entries to time: all of them, or the `--only` list. */
  def select(args: List[String]): Seq[(String, QueryFn)] = args match {
    case Nil => SparkEntry.queries.toSeq.sortBy(_._1)
    case "--only" :: names :: Nil =>
      val wanted = names.split(',').map(_.trim).filter(_.nonEmpty).distinct.toSeq
      val unknown = wanted.filterNot(SparkEntry.queries.contains)
      require(wanted.nonEmpty, "--only needs at least one query name")
      require(unknown.isEmpty,
        s"unknown query name(s) for --only: ${unknown.mkString(", ")}")
      wanted.map(n => n -> SparkEntry.queries(n))
    case other =>
      throw new IllegalArgumentException(
        s"usage: graft.Bench [--only q1,q2,...]; got: ${other.mkString(" ")}")
  }

  /** Warm up, then time every query [[Runs]] times at `sfDir`. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, QueryFn)]): Seq[Row] = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val warmDir = "/root/testdata/sf0.001"
    queries.foreach { case (_, fn) =>
      try noop(fn(spark, warmDir))
      catch { case _: Throwable => () }
    }
    queries.map { case (name, fn) =>
      Row(name, (1 to Runs).map { _ =>
        spark.catalog.clearCache()
        val (g0, c0, k0, t0) = (gcMillis(), cpuNanos(), compileCount(), System.nanoTime())
        val ok =
          try { noop(fn(spark, sfDir)); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
        Run(if (ok) (System.nanoTime() - t0) / 1e9 else -1.0,
          (cpuNanos() - c0) / 1e9, (gcMillis() - g0) / 1e3, compileCount() - k0)
      })
    }
  }

  /** Any failed query poisons the total. */
  def total(rows: Seq[Row]): Double =
    if (rows.exists(_.failed)) -1.0 else rows.map(_.minS).sum

  /** The on-disk artifact: `queries` (name → min seconds, the shape
    * `scripts/bench_compare.py` reads) and `runs` (name → run records).
    */
  def artifact(rows: Seq[Row], sfDir: String, cpus: Int): String = {
    val sorted = rows.sortBy(_.name)
    val runs = sorted.map { r =>
      jsonStr(r.name) + ":" + r.runs.map { x =>
        s"""{"wall_s":${x.wallS},"cpu_s":${x.cpuS},"gc_s":${x.gcS},"compiles":${x.compiles}}"""
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${total(rows)},"unit":"sec",""" +
      s""""n_queries":${rows.size},"cpus":$cpus,"queries":${minMap(sorted)},""" +
      s""""runs":$runs,"sf":${jsonStr(sfDir)}}"""
  }

  /** The stdout line: the 40 costliest queries, sized to survive a
    * 2000-character tail capture intact; the artifact has them all.
    */
  def summary(rows: Seq[Row], sfDir: String, out: String): String = {
    val top = rows.sortBy(-_.minS).take(40).sortBy(_.name)
    s"""{"metric":"total","value":${total(rows)},"unit":"sec",""" +
      s""""n_queries":${rows.size},"full":${jsonStr(out)},""" +
      s""""queries":${minMap(top)},"sf":${jsonStr(sfDir)}}"""
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private def compileCount(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def minMap(rows: Seq[Row]): String =
    rows.map(r => jsonStr(r.name) + ":" + r.minS).mkString("{", ",", "}")

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
