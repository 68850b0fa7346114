package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark JVM. Driven by `perfbench/run.py`, which builds it,
  * generates the inputs and checks the outputs against DuckDB.
  *
  * {{{
  * gen <inputsDir> <seed> <framesPerHour>
  * run <workload> <inputsDir> <workDir> <seconds> <trace 0|1> <result.json>
  * }}}
  *
  * `run` sets the session up [[BenchMain.SetupCycles]] times (session,
  * preparation, one untimed warm-up operation) and runs
  * [[BenchMain.ExtraWarmOps]] more untimed operations. It then repeats
  * the timed operation closed-loop for `seconds` (at least
  * [[BenchMain.MinOps]] times). A failed operation or check is counted,
  * never timed, and ends the run. With trace 1 it instead runs the
  * layer-by-layer pass of [[Trace]].
  */
object BenchMain {
  val Cores = 4
  val SetupCycles = 3
  val MinOps = 3
  /** Untimed operations after the set-ups: the JIT is still compiling
    * the engine's hot paths after three warm-ups, and timed operations
    * would otherwise trend down within a run.
    */
  val ExtraWarmOps = 2

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val preMainS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    args.toList match {
      case "gen" :: out :: seed :: framesPerHour :: Nil =>
        Gen.run(new File(out), seed.toLong, framesPerHour.toInt)
      case "run" :: workload :: inputs :: work :: seconds :: trace :: result :: Nil =>
        val res = run(workload, Inputs(new File(inputs)), new File(work), seconds.toDouble,
          trace == "1", preMainS, entryNs)
        new ObjectMapper().writerWithDefaultPrettyPrinter()
          .writeValue(new File(result), toJava(res))
      case other =>
        System.err.println(s"usage: gen DIR SEED FRAMES | run WORKLOAD IN WORK SECONDS TRACE OUT; got $other")
        sys.exit(2)
    }
  }

  private def run(
      name: String,
      in: Inputs,
      work: File,
      seconds: Double,
      trace: Boolean,
      preMainS: Double,
      entryNs: Long,
  ): Map[String, Any] = {
    work.mkdirs()
    val w = Workloads(name, in, work)
    val setup, builds, warmups, walls, cpus = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    var attempted, failed = 0
    var warmupCompiles = 0L
    var perLayer = Map.empty[String, Double]
    var spark: SparkSession = null
    def failure(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: $e"
      Workloads.progress(s"$what failed: $e")
    }

    try for (i <- 1 to (if (trace) 1 else SetupCycles)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(Cores)
      builds += (System.nanoTime() - t0) / 1e9
      w.prepare(spark)
      val warm = Probe.time(spark, None)(w.warmUp(spark))
      // the first cycle starts at JVM start, so it also pays JVM boot
      setup += (System.nanoTime() - (if (i == 1) entryNs else t0)) / 1e9 +
        (if (i == 1) preMainS else 0.0)
      warmups += warm.wallS
      if (i == 1) warmupCompiles = warm.compiles
      Workloads.progress(f"set-up $i: ${setup.last}%.2f s (session ${builds.last}%.2f s, " +
        f"warm-up ${warm.wallS}%.2f s)")
      w.check(spark)
    } catch {
      case NonFatal(e) =>
        attempted = 1
        failure("set-up", e)
    }

    if (failed == 0) try (1 to ExtraWarmOps).foreach { _ =>
      w.op(spark)
      w.check(spark)
    } catch {
      case NonFatal(e) =>
        attempted += 1
        failure("warm-up", e)
    }

    if (failed > 0) ()
    else if (trace) {
      attempted = 1
      val session = Map(
        "session.build_s" -> Probe.median(builds.toSeq),
        "session.warmup_s" -> Probe.median(warmups.toSeq),
        "session.warmup_compiles" -> warmupCompiles.toDouble)
      try perLayer = session ++ Trace.run(spark, w, in, work)
      catch { case NonFatal(e) => failure("trace", e) }
      if (spark.sparkContext.isStopped) spark = GraftSession.local(Cores)
    } else {
      // a failure ends the run: it poisons every time the run would report
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (failed == 0 && (walls.size < MinOps || System.nanoTime() < deadline)) {
        attempted += 1
        try {
          val s = Probe.time(spark, None)(w.op(spark))
          w.check(spark)
          walls += s.wallS
          cpus += s.cpuS
          Workloads.progress(f"op $attempted: ${s.wallS}%.3f s wall, ${s.cpuS}%.3f s cpu")
        } catch {
          case NonFatal(e) => failure(s"op $attempted", e)
        }
      }
    }
    val facts =
      if (spark == null) Map.empty[String, Any]
      else try w.verify(spark)
      catch {
        case NonFatal(e) =>
          errors += s"verify: $e"
          Map("verify_failed" -> true)
      }
    if (spark != null) spark.stop()
    Map(
      "workload" -> name,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "wall_s" -> walls.toSeq,
      "cpu_s" -> cpus.toSeq,
      "setup_s" -> setup.toSeq,
      "peak_rss_mb" -> Probe.peakRssMb(),
      "facts" -> facts,
      "per_layer" -> perLayer,
      "session" -> Map("build_s" -> builds.toSeq, "warmup_s" -> warmups.toSeq),
    )
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }
}
