package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{GraftSession, SparkEntry}
import graft.operators.BookReplay
import graft.sources.{RawLogSource, Sinks}

/** The traced pass: every per-layer metric, from one run with a
  * [[Collector]] attached, timed around calls into each layer.
  *
  *   - replay: nested prefix pipelines (frames, + parse, + fold,
  *     + order, + Parquet write); a layer's self time is the difference
  *     of consecutive prefix medians;
  *   - tick analytics: each query on its own, after a warm-up pass;
  *   - loop operators: one call per query;
  *   - streaming: the fields of each trigger's `StreamingQueryProgress`;
  *   - the workload's own operation, without and then with the
  *     collector (faster of two each): the difference is the tracing
  *     overhead;
  *   - last, one replay on a `local[1]` session against the reference's
  *     single-threaded figure.
  */
object Trace {
  val Reps = 2
  /** The reference replays 24 h of its logs in about 120 s on one thread
    * (its README); the benchmark scales that to the frames it generated,
    * at the reference's 150 000 frames per hour.
    */
  val ReferenceSecondsPerDay = 120.0
  val ReferenceFramesPerDay = 24 * 150000.0

  /** The median-wall sample of [[Reps]] timed calls (the faster of two). */
  private def reps(spark: SparkSession, c: Option[Collector])(body: => Unit): Sample =
    (1 to Reps).map(_ => Probe.time(spark, c)(body)).sortBy(_.wallS).apply((Reps - 1) / 2)

  /** Task run time over wall time × cores: 1 when every core ran a task. */
  private def busyShare(s: SparkCounts, wallS: Double): Double =
    s.runMs / 1e3 / (wallS * BenchMain.Cores)

  def run(spark: SparkSession, w: Workload, in: Inputs, work: File): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    def section(name: String): Unit =
      Workloads.progress(f"trace: $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // untraced references: the workload's operation and one cli replay
    val files = RawLogSource.discover(in.day)
    val out = new File(work, "trace_replay_out").getPath
    val cliReplay = () => graft.cli.Main.run(spark, List("replay", "--in", in.day, "--out", out))
    val untraced = reps(spark, None)(w.op(spark))
    val cli = if (w.name == "replay_day") untraced else reps(spark, None)(cliReplay())
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    val col = Some(c)
    m("trace.overhead_s") = reps(spark, col)(w.op(spark)).wallS - untraced.wallS

    section("replay")
    // replay: prefix pipelines over the day
    def frames = RawLogSource.frames(spark, files)
    def msgs = RawLogSource.feedMessages(frames)
    val replay = () => Sinks.writeTicksParquet(BookReplay.referenceTicks(msgs), out)
    val p1 = reps(spark, col)(Workloads.noop(frames.toDF()))
    val p2 = reps(spark, col)(Workloads.noop(msgs.toDF()))
    val p3 = reps(spark, col)(Workloads.noop(BookReplay.ticks(msgs).toDF()))
    val p4 = reps(spark, col)(Workloads.noop(BookReplay.referenceTicks(msgs)))
    val p5 = reps(spark, col)(replay())
    m("replay.frames_s") = p1.wallS
    m("replay.parse_s") = p2.wallS - p1.wallS
    m("replay.fold_s") = p3.wallS - p2.wallS
    m("replay.order_s") = p4.wallS - p3.wallS
    m("replay.write_s") = p5.wallS - p4.wallS
    m("replay.self_sum_share") = p5.wallS / cli.wallS
    m("replay.frames") = frames.count().toDouble
    m("replay.feed_msgs") = msgs.count().toDouble
    m("replay.ticks") = spark.read.parquet(out).count().toDouble
    m("replay.in_zstd_bytes") = files.map(f => new File(f).length()).sum.toDouble
    m("replay.out_bytes") = Workloads.dirBytes(new File(out)).toDouble
    m("replay.shuffle_write_bytes") = p3.spark.shuffleWriteBytes.toDouble
    m("replay.spill_bytes") = p3.spark.spillBytes.toDouble
    m("replay.jobs") = p4.spark.jobs.toDouble
    m("replay.shuffle_read_amplification") =
      p4.spark.shuffleReadBytes.toDouble / math.max(1L, p4.spark.shuffleWriteBytes)
    m("replay.core_busy_share") = busyShare(p5.spark, p5.wallS)
    m("replay.gc_s") = p5.gcS
    m("replay.compiles") = p5.compiles.toDouble

    section("analytics")
    // tick analytics, one query at a time
    val analytics = new TickAnalyticsLoad(in, work)
    if (w.name != analytics.name) {
      analytics.prepare(spark)
      analytics.op(spark) // warm-up
    }
    val perQuery = analytics.queries(spark).map { case (n, df) =>
      n -> Probe.time(spark, col)(Workloads.noop(df))
    }.toMap
    perQuery.foreach { case (n, s) => m(s"analytics.${n}_s") = s.wallS }
    val a = perQuery.values.map(_.spark).reduce(_ + _)
    val aWall = perQuery.values.map(_.wallS).sum
    m("analytics.scan_bytes") = a.inputBytes.toDouble
    m("analytics.shuffle_write_bytes") = a.shuffleWriteBytes.toDouble
    m("analytics.spill_bytes") = a.spillBytes.toDouble
    m("analytics.core_busy_share") = busyShare(a, aWall)

    section("loops")
    // loop operators, one call per query: unless the workload is
    // graph_loops, this is the first call of each loop plan in the JVM,
    // so it includes its codegen (counted in loops.compiles)
    val perLoop = Gen.GraphQueries.map { q =>
      q -> Probe.time(spark, col) {
        Workloads.noop(SparkEntry.queries(q)(spark, in.graph))
        spark.catalog.clearCache()
      }
    }
    perLoop.foreach { case (q, s) => m(s"loops.${q.stripPrefix("q_graph_")}_s") = s.wallS }
    val l = perLoop.map(_._2.spark).reduce(_ + _)
    val lWall = perLoop.map(_._2.wallS).sum
    m("loops.jobs") = l.jobs.toDouble
    m("loops.stages") = l.stages.toDouble
    m("loops.shuffle_write_bytes") = l.shuffleWriteBytes.toDouble
    m("loops.compiles") = perLoop.map(_._2.compiles).sum.toDouble
    m("loops.gc_s") = perLoop.map(_._2.gcS).sum
    m("loops.core_busy_share") = busyShare(l, lWall)

    section("stream")
    // streaming fold: the progress record of every trigger
    val stream = new ReplayStream(in, work)
    stream.prepare(spark)
    if (w.name != stream.name) {
      stream.op(spark) // warm-up
      stream.check(spark)
    }
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    stream.op(spark)
    stream.check(spark)
    val id = stream.lastQuery.get.id
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
    val ps = progress.synchronized(progress.filter(_.id == id).toSeq)
    require(ps.nonEmpty, "no streaming progress recorded")
    def dur(k: String) = ps.map(p => stream.durations(p).getOrElse(k, 0L).toDouble)
    val states = ps.flatMap(_.stateOperators.headOption)
    m("stream.batches") = ps.size.toDouble
    m("stream.batch_ms_p50") = Probe.median(dur("triggerExecution"))
    m("stream.add_batch_ms") = dur("addBatch").sum
    m("stream.planning_ms") = dur("queryPlanning").sum
    m("stream.wal_ms") = dur("walCommit").sum
    m("stream.state_rows") = states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    m("stream.state_mem_bytes") = states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    m("stream.state_update_ms") = states.map(_.allUpdatesTimeMs.toDouble).sum
    m("stream.state_commit_ms") = states.map(_.commitTimeMs.toDouble).sum
    m("stream.input_rows_per_s") =
      ps.map(_.numInputRows).sum / (dur("triggerExecution").sum / 1e3)

    section("single-thread")
    // one replay on a single-threaded session (the caller's session is
    // stopped; the caller builds a new one)
    spark.stop()
    val one = GraftSession.local(1)
    try {
      val args = List("replay", "--in", in.day, "--out", new File(work, "trace_single").getPath)
      // no warm-up: the JIT and the JVM-wide codegen cache are warm
      val s = Probe.time(one, None)(graft.cli.Main.run(one, args))
      m("replay.single_thread_s") = s.wallS
      m("replay.vs_reference") =
        ReferenceSecondsPerDay * (m("replay.frames") / ReferenceFramesPerDay) / s.wallS
    } finally one.stop()
    m.toMap
  }
}
