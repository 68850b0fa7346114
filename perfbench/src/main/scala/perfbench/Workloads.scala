package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.model.Tick
import graft.operators.{BookReplay, TickAnalytics}
import graft.sources.{MarketsDim, RawLogSource}
import graft.streaming.StreamingReplay

/** Where one seed's generated inputs live (see [[Gen]]). */
final case class Inputs(dir: File) {
  val day: String = new File(dir, "day").getPath
  val plain: String = new File(dir, "plain").getPath
  val graph: String = new File(dir, "graph").getPath
}

/** One benchmark workload: `op` is the timed operation, everything else
  * runs outside the timed interval.
  */
abstract class Workload(val name: String) {
  /** Workload preparation, run once per set-up cycle. */
  def prepare(spark: SparkSession): Unit = ()
  /** The untimed operation that ends each set-up (JIT, codegen cache). */
  def warmUp(spark: SparkSession): Unit = op(spark)
  def op(spark: SparkSession): Unit
  /** Check the output of the operation just run; throws on a mismatch. */
  def check(spark: SparkSession): Unit = ()
  /** After the timed loop: the heavier output checks, and the facts the
    * harness checks against its oracles.
    */
  def verify(spark: SparkSession): Map[String, Any] = Map.empty
}

object Workloads {
  def apply(name: String, in: Inputs, work: File): Workload = name match {
    case "replay_day" => new ReplayDay(in, work)
    case "tick_analytics" => new TickAnalyticsLoad(in, work)
    case "graph_loops" => new GraphLoops(in, work)
    case "replay_stream" => new ReplayStream(in, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Progress line in the JVM's log (not part of any result). */
  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-insensitive hash (sum of per-row xxhash64). */
  def rowsHash(df: DataFrame): (Long, String) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}

import Workloads._

/** The paper's workload: `cli replay` over the 24 hourly zstd logs. */
final class ReplayDay(in: Inputs, work: File) extends Workload("replay_day") {
  val out: String = new File(work, "replay_out").getPath
  private var first: Option[(Long, String)] = None

  def op(spark: SparkSession): Unit =
    graft.cli.Main.run(spark, List("replay", "--in", in.day, "--out", out))

  /** Every replay must write the same multiset of ticks; the harness
    * checks the last one against the DuckDB oracle.
    */
  override def check(spark: SparkSession): Unit = {
    val h = rowsHash(spark.read.parquet(out))
    first match {
      case None => first = Some(h)
      case Some(f) => require(f == h, s"replay output changed between runs: $f vs $h")
    }
  }

  override def verify(spark: SparkSession): Map[String, Any] = Map("replay_out" -> out)
}

/** The read side of the tick data: notebook aggregates, tick analytics
  * and one markets-dimension lookup over the hour-partitioned table.
  */
final class TickAnalyticsLoad(in: Inputs, work: File) extends Workload("tick_analytics") {
  val ticksDir: String = new File(work, "ticks_by_hour").getPath

  override def prepare(spark: SparkSession): Unit =
    graft.cli.Main.run(spark,
      List("replay", "--in", in.day, "--out", ticksDir, "--partition-by-hour"))

  def queries(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val ticks = spark.read.parquet(ticksDir).as[Tick]
    val firstHour = RawLogSource.discover(in.day).head
    Seq(
      "bbo_minutely" -> StreamingReplay.bboMinutely(ticks),
      "hourly_volume" -> StreamingReplay.hourlyVolume(ticks),
      "trades_bbo" -> TickAnalytics.tradesWithPrevailingBbo(ticks),
      "twa_spread" -> TickAnalytics.timeWeightedSpread(ticks),
      "markets" -> MarketsDim.tokenDim(
        MarketsDim.markets(RawLogSource.frames(spark, Seq(firstHour))))
        .filter($"token_id" === "A0"),
    )
  }

  def op(spark: SparkSession): Unit = queries(spark).foreach { case (_, df) => noop(df) }

  /** Result hashes; the harness requires them equal across runs of a seed. */
  override def verify(spark: SparkSession): Map[String, Any] =
    queries(spark).map { case (n, df) =>
      val (rows, h) = rowsHash(df)
      require(rows > 0, s"analytics query $n returned no rows")
      n -> s"$rows:$h"
    }.toMap
}

/** Five iterative graph queries of the registry, to the noop sink. */
final class GraphLoops(in: Inputs, work: File) extends Workload("graph_loops") {
  def op(spark: SparkSession): Unit = Gen.GraphQueries.foreach { q =>
    val t0 = System.nanoTime()
    noop(SparkEntry.queries(q)(spark, in.graph))
    spark.catalog.clearCache()
    progress(f"$q ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Write each result once; the harness hash-compares it with the
    * query's DuckDB oracle.
    */
  override def verify(spark: SparkSession): Map[String, Any] =
    Gen.GraphQueries.map { q =>
      val out = new File(work, s"graph_out/$q").getPath
      SparkEntry.queries(q)(spark, in.graph).write.mode("overwrite").parquet(out)
      spark.catalog.clearCache()
      q -> out
    }.toMap
}

/** The streaming fold over the first hours of the day as plain text, one
  * file per trigger.
  */
final class ReplayStream(in: Inputs, work: File) extends Workload("replay_stream") {
  private val table = "perfbench_stream_ticks"
  private var runs = 0
  private var expectedTicks = -1L
  private var streamTicks = -1L
  var lastQuery: Option[StreamingQuery] = None

  private def batchFold(spark: SparkSession): DataFrame =
    BookReplay.ticks(RawLogSource.feedMessagesIn(spark, in.day, None, Some(Gen.LastStreamHour)))
      .select(Tick.referenceColumns.map(col): _*)

  override def prepare(spark: SparkSession): Unit =
    expectedTicks = batchFold(spark).count()

  private def run(spark: SparkSession, memoryTable: Option[String]): Unit = {
    runs += 1
    val ckpt = new File(work, s"ckpt/$runs")
    deleteRecursively(ckpt)
    val lines = spark.readStream.option("maxFilesPerTrigger", "1").text(in.plain)
    val ticks = StreamingReplay.ticksStream(RawLogSource.feedMessagesFromLines(lines))
    val w = ticks.writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.getPath)
    val q = memoryTable match {
      case Some(t) => w.format("memory").queryName(t).start()
      case None => w.format("noop").start()
    }
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    lastQuery = Some(q)
  }

  /** The first warm-up writes to a memory sink, so its ticks can be
    * compared; later ones run the timed operation.
    */
  override def warmUp(spark: SparkSession): Unit =
    if (streamTicks >= 0) op(spark)
    else {
      spark.catalog.dropTempView(table)
      run(spark, Some(table))
    }

  def op(spark: SparkSession): Unit = run(spark, None)

  /** After the first warm-up: the stream's tick multiset must equal the
    * batch fold's over the same hours. After a timed run: the rows the noop
    * sink took must add up to the batch fold's tick count.
    */
  override def check(spark: SparkSession): Unit = {
    val q = lastQuery.get
    if (q.name == table) {
      val got = spark.table(table).select(Tick.referenceColumns.map(col): _*)
      val exp = batchFold(spark)
      val (gotN, missing, extra) =
        (got.count(), exp.exceptAll(got).count(), got.exceptAll(exp).count())
      require(gotN == expectedTicks && missing == 0 && extra == 0,
        s"stream ticks differ from the batch fold: $gotN vs $expectedTicks rows, " +
          s"$missing missing, $extra extra")
      streamTicks = gotN
      spark.catalog.dropTempView(table)
    } else {
      val rows = q.recentProgress.map(_.sink.numOutputRows).filter(_ >= 0)
      require(rows.nonEmpty && rows.sum == expectedTicks,
        s"stream emitted ${rows.sum} ticks, batch fold has $expectedTicks")
    }
    deleteRecursively(new File(work, s"ckpt/$runs"))
  }

  override def verify(spark: SparkSession): Map[String, Any] = Map("stream_ticks" -> streamTicks)

  def durations(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
}
