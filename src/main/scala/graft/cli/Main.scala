package graft.cli

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.BookReplay
import graft.sources.{MarketsDim, RawLogSource, Sinks}

/** CLI entry points mirroring the reference binary's verbs (SURVEY.md
  * §3.1/§3.3; `cli/src/main.rs`):
  *
  * {{{
  * download --in CACHEDIR [--since 24h | --start TS [--end TS]]
  *          [--from SRCDIR]
  * replay   --in DIR [--since 24h | --start TS [--end TS]]
  *          [-m MARKET]... [--out PATH] [--csv] [--partition-by-hour]
  * markets  --in DIR [--since Δ | --start TS] [--earliest]
  *          [--filter SUBSTR] [--csv] [--raw]
  * }}}
  *
  * `replay` is the reference's single-threaded decode→parse→fold→write
  * pipeline re-expressed as: pruned file listing → distributed scan of
  * contiguous runs of hours → per-run book effects → each run folded
  * from its seeded books → parquet/csv sink, with no shuffle and no
  * sort (`BookReplay.withOrderedTicks`). `--partition-by-hour` keeps
  * all 11 tick columns and partitions the Parquet output by hour.
  * `download` is the hour-cache fill (`cli download`,
  * `cli/src/main.rs:29-31`): compute the required hours, fetch the
  * missing ones 4-wide. The transport is pluggable — `--from SRCDIR`
  * copies from a local mirror (this environment has no egress); a
  * deployment passes a bucket fetcher to `HourCache.ensureRange`.
  * Without `--from` it reports cached/missing (a dry run).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args.toList)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String], now: Instant = Instant.now()): Unit =
    args match {
      case "download" :: rest => download(parseOpts(rest), now)
      case "replay" :: rest => replay(spark, parseOpts(rest), now)
      case "markets" :: rest => markets(spark, parseOpts(rest), now)
      case other =>
        sys.error(s"usage: (download|replay|markets) [options]; got: $other")
    }

  final case class Opts(
      flags: Set[String],
      values: Map[String, String],
      multi: Map[String, List[String]],
  ) {
    def get(k: String): Option[String] = values.get(k)
    def has(k: String): Boolean = flags(k)
    def all(k: String): List[String] = multi.getOrElse(k, Nil)
  }

  private val ValueOpts =
    Set("--in", "--since", "--start", "--end", "--out", "--filter", "--from")
  private val MultiOpts = Set("-m")

  private[cli] def parseOpts(args: List[String]): Opts = {
    def loop(rest: List[String], acc: Opts): Opts = rest match {
      case Nil => acc
      case k :: v :: t if ValueOpts(k) =>
        loop(t, acc.copy(values = acc.values + (k -> v)))
      case k :: v :: t if MultiOpts(k) =>
        loop(t, acc.copy(multi = acc.multi + (k -> (acc.multi.getOrElse(k, Nil) :+ v))))
      case k :: Nil if ValueOpts(k) || MultiOpts(k) =>
        // a value-taking option as the last token must fail loudly,
        // not degrade into a flag (a trailing `--out` would otherwise
        // silently replay to the default output path)
        sys.error(s"option $k requires a value")
      case k :: t if k.startsWith("-") =>
        loop(t, acc.copy(flags = acc.flags + k))
      case other :: _ => sys.error(s"unexpected argument: $other")
    }
    loop(args, Opts(Set.empty, Map.empty, Map.empty))
  }

  /** Hour-range from CLI options: `--since Δ` wins
    * (`[now-Δ, trunc_hour(now)-1min]`, `cli/src/main.rs:259-262`),
    * else optional `--start/--end` timestamps.
    */
  private[cli] def hourRange(o: Opts, now: Instant): (Option[String], Option[String]) =
    o.get("--since") match {
      case Some(d) =>
        val (a, b) = TimeArgs.sinceRange(TimeArgs.parseDuration(d), now)
        (Some(TimeArgs.hourKey(a)), Some(TimeArgs.hourKey(b)))
      case None =>
        (o.get("--start").map(s => TimeArgs.hourKey(TimeArgs.parseTs(s))),
          o.get("--end").map(s => TimeArgs.hourKey(TimeArgs.parseTs(s))))
    }

  /** Instant range from CLI options (download wants instants, not hour
    * keys — HourCache walks hours the reference's way).
    */
  private[cli] def instantRange(o: Opts, now: Instant): (Instant, Instant) =
    o.get("--since") match {
      case Some(d) => TimeArgs.sinceRange(TimeArgs.parseDuration(d), now)
      case None =>
        (o.get("--start").map(TimeArgs.parseTs).getOrElse(Instant.EPOCH),
          o.get("--end").map(TimeArgs.parseTs).getOrElse(now))
    }

  private def download(o: Opts, now: Instant): Unit = {
    val cacheDir = o.get("--in").getOrElse(sys.error("download requires --in CACHEDIR"))
    val (start, end) = instantRange(o, now)
    o.get("--from") match {
      case Some(src) =>
        val fetch = (hour: String, target: java.io.File) => {
          val s = new java.io.File(src, s"$hour.jsonl.zst")
          s.exists() && {
            java.nio.file.Files.copy(s.toPath, target.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            true
          }
        }
        val present = graft.sources.HourCache.ensureRange(cacheDir, start, end, fetch)
        println(s"[graft] download: ${present.size} hour files present in $cacheDir")
      case None => // dry run: report the cache partition
        val p = graft.sources.HourCache.partitionByCache(
          cacheDir, graft.sources.HourCache.requiredHours(start, end))
        println(s"[graft] download (dry run): ${p.cached.size} cached, " +
          s"${p.missing.size} missing of ${p.cached.size + p.missing.size} " +
          "required hours (pass --from SRCDIR or wire a bucket fetcher)")
    }
  }

  private def replay(spark: SparkSession, o: Opts, now: Instant): Unit = {
    val dir = o.get("--in").getOrElse(sys.error("replay requires --in DIR"))
    val (startHour, endHour) = hourRange(o, now)
    val out = o.get("--out").getOrElse("output.parquet")
    val marketFilter = o.all("-m") match {
      case Nil => None
      case ms => Some(ms.toSet)
    }
    val msgs = RawLogSource.feedMessagesIn(spark, dir, startHour, endHour)
    BookReplay.withOrderedTicks(msgs, marketFilter) { ticks =>
      if (o.has("--csv"))
        Sinks.writeTicksCsvLegacy(BookReplay.reference(ticks), out)
      else if (o.has("--partition-by-hour"))
        Sinks.writeTicksParquet(ticks.toDF(), out, partitionByHour = true)
      else
        Sinks.writeTicksParquet(BookReplay.reference(ticks), out)
    }
    println(s"[graft] replay written to $out")
  }

  private def markets(spark: SparkSession, o: Opts, now: Instant): Unit = {
    import spark.implicits._
    val dir = o.get("--in").getOrElse(sys.error("markets requires --in DIR"))
    val (startHour, endHour) = hourRange(o, now)
    val files = RawLogSource.discover(dir, startHour, endHour)
    require(files.nonEmpty, s"no log files in $dir for the requested range")
    // earliest file when a range was requested (or --earliest), else
    // latest — the reference's file choice (`cli/src/main.rs:180-185`)
    val rangeGiven = o.get("--since").isDefined || o.get("--start").isDefined
    val file =
      if (o.has("--earliest") || rangeGiven) files.head else files.last
    val frames = RawLogSource.frames(spark, Seq(file))
    if (o.has("--raw")) {
      // raw JSON of the first active_markets frame's content
      // (`--raw`, `cli/src/main.rs:92-94`)
      val raw = frames
        .filter($"messageType" === "active_markets")
        .orderBy($"lineNo")
        .limit(1)
        .select($"content")
        .as[String]
        .collect()
      raw.foreach(println)
      return
    }
    val ms = MarketsDim.markets(frames)
    val filtered = o.get("--filter") match {
      case Some(f) => ms.filter(lower($"question").contains(f.toLowerCase))
      case None => ms
    }
    // reference prints question,question_id,outcome,token_id
    // (`cli/src/main.rs:212-228`)
    val dim = MarketsDim.tokenDim(filtered)
      .select($"question", $"question_id", $"outcome", $"token_id")
    if (o.has("--csv")) {
      // header line matches the reference (`cli/src/main.rs:211`)
      println("question,question_id,outcome,token_id")
      dim.collect().foreach(r => println(r.mkString(",")))
    } else
      dim.show(1000, truncate = false)
  }
}
