package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry
import graft.queries.FixtureOracle
import graft.sources.{FixtureLog, WireMsg}

/** Input generation for one seed, in one JVM without a Spark session:
  *
  *   - `day/`: 24 hourly `.jsonl.zst` logs (`FixtureLog.write`);
  *   - `plain/`: the first [[Gen.StreamHours]] of the same logs as plain
  *     text, for the streaming source (same spec and seed, so the same
  *     frames);
  *   - `msgs.jsonl`: the generator's structured messages of the day, the
  *     input of the DuckDB replay oracle;
  *   - `oracle.json`: the oracle SQL texts, taken from the engine
  *     (`FixtureOracle.referenceTicksSql`, `SparkEntry.oracleSql`);
  *   - `manifest.json`: generated bytes, frames and messages.
  */
object Gen {
  val DayHours = 24
  /** `FixtureLog` names hours 10 upwards, so hours from 24 on get an
    * invalid receipt time (`T24:..` to `T33:..`) that the streaming
    * parse drops: at most 14 hours can be streamed. 4 hours (10..13)
    * keep one streaming run near 3 s on 4 cores.
    */
  val StreamHours = 4
  val NMarkets = 50
  val AssetsPerMarket = 2
  val LastStreamHour = "2025-07-01-13"
  val GraphQueries = Seq("q_graph_sssp", "q_graph_kcore", "q_graph_scc_entity",
    "q_graph_pagerank", "q_graph_temporal_anf")

  def run(out: File, seed: Long, framesPerFile: Int): Unit = {
    out.mkdirs()
    val day = FixtureLog.Spec(dir = new File(out, "day").getPath, nFiles = DayHours,
      framesPerFile = framesPerFile, nMarkets = NMarkets,
      assetsPerMarket = AssetsPerMarket, seed = seed)
    val plain = day.copy(dir = new File(out, "plain").getPath, nFiles = StreamHours,
      compress = false)
    val dayFiles = FixtureLog.write(day)
    FixtureLog.write(plain)
    val msgs = FixtureLog.feedMessages(day)
    val mapper = new ObjectMapper()
    val w = new PrintWriter(new File(out, "msgs.jsonl"), "UTF-8")
    try msgs.foreach(m => w.println(mapper.writeValueAsString(msgJson(m))))
    finally w.close()

    val oracle = new java.util.LinkedHashMap[String, String]()
    oracle.put("replay_ticks",
      FixtureOracle.referenceTicksSql(new File(out, "msgs").getAbsolutePath))
    GraphQueries.foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
    mapper.writeValue(new File(out, "oracle.json"), oracle)

    val manifest = new java.util.LinkedHashMap[String, Any]()
    manifest.put("seed", seed)
    manifest.put("frames_per_hour", framesPerFile)
    manifest.put("markets", NMarkets)
    manifest.put("assets", NMarkets * AssetsPerMarket)
    manifest.put("day_files", dayFiles.size)
    manifest.put("day_zstd_bytes", dayFiles.map(p => new File(p).length()).sum)
    manifest.put("plain_bytes",
      new File(plain.dir).listFiles().map(_.length()).sum)
    // every hour holds its feed frames plus 3 operational lines
    manifest.put("day_frames", DayHours.toLong * (framesPerFile + 3))
    manifest.put("day_feed_messages", msgs.size)
    manifest.put("stream_feed_messages",
      msgs.count(_.file_hour <= LastStreamHour))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(out, "manifest.json"), manifest)
  }

  private def msgJson(m: WireMsg): java.util.Map[String, Any] = {
    def levels(ls: Seq[graft.model.Level]) =
      if (ls == null) null
      else ls.map(l => java.util.Map.of("price", l.price, "size", l.size)).asJava
    def changes(cs: Seq[graft.model.Change]) =
      if (cs == null) null
      else cs.map(c => java.util.Map.of("price", c.price, "size", c.size, "side", c.side))
        .asJava
    val j = new java.util.LinkedHashMap[String, Any]()
    j.put("file_hour", m.file_hour)
    j.put("line_no", m.line_no)
    j.put("msg_idx", m.msg_idx)
    j.put("event_type", m.event_type)
    j.put("market", m.market)
    j.put("asset", m.asset)
    j.put("ts", m.ts)
    j.put("side", m.side)
    j.put("price", m.price)
    j.put("size", m.size)
    j.put("asks", levels(m.asks))
    j.put("bids", levels(m.bids))
    j.put("changes", changes(m.changes))
    j
  }
}
