package graft.sources

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.github.luben.zstd.ZstdOutputStream
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Frame

/** Output sinks (SURVEY.md §2.1 K1-K4).
  *
  * K1/K3/K4 are plain Spark writers — batching, columnarization, and
  * compression come from the parquet/csv sinks (the reference
  * hand-rolls 10k-row Arrow batches, `tick_generator.rs:33-140`;
  * Spark's vectorized writer is that machinery, built in).
  */
object Sinks {

  /** K1: Parquet tick sink, SNAPPY like the reference
    * (`tick_generator.rs:60-63`). Optionally hour-partitioned — at
    * 100 TB the partition column is what keeps downstream time-range
    * scans pruned.
    */
  def writeTicksParquet(
      ticks: DataFrame,
      path: String,
      partitionByHour: Boolean = false,
  ): Unit = {
    val w = ticks.write.mode("overwrite").option("compression", "snappy")
    if (partitionByHour) w.partitionBy("file_hour").parquet(path)
    else w.parquet(path)
  }

  /** K4: legacy CSV tick sink. The CSV generation predates the
    * BID/ASK rename, so sides are written BUY/SELL
    * (`tick_generator.rs:407-413`; the notebook filters on these,
    * `bbo.ipynb` cell 2).
    */
  def writeTicksCsvLegacy(ticks: DataFrame, path: String): Unit =
    ticks
      .withColumn("side",
        when(col("side") === "BID", "BUY")
          .when(col("side") === "ASK", "SELL")
          .otherwise(col("side")))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** Bucketed message lake — the INGEST side of shuffle-free replay.
    * Parse the raw log once, write it bucketed by `assetId`, and every
    * subsequent replay / reprocess / backfill over the lake runs
    * `BookReplay.ticksPreDistributed` with ZERO exchanges: the bucketed
    * scan satisfies the co-location contract (each asset's messages
    * land in exactly one bucket), so the only remaining work per task
    * is the in-partition spillable sort and the fold. The write pays
    * one shuffle, `repartition(nBuckets, assetId)`: it hashes like the
    * bucketing, so each writer task holds exactly one bucket and writes
    * one file for it (without it, N writer tasks leave up to
    * N × nBuckets files). Every later read of the lake is shuffle-free.
    * Files are additionally sorted by the fold's arrival key, so the
    * read-side sort consumes mostly-ordered runs.
    *
    * `nBuckets` sizes read parallelism: one bucket = one task in the
    * shuffle-free plan, so pick ~2-4× the executor-core count of the
    * REPLAY cluster (not the ingest cluster).
    */
  def writeBucketedLake(
      msgs: Dataset[graft.model.FeedMsg],
      table: String,
      path: String,
      nBuckets: Int,
  ): Unit =
    msgs.repartition(nBuckets, col("assetId"))
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, "assetId")
      .sortBy("assetId", "fileHour", "lineNo", "msgIdx")
      .saveAsTable(table)

  /** Typed view of a lake written by `writeBucketedLake`; feed this to
    * `BookReplay.ticksPreDistributed`.
    */
  def readBucketedLake(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
  ): Dataset[graft.model.FeedMsg] = {
    import spark.implicits._
    spark.table(table).as[graft.model.FeedMsg]
  }

  /** K2: rotating zstd-JSONL frame sink — one
    * `YYYY-MM-DD-HH.jsonl.zst` per hour, lines in arrival order,
    * byte-format-compatible with the collector's log
    * (`collector/src/main.rs:137-183`). Executors each write the hours
    * they own (frames are partitioned by hour first), so the sink
    * scales with the cluster; "rotation" is the partition boundary.
    */
  def writeFramesJsonlZst(frames: Dataset[Frame], dir: String): Unit = {
    new File(dir).mkdirs()
    frames
      .repartition(col("fileHour"))
      .sortWithinPartitions(col("fileHour"), col("lineNo"))
      .foreachPartition { (it: Iterator[Frame]) =>
        val mapper = new ObjectMapper()
        var hour: String = null
        var out: OutputStreamWriter = null
        def roll(h: String): Unit = {
          if (out != null) out.close()
          hour = h
          out = new OutputStreamWriter(
            new ZstdOutputStream(new FileOutputStream(new File(dir, s"$h.jsonl.zst"))),
            StandardCharsets.UTF_8)
        }
        try {
          it.foreach { f =>
            if (f.fileHour != hour) roll(f.fileHour)
            val node = mapper.createObjectNode()
            node.put("timestamp", f.frameTs)
            node.put("message_type", f.messageType)
            // feed frames carry string content (double-encoded JSON);
            // dimension/operational frames carry a JSON object; a
            // quarantined _corrupt frame's content is the raw
            // (possibly invalid) line and must fall back to a string
            // rather than fail the sink
            val asObject =
              if (f.content != null && (f.content.startsWith("{") || f.content.startsWith("["))
                && f.messageType != "feed_message")
                try Some(mapper.readTree(f.content))
                catch { case _: Exception => None }
              else None
            asObject match {
              case Some(tree) =>
                node.set[com.fasterxml.jackson.databind.JsonNode]("content", tree); ()
              case None => node.put("content", f.content); ()
            }
            out.write(node.toString)
            out.write("\n")
          }
        } finally if (out != null) out.close()
      }
  }
}
