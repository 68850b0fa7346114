package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Lazy accessors for the driver-provided parquet tables under one
  * scale-factor directory (TESTDATA.md). Plain `spark.read.parquet`
  * scans: Catalyst handles column pruning + predicate pushdown, so
  * downstream operators should express filters/projections
  * declaratively rather than materializing these.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (read as long under nanosAsLong, then
    * truncated to micros — the same truncation the DuckDB oracle applies)
    * and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    * Normalize BOTH to TimestampType here so every downstream consumer —
    * watermarks, unix_millis, epoch casts — sees one type. The NTZ→TZ cast
    * is value-preserving because GraftSession/Verify pin the session
    * timezone to UTC.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTs(t("events"))
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Normalize `ts` to a true TimestampType whatever parquet encoding the
    * driver generated — works on batch AND streaming DataFrames, so the
    * `readStream.schema(rawSchema)` sites share one code path with
    * `Tables.events`. NTZ→TZ is value-preserving because GraftSession and
    * Verify pin the session timezone to UTC.
    */
  def normalizeEventTs(raw: DataFrame, tsCol: String = "ts"): DataFrame =
    raw.schema(tsCol).dataType match {
      case LongType => // TIMESTAMP(NANOS) read under nanosAsLong
        raw.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType => // TIMESTAMP(MICROS, isAdjustedToUTC=false)
        raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => raw
    }

  /** File-stream source over ONE fixture table, agnostic to the
    * directory's layout. The driver writes flat single files
    * (`$dir/events.parquet` IS a parquet file), so the stream gates
    * historically filtered the directory listing with
    * `pathGlobFilter=<table>.parquet`; Spark-written datasets (the
    * `MakeSf1` scale synthesis, any real lake) make `<table>.parquet`
    * a DIRECTORY of part files that the same glob silently excludes —
    * an empty stream. Resolve the layout once here: a directory
    * streams directly, a flat file keeps the glob shim. In production
    * the same queries point this at an arriving-files directory; the
    * shim exists only because the fixture is one static file. The
    * stream's schema is the table's own parquet schema, read once.
    */
  def streamTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    // probe via Hadoop FileSystem, not java.io.File: the table can
    // live on any supported filesystem (hdfs://, s3a://, file:/), and
    // java.io.File.isDirectory is silently false for every non-local
    // URI — which would drop a Spark-written directory dataset into
    // the glob branch and yield exactly the empty stream this helper
    // exists to prevent.
    val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = try fs.getFileStatus(p).isDirectory
                catch { case _: java.io.FileNotFoundException => false }
    val schema = spark.read.parquet(p.toString).schema
    if (isDir)
      spark.readStream.schema(schema).parquet(p.toString)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }
}
