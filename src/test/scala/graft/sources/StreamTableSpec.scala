package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** `Tables.streamTable` layout resolution: the driver fixture is a
  * FLAT single parquet file per table; Spark-written datasets (MakeSf1,
  * any real lake) make `<table>.parquet` a DIRECTORY of part files.
  * The old glob shim silently read ZERO rows from the directory shape —
  * this spec pins both layouts end-to-end through a real stream.
  */
class StreamTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def streamCount(dir: String, table: String): Long = {
    val sinkName = s"stream_table_spec_${table}_${System.nanoTime()}"
    val q = Tables.streamTable(spark, dir, table)
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.table(sinkName).collect().head.getLong(0)
    spark.catalog.dropTempView(sinkName)
    n
  }

  test("flat single-file layout (the driver fixture) streams all rows") {
    val n = streamCount("/root/testdata/sf0.001", "orders")
    val exact = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").count()
    assert(n == exact && n > 0)
  }

  test("directory layout (Spark-written, the sf1/lake shape) streams all " +
    "rows — the glob shim read ZERO here") {
    val root = java.nio.file.Files.createTempDirectory("graft_streamtable").toString
    val rows = (1L to 500L).map(i => (i, s"v$i"))
    rows.toDF("id", "v").repartition(4)
      .write.mode("overwrite").parquet(s"$root/things.parquet")
    assert(streamCount(root, "things") == 500L)
  }
}
