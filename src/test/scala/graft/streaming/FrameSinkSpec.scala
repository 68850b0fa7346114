package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.RawLogSource

/** Batch-level properties of the exactly-once rotating frame sink: a
  * replayed batch reproduces byte-identical files (the idempotence the
  * crash-resume gate q_stream_sink_exactly_once rides on), hours
  * rotate into separate files, temp files stay invisible to discovery,
  * and lines survive verbatim in receipt order.
  */
class FrameSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = new File(sys.props("java.io.tmpdir"), name)
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d.getPath
  }

  private def rows(rs: Seq[(String, Long, String)]) = {
    import spark.implicits._
    rs.toDF("fileHour", "lineNo", "value")
  }

  private def readLines(f: File): Seq[String] = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.FileInputStream(f))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  test("hours rotate into separate files; lines verbatim in receipt order") {
    val dir = tmpDir("frame_sink_rotate")
    FrameSink.writeBatch(rows(Seq(
      ("2025-07-01-11", 20L, """{"b":2}"""),
      ("2025-07-01-10", 10L, """{"a":1}"""),
      ("2025-07-01-11", 5L, """{"b":1}"""),
    )), dir, batchId = 0L)
    val files = new File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq ===
      Seq("2025-07-01-10.b000000000.jsonl.zst", "2025-07-01-11.b000000000.jsonl.zst"))
    assert(readLines(new File(dir, files(0))) === Seq("""{"a":1}"""))
    // within an hour, receipt (lineNo) order wins over input order
    assert(readLines(new File(dir, files(1))) ===
      Seq("""{"b":1}""", """{"b":2}"""))
  }

  test("replaying a batch is idempotent: same files, same bytes") {
    val dir = tmpDir("frame_sink_idem")
    val batch = rows((1 to 50).map(i =>
      (s"2025-07-01-${10 + i % 2}", i.toLong, s"""{"i":$i}""")))
    FrameSink.writeBatch(batch, dir, batchId = 7L)
    val first = new File(dir).listFiles().map(f =>
      f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    FrameSink.writeBatch(batch, dir, batchId = 7L) // the crash-replay
    val second = new File(dir).listFiles().map(f =>
      f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    assert(second === first)
    assert(first.keySet ===
      Set("2025-07-01-10.b000000007.jsonl.zst", "2025-07-01-11.b000000007.jsonl.zst"))
  }

  test("distinct batches coexist; discover orders them within the hour " +
    "and fileHourOf strips the batch suffix") {
    val dir = tmpDir("frame_sink_multi")
    FrameSink.writeBatch(rows(Seq(("2025-07-01-10", 1L, "x"))), dir, 0L)
    FrameSink.writeBatch(rows(Seq(("2025-07-01-10", 2L, "y"))), dir, 1L)
    val found = RawLogSource.discover(dir)
    assert(found.map(p => new File(p).getName) ===
      Seq("2025-07-01-10.b000000000.jsonl.zst", "2025-07-01-10.b000000001.jsonl.zst"))
    assert(found.map(RawLogSource.fileHourOf).distinct === Seq("2025-07-01-10"))
  }

  test("a successful commit sweeps orphaned temp files left by earlier " +
    "failed attempts of the same (hour, batch) file") {
    val dir = tmpDir("frame_sink_tmp_sweep")
    // simulate a killed attempt's leftover: same final name, different
    // attempt suffix than any live attempt will use
    val orphan = new File(dir,
      ".2025-07-01-10.b000000004.jsonl.zst.a99999999.tmp")
    new File(dir).mkdirs()
    Files.write(orphan.toPath, "half-written".getBytes("UTF-8"))
    // an orphan for a DIFFERENT batch must survive (its own replay
    // will sweep it)
    val other = new File(dir,
      ".2025-07-01-10.b000000005.jsonl.zst.a11111111.tmp")
    Files.write(other.toPath, "other-batch".getBytes("UTF-8"))
    FrameSink.writeBatch(rows(Seq(("2025-07-01-10", 1L, "x"))), dir, 4L)
    assert(!orphan.exists(), "orphaned temp for committed file must be swept")
    assert(other.exists(), "unrelated batch's temp must be untouched")
    assert(new File(dir, "2025-07-01-10.b000000004.jsonl.zst").exists())
  }

  test("leftover temp files are invisible to discovery") {
    val dir = tmpDir("frame_sink_tmp")
    FrameSink.writeBatch(rows(Seq(("2025-07-01-10", 1L, "x"))), dir, 0L)
    // simulate a crash mid-write: a stale temp file on disk
    Files.write(new File(dir, ".2025-07-01-11.b000000001.jsonl.zst.tmp").toPath,
      "partial".getBytes)
    assert(RawLogSource.discover(dir).map(p => new File(p).getName) ===
      Seq("2025-07-01-10.b000000000.jsonl.zst"))
  }

  test("a crash DURING the batch write (mid-partition) leaves no visible " +
    "file for that hour, and the replayed batch heals it completely") {
    val dir = tmpDir("frame_sink_midwrite")
    val poisoned = rows((1 to 20).map(i => ("2025-07-01-10", i.toLong, s"line$i")))
      .withColumn("value",
        when(col("lineNo") === 15L,
          raise_error(lit("graft-injected mid-write failure")))
          .otherwise(col("value")))
    intercept[Exception] {
      FrameSink.writeBatch(poisoned, dir, batchId = 3L)
    }
    // the hour's final file must NOT exist — only tmp garbage may remain,
    // and discovery must not see it
    assert(RawLogSource.discover(dir).isEmpty,
      s"partial write visible: ${new File(dir).listFiles().map(_.getName).mkString(",")}")
    // the retried batch (same id, full data) heals the hour
    FrameSink.writeBatch(
      rows((1 to 20).map(i => ("2025-07-01-10", i.toLong, s"line$i"))), dir, batchId = 3L)
    val found = RawLogSource.discover(dir)
    assert(found.map(p => new File(p).getName) === Seq("2025-07-01-10.b000000003.jsonl.zst"))
    assert(readLines(new File(found.head)) === (1 to 20).map(i => s"line$i"))
  }

  test("ProcessingTime soak: files arriving across an hour boundary while " +
    "the query runs rotate correctly, and the multi-batch log replays in " +
    "receipt order (VERDICT r6 #6; collector/src/main.rs:137-183)") {
    val srcDir = tmpDir("frame_sink_soak_src")
    val outDir = tmpDir("frame_sink_soak_out")
    val ckpt = tmpDir("frame_sink_soak_ckpt")
    def line(hour: String, mmss: String, i: Int): String =
      s"""{"timestamp":"2025-07-01T$hour:$mmss+00:00","message_type":"x","content":"$i"}"""
    def writeSrc(name: String, lines: Seq[String]): Unit = {
      val tmp = new File(srcDir, s".$name.tmp")
      Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      assert(tmp.renameTo(new File(srcDir, name)))
    }
    // batch 0: hour 10 only — on disk before the query starts
    val b0 = (1 to 5).map(i => line("10", f"00:${i}%02d", i))
    writeSrc("f0.txt", b0)
    val q = FrameSink.start(
      spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1").text(srcDir).toDF(),
      outDir, ckpt, failAfterBatch = None,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable()
      // batch 1 arrives mid-run and STRADDLES the 10→11 hour boundary
      val b1 = (6 to 8).map(i => line("10", f"30:${i}%02d", i)) ++
        (9 to 11).map(i => line("11", f"00:${i}%02d", i))
      writeSrc("f1.txt", b1)
      q.processAllAvailable()
      // batch 2: hour 11 continues in a later wall-clock trigger
      val b2 = (12 to 15).map(i => line("11", f"30:${i}%02d", i))
      writeSrc("f2.txt", b2)
      q.processAllAvailable()
    } finally q.stop()
    val found = RawLogSource.discover(outDir).map(p => new File(p))
    // hour 10 spans batches 0-1, hour 11 spans batches 1-2 — four files,
    // lexicographic order == (hour, batch) order
    assert(found.map(_.getName) === Seq(
      "2025-07-01-10.b000000000.jsonl.zst",
      "2025-07-01-10.b000000001.jsonl.zst",
      "2025-07-01-11.b000000001.jsonl.zst",
      "2025-07-01-11.b000000002.jsonl.zst"))
    // the whole rotated log replays in receipt order, lines verbatim
    val replayed = found.flatMap(readLines)
    val expected = ((1 to 8).map(h10 =>
      line("10", f"${if (h10 <= 5) "00" else "30"}:${h10}%02d", h10))) ++
      (9 to 11).map(i => line("11", f"00:${i}%02d", i)) ++
      (12 to 15).map(i => line("11", f"30:${i}%02d", i))
    assert(replayed === expected)
  }

  test("same-microsecond frames serialize in a deterministic total order " +
    "(VERDICT r6 #2): repeated writes are byte-identical and ordered by bytes") {
    val dir1 = tmpDir("frame_sink_tie1")
    val dir2 = tmpDir("frame_sink_tie2")
    // three frames share receipt micros 42; two of them in reversed
    // input order between the two writes
    val a = rows(Seq(
      ("2025-07-01-10", 42L, """{"z":"late-bytes"}"""),
      ("2025-07-01-10", 42L, """{"a":"early-bytes"}"""),
      ("2025-07-01-10", 42L, """{"m":"mid-bytes"}"""),
      ("2025-07-01-10", 43L, """{"next":"micro"}"""),
    ))
    val b = rows(Seq(
      ("2025-07-01-10", 43L, """{"next":"micro"}"""),
      ("2025-07-01-10", 42L, """{"a":"early-bytes"}"""),
      ("2025-07-01-10", 42L, """{"m":"mid-bytes"}"""),
      ("2025-07-01-10", 42L, """{"z":"late-bytes"}"""),
    ))
    FrameSink.writeBatch(a, dir1, batchId = 0L)
    FrameSink.writeBatch(b, dir2, batchId = 0L)
    val f1 = new File(dir1, "2025-07-01-10.b000000000.jsonl.zst")
    val f2 = new File(dir2, "2025-07-01-10.b000000000.jsonl.zst")
    assert(Files.readAllBytes(f1.toPath).toSeq ===
      Files.readAllBytes(f2.toPath).toSeq)
    // within micros 42 the order is lexicographic by the raw bytes
    assert(readLines(f1) === Seq(
      """{"a":"early-bytes"}""", """{"m":"mid-bytes"}""",
      """{"z":"late-bytes"}""", """{"next":"micro"}"""))
  }

  test("a source-supplied seq column wins the within-microsecond tiebreak " +
    "over byte order, preserving true arrival order") {
    import spark.implicits._
    val dir = tmpDir("frame_sink_seq")
    val df = Seq(
      ("2025-07-01-10", 42L, 2L, """{"a":"arrived-second"}"""),
      ("2025-07-01-10", 42L, 1L, """{"z":"arrived-first"}"""),
    ).toDF("fileHour", "lineNo", "seq", "value")
    FrameSink.writeBatch(df, dir, batchId = 0L)
    assert(readLines(new File(dir, "2025-07-01-10.b000000000.jsonl.zst")) ===
      Seq("""{"z":"arrived-first"}""", """{"a":"arrived-second"}"""))
  }

  test("zero-padded batch suffix keeps lexicographic discovery in numeric " +
    "batch order past ten batches per hour (long-running ingest)") {
    val dir = tmpDir("frame_sink_pad")
    for (b <- Seq(10L, 2L, 0L))
      FrameSink.writeBatch(rows(Seq(("2025-07-01-10", b, s"batch$b"))), dir, b)
    // bare .bN naming would order b10 before b2 here
    assert(RawLogSource.discover(dir).map(p => new File(p).getName) === Seq(
      "2025-07-01-10.b000000000.jsonl.zst",
      "2025-07-01-10.b000000002.jsonl.zst",
      "2025-07-01-10.b000000010.jsonl.zst"))
  }

  test("keyedLines passes a source seq column through to the sort key") {
    import spark.implicits._
    val lines = Seq(
      (7L, """{"timestamp":"2025-07-01T10:00:00+00:00","message_type":"x","content":"a"}"""),
      (3L, """{"timestamp":"2025-07-01T10:00:00+00:00","message_type":"x","content":"b"}"""),
    ).toDF("seq", "value")
    val keyed = FrameSink.keyedLines(lines)
    assert(keyed.columns.toSeq === Seq("fileHour", "lineNo", "seq", "value"))
    assert(keyed.collect().map(_.getLong(2)).sorted.toSeq === Seq(3L, 7L))
  }

  test("quarantine mode: unparseable-receipt lines are RETAINED verbatim in " +
    "a corrupt.bN file that replay discovery never sees — lossless ingest, " +
    "identical replay semantics") {
    import spark.implicits._
    val dir = tmpDir("frame_sink_quarantine")
    val lines = Seq(
      """{"timestamp":"2025-07-01T10:00:01+00:00","message_type":"x","content":"a"}""",
      """not json at all""",
      """{"timestamp":"garbage","message_type":"x","content":"b"}""",
    ).toDF("value")
    FrameSink.writeBatch(FrameSink.keyedLines(lines, quarantine = true), dir, 0L)
    val names = new File(dir).listFiles().map(_.getName).sorted
    assert(names.toSeq ===
      Seq("2025-07-01-10.b000000000.jsonl.zst", "corrupt.b000000000.jsonl.zst"))
    // replay discovery sees only the real hour; the corrupt bytes survive
    assert(RawLogSource.discover(dir).map(p => new File(p).getName) ===
      Seq("2025-07-01-10.b000000000.jsonl.zst"))
    assert(readLines(new File(dir, "corrupt.b000000000.jsonl.zst")).toSet ===
      Set("""not json at all""",
        """{"timestamp":"garbage","message_type":"x","content":"b"}"""))
    // default (strict) policy still drops them
    assert(FrameSink.keyedLines(lines).count() === 1)
  }

  test("keyedLines buckets by UTC receipt hour and drops unparseable receipts") {
    import spark.implicits._
    val lines = Seq(
      """{"timestamp":"2025-07-01T10:59:59+00:00","message_type":"x","content":"a"}""",
      """{"timestamp":"2025-07-01T13:00:00+02:00","message_type":"x","content":"b"}""",
      """not json at all""",
    ).toDF("value")
    val keyed = FrameSink.keyedLines(lines).collect()
    assert(keyed.length === 2)
    assert(keyed.map(_.getString(0)).toSeq ===
      Seq("2025-07-01-10", "2025-07-01-11")) // +02:00 normalizes to 11 UTC
  }
}
