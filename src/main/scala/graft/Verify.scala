package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [commaSeparatedQueryNames]
    // The driver passes two; the optional third restricts the dump to
    // the named queries for fast local iteration against check_oracle.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    // A throwing query must NOT vanish silently (that's how a 4-query
    // regression shipped under an all-green scoreboard in round 4):
    // record every failure in _errors.json and exit non-zero if any
    // selected registry name ended the run with neither a dump dir nor
    // an error entry.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" | ")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // Completeness check: every selected query must have produced either
    // a parquet dump or an error entry — absence means Verify itself has
    // a hole, and the run should fail loudly rather than under-report.
    val unaccounted = selected.keySet.filter { name =>
      !errors.contains(name) && !Files.exists(Paths.get(s"$outDir/$name"))
    }
    if (unaccounted.nonEmpty)
      System.err.println(s"[verify] UNACCOUNTED (no dump, no error): ${unaccounted.mkString(",")}")
    spark.stop()
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} failed: ${errors.keys.mkString(",")}")
    if (unaccounted.nonEmpty) sys.exit(2)
  }
}
