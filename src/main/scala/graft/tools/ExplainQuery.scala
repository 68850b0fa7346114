package graft.tools

/** Dev tool: print `explain("formatted")` for named registry queries —
  * the plan-audit loop (ARCHITECTURE.md "Plan audit" sections) without
  * ad-hoc scratch mains. Streaming gates and driver-parameterized
  * queries execute their setup as a side effect of building the frame;
  * the explain is of the FINAL (finish/audit) frame, which is where
  * the scale-relevant joins live.
  *
  * Usage: runMain graft.tools.ExplainQuery <q1,q2,...> [sfDir]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_agg_pricing_summary").split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { q =>
      println(s"\n========== $q ==========")
      try graft.SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      catch { case e: Throwable =>
        println(s"[explain] $q failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
