package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlInternals, Row}
import org.apache.spark.sql.functions.col

/** The checkpoint primitive of the iterative operators ([[Fixpoint]]
  * and the static tables its loops read): materialize a frame and
  * truncate its plan, so round r plans against a leaf instead of r
  * stacked rounds.
  *
  *  - [[prep]] lays out a loop-STATIC side (repartition + sort on the
  *    round join's key) and cuts it, so every round reads it
  *    exchange-free and sort-free.
  *  - [[settle]] cuts loop STATE and drops its origin statistics,
  *    optionally running the caller's aggregate in the same job.
  *  - [[release]] deletes a superseded state's reliable-checkpoint
  *    files.
  *  - [[cut]] is the one documented exception (see its scaladoc).
  *
  * Mode: eager `localCheckpoint` by default — executor-local blocks, no
  * distributed-FS round trip per round, but NOT fault-tolerant (losing
  * an executor mid-loop loses blocks nothing can recompute).
  * `spark.graft.graph.reliableCheckpoint=true` switches every cut to
  * RELIABLE `checkpoint()` under `spark.graft.graph.checkpointDir` (or a
  * SparkContext checkpoint dir set by the caller): executor loss then
  * costs a re-read, not the whole iteration. The branch lives in one
  * place, [[checkpoint]].
  */
object Lineage {
  val ReliableKey = "spark.graft.graph.reliableCheckpoint"
  val DirKey = "spark.graft.graph.checkpointDir"

  /** Reliable-checkpoint RETENTION: Spark never deletes a reliable
    * checkpoint on its own (cleanup needs
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, a
    * context-creation-time conf that is GC-driven and best-effort
    * anyway), so a 60-round loop would retain all 60 rounds' state.
    * Every reliable cut records the `rdd-*` directory it lands in
    * (weakly keyed by the frame the caller holds), and [[release]]
    * deletes it once the next round's state has materialized — steady
    * state is ~2 rounds plus the loop's static tables. Frames never
    * released (results, static tables) keep their files until the
    * checkpoint dir itself is cleaned: their lifetime is the caller's.
    */
  private val tracked = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, String]())

  /** Static side of a loop's round join: `repartition(keys)` (at
    * `parts`, else the session's shuffle partition count),
    * `sortWithinPartitions(keys)`, cut — planned with AQE off. Under
    * AQE the executed plan's root is AdaptiveSparkPlanExec, which
    * reports UnknownPartitioning and no ordering, so the checkpointed
    * relation would silently drop the layout and every round would
    * re-shuffle the static side. (Spark 4.1: AQE on → a keyed groupBy
    * over the cut plans 1 exchange; AQE off → hashpartitioning(k, n) +
    * sort order and 0 exchanges.) AQE loses nothing here: the plan is
    * scan → explicit exchange → sort, with no join to re-plan, and the
    * loop that reads the frame still runs under the session's AQE.
    * Keeps origin stats like [[cut]]. The SINGLE-QUERY ASSUMPTION
    * documented on [[ScopedConf.withShufflePartitionsFor]] applies.
    */
  def prep(df: DataFrame, keys: Seq[String], parts: Option[Int] = None): DataFrame = {
    val ks = keys.map(col)
    val laid = parts.fold(df.repartition(ks: _*))(n => df.repartition(n, ks: _*))
    withAqeOff(df)(checkpoint(laid.sortWithinPartitions(ks: _*), Nil)._1)
  }

  /** Cut loop state and re-wrap it in a fresh relation with NO origin
    * statistics. A checkpointed Dataset keeps its origin plan's
    * `sizeInBytes`; in a loop whose round-r state is built from two
    * descendants of round r−1 (state ⋈ f(state)) those BigInt
    * estimates MULTIPLY, and by round ~15 the driver spends minutes per
    * round in BigInteger arithmetic during stats estimation. Dropping
    * them keeps per-round planning flat.
    *
    * `aggs` (non-empty) ride the materialization: the frame is marked
    * for local checkpointing lazily and ONE aggregate job both fills
    * the blocks and returns the row — the row is `Row.empty` without
    * `aggs`. In reliable mode the cut stays eager and the aggregate is
    * a second job over the files (finalizing a reliable checkpoint from
    * a lazy mark would recompute the round).
    *
    * `keyed` keeps the physical layout (partitioning + ordering)
    * through [[GraftSqlInternals.freshKeyedRelation]] and plans the
    * round with AQE off, so state re-consumed on the same key every
    * round never crosses an exchange again; the price is AQE's runtime
    * skew split for that one statement. Without `keyed` the fresh
    * relation (`createDataFrame`) also drops the layout.
    */
  def settle(
      df: DataFrame,
      aggs: Seq[Column] = Nil,
      keyed: Boolean = false,
  ): (DataFrame, Row) = {
    val (m, row) =
      if (keyed) withAqeOff(df)(checkpoint(df, aggs)) else checkpoint(df, aggs)
    val out =
      if (keyed) GraftSqlInternals.freshKeyedRelation(m)
      else m.sparkSession.createDataFrame(m.rdd, m.schema)
    // the files now belong to the frame the caller holds
    Option(tracked.remove(m)).foreach(tracked.put(out, _))
    (out, row)
  }

  /** Cut that KEEPS the origin statistics — the documented fourth
    * name. The static tables the loops count and prep, and the shared
    * inputs of the temporal gates, are read by joins whose strategy
    * the planner picks from those statistics: a small edge table is
    * broadcast. Re-wrapping them as [[settle]] does would report the
    * default (unbounded) size and turn those broadcasts into
    * sort-merge joins — a plan change, not a simplification. Use only
    * for frames that feed ONE input of a plan (no compounding).
    */
  def cut(df: DataFrame): DataFrame = checkpoint(df, Nil)._1

  /** Delete the reliable-checkpoint files behind a SUPERSEDED frame
    * (see [[tracked]]). A no-op for anything else (local mode, derived
    * projections), so it is safe to call unconditionally. The caller
    * asserts the frame is dead: nothing may lazily read it afterwards.
    */
  def release(df: DataFrame): Unit =
    Option(tracked.remove(df)).foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(path, true)
      ()
    }

  /** The local/reliable branch. SINGLE-WRITER ASSUMPTION (deliberate):
    * the reliable path attributes the `rdd-*` dir by diffing the
    * checkpoint dir around the eager materialization, under this
    * object's lock — which covers every cut in THIS JVM but not another
    * driver writing into the SAME directory (its fresh dirs would be
    * mis-attributed and [[release]] could delete a foreign
    * checkpoint). One driver per checkpoint dir is the operating rule;
    * multi-driver setups namespace [[DirKey]] per driver. [[release]]
    * only deletes attributed paths, so the failure mode is bounded to
    * the shared directory.
    */
  private def checkpoint(df: DataFrame, aggs: Seq[Column]): (DataFrame, Row) = {
    val spark = df.sparkSession
    // planned with AQE off: under AQE the aggregate's exchange runs as
    // a map-stage job of its own, so the round would cost two jobs
    def agg(m: DataFrame) =
      if (aggs.isEmpty) Row.empty else withAqeOff(m)(m.agg(aggs.head, aggs.tail: _*).head())
    val reliable =
      spark.conf.getOption(ReliableKey).exists(_.trim.equalsIgnoreCase("true"))
    if (!reliable) {
      if (aggs.isEmpty) (df.localCheckpoint(eager = true), Row.empty)
      else {
        // ONE job: the aggregate scans every partition of the marked RDD
        // (blocks cache as they compute), and the action's terminal
        // doCheckpoint() finalizes over the already-present blocks
        val m = df.localCheckpoint(eager = false)
        (m, agg(m))
      }
    } else {
      val m = Lineage.synchronized {
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption(DirKey).getOrElse(throw new IllegalArgumentException(
            s"$ReliableKey=true needs $DirKey (a fault-tolerant path — " +
              "HDFS/object store on a cluster) or a pre-set " +
              "SparkContext.setCheckpointDir"))
          sc.setCheckpointDir(dir)
        }
        val ckDir = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
        val fs = ckDir.getFileSystem(sc.hadoopConfiguration)
        def rdds(): Set[String] =
          if (!fs.exists(ckDir)) Set.empty[String]
          else fs.listStatus(ckDir).map(_.getPath.getName).toSet
        val before = rdds()
        val out = df.checkpoint(eager = true)
        (rdds() -- before).foreach { fresh =>
          tracked.put(out, new org.apache.hadoop.fs.Path(ckDir, fresh).toString)
        }
        out
      }
      (m, agg(m))
    }
  }

  private val AqeKey = "spark.sql.adaptive.enabled"

  private def withAqeOff[T](df: DataFrame)(body: => T): T = {
    val conf = df.sparkSession.conf
    val prev = conf.get(AqeKey)
    conf.set(AqeKey, "false")
    try body finally conf.set(AqeKey, prev)
  }
}
