package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, count_if}

/** The round loop of every iterative graph operator: the operator
  * supplies the initial state and one round's step, this owns the
  * rest.
  *
  * FUSED ROUND. Round 0 settles the initial state; round i settles
  * `step(state)`. Each settle is [[Lineage.settle]] with the loop's
  * convergence aggregate riding the materialization: the state is
  * marked for local checkpointing and ONE aggregate job both fills the
  * blocks and returns the 1-row witness (a changed-row count, a
  * checksum) — besides the map-stage jobs AQE runs for the round's own
  * shuffles, a round costs one job. An eager cut plus a separate count
  * would be two jobs over the same rows; the loops are
  * per-round-latency-bound at bench scale (scaling ≈ 1 between 8 and 32
  * cores), so jobs per round are their floor. Settling (not a
  * stats-keeping cut) also keeps the planner's size estimate from
  * compounding across rounds.
  *
  * RELEASE. Once round i's state has materialized, round i−1's is dead:
  * its reliable-checkpoint files are deleted ([[Lineage.release]]), as
  * are the frames the step registered with [[Round.own]]. In reliable
  * mode (`spark.graft.graph.reliableCheckpoint=true`) the loop thus
  * holds the live round plus its static tables on the checkpoint store,
  * not its trajectory; on failure the live round is released too.
  *
  * CONVERGENCE. `done(previous row, this row)` decides after every
  * settle, round 0 included (the previous row is null there); it may
  * throw to abort before the next round launches any job — the hook
  * [[labelCapped]] and the operators' own invariant checks use.
  * Reaching `maxIters` undecided throws, naming the operator and the
  * budget — no partial result — unless `strict = false` (fixed-round
  * and depth-capped loops).
  *
  * ATTRIBUTION. Every job a round launches runs under the job
  * description `"<op> round <i>"` (the caller's description is
  * restored afterwards), so any `SparkListener` can attribute jobs,
  * stages and time to rounds.
  */
object Fixpoint {

  /** (previous round's aggregate row — null at round 0, this round's)
    * ⇒ converged.
    */
  type Done = (Row, Row) => Boolean

  /** Converged when the first aggregate — a changed-row count — is 0. */
  val drained: Done = (_, r) => r.getLong(0) == 0L

  /** Converged when the aggregate row repeats: a monotone witness (a
    * row count, a label checksum) stopped moving.
    */
  val stable: Done = (p, r) => r == p

  /** Never converged: with `strict = false`, exactly `maxIters` rounds. */
  val never: Done = (_, _) => false

  private val JobDescription = "spark.job.description"

  /** One round of the loop, as the step sees it. */
  final class Round private[Fixpoint] (val index: Int) {
    private[Fixpoint] var owned = List.empty[DataFrame]

    /** Release `df` (a frame the step settled for this round's plan)
      * once the round's state has materialized.
      */
    def own(df: DataFrame): DataFrame = { owned ::= df; df }
  }

  def run(
      op: String,
      init: DataFrame,
      maxIters: Int,
      aggs: Seq[Column] = Seq(count_if(col("chg"))),
      done: Done = drained,
      keyed: Boolean = false,
      strict: Boolean = true,
      hint: String = "raise maxIters",
  )(step: (DataFrame, Round) => DataFrame): DataFrame = {
    val sc = init.sparkSession.sparkContext
    val caller = sc.getLocalProperty(JobDescription)
    var live: DataFrame = null
    def settle(i: Int)(next: Round => DataFrame): Row = {
      sc.setJobDescription(s"$op round $i")
      val round = new Round(i)
      val (state, row) = Lineage.settle(next(round), aggs, keyed)
      (live :: round.owned).filter(_ != null).foreach(Lineage.release)
      live = state
      row
    }
    try {
      var row = settle(0)(_ => init)
      var converged = done(null, row)
      var i = 0
      while (!converged && i < maxIters) {
        i += 1
        val prev = live
        val r = settle(i)(step(prev, _))
        converged = done(row, r)
        row = r
      }
      require(converged || !strict, s"$op did not converge in $maxIters rounds; $hint")
      live
    } catch {
      case t: Throwable =>
        Option(live).foreach(Lineage.release)
        throw t
    } finally sc.setLocalProperty(JobDescription, caller)
  }

  /** [[drained]] plus the distinct-label state bound of the bounded-wait
    * temporal family (`spark.graft.temporalLabelMaxRows`, default
    * 10 000 000): their per-node state is an exact label SET (pruning
    * is unsound under waiting bounds), so its mass is a data property —
    * a dense seed on fine timestamps can balloon it silently. The
    * running total of fresh labels (the first aggregate) is checked
    * after every round, so the guard raises BEFORE the next round
    * launches a job; `lever` names the caller's way out.
    */
  def labelCapped(spark: org.apache.spark.sql.SparkSession, op: String, lever: String): Done = {
    val cap = spark.conf.getOption("spark.graft.temporalLabelMaxRows")
      .map(_.toLong).getOrElse(10000000L)
    var total = 0L
    var rounds = 0
    (_, r) => {
      total += r.getLong(0)
      rounds += 1
      require(total <= cap,
        s"$op: distinct-label state has $total rows entering round $rounds, " +
          s"over spark.graft.temporalLabelMaxRows=$cap — exact label sets are " +
          s"the only sound state under waiting bounds, so this growth is real; " +
          s"$lever, or raise the cap if the cluster can hold the state")
      r.getLong(0) == 0L
    }
  }
}
