package graft.engine

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count_if}

/** The round loop shared by the iterative operators (PageRank, LPA,
  * connected components, k-core, k-means) — a Pregel superstep loop
  * over DataFrames. The caller supplies only the round's plan; this
  * loop owns the bookkeeping every round needs:
  *  - a [[Checkpoints.cut]] per round, so round i does not replay
  *    rounds 1..i-1;
  *  - a [[Checkpoints.release]] of the previous state once the new one
  *    is materialized, so resident blocks stay at ~2× the working set
  *    instead of `rounds ×` (a no-op unless that state is a bare cut,
  *    so pins a composite seed reads stay the caller's; a seed that IS
  *    a bare cut is freed after round 1);
  *  - an optional convergence check: a round whose plan carries the
  *    boolean column [[Changed]] is counted by an `observe()` metric on
  *    the SAME job as the cut (no extra action), the column is dropped
  *    before the cut, and the loop stops after the first round that
  *    changes nothing;
  *  - round tags: every job of round i carries the local properties
  *    [[OperatorProp]] and [[RoundProp]] ([[tagged]]), so a listener
  *    can split an operator's time by round.
  * [[graft.operators.Relax]] runs the same rules over RDD supersteps.
  */
object Fixpoint {
  /** Boolean column a round adds to its plan to request the
    * changed-row count; true on a row the round changed.
    */
  val Changed = "_changed"

  /** Local-property keys on every job an iterative operator runs. */
  val OperatorProp = "graft.operator"
  val RoundProp = "graft.round"

  /** @param state     the final round's cut (the caller owns its blocks)
    * @param rounds    rounds run
    * @param converged true when the last round changed no row
    */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Runs `body` with every job it starts tagged (`operator`, `round`);
    * round 0 is the operator's work outside its rounds (setup, result).
    * The thread's previous tags are restored after.
    */
  def tagged[T](sc: SparkContext, operator: String, round: Int)(body: => T): T = {
    val (op0, round0) = (sc.getLocalProperty(OperatorProp), sc.getLocalProperty(RoundProp))
    sc.setLocalProperty(OperatorProp, operator)
    sc.setLocalProperty(RoundProp, round.toString)
    try body
    finally {
      sc.setLocalProperty(OperatorProp, op0)
      sc.setLocalProperty(RoundProp, round0)
    }
  }

  /** Run `round(state, i)` for i = 1, 2, … up to `maxRounds`, or until
    * a round with a [[Changed]] column changes nothing.
    */
  def iterate(state0: DataFrame, maxRounds: Int, operator: String = "fixpoint")(
      round: (DataFrame, Int) => DataFrame): Result = {
    val sc = state0.sparkSession.sparkContext
    var state = state0
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      i += 1
      val plan = round(state, i)
      val next = tagged(sc, operator, i) {
        if (!plan.columns.contains(Changed)) Checkpoints.cut(plan)
        else {
          // unique per run: concurrent loops in one session must not
          // share an observation name
          val obs = new Observation(s"fixpoint_${i}_${System.nanoTime()}")
          val cut = Checkpoints.cut(plan
            .observe(obs, count_if(col(Changed)).as("changed"))
            .drop(Changed))
          converged = obs.get("changed").asInstanceOf[Long] == 0L
          cut
        }
      }
      Checkpoints.release(state)
      state = next
    }
    Result(state, i, converged)
  }
}
