package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The one driver-side round loop behind every fixpoint operator
  * ([[Graph]]'s PageRank, SSSP, k-core, LPA and BFS, and
  * [[ConnectedComponents]]). A round is the caller's `step` — one map →
  * shuffle → reduce chain over the previous state — materialized by ONE
  * `localCheckpoint`: the round's only action, and the lineage cut
  * without which every action (and, at scale, any executor loss) re-runs
  * all prior rounds. The initial state is checkpointed the same way. The
  * round's row count rides that checkpoint as an `observe()` metric (as
  * may a caller's own per-round scalars), so a census or convergence test
  * launches no `count()` or `isEmpty` job of its own.
  */
object Iterate {

  /** The last checkpointed state, the rounds run, and whether `done` held
    * on that state (false ⇔ the loop stopped at `maxRounds`).
    */
  final case class Result(state: DataFrame, rounds: Int, done: Boolean)

  /** Runs `step` from `init` for at most `maxRounds` rounds and stops after
    * the first round whose checkpointed state satisfies `done`, which
    * gets that state and its observed row count — read on demand, so a
    * fixed-round loop never waits for it.
    */
  def apply(init: DataFrame, maxRounds: Int,
      done: (DataFrame, => Long) => Boolean)(
      step: DataFrame => DataFrame): Result = {
    @tailrec def loop(state: DataFrame, rounds: Int): Result =
      if (rounds >= maxRounds) Result(state, rounds, done = false)
      else {
        val rows = new Observation()
        val next = step(state).observe(rows, count(lit(1)).as("n")).localCheckpoint()
        if (done(next, rows.get("n").asInstanceOf[Long])) Result(next, rounds + 1, done = true)
        else loop(next, rounds + 1)
      }
    loop(init.localCheckpoint(), 0)
  }
}
