package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame

/** The one driver-side round loop behind every fixpoint operator
  * ([[Graph]]'s PageRank, SSSP, k-core, LPA and BFS, and
  * [[ConnectedComponents]]). A round is the caller's `step` — one map →
  * shuffle → reduce chain over the previous state — materialized by ONE
  * `localCheckpoint`: the round's action, and the lineage cut without
  * which every action (and, at scale, any executor loss) re-runs all
  * prior rounds. The initial state is checkpointed the same way.
  */
object Iterate {

  /** The last checkpointed state, the rounds run, and whether `done` held
    * on that state (false ⇔ the loop stopped at `maxRounds`).
    */
  final case class Result(state: DataFrame, rounds: Int, done: Boolean)

  /** Runs `step` from `init` for at most `maxRounds` rounds and stops after
    * the first round whose checkpointed state satisfies `done`. `done` runs
    * once per round on materialized data, so a count or emptiness test
    * there reads the checkpoint; fixed-round loops pass one that never
    * holds.
    */
  def apply(init: DataFrame, maxRounds: Int, done: DataFrame => Boolean)(
      step: DataFrame => DataFrame): Result = {
    @tailrec def loop(state: DataFrame, rounds: Int): Result =
      if (rounds >= maxRounds) Result(state, rounds, done = false)
      else {
        val next = step(state).localCheckpoint()
        if (done(next)) Result(next, rounds + 1, done = true)
        else loop(next, rounds + 1)
      }
    loop(init.localCheckpoint(), 0)
  }
}
