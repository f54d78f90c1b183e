package graft.operators

import scala.annotation.tailrec
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{count, lit}

/** The one driver-side round loop behind every fixpoint operator
  * ([[Graph]]'s PageRank, SSSP, k-core, LPA and BFS, and
  * [[ConnectedComponents]]). A round is the caller's `step` — one map →
  * shuffle → reduce chain over the previous state — whose output is
  * `localCheckpoint`ed: the lineage cut without which every action (and,
  * at scale, any executor loss) re-runs all prior rounds. Two forms:
  *
  *  - [[rounds]], for a FIXED round count (PageRank, SSSP, k-core, the
  *    LPA build): every checkpoint is lazy, so a round whose step has one
  *    exchange costs ONE job — adaptive execution runs the round's map
  *    stage when the checkpoint is planned, and its reduce side runs
  *    inside the next round's map stage. One closing write materializes
  *    the last state.
  *  - [[apply]], for a loop that stops on a test of the round's result
  *    (BFS, CC): that test needs the round's row count before the next
  *    round is built, so each checkpoint is eager — the round's map-stage
  *    job plus a checkpoint job. The row count rides that checkpoint as
  *    an `observe()` metric, so the test launches no `count()` job.
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

  /** The materialized state after [[rounds]]' last round, and one row of
    * the `observed` aggregates per round (round 1 first; empty rows when
    * nothing is observed).
    */
  final case class Rounds(state: DataFrame, metrics: Seq[Row])

  /** Runs `step` exactly `n` times from `init`, each state a lazy
    * `localCheckpoint`, then materializes the last state with one
    * `noop` write. `observed` (aggregate columns) is evaluated over every
    * round's state where the NEXT round reads it — the last state's in
    * the closing write — so a census costs no job of its own when `step`
    * reads its input below an exchange: that read runs in the map stage
    * the next checkpoint plans. A round whose observation did not run
    * there (a step without an exchange, or one the optimizer or adaptive
    * execution proved empty and pruned) gets its row from one
    * aggregation over that state instead, so every row is exact.
    *
    * `step` must not `observe()` its own output: an observation in the
    * post-exchange part of a lazily checkpointed plan completes at that
    * checkpoint's SQL end, before the part it sits in ever ran, with
    * zeros.
    */
  def rounds(init: DataFrame, n: Int, observed: Column*)(
      step: DataFrame => DataFrame): Rounds = {
    require(n > 0, s"Iterate.rounds needs at least one round, got $n")
    val obs = Vector.fill(n)(new Observation())
    def watched(state: DataFrame, k: Int): DataFrame =
      if (observed.isEmpty) state
      else state.observe(obs(k), observed.head, observed.tail: _*)
    var state = init.localCheckpoint(eager = false)
    // round k+1's plan and the lazy checkpoint of its output
    val run = (0 until n).map { k =>
      val planned = step(if (k == 0) state else watched(state, k - 1))
      state = planned.localCheckpoint(eager = false)
      (planned, state)
    }
    watched(state, n - 1).write.format("noop").mode("overwrite").save()
    val metrics =
      if (observed.isEmpty) Seq.fill(n)(Row.empty)
      else run.indices.map { k =>
        // the closing write runs the last observation to the end; an
        // earlier one is waited for only when the next round ran it in a
        // map stage (a pruned one completes empty, one a step drops never
        // completes)
        Option.when(run.lift(k + 1).forall(r => ranInStage(r._1, obs(k).name)))(
            Await.result(obs(k).future, Duration.Inf))
          .filter(_.length == observed.size)
          .getOrElse(run(k)._2.agg(observed.head, observed.tail: _*).head())
      }
    Rounds(state, metrics)
  }

  /** Whether the observation `name` ran in a map stage that adaptive
    * execution materialized while planning `planned`'s checkpoint, i.e.
    * before that checkpoint's SQL end completed it.
    */
  private def ranInStage(planned: DataFrame, name: String): Boolean = {
    def observes(p: SparkPlan): Boolean = p.exists {
      case m: CollectMetricsExec => m.name == name
      case _ => false
    }
    def staged(p: SparkPlan): Boolean = p.exists {
      case q: QueryStageExec => observes(q.plan) || staged(q.plan)
      case _ => false
    }
    planned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => staged(a.executedPlan)
      case _ => false
    }
  }
}
