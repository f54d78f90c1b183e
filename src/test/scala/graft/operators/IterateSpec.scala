package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The round-driver contract every fixpoint loop relies on: how many
  * rounds run, when the loop stops, and what it reports.
  */
class IterateSpec extends SparkSpec with Matchers {

  private def zero: DataFrame = spark.range(1).select(lit(0L).as("n"))
  private def inc(df: DataFrame): DataFrame = df.select((col("n") + 1L).as("n"))
  private def value(df: DataFrame): Long = df.head().getLong(0)

  test("a run whose done never holds runs exactly maxRounds rounds and " +
    "reports not-done") {
    val r = Iterate(zero, 5, _ => false)(inc)
    (r.rounds, r.done, value(r.state)) shouldBe ((5, false, 5L))
    // the returned state is the last round's checkpoint, not its lineage
    r.state.queryExecution.executedPlan.toString should include("Scan ExistingRDD")
  }

  test("the run stops at the first round whose done holds and reports " +
    "that round count") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val r = Iterate(zero, 10, s => { seen += value(s); value(s) >= 3 })(inc)
    (r.rounds, r.done, value(r.state)) shouldBe ((3, true, 3L))
    // done is tested once per round, never on the initial state
    seen shouldBe Seq(1L, 2L, 3L)
  }
}
