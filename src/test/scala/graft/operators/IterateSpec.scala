package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The round-driver contract every fixpoint loop relies on: how many
  * rounds run, when the loop stops, what it reports, and what a round
  * costs in Spark jobs — for the stopping loop (`Iterate.apply`) and the
  * fixed-round one (`Iterate.rounds`).
  */
class IterateSpec extends SparkSpec with Matchers {

  private def zero: DataFrame = spark.range(1).select(lit(0L).as("n"))
  private def inc(df: DataFrame): DataFrame = df.select((col("n") + 1L).as("n"))
  private def value(df: DataFrame): Long = df.head().getLong(0)

  test("a run whose done never holds runs exactly maxRounds rounds and " +
    "reports not-done") {
    val r = Iterate(zero, 5, (_, _) => false)(inc)
    (r.rounds, r.done, value(r.state)) shouldBe ((5, false, 5L))
    // the returned state is the last round's checkpoint, not its lineage
    r.state.queryExecution.executedPlan.toString should include("Scan ExistingRDD")
  }

  test("the run stops at the first round whose done holds and reports " +
    "that round count") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val r = Iterate(zero, 10, (s, _) => { seen += value(s); value(s) >= 3 })(inc)
    (r.rounds, r.done, value(r.state)) shouldBe ((3, true, 3L))
    // done is tested once per round, never on the initial state
    seen shouldBe Seq(1L, 2L, 3L)
  }

  test("done's row count equals the checkpointed state's count()") {
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // each round keeps the rows it had and adds a copy of its even ones
    Iterate(spark.range(10).select(col("id").as("n")), 4,
        (s, rows) => { counts += ((rows, s.count())); false }) { df =>
      df.union(df.filter(col("n") % 2 === 0).select((col("n") + 1L).as("n")))
    }
    counts.map(_._1) shouldBe Seq(15L, 20L, 25L, 30L)
    counts.foreach { case (rows, n) => rows shouldBe n }
  }

  test("a round that empties the state observes a zero row count") {
    // a statically empty step, and an aggregation whose shuffle turns out
    // empty at run time (the case adaptive execution prunes)
    val steps = Seq[DataFrame => DataFrame](_.filter(lit(false)),
      _.filter(col("n") < 0L).groupBy(col("n")).agg(max(col("n")).as("m"))
        .select(col("n")))
    for (step <- steps) {
      val r = Iterate(zero, 3, (_, rows) => rows == 0L)(step)
      (r.rounds, r.done) shouldBe ((1, true))
    }
  }

  test("reading the row count launches no Spark job") {
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    Iterate(zero, 3, (_, rows) => { reads += jobsDuring(rows); false })(inc)
    reads shouldBe Seq((1L, 0), (1L, 0), (1L, 0))
  }

  test("a one-exchange step costs the same jobs per round as its " +
    "checkpoint alone") {
    val init = spark.range(100).select(col("id").as("n"))
    def step(df: DataFrame): DataFrame =
      df.groupBy((col("n") % 7).as("k")).agg(sum(col("n")).as("n"))
        .select(col("n"))
    val rounds = 3
    val (_, looped) = jobsDuring(
      Iterate(init, rounds, (_, rows) => rows < 0)(step))
    val (_, bare) = jobsDuring(
      (1 to rounds).foldLeft(init.localCheckpoint())((s, _) =>
        step(s).localCheckpoint()))
    bare should be > rounds
    looped shouldBe bare
  }

  /** A one-exchange step: the sums of the residue classes mod 7. */
  private def fold7(df: DataFrame): DataFrame =
    df.groupBy((col("n") % 7).as("k")).agg(sum(col("n")).as("n"))
      .select(col("n"))

  test("rounds runs exactly n rounds and returns the materialized last " +
    "state") {
    val r = Iterate.rounds(zero, 5)(inc)
    value(r.state) shouldBe 5L
    r.metrics shouldBe Seq.fill(5)(Row.empty)
    // the returned state is the last round's checkpoint, not its lineage
    r.state.queryExecution.executedPlan.toString should include("Scan ExistingRDD")
    val folded = Iterate.rounds(spark.range(100).select(col("id").as("n")), 3)(fold7)
    folded.state.collect().map(_.getLong(0)).sorted shouldBe Seq(750L, 4200L)
  }

  test("rounds: each round's observed row equals that state's count(), " +
    "including rounds that empty the state") {
    val ten = spark.range(10).select(col("id").as("n"))
    val cases = Seq[(String, DataFrame, DataFrame => DataFrame)](
      ("one exchange", spark.range(100).select(col("id").as("n")), fold7),
      // no exchange: the next checkpoint runs no stage that reads the state
      ("no exchange", ten, df => df.union(df.filter(col("n") % 2 === 0)
        .select((col("n") + 1L).as("n")))),
      // shrinks by 3 a round, past empty, behind an exchange
      ("decay", ten, _.groupBy((col("n") - 3L).as("n")).agg(count(lit(1)))
        .select(col("n")).filter(col("n") >= 0L)),
      // statically empty: the optimizer prunes the observed input away
      ("static empty", zero, _.filter(lit(false))),
      // an aggregation whose shuffle turns out empty at run time (the
      // case adaptive execution prunes)
      ("pruned empty", zero, _.filter(col("n") < 0L).groupBy(col("n"))
        .agg(max(col("n")).as("m")).select(col("n"))))
    for ((name, init, step) <- cases) withClue(s"$name: ") {
      val want = (1 to 5).scanLeft(init)((s, _) => step(s).localCheckpoint())
        .tail.map(_.count())
      val got = Iterate.rounds(init, 5, count(lit(1)).as("rows"))(step)
        .metrics.map(_.getLong(0))
      got shouldBe want
    }
  }

  test("rounds: a one-exchange step costs one job per round plus one " +
    "closing write, half the eager checkpoint fold") {
    val init = spark.range(100).select(col("id").as("n"))
    val rounds = 3
    val (_, lazily) = jobsDuring(
      Iterate.rounds(init, rounds, count(lit(1)), sum(col("n")))(fold7))
    val (_, eagerly) = jobsDuring(
      (1 to rounds).foldLeft(init.localCheckpoint())((s, _) =>
        fold7(s).localCheckpoint())
        .write.format("noop").mode("overwrite").save())
    lazily shouldBe rounds + 1
    eagerly shouldBe 2 * rounds + 2
  }
}
