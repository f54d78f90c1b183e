package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {

  private def edgesDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** Driver-side union-find ground truth (test-only). */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  private def check(pairs: Seq[(Long, Long)]): Int = {
    val (mapping, rounds) = ConnectedComponents.componentsWithStats(edgesDf(pairs))
    val got = mapping.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === unionFind(pairs))
    rounds
  }

  test("path graph: component is the path min, rounds ~ log n not diameter") {
    val n = 512
    val rounds = check((0L until (n - 1).toLong).map(i => (i, i + 1)))
    // naive min-label propagation needs 511 rounds on this graph
    assert(rounds <= 12, s"expected O(log² n) convergence, got $rounds rounds")
  }

  test("forest of many components with shared structure") {
    // 50 chains of length 6 with interleaved ids, plus isolated edges
    val chains = for {
      c <- 0 until 50
      i <- 0 until 5
    } yield (c + 50L * i, c + 50L * (i + 1))
    val extra = Seq((10000L, 10001L), (20000L, 20002L))
    check(chains ++ extra)
  }

  test("deterministic pseudo-random graph matches union-find") {
    val n = 400L
    val pairs = (0L until n).flatMap { i =>
      Seq((i, (i * 7 + 3) % n), (i, (i * i + 11) % n))
    }.filter { case (a, b) => a != b }
    check(pairs)
  }

  test("star input is already converged") {
    val rounds = check((1L to 40L).map(i => (0L, i)))
    assert(rounds <= 2)
  }

  test("duplicate and reversed edges collapse") {
    check(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L)))
  }

  test("multi-center child is not a fixpoint (convergence-check soundness)") {
    // {(5,1),(5,2)} has disjoint src/dst sets and child→smaller-center
    // orientation, but node 5 has two centers — the closure must still run
    // and fold 2 under 1
    check(Seq((5L, 1L), (5L, 2L)))
  }

  test("center-as-src orientation is normalized, not accepted as converged") {
    check((1L to 10L).map(i => (0L, i)))
  }

  test("a round is exactly two shuffles: large-star + small-star, no " +
    "inter-round distinct Exchange") {
    val e = edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L))).localCheckpoint()
    // the loop body verbatim (the observed change counts add no shuffle)
    val round = ConnectedComponents.starRound(e)._1
    val plan = round.queryExecution.executedPlan.toString
    val exchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 2,
      s"expected the 2 star aggregations as the only shuffles, got $exchanges:\n$plan")
  }

  test("one Spark job per round: convergence detection rides the round's " +
    "own materialization, no separate check action") {
    val group = s"cc-jobcount-${System.nanoTime()}"
    // AQE splits every shuffle materialization into its own job, which
    // hides the action count; the claim under test is actions-per-round,
    // so probe with AQE off (the algorithm is identical either way)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup(group, "cc job-count probe")
    val rounds =
      try ConnectedComponents
        .componentsWithStats(edgesDf((0L until 63L).map(i => (i, i + 1))))._2
      finally {
        spark.sparkContext.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
    // statusTracker is fed asynchronously from the listener bus
    def jobs(): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    val deadline = System.currentTimeMillis() + 5000
    while (jobs() < rounds + 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    // 1 job for the initial dedup/checkpoint + exactly 1 per round
    assert(jobs() === rounds + 1,
      s"expected ${rounds + 1} jobs (init + $rounds rounds), got ${jobs()}")
  }
}
