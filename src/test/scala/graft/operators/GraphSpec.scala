package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.tables.Tables

/** Iterative PageRank: fixed-point integer arithmetic must be
  * deterministic, mass-conserving up to floor drift, and match a direct
  * driver-side evaluation of the same recurrence (value parity with the
  * unrolled-CTE oracle runs through the DuckDB gate).
  */
class GraphSpec extends SparkSpec with Matchers {

  private def driverRanks(): Map[Long, Long] = {
    val n = Tables.documents(spark, sf()).count()
    val init = Graph.PrScale / n
    val tele = (15L * init) / 100L
    var r = (0L until n).map(_ -> init).toMap
    for (_ <- 1 to Graph.PrIters) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      r.foreach { case (id, rv) =>
        Graph.LinkCoeffs.foreach { case (a, b) =>
          inflow((id * a + b) % n) += rv / 3
        }
      }
      r = r.keys.map(id => id -> (tele + (85L * inflow(id)) / 100L)).toMap
    }
    r
  }

  test("distributed ranks equal the driver-evaluated recurrence exactly") {
    val got = Graph.pagerankRanks(spark, sf())
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    got shouldBe driverRanks()
  }

  test("rank mass is conserved up to floor drift and every node keeps " +
    "at least the teleport floor") {
    val ranks = Graph.pagerankRanks(spark, sf()).collect().map(_.getLong(1))
    val n = ranks.length.toLong
    val tele = (15L * (Graph.PrScale / n)) / 100L
    ranks.foreach(_ should be >= tele)
    // each round loses <15.3% to damping-floor rounding at most; after 8
    // rounds total mass stays within a loose but non-vacuous band
    val total = ranks.sum
    total should be <= Graph.PrScale
    total should be >= (Graph.PrScale * 6) / 10
  }

  test("stored-edge loop is bit-identical to the functional-graph loop " +
    "and reuses the persisted edge partitioning across rounds") {
    val func = Graph.qPagerank(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edged = Graph.qPagerankEdges(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    edged shouldBe func
  }

  test("triangle census: ring closure plants >= N triangles, invariants " +
    "hold, plan has no cartesian") {
    val df = Graph.qTriangles(spark, sf())
    val r = df.head()
    val n = Tables.documents(spark, sf()).count()
    r.getLong(0) shouldBe n
    // every (i, i+1, i+2) ring wedge closes: at least N triangles
    r.getLong(3) should be >= n
    // each triangle contributes exactly 3 wedges; open wedges exist too
    r.getLong(2) should be >= 3 * r.getLong(3) / 3 // wedges >= triangles
    val cc = r.getDouble(4)
    cc should (be > 0.0 and be <= 1.0)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q_degree_hist: the handshake identity holds and the expander's " +
    "degrees stay tightly banded") {
    val df = Graph.qDegreeHist(spark, sf())
    // every column BIGINT: `size()` is INT, and the oracle's dtype check
    // rejects an INT deg
    df.schema.map(f => f.name -> f.dataType.simpleString) shouldBe
      Seq("deg", "n_nodes", "min_id", "max_id").map(_ -> "bigint")
    val rows = df.collect()
      .map(r => (r.getAs[Long]("deg"), r.getAs[Long]("n_nodes")))
    val n = Tables.documents(spark, sf()).count()
    val nEdges = {
      val docs = Tables.documents(spark, sf()).select(col("doc_id").as("id"))
      docs.select(col("id").as("src"),
        explode(array(Graph.TriCoeffs.map { case (a, b) =>
          (col("id") * a + b) % n }: _*)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
        .distinct().count()
    }
    rows.map { case (d, c) => d * c }.sum shouldBe 2 * nEdges
    // constant-out-degree construction: max degree ≤ 2·|coeffs|
    rows.map(_._1).max should be <= (2L * Graph.TriCoeffs.length)
  }

  test("q_bfs: levels partition every reachable node, each level is " +
    "adjacent to the previous, and the frontier empties before the cap") {
    val rows = Graph.qBfs(spark, sf()).collect()
      .map(r => (r.getAs[Long]("lvl"), r.getAs[Long]("n_nodes")))
    // the expander reaches the whole graph well before BfsMaxRounds —
    // the cap is a safety bound, not a truncation in effect
    rows.map(_._2).sum shouldBe Tables.documents(spark, sf()).count()
    rows.map(_._1) shouldBe rows.indices.map(_.toLong)
    rows.last._1 should be < Graph.BfsMaxRounds.toLong
    // level 0 is exactly the source
    rows.head shouldBe ((0L, 1L))
    // level 1 = degree of node 0 in the symmetrized graph
    rows(1)._2 should be <= (2L * Graph.TriCoeffs.length)
  }

  test("top-100 output is rank-sorted with a deterministic tiebreak") {
    val out = Graph.qPagerank(spark, sf()).collect()
    out.length shouldBe math.min(100, Tables.documents(spark, sf()).count()).toInt
    out.sliding(2).foreach {
      case Array(x, y) =>
        val ok = x.getLong(1) > y.getLong(1) ||
          (x.getLong(1) == y.getLong(1) && x.getLong(0) < y.getLong(0))
        ok shouldBe true
      case _ => ()
    }
  }

  test("q_sssp matches a driver-side hop-bounded Bellman-Ford replay") {
    val n = graft.tables.Tables.documents(spark, sf()).count()
    val inf = Long.MaxValue / 4
    val dist = Array.fill(n.toInt)(inf)
    dist(0) = 0L
    (1 to Graph.SsspIters).foreach { _ =>
      val snap = dist.clone()
      snap.zipWithIndex.foreach { case (du, u) =>
        if (du < inf) Graph.LinkCoeffs.foreach { case (a, b) =>
          val v = ((u * a + b) % n).toInt
          val w = 1L + (u * 3L + v * 5L) % 9L
          if (du + w < dist(v)) dist(v) = du + w
        }
      }
    }
    val want = dist.zipWithIndex.filter(_._1 < inf)
      .groupBy(_._1).map { case (d, g) =>
        d -> (g.length.toLong, g.map(_._2.toLong).min, g.map(_._2.toLong).max)
      }
    val got = Graph.qSssp(spark, sf()).collect()
      .map(r => r.getAs[Long]("dist") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("min_id"),
          r.getAs[Long]("max_id"))).toMap
    got shouldBe want
    // the expander reaches every node inside the hop bound
    got.values.map(_._1).sum shouldBe n
  }

  test("q_kcore matches a driver-side peel replay") {
    val n = graft.tables.Tables.documents(spark, sf()).count()
    var edges = (for {
      i <- 0L until n; (a, b) <- Graph.TriCoeffs
      j = (i * a + b) % n if i != j
    } yield (math.min(i, j), math.max(i, j))).toSet
    val want = (1 to Graph.KCoreRounds).map { _ =>
      val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= Graph.KCoreK).keySet
      edges = edges.filter { case (a, b) => keep(a) && keep(b) }
      (keep.size.toLong, edges.size.toLong)
    }
    val got = Graph.qKcore(spark, sf()).collect()
      .map(r => (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))).toSeq
    got shouldBe want
  }

  test("q_kcore: the census rides the round checkpoints — one " +
    "construction job per round plus at most 3") {
    // a round is one aggregation under a lazy checkpoint: its map stage
    // is the round's only job; the adjacency build and the closing write
    // add one each, and the census adds none of its own
    val (_, jobs) = jobsDuring(Graph.qKcore(spark, sf()))
    jobs should be <= Graph.KCoreRounds + 3
  }

  test("q_lpa: synchronous label propagation equals a driver-side " +
    "evaluation of the pinned update rule") {
    val n = Tables.documents(spark, sf()).count()
    val raw = (0L until n).flatMap(id => Graph.LinkCoeffs.map {
      case (a, b) => (id, (id * a + b) % n) })
    val und = raw.filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var lbl = (0L until n).map(id => id -> id).toMap
    for (_ <- 1 to Graph.LpaIters) {
      lbl = lbl.map { case (id, old) =>
        val votes = adj.getOrElse(id, Nil).map(lbl)
          .groupBy(identity).view.mapValues(_.size).toSeq
        id -> (if (votes.isEmpty) old
               else votes.minBy { case (l, c) => (-c, l) }._1)
      }
    }
    val want = lbl.values.groupBy(identity).view
      .map { case (c, xs) => (c, xs.size.toLong) }.toSeq
      .map { case (c, sz) =>
        (c, sz, lbl.collect { case (id, l) if l == c => id }.min) }
      .sortBy { case (c, sz, _) => (-sz, c) }.take(100)
    val got = Graph.qLpa(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe want
  }

  test("q_modularity: ledger equals a driver-side evaluation over the " +
    "LPA assignment; degree mass covers the graph exactly") {
    val n = Tables.documents(spark, sf()).count()
    val raw = (0L until n).flatMap(id => Graph.LinkCoeffs.map {
      case (a, b) => (id, (id * a + b) % n) })
    val und = raw.filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).distinct
    val m = und.size.toLong
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var lbl = (0L until n).map(id => id -> id).toMap
    for (_ <- 1 to Graph.LpaIters) {
      lbl = lbl.map { case (id, old) =>
        val votes = adj.getOrElse(id, Nil).map(lbl)
          .groupBy(identity).view.mapValues(_.size).toSeq
        id -> (if (votes.isEmpty) old
               else votes.minBy { case (l, c) => (-c, l) }._1)
      }
    }
    val intra = und.filter { case (a, b) => lbl(a) == lbl(b) }
      .groupBy { case (a, _) => lbl(a) }.view.mapValues(_.size.toLong).toMap
    val deg = (und ++ und.map(_.swap))
      .groupBy { case (a, _) => lbl(a) }.view.mapValues(_.size.toLong).toMap
    val wantQ = deg.map { case (c, d) =>
      4L * m * intra.getOrElse(c, 0L) - d * d }.sum.toDouble / (4.0 * m * m)
    val want = deg.keys.toSeq.sorted.take(100).map { c =>
      val l = intra.getOrElse(c, 0L)
      (c, l, deg(c), 4L * m * l - deg(c) * deg(c), wantQ)
    }
    val got = Graph.qModularity(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    got shouldBe want
    // degree mass conservation over the full ledger (<=100 rows at spec SF)
    got.map(_._3).sum shouldBe 2L * m
  }

  test("q_recursive_cte: the engine-run recursion matches an independent " +
    "Scala BFS over the same functional graph") {
    val rows = Graph.qRecursiveCte(spark, sf()).collect()
      .map(r => r.getAs[Long]("dist") ->
        (r.getAs[Long]("n_paths"), r.getAs[Long]("n_new"))).toMap
    val n = graft.tables.Tables.documents(spark, sf()).count()
    // independent derivation: breadth-first over (a·v + b) mod n
    var frontier = Set(0L)
    var seen = Set(0L)
    val wantNew = scala.collection.mutable.Map(0L -> 1L)
    (1 to Graph.RecDepth).foreach { d =>
      val next = frontier.flatMap(v =>
        Graph.LinkCoeffs.map { case (a, b) => (v * a + b) % n })
      val fresh = next.diff(seen)
      if (fresh.nonEmpty) wantNew(d.toLong) = fresh.size.toLong
      seen ++= fresh
      frontier = next
    }
    rows.map { case (d, (_, nw)) => d -> nw } shouldBe wantNew.toMap
    rows.foreach { case (d, (np, _)) =>
      np shouldBe math.pow(3, d.toDouble).toLong // fixed out-degree paths
    }
  }
}
