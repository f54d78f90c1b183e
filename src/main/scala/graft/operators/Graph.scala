package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables
import graft.operators.SessionMemo

/** Iterative link-analysis over the document graph — the second classic
  * MapReduce-era iterative workload after connected components (Page et
  * al. 1999; Malewicz et al., Pregel, SIGMOD'10). The reference engine has
  * no iterative operators at all; this module supplies the canonical one
  * with the same scale discipline as [[ConnectedComponents]]:
  *
  *   - one keyed aggregation (= one Exchange) per iteration, never a
  *     per-iteration driver collect of anything corpus-sized;
  *   - every round loop runs through [[Iterate]], whose per-round
  *     `localCheckpoint` truncates the lineage (the CC justification: an
  *     iterative plan replayed from parquet re-runs every prior round on
  *     any executor loss — at 100 TB the checkpoint is mandatory, at spec
  *     scale it keeps planning O(1) per round);
  *   - only jobs that do work: the fixed-round loops (PageRank, SSSP,
  *     k-core, the LPA build) run through [[Iterate.rounds]], whose lazy
  *     checkpoints cost one job per one-exchange round. BFS stays on the
  *     eager [[Iterate.apply]] (as CC does): it stops on the round's
  *     observed row count, which must be known before the next round is
  *     built. A per-round census is observed on the state where the next
  *     round reads it, never on a step's own output, which a lazy
  *     checkpoint would report as zeros;
  *   - all-INTEGER rank arithmetic (scaled by 10¹²) so the fixed-point
  *     iteration is bit-identical on both engines and the DuckDB oracle
  *     can unroll the rounds as CTEs (the [[Bpe]] trick) instead of a
  *     tolerance compare.
  *
  * The link graph is synthetic-but-functional: doc ids are dense 0..N−1,
  * and each doc links to (a·id + b) mod N for three fixed (a, b) pairs —
  * so the out-edge set is a row-local FUNCTION of the node id. That lets
  * the contribution step skip the rank⋈edges join entirely (explode the
  * dst formula next to the rank — one Exchange per round total). With a
  * materialized edge table the same loop is the standard co-partitioned
  * join + aggregation, two Exchanges per round; the scaladoc shape here is
  * the functional-graph specialization, not a cheat: the aggregation —
  * the scale bottleneck — is identical.
  */
object Graph {

  /** Fixed-point scale: ranks are integer multiples of 10⁻¹². */
  val PrScale = 1000000000000L

  /** Damping 0.85 as the exact rational 85/100. */
  private val DampNum = 85L
  private val TeleNum = 15L

  /** Iterations: 8 rounds ≈ the d⁸ ≈ 0.27 residual regime — enough to
    * rank-separate the synthetic graph; the oracle unrolls exactly these.
    */
  val PrIters = 8

  /** Out-links of doc v: (a·v + b) mod N per (a, b) — three edges, fixed
    * out-degree (no dangling mass; multipliers pairwise distinct so the
    * in-degree distribution is non-uniform and ranks actually spread).
    */
  val LinkCoeffs: Seq[(Long, Long)] = Seq((7L, 1L), (13L, 5L), (31L, 11L))

  private def dsts(id: Column, n: Long,
      coeffs: Seq[(Long, Long)] = LinkCoeffs): Column =
    array(coeffs.map { case (a, b) => (id * a + b) % n }: _*)

  /** Integer PageRank over the functional link graph: returns the top-100
    * documents by scaled rank after [[PrIters]] synchronous rounds.
    * r₀ = S/N; rₜ₊₁(v) = (15·(S/N))/100 + (85·Σ_{u→v} ⌊rₜ(u)/3⌋)/100,
    * every division truncating — exact on both engines.
    */
  def qPagerank(s: SparkSession, dir: String): DataFrame =
    top100(pagerankRanks(s, dir))

  /** Full per-document rank table after [[PrIters]] rounds. */
  private[operators] def pagerankRanks(s: SparkSession, dir: String): DataFrame =
    pagerank(s, dir, storedEdges = false)

  /** The GENERAL form: PageRank over a MATERIALIZED edge table — the
    * shape a real link graph (stored, not derivable from the node id)
    * forces. The edge table is repartitioned on src ONCE and persisted;
    * each round is then the standard co-partitioned rank⋈edges join
    * (ranks arrive hash-partitioned on id from the previous round's
    * aggregation, edges reuse their persisted partitioning — no
    * per-round edge shuffle) followed by the one keyed aggregation on
    * dst. Same recurrence, same integers, bit-identical output to
    * [[qPagerank]] — which is exactly what lets both share oracle SQL
    * semantics: the functional-graph specialization is an optimization,
    * never a semantics change.
    */
  def qPagerankEdges(s: SparkSession, dir: String): DataFrame =
    top100(pagerank(s, dir, storedEdges = true))

  private def top100(ranks: DataFrame): DataFrame =
    ranks.orderBy(col("pr").desc, col("doc_id")).limit(100)

  /** The one PageRank loop: the two forms differ only in where a round's
    * (dst, contribution) rows come from — the dst formula exploded next
    * to the rank, or the rank⋈edges join against the stored graph.
    */
  private def pagerank(s: SparkSession, dir: String,
      storedEdges: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id").as("id"))
    val n = nodeCount(s, dir)
    val init = PrScale / n
    val tele = (TeleNum * init) / 100L
    val nodes = docs.repartition(col("id")).persist()
    // the stored graph: materialized once, partitioned on the join key
    val edges = Option.when(storedEdges)(docs
      .select(col("id").as("src"), explode(dsts(col("id"), n)).as("dst"))
      .repartition(col("src"))
      .persist())
    val ranks = Iterate.rounds(nodes.select(col("id"), lit(init).as("r")),
        PrIters) { r =>
      val out = edges match {
        case Some(e) => r.join(e, r("id") === e("src")).select(col("dst"), col("r"))
        case None => r.select(explode(dsts(col("id"), n)).as("dst"), col("r"))
      }
      // `div` (not `/`): true integral division — the float detour would
      // be exact here only by magnitude accident, and the oracle is `//`
      val contrib = out
        .select(col("dst"), expr("r div 3").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("cs"))
      nodes
        .join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (lit(tele) + expr(s"($DampNum * coalesce(cs, 0L)) div 100"))
            .as("r"))
    }.state
    nodes.unpersist(blocking = false)
    edges.foreach(_.unpersist(blocking = false))
    ranks.select(col("id").as("doc_id"), col("r").as("pr"))
  }

  /** Extra ring-closure links for the triangle census only: id → id+1
    * and id → id+2 (mod N) close a triangle (i, i+1, i+2) at every node
    * — the affine [[LinkCoeffs]] alone are triangle-free at these N
    * (measured), which would make the census vacuous. PageRank keeps
    * the 3-link graph.
    */
  val TriCoeffs: Seq[(Long, Long)] = LinkCoeffs ++ Seq((1L, 1L), (1L, 2L))

  private val nMemo = new SessionMemo[Long]()

  /** N, the node count the link formula reduces by: the one driver-side
    * scalar the graph queries need (the bounded roundtrip class — cf.
    * GlobalOrder's pass-1 totals), counted once per corpus content.
    */
  private def nodeCount(s: SparkSession, dir: String): Long =
    nMemo.getOrElseUpdate(s, dir)(Tables.documents(s, dir).count())

  /** The arcs (src, dst) of the functional graph over `coeffs`,
    * self-loops dropped — the one link formula [[undirected]] and
    * [[adjacency]] both start from.
    */
  private def arcs(s: SparkSession, dir: String,
      coeffs: Seq[(Long, Long)]): DataFrame = {
    val n = nodeCount(s, dir)
    Tables.documents(s, dir)
      .select(col("doc_id").as("src"),
        explode(dsts(col("doc_id"), n, coeffs)).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** The undirected simple edge set (a, b) of the functional graph over
    * `coeffs` — symmetrized, self-loops dropped, oriented a < b, distinct.
    */
  private def undirected(s: SparkSession, dir: String,
      coeffs: Seq[(Long, Long)]): DataFrame =
    arcs(s, dir, coeffs)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** The same graph node-centric: (id, nbrs) for every node with at least
    * one edge, `nbrs` its distinct neighbours — one keyed aggregation
    * (`collect_set` over both orientations of each arc).
    */
  private[graft] def adjacency(s: SparkSession, dir: String,
      coeffs: Seq[(Long, Long)]): DataFrame =
    arcs(s, dir, coeffs)
      .select(explode(array(
        struct(col("src").as("id"), col("dst").as("v")),
        struct(col("dst").as("id"), col("src").as("v")))).as("e"))
      .groupBy(col("e.id").as("id"))
      .agg(collect_set(col("e.v")).as("nbrs"))

  /** Both orientations of an undirected edge set as (src, dst),
    * repartitioned on src ONCE and persisted: the probe side of a
    * per-round join whose other side arrives hash-partitioned on the node
    * id (the [[qPagerankEdges]] discipline).
    */
  private def bothWays(und: DataFrame): DataFrame =
    und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")).persist()

  /** TRIANGLE census + global clustering coefficient (the third classic
    * of the graph trio after components and PageRank; algorithm =
    * NodeIterator++ as two relational joins, Suri & Vassilvitskii
    * WWW'11). The undirected edge set is the symmetrized functional
    * graph minus self-loops, oriented low→high so every triangle
    * (a<b<c) is counted exactly once: wedges = E ⋈ E on the low
    * endpoint (b<c), triangles = wedges ⋈ E on (b,c). Wedge volume is
    * Σ deg² — bounded here by the constant out-degree, and on real
    * graphs by the standard high-degree orientation trick this plan
    * embodies (each wedge pivots at its LOWEST vertex). Two shuffle
    * joins, no cartesian anywhere (plan-pinned in spec).
    */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val n = nodeCount(s, dir)
    val und = undirected(s, dir, TriCoeffs).persist()
    val e1 = und.select(col("a"), col("b").as("x"))
    val e2 = und.select(col("a"), col("b").as("y"))
    val wedges = e1.join(e2, "a").filter(col("x") < col("y"))
    val tris = wedges.join(
      und.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    val nEdges = und.count()
    val nWedges = wedges.count()
    val nTris = tris.count()
    und.unpersist(blocking = false)
    val s2 = s
    import s2.implicits._
    Seq((n, nEdges, nWedges, nTris))
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles")
      .withColumn("clustering_coeff",
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 9)))
  }

  /** BFS round cap — a safety bound only: the [[TriCoeffs]] graph is an
    * expander (measured eccentricity of node 0: 4 at N=500, 6 at
    * N=5000), so the frontier empties long before the cap; nodes still
    * unreached at the cap would simply be absent from the output on
    * both engines.
    */
  val BfsMaxRounds = 12

  /** Single-source BFS level census — the fourth classic of the graph
    * suite (components, PageRank, triangles, shortest paths): exact
    * hop distance from node 0 over the symmetrized [[TriCoeffs]] graph,
    * reported per level. The [[Iterate]] state is the visited set as
    * (id, lvl) rows. Frontier expansion: each round takes the rows of
    * the CURRENT level, joins them to the src-partitioned edge table,
    * dedups, anti-joins the visited set, and appends the survivors at
    * the next level — work per round ∝ frontier edge volume plus one
    * copy of the ≤N visited rows, O(diameter) rounds (≈ log N on an
    * expander, the web / citation / link-graph case this models). Each
    * round's plan reads only the previous round's checkpoint, and the
    * traversal stops at the first round whose observed row count did
    * not grow (an empty frontier). The oracle replays the traversal as
    * a recursive CTE with min-level dedup — a different algorithm (path
    * enumeration + min) agreeing on the same levels.
    */
  def qBfs(s: SparkSession, dir: String): DataFrame = {
    val edges = bothWays(undirected(s, dir, TriCoeffs))
    var lvl = 0L
    var reached = 1L
    // done ⇔ the round added no row ⇔ its new frontier was empty
    val bfs = Iterate(s.range(1).select(lit(0L).as("id"), lit(0L).as("lvl")), BfsMaxRounds,
        (_, rows) => { val empty = rows == reached; reached = rows; empty }) { visited =>
      val ids = visited.filter(col("lvl") === lvl).select(col("id"))
      lvl += 1
      visited.union(ids.join(edges, ids("id") === edges("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(lvl).as("lvl")))
    }
    edges.unpersist(blocking = false)
    bfs.state
      .groupBy(col("lvl"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy(col("lvl"))
  }

  /** Degree distribution of the symmetrized [[TriCoeffs]] graph — the
    * first diagnostic run on any ingested link graph (a heavy-tailed
    * histogram dictates the skew strategy for every downstream join;
    * this synthetic expander's histogram is tightly banded around 2·|C|,
    * which is exactly what the census shows). Two keyed aggregations:
    * the [[adjacency]] frame, whose `size(nbrs)` is each node's degree,
    * then the ≤max-degree-sized histogram, combined map-side — so one
    * final task sorts it at any scale, with no range-sampling job and no
    * range exchange of a global `orderBy`.
    */
  def qDegreeHist(s: SparkSession, dir: String): DataFrame =
    adjacency(s, dir, TriCoeffs)
      .select(col("id"), size(col("nbrs")).cast("bigint").as("deg"))
      .groupBy(col("deg")).agg(
        count(lit(1)).as("n_nodes"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .coalesce(1).sortWithinPartitions(col("deg"))

  /** Relaxation rounds for [[qSssp]]: distances are exact over all paths
    * of ≤ SsspIters edges (the hop-bounded Bellman–Ford contract — the
    * form a bounded-iteration 100 TB deployment actually runs; an
    * expander of this fan-out is hop-converged well inside the bound for
    * UNWEIGHTED reachability, and the bound makes the oracle's static
    * unroll exact rather than convergence-dependent).
    */
  val SsspIters = 12

  /** Weighted single-source shortest paths by synchronous Bellman–Ford
    * relaxation (Bellman 1958) over the directed functional graph — the
    * third iterative-workload class after CC (label convergence) and
    * PageRank (mass convergence): MONOTONE MIN-PLUS convergence. Edge
    * weight w(u, v) = 1 + (3u + 5v) mod 9 is a pure function of the
    * endpoints (both engines recompute it; nothing is stored), source is
    * node 0. Each round is one union + keyed min aggregation — ONE
    * Exchange, the [[ConnectedComponents]] discipline, with
    * [[Iterate]] truncating the 12-round lineage. State is the
    * reached-node frontier table, never edges×rounds. Output: the
    * distance census (nodes per distance value — bounded by the max
    * path weight), exactly unrolled by the oracle's 12 CTE rounds.
    */
  def qSssp(s: SparkSession, dir: String): DataFrame = {
    val n = nodeCount(s, dir)
    val dist = Iterate.rounds(
        s.range(1).select(lit(0L).as("id"), lit(0L).as("d")), SsspIters) { dist =>
      val cand = dist
        .select(col("id").as("u"), col("d"),
          explode(dsts(col("id"), n)).as("v"))
        .select(col("v").as("id"),
          (col("d") + 1L + (col("u") * 3L + col("v") * 5L) % 9L).as("d"))
      dist.union(cand)
        .groupBy(col("id")).agg(min(col("d")).as("d"))
    }.state
    dist.groupBy(col("d").as("dist"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy(col("dist"))
  }

  /** Core order and peel rounds for [[qKcore]]: at k = 9 the synthetic
    * expander's near-regular degree band (7–10) produces a genuine
    * multi-round cascade rather than an instant fixpoint.
    */
  val KCoreK = 9
  val KCoreRounds = 8

  /** k-core peeling census (Seidman 1983; distributed formulation à la
    * Montresor et al. 2013) — the fourth iterative-convergence class
    * after CC (label), PageRank (mass), and SSSP (min-plus): MONOTONE
    * DELETION. The [[Iterate.rounds]] state is the node-centric
    * [[adjacency]] frame; each round is one [[kcoreRound]] — one keyed
    * aggregation, one Exchange, one job — and the lazy checkpoints
    * truncate the 8-round lineage. The census launches no job: a round's
    * surviving nodes are an observed row count, its surviving edges half
    * an observed Σ size(nbrs), both read where the next round (or the
    * closing write) scans that state; its eight rows are built on the
    * driver in round order, with no sort. A FIXED round count, not
    * convergence detection, keeps the oracle a static 8-round
    * MATERIALIZED-CTE unroll (the [[qSssp]] discipline); the census
    * output is the cascade profile itself — (round, surviving nodes,
    * surviving edges).
    */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    val census = Iterate.rounds(adjacency(s, dir, TriCoeffs), KCoreRounds,
        count(lit(1)), coalesce(sum(size(col("nbrs"))), lit(0L)))(kcoreRound)
      .metrics.zipWithIndex.map { case (r, k) =>
        (k + 1L, r.getLong(0), r.getLong(1) / 2) }
    import s.implicits._
    census.toDF("round", "n_nodes", "n_edges")
  }

  /** One peel round over an (id, nbrs) frame: every node of degree
    * ≥ [[KCoreK]] emits a self marker (id, null) and (v, id) for each
    * neighbour v, in one scan; grouping on id then yields each survivor's
    * surviving neighbours. A group without a self marker is a peeled
    * node that a survivor still named, and is dropped.
    */
  private[graft] def kcoreRound(adj: DataFrame): DataFrame =
    adj.filter(size(col("nbrs")) >= KCoreK)
      .select(explode(concat(
        array(struct(col("id"), lit(null).cast("bigint").as("u"))),
        transform(col("nbrs"), v => struct(v.as("id"), col("id").as("u")))))
        .as("m"))
      .groupBy(col("m.id").as("id"))
      .agg(collect_list(col("m.u")).as("nbrs"),
        bool_or(col("m.u").isNull).as("alive"))
      .filter(col("alive"))
      .select(col("id"), col("nbrs"))

  /** Synchronous LPA rounds — fixed so the oracle is a static unroll. */
  val LpaIters = 4

  private val lpaMemo = new SessionMemo[DataFrame]()

  /** (id, lbl) after [[LpaIters]] synchronous rounds — the LPA loop of
    * [[qLpa]]'s scaladoc, memoized: the iterative build runs once and
    * both the census and the [[qModularity]] quality readout reuse the
    * checkpointed assignment (at 100 TB: the community table is
    * materialized once and joined from).
    */
  private[operators] def lpaLabels(s: SparkSession, dir: String): DataFrame =
    lpaMemo.getOrElseUpdate(s, dir) {
      val docs = Tables.documents(s, dir).select(col("doc_id").as("id"))
      val edges = bothWays(undirected(s, dir, LinkCoeffs))
      val lbl = Iterate.rounds(docs.select(col("id"), col("id").as("lbl")),
          LpaIters) { lbl =>
        val votes = edges
          .join(lbl.select(col("id").as("src"), col("lbl")), "src")
          .groupBy(col("dst"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("dst"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("dst"), (-col("m.nl")).as("new_lbl"))
        lbl
          .join(votes, lbl("id") === votes("dst"), "left")
          .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
      }.state
      edges.unpersist(blocking = false)
      lbl
    }

  /** Label propagation communities (Raghavan et al., Phys. Rev. E 2007)
    * over the symmetrized functional graph — the community-detection
    * member of the iterative family, with every nondeterminism the
    * published algorithm leaves open PINNED: labels start as node ids,
    * rounds are SYNCHRONOUS (asynchronous order-dependence gone), the
    * update is the most frequent neighbor label with ties broken toward
    * the SMALLEST label, and isolated/empty updates keep the previous
    * label. All-integer, so after [[LpaIters]] rounds the assignment is
    * bit-identical on both engines and the oracle unrolls the rounds as
    * CTEs (argmax via a window on the oracle side; here via
    * `max(struct(cnt, -lbl))` — no window, two Exchanges per round:
    * per-(node, label) count, then per-node argmax), each round an
    * [[Iterate]] round like every loop here. Output is the
    * community census (size + representative), not the corpus-sized
    * per-node table.
    */
  def qLpa(s: SparkSession, dir: String): DataFrame =
    lpaLabels(s, dir).groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
      .select(col("lbl").as("community"), col("n_nodes"), col("min_id"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(100)

  /** Newman modularity of the [[qLpa]] partition over the same undirected
    * graph — the quality readout that turns "communities were found" into
    * a measured number: Q = Σ_c [ l_c/m − (d_c/2m)² ] over communities,
    * carried EXACTLY as the integer numerator q_num = 4m·l_c − d_c² over
    * the shared denominator 4m² (all counts), so the only float is the
    * final division and the assignment bit-stability of the LPA loop
    * carries through to the score. Output is the per-community ledger
    * (intra-edge count, degree mass, numerator) for communities touching
    * at least one edge, plus the global Q on every row; one broadcast-
    * sized join of the bounded community table against the edge frame.
    */
  def qModularity(s: SparkSession, dir: String): DataFrame = {
    val und = undirected(s, dir, LinkCoeffs)
    val m = und.count()
    val lab = lpaLabels(s, dir)
    val intra = und
      .join(lab.select(col("id").as("a"), col("lbl").as("la")), "a")
      .join(lab.select(col("id").as("b"), col("lbl").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("n_intra"))
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .join(lab, "id")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("deg_sum"))
    val per = deg
      .join(intra, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("n_intra"), lit(0L)).as("n_intra"), col("deg_sum"),
        (lit(4L * m) * coalesce(col("n_intra"), lit(0L)) -
          col("deg_sum") * col("deg_sum")).as("q_num"))
    val tot = per.agg(sum(col("q_num")).as("s"))
      .select((col("s").cast("double") / lit(4.0 * m * m)).as("q_total"))
    per.crossJoin(broadcast(tot))
      .orderBy(col("community"))
      .limit(100)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sssp" -> qSssp,
    "q_kcore" -> qKcore,
    "q_degree_hist" -> qDegreeHist,
    "q_bfs" -> qBfs,
    "q_pagerank" -> qPagerank,
    "q_pagerank_edges" -> qPagerankEdges,
    "q_triangles" -> qTriangles,
    "q_lpa" -> qLpa,
    "q_modularity" -> qModularity,
    "q_recursive_cte" -> qRecursiveCte
  )

  /** Depth cap of the [[qRecursiveCte]] reachability walk. */
  val RecDepth = 6

  /** NATIVE recursive SQL (`WITH RECURSIVE`, Spark 4's UnionLoop
    * execution) — the declarative twin of this module's driver-loop
    * iteratives: a breadth-bounded reachability walk from document 0 over
    * the SAME functional link graph as [[qBfs]]/[[qPagerank]]
    * ([[LinkCoeffs]]), reporting per depth the path count (3^d — fixed
    * out-degree) and the newly reached node count (min-distance
    * frontier). Every module iterative runs its rounds through
    * [[Iterate]]'s per-round checkpoint because rounds there carry
    * corpus-scale state; this query is the surface proof that when the
    * frontier is BOUNDED, the engine's own recursion handles the loop
    * and the identical SQL runs on both engines — the oracle is the
    * query text itself, not an unroll.
    */
  def qRecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    s.sql(recursiveSql)
      .select(col("dist").cast("long").as("dist"),
        col("n_paths"), col("n_new"))
  }

  /** The shared recursive walk SQL — run VERBATIM by both engines. */
  private lazy val recursiveSql: String = {
    val coeffs = LinkCoeffs
      .map { case (a, b) => s"SELECT $a AS a, $b AS b" }
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE walk(node, dist) AS (
       |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
       |  UNION ALL
       |  SELECT (w.node * c.a + c.b) % (SELECT count(*) FROM documents)
       |      AS node,
       |    w.dist + 1 AS dist
       |  FROM walk w, ($coeffs) c
       |  WHERE w.dist < $RecDepth),
       |lv AS (SELECT dist, count(*) AS n_paths FROM walk GROUP BY dist),
       |md AS (SELECT node, min(dist) AS d FROM walk GROUP BY node),
       |nw AS (SELECT d AS dist, count(*) AS n_new FROM md GROUP BY d)
       |SELECT lv.dist, lv.n_paths, nw.n_new
       |FROM lv JOIN nw ON lv.dist = nw.dist
       |ORDER BY lv.dist""".stripMargin
  }

  /** The oracle unrolls all [[PrIters]] rounds as chained CTEs — the
    * [[Bpe]] static-unroll trick: integer arithmetic makes every round
    * bit-identical, so the compare is exact, not tolerance-based.
    */
  /** Shared LPA oracle chain (nodes → symmetrized edges → [[LpaIters]]
    * unrolled synchronous rounds, ending in `l<iters>(id, lbl)` with `ud`
    * and `eu` in scope) — used verbatim by the q_lpa and q_modularity
    * oracles so the assignment they score is one derivation.
    */
  private lazy val lpaOracleCtes: String = {
    val linkSelects = LinkCoeffs
      .map { case (a, b) =>
        s"SELECT id AS src, (id * $a + $b) % (SELECT n FROM nn) " +
          "AS dst FROM nodes" }
      .mkString("\n  UNION ALL ")
    val lpaRounds = (1 to LpaIters).map { t =>
      s"""v$t AS (
         |  SELECT e.dst AS id, r.lbl, count(*) AS c
         |  FROM eu e JOIN l${t - 1} r ON e.src = r.id
         |  GROUP BY 1, 2),
         |w$t AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (
         |      PARTITION BY id ORDER BY c DESC, lbl) AS rk FROM v$t)
         |  WHERE rk = 1),
         |l$t AS (
         |  SELECT r.id, coalesce(w.lbl, r.lbl) AS lbl
         |  FROM l${t - 1} r LEFT JOIN w$t w ON w.id = r.id)""".stripMargin
    }.mkString(",\n")
    s"""nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |nodes AS (SELECT doc_id AS id FROM documents),
       |e0 AS ($linkSelects),
       |ud AS (SELECT DISTINCT least(src, dst) AS a,
       |    greatest(src, dst) AS b
       |  FROM e0 WHERE src <> dst),
       |eu AS (SELECT a AS src, b AS dst FROM ud
       |  UNION ALL SELECT b, a FROM ud),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |$lpaRounds""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val links = LinkCoeffs
      .map { case (a, b) => s"(id * $a + $b) % (SELECT n FROM nn)" }
      .mkString("[", ", ", "]")
    val rounds = (1 to PrIters).map { t =>
      s"""c${t - 1} AS (
         |  SELECT dst, CAST(sum(c) AS BIGINT) AS cs FROM (
         |    SELECT unnest($links) AS dst, r // 3 AS c FROM r${t - 1})
         |  GROUP BY dst),
         |r$t AS (
         |  SELECT id,
         |    (SELECT ($TeleNum * ($PrScale // n)) // 100 FROM nn)
         |      + ($DampNum * coalesce(cs, 0)) // 100 AS r
         |  FROM nodes LEFT JOIN c${t - 1} ON id = dst)""".stripMargin
    }.mkString(",\n")
    val sql =
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |nodes AS (SELECT doc_id AS id FROM documents),
         |r0 AS (SELECT id, (SELECT $PrScale // n FROM nn) AS r FROM nodes),
         |$rounds
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS pr FROM r$PrIters
         |ORDER BY pr DESC, doc_id LIMIT 100""".stripMargin
    val bfsLinks = TriCoeffs
      .map { case (a, b) => s"(doc_id * $a + $b) % (SELECT n FROM nn)" }
      .mkString("[", ", ", "]")
    val bfsLinkSelects = TriCoeffs
      .map { case (a, b) =>
        s"SELECT doc_id AS src, (doc_id * $a + $b) % (SELECT n FROM nn) AS dst FROM documents"
      }
      .mkString("\nUNION ALL\n")
    val ssspRounds = (1 to SsspIters).map { t =>
      val relaxes = LinkCoeffs.map { case (a, b) =>
        s"""  SELECT v AS id, d + 1 + ((u * 3 + v * 5) % 9) AS d FROM (
           |    SELECT id AS u, d, (id * $a + $b) % (SELECT n FROM nn) AS v
           |    FROM d${t - 1})""".stripMargin
      }.mkString("\n  UNION ALL\n")
      // MATERIALIZED is load-bearing: each round references the previous
      // CTE four times (identity + three relaxes); DuckDB's default
      // inlining would expand the 12-round chain 4^12-fold
      s"""d$t AS MATERIALIZED (
         |  SELECT id, min(d) AS d FROM (
         |  SELECT id, d FROM d${t - 1}
         |  UNION ALL
         |$relaxes
         |  ) GROUP BY id)""".stripMargin
    }.mkString(",\n")
    val kcoreRounds = (1 to KCoreRounds).map { t =>
      s"""d$t AS MATERIALIZED (
         |  SELECT id, count(*) AS deg FROM (
         |    SELECT unnest([a, b]) AS id FROM e${t - 1}) GROUP BY id),
         |k$t AS MATERIALIZED (SELECT id FROM d$t WHERE deg >= $KCoreK),
         |e$t AS MATERIALIZED (
         |  SELECT a, b FROM e${t - 1}
         |  WHERE a IN (SELECT id FROM k$t) AND b IN (SELECT id FROM k$t))"""
        .stripMargin
    }.mkString(",\n")
    val kcoreSelect = (1 to KCoreRounds).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS round,
         |  (SELECT CAST(count(*) AS BIGINT) FROM k$t) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e$t) AS n_edges"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    Map(
      // the identical 8-round peel, statically unrolled (MATERIALIZED:
      // e_t references chain like q_sssp's rounds)
      "q_kcore" -> {
        val linkSelects = TriCoeffs
          .map { case (a, b) =>
            s"SELECT doc_id AS src, (doc_id * $a + $b) % (SELECT n FROM nn) AS dst FROM documents"
          }
          .mkString("\nUNION ALL\n")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |raw AS ($linkSelects),
           |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           |    greatest(src, dst) AS b
           |  FROM raw WHERE src <> dst),
           |$kcoreRounds
           |$kcoreSelect
           |ORDER BY round""".stripMargin
      },
      // the identical 12-round min-plus relaxation, statically unrolled
      "q_sssp" ->
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |d0 AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
           |$ssspRounds
           |SELECT d AS dist, count(*) AS n_nodes,
           |  CAST(min(id) AS BIGINT) AS min_id,
           |  CAST(max(id) AS BIGINT) AS max_id
           |FROM d$SsspIters GROUP BY d ORDER BY dist""".stripMargin,
      // links ride per-coefficient UNION ALL selects (the q_triangles
      // oracle form), not an unnest list: DuckDB 1.x's binder fails
      // internally on an unnest-list edge source that is unnested again
      // downstream (both the scalar-subquery and CROSS JOIN modulus
      // spellings reproduce it; the UNION ALL form binds fine).
      "q_degree_hist" ->
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |raw AS ($bfsLinkSelects),
           |und AS (SELECT DISTINCT least(src, dst) AS a,
           |    greatest(src, dst) AS b
           |  FROM raw WHERE src <> dst),
           |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           |    SELECT unnest([a, b]) AS id FROM und)
           |  GROUP BY id)
           |SELECT deg, count(*) AS n_nodes,
           |  CAST(min(id) AS BIGINT) AS min_id,
           |  CAST(max(id) AS BIGINT) AS max_id
           |FROM deg GROUP BY deg ORDER BY deg""".stripMargin,
      // BFS oracle: recursive path enumeration capped at the round
      // bound, deduped per (id, lvl) by the recursive UNION, min-level
      // per node — a different traversal algorithm than the frontier
      // loop, agreeing on the exact level census.
      "q_bfs" ->
        s"""WITH RECURSIVE nn AS (SELECT CAST(count(*) AS BIGINT) AS n
           |  FROM documents),
           |raw AS (SELECT doc_id AS src, unnest($bfsLinks) AS dst
           |  FROM documents),
           |und AS (SELECT DISTINCT least(src, dst) AS a,
           |    greatest(src, dst) AS b
           |  FROM raw WHERE src <> dst),
           |ed AS (SELECT a AS src, b AS dst FROM und
           |  UNION ALL SELECT b AS src, a AS dst FROM und),
           |bfs(id, lvl) AS (
           |  SELECT CAST(0 AS BIGINT) AS id, 0 AS lvl
           |  UNION
           |  SELECT ed.dst, bfs.lvl + 1 FROM bfs
           |  JOIN ed ON ed.src = bfs.id WHERE bfs.lvl < $BfsMaxRounds),
           |lv AS (SELECT id, min(lvl) AS lvl FROM bfs GROUP BY id)
           |SELECT CAST(lvl AS BIGINT) AS lvl, count(*) AS n_nodes,
           |  CAST(min(id) AS BIGINT) AS min_id,
           |  CAST(max(id) AS BIGINT) AS max_id
           |FROM lv GROUP BY lvl ORDER BY lvl""".stripMargin,
      "q_pagerank" -> sql,
      // the materialized-edge loop computes the identical recurrence —
      // one oracle text serves both (plan-only difference by design)
      "q_pagerank_edges" -> sql,
      // INDEPENDENT derivation: per-node argmax via a window (the shape
      // the Spark side's max(struct) avoids), rounds statically unrolled
      "q_lpa" ->
        s"""WITH $lpaOracleCtes
           |SELECT lbl AS community, count(*) AS n_nodes,
           |  CAST(min(id) AS BIGINT) AS min_id
           |FROM l$LpaIters GROUP BY lbl
           |ORDER BY n_nodes DESC, community LIMIT 100""".stripMargin,
      // modularity ledger over the SAME unrolled assignment: all-integer
      // numerators 4m*l_c - d_c^2 over the shared 4m^2 denominator
      "q_modularity" ->
        s"""WITH $lpaOracleCtes,
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ud),
           |lab AS (SELECT id, lbl FROM l$LpaIters),
           |intra AS (
           |  SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS n_intra
           |  FROM ud JOIN lab la ON la.id = ud.a
           |  JOIN lab lb ON lb.id = ud.b
           |  WHERE la.lbl = lb.lbl GROUP BY 1),
           |deg AS (
           |  SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS deg_sum
           |  FROM eu e JOIN lab la ON la.id = e.src GROUP BY 1),
           |per AS (
           |  SELECT d.community, coalesce(i.n_intra, 0) AS n_intra,
           |    d.deg_sum,
           |    4 * mm.m * coalesce(i.n_intra, 0) - d.deg_sum * d.deg_sum
           |      AS q_num
           |  FROM deg d LEFT JOIN intra i ON i.community = d.community
           |  CROSS JOIN mm),
           |tot AS (SELECT CAST(sum(CAST(q_num AS BIGINT)) AS DOUBLE)
           |    / (4.0 * mm.m * mm.m) AS q_total
           |  FROM per CROSS JOIN mm GROUP BY mm.m)
           |SELECT community, n_intra, deg_sum, CAST(q_num AS BIGINT) AS q_num,
           |  q_total
           |FROM per CROSS JOIN tot
           |ORDER BY community LIMIT 100""".stripMargin,
      "q_triangles" -> {
        val linkSelects = TriCoeffs
          .map { case (a, b) =>
            s"SELECT id AS src, (id * $a + $b) % (SELECT n FROM nn) AS dst FROM nodes"
          }
          .mkString("\nUNION ALL\n")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |nodes AS (SELECT doc_id AS id FROM documents),
           |raw AS ($linkSelects),
           |und AS (SELECT DISTINCT least(src, dst) AS a,
           |    greatest(src, dst) AS b
           |  FROM raw WHERE src <> dst),
           |w AS (SELECT e1.a, e1.b AS x, e2.b AS y
           |  FROM und e1 JOIN und e2 USING (a) WHERE e1.b < e2.b),
           |t AS (SELECT count(*) AS n_tris
           |  FROM w JOIN und ON und.a = w.x AND und.b = w.y),
           |cnt AS (SELECT
           |  (SELECT n FROM nn) AS n_nodes,
           |  (SELECT count(*) FROM und) AS n_edges,
           |  (SELECT count(*) FROM w) AS n_wedges,
           |  (SELECT n_tris FROM t) AS n_triangles)
           |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           |  CAST(n_edges AS BIGINT) AS n_edges,
           |  CAST(n_wedges AS BIGINT) AS n_wedges,
           |  CAST(n_triangles AS BIGINT) AS n_triangles,
           |  CASE WHEN n_wedges = 0 THEN 0.0e0
           |    ELSE round(3.0e0 * n_triangles / n_wedges, 9) END
           |    AS clustering_coeff
           |FROM cnt""".stripMargin
      },
      // the SAME recursive SQL verbatim, dist widened to BIGINT
      "q_recursive_cte" ->
        s"""SELECT CAST(dist AS BIGINT) AS dist, n_paths, n_new FROM (
           |$recursiveSql
           |) t ORDER BY dist""".stripMargin
    )
  }
}
