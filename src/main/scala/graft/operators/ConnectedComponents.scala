package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the transitive-
  * closure step every dedup pipeline needs between "pair evidence" and
  * "duplicate clusters" (pair detectors emit edges; the cluster is the
  * connected component; the canonical document is the component minimum).
  *
  * Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round is
  * two keyed aggregations (shuffle on node id); the edge set converges to a
  * star per component (every node pointing at the component min) in
  * O(log² n) rounds — independent of component DIAMETER, which is the
  * property that matters at scale: naive min-label propagation needs
  * diameter rounds, and a 10⁶-node path (what linear adjacent-pair edge
  * emission produces for a 10⁶-member duplicate group) would never finish.
  *
  * Scale design (100 TB):
  *   - each round shuffles only the CURRENT edge set, keyed by node —
  *     no vertex-state table, no broadcast;
  *   - the rounds run through [[Iterate]], whose `localCheckpoint` after
  *     every round truncates lineage (an iterative plan otherwise
  *     re-executes all prior rounds on every action);
  *   - convergence is the paper's CHANGE COUNT: each star aggregation
  *     tags every emitted edge that differs from its input form
  *     (large-star: the group rewired to a center other than itself;
  *     small-star: a non-self node re-attached), and an `observe()` sum of
  *     those tags on each star's output rides the round's checkpoint, so
  *     ONE action per round both materializes the next edge set and
  *     reports whether anything moved. Zero changes ⇔ the round was an
  *     identity ⇔ the edge set is a star forest (a non-star-forest always
  *     rewires: a node with two centers is re-pointed by small-star, a
  *     child-and-center by large-star), whose centers are the component
  *     minima. The price is one confirming round; a structural fixpoint
  *     check would spend an extra aggregation job in every round;
  *   - per-node neighbor lists are bounded by the star-contraction itself:
  *     large-star attaches big neighbors to the local min, so no node
  *     accumulates an unbounded adjacency (the paper's Thm 2).
  */
object ConnectedComponents {

  /** One large-star + small-star round over `edges`, and the observations
    * of each star's number of `chg` tags, read once the round is
    * materialized — the counting costs no extra action.
    */
  private[operators] def starRound(edges: DataFrame): (DataFrame, Seq[Observation]) = {
    val changes = Seq.fill(2)(new Observation())
    def observed(flagged: DataFrame, star: Int): DataFrame = flagged
      .observe(changes(star), count_if(col("chg")).as("chg")).select(col("src"), col("dst"))
    (observed(smallStar(observed(largeStar(edges), 0)), 1), changes)
  }

  /** Large-Star: for each node u (over symmetrized edges), connect every
    * strictly-larger neighbor to m = min(Γ(u) ∪ {u}). Output is NOT
    * deduplicated — the only consumer is [[smallStar]], whose
    * `collect_set` dedups on arrival, so a distinct here would buy one
    * extra full shuffle per round for nothing. Every emitted row carries
    * `chg` = (m ≠ u): when false for all emissions, the output set equals
    * the input (each input edge is re-emitted through its smaller
    * endpoint's group unchanged).
    */
  private[operators] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    sym.groupBy(col("src"))
      .agg(collect_set(col("dst")).as("nbrs"))
      .select(
        least(array_min(col("nbrs")), col("src")).as("m"),
        (least(array_min(col("nbrs")), col("src")) =!= col("src")).as("chg"),
        explode(filter(col("nbrs"), v => v > col("src"))).as("v"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"), col("chg"))
  }

  /** Small-Star: direct each edge large→small, then for each node u connect
    * every small neighbor (and u itself) to m = min(N(u) ∪ {u}). Emitted
    * rows carry `chg` = (v ≠ u): a singleton neighborhood re-emits only its
    * own (u, m) input edge (no change); any other emission re-attaches a
    * neighbor, i.e. the round moved an edge.
    */
  private[operators] def smallStar(edges: DataFrame): DataFrame = {
    val directed = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    directed.groupBy(col("src"))
      .agg(collect_set(col("dst")).as("nbrs"))
      .select(
        col("src").as("u"),
        least(array_min(col("nbrs")), col("src")).as("m"),
        explode(array_union(col("nbrs"), array(col("src")))).as("v"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"), (col("v") =!= col("u")).as("chg"))
  }

  /** (components, rounds): component mapping plus how many large+small
    * rounds ran (exposed so specs can assert the O(log² n) bound — a
    * 512-node path must converge in ~log rounds, not 512; the count
    * includes the one confirming round that observes zero changes).
    */
  def componentsWithStats(edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    var changes = Seq.empty[Observation]
    // done ⇔ the round changed nothing ⇔ its output is a star forest
    val cc = Iterate(
        edges.select(col("src"), col("dst")).where(col("src") =!= col("dst")).distinct(),
        maxIter, (_, _) => changes.forall(_.get("chg") == 0L)) { e =>
      // NO per-round distinct: the next round's large-star symmetrizes and
      // collect_set-dedups its input anyway, so an inter-round distinct is
      // a third full shuffle per round that redoes work the next
      // aggregation performs for free. Duplicate (src,dst) emissions from
      // different small-star groups ride along (multiplicity is bounded by
      // the emitting group count and collapses at the next aggregation —
      // it cannot compound across rounds) and may disagree on chg; the
      // change sum only feeds a zero/nonzero decision, so over-count is
      // harmless. Worst-case duplication of the checkpointed frame: a pair
      // (v, m) is emitted once per emitting group, i.e. at most once per
      // common neighbor of v and m — on an adversarially dense graph the
      // materialized frame can be several times the distinct edge count
      // for that one round (it collapses at the next aggregation), which
      // trades bounded transient storage for a full shuffle per round.
      // Each round is exactly TWO shuffles: the large-star and small-star
      // keyed aggregations; the round's checkpoint is its ONE action, and
      // the change sums ride along.
      starRound(e) match { case (next, obs) => changes = obs; next }
    }
    require(cc.done, s"connected components did not converge in $maxIter rounds")
    // the state is now a star forest whose edges cover every input node (each
    // round preserves components, and every component has ≥2 nodes by
    // construction — self-loops were dropped): children map to their
    // center, centers to themselves. No join against a node table needed.
    // The one distinct deferred from the loop runs here, once.
    val star = cc.state.distinct()
    val mapping = star.select(col("src").as("id"), col("dst").as("component"))
      .union(star.select(col("dst").as("id"), col("dst").as("component")).distinct())
    (mapping, cc.rounds)
  }

  /** (id, component) for every node appearing in `edges`, where `component`
    * is the minimum node id of the node's connected component.
    */
  def components(edges: DataFrame, maxIter: Int = 50): DataFrame =
    componentsWithStats(edges, maxIter)._1
}
