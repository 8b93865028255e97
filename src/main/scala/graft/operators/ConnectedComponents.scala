package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the clustering step
  * of large-scale deduplication (near-dup PAIRS are only half the job; the
  * keep-one decision needs the transitive closure: pair (a,b) + pair (b,c)
  * must put a,b,c in ONE group even though (a,c) was never emitted).
  *
  * Algorithm: min-label propagation with pointer jumping over the
  * EDGE-INDUCED subgraph only — nodes that touch no edge are singleton
  * components by definition and are unioned in after the fixpoint, so
  * per-iteration cost scales with the (typically tiny) near-dup graph, not
  * the corpus. Each step every endpoint takes the minimum label over
  * itself and its neighbors, then additionally adopts the label OF its
  * label (pointer jumping), so convergence needs O(log diameter) steps
  * instead of diameter-many. Labels only ever decrease, so an unchanged
  * label sum means fixpoint; the sum is collected as an OBSERVED metric of
  * the same job that materializes the round's labels — one Spark action
  * per round, not a propagate-then-aggregate pair (at local scale the
  * per-action fixed cost dominated). Per step: equi-joins on the edge
  * list / label table + one
  * groupBy — all shuffle on node id, no all-pairs anywhere; lineage is
  * truncated per round so plans stay O(1) deep.
  */
object ConnectedComponents {

  /** @param edges undirected edge list (each pair once, either direction;
    *              duplicate pairs are tolerated — min is idempotent, they
    *              only add bounded join fan-out)
    * @param nodes one row per node (superset of edge endpoints; isolated
    *              nodes become singleton components)
    * @param maxIter bound on propagation+jump rounds (with jumping the
    *                need is O(log diameter)). If the fixpoint is NOT
    *                reached the result would be silently wrong, so this
    *                THROWS instead
    * @return (node, comp) where comp = min node id reachable
    */
  def components(
      edges: DataFrame, eaCol: String, ebCol: String,
      nodes: DataFrame, nodeCol: String,
      maxIter: Int = 25): DataFrame = {
    // materialize the (possibly expensive) edge derivation ONCE — the
    // reversed union and every round's join are narrow reads of these
    // blocks, so nothing upstream of the edge list ever re-executes
    val e0 = edges.select(col(eaCol).as("src"), col(ebCol).as("dst"))
      .localCheckpoint()
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    def labelSum(m: Map[String, Any]): java.math.BigDecimal =
      // decimal(38) so huge id spaces cannot overflow-wrap into a false
      // stop; sum over an empty frame observes null
      m.get("s").flatMap(Option(_)) match {
        case Some(d: java.math.BigDecimal) => d
        case _ => java.math.BigDecimal.ZERO
      }
    // only edge endpoints participate in propagation. Initial labels are
    // already min(self, direct neighbors) — the first propagation round's
    // neighbor-min folded into the init aggregation (same single shuffle
    // that building identity labels would need, one fewer full
    // propagate round over the edge list afterwards).
    val obs0 = Observation("cc_init")
    var labels = e.select(col("src").as("node"), col("dst").as("comp"))
      .union(e.select(col("src").as("node"), col("src").as("comp")))
      .groupBy("node").agg(min(col("comp")).as("comp"))
      .observe(obs0, sum(col("comp").cast("decimal(38,0)")).as("s"))
      .localCheckpoint()
    var lastSum = labelSum(obs0.get)
    var it = 0
    var converged = false
    // one propagation step: neighbor labels flow along edges (keep own label
    // in the running min), then a pointer-jumping shortcut also adopts the
    // label OF my label (comp values are themselves node ids with
    // comp(x) <= x, so comp(comp(x)) only ever improves). The jump turns
    // diameter-many steps into O(log diameter).
    def step(l: DataFrame): DataFrame = {
      val viaEdge = e.join(l, e("dst") === l("node"))
        .select(col("src").as("node"), col("comp"))
      val nbrMin = viaEdge.union(l.select(col("node"), col("comp")))
        .groupBy("node").agg(min(col("comp")).as("comp"))
      val byNode = nbrMin.select(col("node").as("jnode"), col("comp").as("jcomp"))
      nbrMin.join(byNode, nbrMin("comp") === byNode("jnode"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
    }
    // the + 1 grants the confirming unchanged-sum round, so a graph that
    // needs exactly maxIter rounds still converges instead of being
    // rejected one round early. (AQE stays ON here: its runtime
    // broadcast conversion of the tiny per-round joins beats the
    // per-stage scheduling it adds — measured both ways.)
    while (it < maxIter + 1 && !converged) {
      // ONE step per materialized round: chaining two steps into one plan
      // was tried and lost — the step subtree appears 2x per consumer, so
      // a 2-step plan re-plans/recomputes up to 4 subtree copies and cost
      // more than the action it saved
      val obs = Observation(s"cc_round_$it")
      val next = step(labels)
        .observe(obs, sum(col("comp").cast("decimal(38,0)")).as("s"))
        .localCheckpoint()
      val s = labelSum(obs.get)
      converged = s.compareTo(lastSum) == 0
      lastSum = s
      labels = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within maxIter=$maxIter " +
          "propagation+jump rounds; a partial result would silently " +
          "split components incorrectly — raise maxIter")
    // isolated nodes (no incident edge) are their own component
    val isolated = nodes.select(col(nodeCol).as("node")).distinct()
      .join(labels.select("node"), Seq("node"), "left_anti")
      .withColumn("comp", col("node"))
    labels.unionByName(isolated)
  }

  /** INCREMENTAL component refresh for append-only corpora: advance an
    * existing (node, comp) labeling by a batch of NEW edges and nodes
    * without re-running the fixpoint over the whole graph.
    *
    * Contraction argument: old labels already collapse every old
    * component to its min-id representative, so it suffices to (1) map
    * each new edge endpoint through its old label (identity for new
    * nodes), (2) run [[components]] over the CONTRACTED edges only — an
    * O(|Δ|)-node graph, so every propagation round costs O(|Δ|)
    * regardless of corpus size — and (3) remap. The contracted fixpoint
    * yields rep → merged-min; since each rep IS its old component's min
    * id and new nodes are their own reps, merged-min over reps equals
    * the from-scratch min over all members. The remap table is
    * O(|Δ|)-sized and broadcast, so step (3) is ONE linear pass over the
    * old labels with no shuffle — the 100 TB per-tick shape (the
    * change-feed consumer feeds `newEdges` from an index probe of just
    * the appended batch, e.g. [[SimHashIndex.candidates]]).
    *
    * Unsound for edge/node REMOVALS (components can split) — rebuild
    * from scratch for those, same contract as the delta-join algebra.
    */
  def refresh(
      oldLabels: DataFrame, // (node, comp)
      newEdges: DataFrame, eaCol: String, ebCol: String,
      newNodes: DataFrame, nodeCol: String,
      maxIter: Int = 25): DataFrame = {
    val reps = oldLabels.select(col("node"), col("comp"))
    val contracted = newEdges
      .select(col(eaCol).as("n1"), col(ebCol).as("n2"))
      .join(reps.select(col("node").as("n1"), col("comp").as("r1")), Seq("n1"), "left")
      .join(reps.select(col("node").as("n2"), col("comp").as("r2")), Seq("n2"), "left")
      .select(coalesce(col("r1"), col("n1")).as("a"),
        coalesce(col("r2"), col("n2")).as("b"))
    val endpoints = contracted.select(col("a").as("n"))
      .union(contracted.select(col("b").as("n"))).distinct()
    // remap: old representative (or new node id) → merged component min
    val remap = broadcast(
      components(contracted, "a", "b", endpoints, "n", maxIter)
        .filter(col("node") =!= col("comp")) // identity rows change nothing
        .select(col("node").as("old_comp"), col("comp").as("new_comp"))
        .localCheckpoint())
    val updatedOld = oldLabels
      .join(remap, oldLabels("comp") === remap("old_comp"), "left")
      .select(col("node"), coalesce(col("new_comp"), col("comp")).as("comp"))
    val fresh = newNodes.select(col(nodeCol).as("node")).distinct()
      .join(oldLabels.select("node"), Seq("node"), "left_anti")
      .join(remap, col("node") === col("old_comp"), "left")
      .select(col("node"), coalesce(col("new_comp"), col("node")).as("comp"))
    updatedOld.unionByName(fresh)
  }

  /** CLUSTER-SCOPED repair for delete/upsert ticks — the removal-side
    * complement of [[refresh]]: instead of re-running the fixpoint over
    * the whole live corpus, recompute ONLY the clusters that contain a
    * `touched` node (tombstoned or re-signed), and fold any merges they
    * cause into the untouched labels with the same broadcast-remap trick.
    *
    * Soundness: an untouched cluster's nodes kept all their signatures,
    * so all its internal edges survive — it can only MERGE (via a new
    * edge from a re-signed doc), never split; splits are confined to
    * affected clusters, which are recomputed from scratch over their
    * LIVE members. Outside endpoints of member edges are contracted
    * through their old labels ([[refresh]]'s argument: each old comp id
    * IS its cluster's min member), so the fixpoint runs on an
    * O(affected + Δ)-node graph and merged minima equal the from-scratch
    * minima.
    *
    * @param oldLabels committed (node, comp) table
    * @param touched   one-column frame: ids the tick changed in ANY way
    * @param liveNodes one-column frame: all still-live ids
    * @param edgesFor  member ids (col `node`) → their candidate edge list
    *                  (cols `a`, `b`) — an index probe of JUST those ids,
    *                  run AFTER the signature chains were purged/re-signed
    * @return the repaired (node, comp) table (tombstoned nodes dropped)
    */
  def repair(
      oldLabels: DataFrame, touched: DataFrame, liveNodes: DataFrame,
      edgesFor: DataFrame => DataFrame, maxIter: Int = 25): DataFrame = {
    val old = oldLabels.select(col("node"), col("comp")).localCheckpoint()
    val t = touched.toDF("node").distinct().localCheckpoint()
    val live = liveNodes.toDF("node")
    val affComps = old.join(t, Seq("node"), "left_semi")
      .select("comp").distinct()
    val members = old.join(affComps, Seq("comp"), "left_semi").select("node")
    // an upsert can insert keys the table never saw: live touched ids
    // outside the old labeling join the recompute as fresh nodes
    val newcomers = t.join(live, Seq("node"), "left_semi")
      .join(old.select("node"), Seq("node"), "left_anti")
    val alive = members.join(live, Seq("node"), "left_semi")
      .union(newcomers).distinct().localCheckpoint()
    val e = edgesFor(alive).toDF("a", "b")
    // contract endpoints OUTSIDE the member set through their old comp
    // (their untouched cluster's representative); member endpoints stay
    // themselves — their clusters may split and must not be collapsed
    val ma = alive.select(col("node").as("a"), lit(true).as("ma"))
    val mb = alive.select(col("node").as("b"), lit(true).as("mb"))
    val ra = old.select(col("node").as("a"), col("comp").as("ra"))
    val rb = old.select(col("node").as("b"), col("comp").as("rb"))
    val contracted = e.join(ma, Seq("a"), "left").join(mb, Seq("b"), "left")
      .join(ra, Seq("a"), "left").join(rb, Seq("b"), "left")
      .select(
        when(col("ma"), col("a")).otherwise(coalesce(col("ra"), col("a"))).as("a"),
        when(col("mb"), col("b")).otherwise(coalesce(col("rb"), col("b"))).as("b"))
    val labels = components(contracted, "a", "b", alive, "node", maxIter)
    val memberLabels = labels.join(alive, Seq("node"), "left_semi")
    // labels of outside representatives that merged downward remap their
    // whole untouched cluster — one broadcast, one linear pass, no
    // shuffle over the untouched labels
    val remap = broadcast(labels.join(alive, Seq("node"), "left_anti")
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("old_comp"), col("comp").as("new_comp"))
      .localCheckpoint())
    val untouched = old.join(affComps, Seq("comp"), "left_anti")
    val untouchedFinal = untouched
      .join(remap, untouched("comp") === remap("old_comp"), "left")
      .select(col("node"), coalesce(col("new_comp"), col("comp")).as("comp"))
    untouchedFinal.unionByName(memberLabels.select("node", "comp"))
  }
}
