package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Connected components over an undirected edge list — the CLUSTERING step
 * of a dedup pipeline. Near-dup detection (MinHash, SimHash, n-gram
 * Jaccard, embedding cosine — see [[Dedup]]) emits PAIRS; to keep one
 * canonical document per duplicate group the pairs must be closed into
 * components, transitively: A~B and B~C put A and C in the same cluster
 * even when no direct A~C pair was found. Every member is labeled with the
 * smallest id reachable from it — the conventional canonical-id choice.
 *
 * Spark-first formulation: iterative min-label propagation with POINTER
 * DOUBLING. Each round a node's label becomes
 *
 *   min(label(node), min over neighbors of label(neighbor), label(label(node)))
 *
 * The third term (a self-join of the label table on `comp = id`) is what
 * makes this O(log n) rounds instead of O(diameter): once u points at v
 * and v points at w, u points at w next round, so label-paths halve every
 * iteration — the DataFrame rendition of pointer-jumping / hash-to-min
 * (cf. Rastogi et al., "Finding Connected Components in Map-Reduce").
 * Each round is two equi-joins plus one min-aggregate, all keyed on the
 * node id; convergence is detected by the exact label-sum (labels only
 * ever decrease, so the DECIMAL(38,0) sum is a fixpoint witness), and
 * lineage is cut per round with `localCheckpoint` — without it the
 * iterated join plan grows without bound and analysis time dominates.
 *
 * Scale shape: label and edge tables shuffle on their keys; no step ever
 * materializes a component's membership in one place (the min-aggregate
 * partial-aggregates map-side), so a 10^9-member component costs the same
 * shuffle volume as 10^9 singletons. Input edges are symmetrized and
 * dedup'd once up front. Nodes with no edges are absent from the output
 * (a dedup pipeline joins components back onto the corpus and treats
 * missing as singleton).
 */
object Clustering {

  /**
   * Label every node of the pair graph with the minimum id in its
   * connected component. Returns (id BIGINT, component BIGINT), one row
   * per distinct endpoint of `edges`.
   *
   * @param maxIter hard cap on propagation rounds; with pointer doubling
   *                the round count is logarithmic (30 covers any graph
   *                with < 2^30-hop min-paths), so hitting the cap means
   *                the input is pathological — fail loudly, never return
   *                half-merged clusters.
   */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30, reliableCheckpoint: Boolean = false): DataFrame = {
    // Lineage-cut policy shared with every iterative op — see
    // [[IterativeCheckpoint]] for the localCheckpoint-vs-durable contract.
    def cut(df: DataFrame): DataFrame =
      IterativeCheckpoint.cut(df, reliableCheckpoint)
    IterativeCheckpoint.requireDir(edges, reliableCheckpoint)
    val e = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    // The edge table is loop-invariant and every round joins it on `dst`:
    // hash-partition it by dst ONCE (on top of distinct's (src,dst)
    // shuffle) so no round re-shuffles the row-scale side — at corpus
    // scale the per-round exchange of the edge list dwarfs the label
    // traffic this loop actually needs to move.
    val sym = cut(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions, col("dst")))

    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)

    // Initial labels fold the first propagation round into one
    // aggregation: comp0(u) = min(u, min N(u)). Starting from the identity
    // labeling instead costs a full union + two-join round whose doubling
    // term is a no-op (comp(comp(id)) == comp(id) on identity labels).
    var labels = cut(sym.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("comp")))
    // No edges (or only self-loops/nulls) -> no endpoints: the sum over
    // zero rows is NULL — that IS the emptiness probe, so the check rides
    // the first fixpoint sum instead of costing a separate isEmpty job.
    val firstSum = labelSum(labels)
    if (firstSum == null)
      return labels.select(col("id"), col("comp").as("component"))
    var prevSum = firstSum
    var converged = false
    var it = 0
    while (!converged) {
      val viaEdge = sym.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("comp"))
      // The doubling term alone already dominates the plain `labels`
      // branch: comp(x) <= x for every x by construction (comp0(u) =
      // min(u, N(u)) and min-folds only ever decrease), label values are
      // themselves endpoint ids, so the inner join is total and
      // comp2 = comp(comp(id)) <= comp(id) row-for-row — unioning the old
      // labels in as a third branch only re-shuffled bytes the doubling
      // branch already carries.
      val viaDouble = labels.select(col("id"), col("comp").as("hop"))
        .join(labels.withColumnRenamed("id", "hop")
          .withColumnRenamed("comp", "comp2"), "hop")
        .select(col("id"), col("comp2").as("comp"))
      labels = cut(viaEdge.unionByName(viaDouble)
        .groupBy("id").agg(min("comp").as("comp")))
      // NB the convergence sum stays a separate tiny job over the
      // checkpointed frame ON PURPOSE: riding it on the checkpoint
      // materialization as an observe() metric measured ~0.1 s SLOWER per
      // round — Observation.get waits for the SQLExecution end event
      // through the async listener bus, which costs more than the
      // aggregation it saves.
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      it += 1
      if (!converged && it >= maxIter)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds")
    }
    labels.select(col("id"), col("comp").as("component"))
  }

}
