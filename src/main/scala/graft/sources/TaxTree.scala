package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * NCBI taxonomy tree with nested-set (lft/rgt) numbering — the dimension
 * preparation job (reference: lib/Bio/Metadata/TaxTree.pm:102-218; expected
 * numbering pinned by t/08_tax_tree.t:41-61, e.g. 12 nodes -> root lft=1
 * rgt=24).
 *
 * The build is driver-side: taxonomy dims are broadcast-scale (NCBI is
 * ~2.5M nodes) and nested-set numbering is an inherently sequential DFS;
 * the OUTPUT is a DataFrame dimension ready for broadcast joins, and DFS
 * export order is `ORDER BY lft`.
 */
object TaxTree {

  final case class Node(
      taxId: Long, parentTaxId: Long, rank: String, name: String,
      var lft: Long = 0, var rgt: Long = 0)

  final case class Tree(root: Node, byId: Map[Long, Node], dfsOrder: Seq[Node])

  /** Build from parsed nodes+names. Children attach in ascending tax-id
   * order (the reference appends while looping tax ids ascending,
   * TaxTree.pm:186-199); the root is the self-parenting node. */
  def build(nodes: Seq[(Long, Long, String)], names: Map[Long, String]): Tree = {
    val ns: Map[Long, Node] = nodes.map { case (id, pid, rank) =>
      id -> Node(id, pid, rank, names.getOrElse(id, null))
    }.toMap
    val root = ns.values.find(n => n.parentTaxId == n.taxId)
      .getOrElse(throw new IllegalArgumentException("no self-parenting root node"))
    val children: Map[Long, Seq[Node]] = nodes
      .filter { case (id, pid, _) => id != pid }
      .map { case (id, _, _) => ns(id) }
      .groupBy(_.parentTaxId)
      .map { case (p, cs) => p -> cs.sortBy(_.taxId) }

    // iterative DFS assigning lft on entry, rgt on exit (TaxTree.pm:207-212)
    var counter = 1L
    val order = scala.collection.mutable.ArrayBuffer.empty[Node]
    def visit(n: Node): Unit = {
      n.lft = counter; counter += 1
      order += n
      children.getOrElse(n.taxId, Nil).foreach(visit)
      n.rgt = counter; counter += 1
    }
    visit(root)
    Tree(root, ns, order.toSeq)
  }

  /** (tax_id, name, lft, rgt, parent_tax_id) rows, DFS order or tax-id
   * (file) order (reference: TaxTree.pm:253-289). */
  def nodeValues(tree: Tree, dfs: Boolean = false): Seq[(Long, String, Long, Long, Long)] = {
    val ns = if (dfs) tree.dfsOrder else tree.byId.values.toSeq.sortBy(_.taxId)
    ns.map(n => (n.taxId, n.name, n.lft, n.rgt, n.parentTaxId))
  }

  /** The dim_taxonomy DataFrame; `orderBy("lft")` is DFS order. */
  def toDim(spark: SparkSession, tree: Tree): DataFrame = {
    import spark.implicits._
    nodeValues(tree).toDF("tax_id", "name", "lft", "rgt", "parent_tax_id")
  }

  /**
   * DISTRIBUTED nested-set build — for hierarchies past broadcast scale
   * (the driver [[build]] holds every node in memory; a billion-node
   * catalog tree does not fit). Produces the IDENTICAL numbering: DFS
   * entry/exit with children in ascending-id order.
   *
   * The sequential DFS decomposes into closed-form arithmetic over two
   * tree statistics, each computable in O(depth) distributed rounds of
   * dimension-scale joins (never row-scale shuffles of the corpus):
   *
   *  1. SUBTREE SIZES, leaves up: size(n) = 1 + Σ size(children). Round t
   *     finalizes every node whose children are all finalized, so the
   *     round count is the tree HEIGHT (taxonomies ~40; fail-loud at
   *     `maxDepth` — a cap hit means a cycle or a pathological chain).
   *  2. LFT, root down: lft(root) = 1 and
   *     lft(c) = lft(parent) + offset(c), where
   *     offset(c) = 1 + 2·Σ size(earlier siblings) — the prefix sum runs
   *     in ONE window over siblings (partitioned by parent, ordered by
   *     id: sibling-group granularity, the only skew point — a node with
   *     10^8 children funnels; document, don't hide). Then
   *     rgt(n) = lft(n) + 2·size(n) - 1, a projection.
   *
   * Input frames: `nodes(tax_id, parent_tax_id, rank)` with the root
   * self-parenting (the [[build]] contract), `names(tax_id, name)`.
   * Output matches [[toDim]]: (tax_id, name, lft, rgt, parent_tax_id).
   * Each round localCheckpoints (pass reliable=true semantics via the
   * session checkpoint dir if cluster resilience is needed — the
   * [[graft.ops.Clustering.connectedComponents]] precedent).
   */
  def buildDistributed(nodes: DataFrame, names: DataFrame,
      maxDepth: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val base = nodes.select(col("tax_id").cast("long").as("id"),
      col("parent_tax_id").cast("long").as("pid")).localCheckpoint()
    // (pid, id): parent->child. Loop-invariant and joined on `id` every
    // phase-1 round — hash-partition it by id ONCE and cut it, so no round
    // re-shuffles (or re-derives) the edge table; same for childCount,
    // which round 5 re-aggregated from the edge list inside every round's
    // plan.
    val edges = base.filter(col("id") =!= col("pid"))
      .repartition(
        nodes.sparkSession.sessionState.conf.numShufflePartitions, col("id"))
      .localCheckpoint()
    val childCount = edges.groupBy(col("pid").as("id"))
      .agg(count(lit(1)).as("n_children")).localCheckpoint()

    // ---- phase 1: subtree sizes, leaves up (height-bounded rounds) ----
    var done = base.join(childCount, Seq("id"), "left_anti")
      .select(col("id"), lit(1L).as("size")).localCheckpoint()
    var doneCount = done.count()
    val total = base.count()
    var round = 0
    while (doneCount < total) {
      round += 1
      if (round > maxDepth)
        throw new IllegalStateException(
          s"buildDistributed: sizes did not converge in $maxDepth rounds — " +
            "cycle in parent pointers or a deeper-than-expected hierarchy")
      // parents whose children are ALL finalized this round
      val agg = edges.join(done.withColumnRenamed("id", "cid"),
          edges("id") === col("cid"))
        .groupBy(col("pid").as("id"))
        .agg(count(lit(1)).as("n_done"), sum(col("size")).as("child_sum"))
      val newDone = agg.join(childCount, Seq("id"))
        .filter(col("n_done") === col("n_children"))
        .join(done, Seq("id"), "left_anti")
        .select(col("id"), (col("child_sum") + 1L).as("size"))
      // ONE materialization per round (the union checkpoint computes
      // newDone inline); progress = the count delta over the accumulated
      // set — additions are disjoint by the anti-join, so the delta IS the
      // frontier size
      done = done.unionByName(newDone).localCheckpoint()
      val newCount = done.count()
      if (newCount == doneCount)
        throw new IllegalStateException(
          "buildDistributed: no progress — parent pointers contain a cycle " +
            "or reference missing nodes")
      doneCount = newCount
    }

    // ---- phase 2: lft, root down (depth-bounded rounds) ----
    // offset within the sibling group: 1 + 2 * prefix sizes (id-asc order)
    val off = edges.join(done, Seq("id"))
      .withColumn("__prev", coalesce(sum(col("size")).over(
        Window.partitionBy(col("pid")).orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("id"), col("pid"), (lit(1L) + lit(2L) * col("__prev")).as("off"))
      .localCheckpoint()
    val root = base.filter(col("id") === col("pid"))
      .select(col("id"), lit(1L).as("lft")).localCheckpoint()
    require(root.count() == 1,
      "buildDistributed needs exactly one self-parenting root node")
    // Each depth level only ever JOINS against the previous frontier; the
    // accumulated lft table is needed once, at the end — so accumulate the
    // (already-checkpointed) per-level frontiers in a buffer and union them
    // once, instead of paying a second checkpoint materialization per round.
    var frontier = root
    val levels = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame](root)
    var lftCount = 1L
    round = 0
    while (lftCount < total) {
      round += 1
      if (round > maxDepth)
        throw new IllegalStateException(
          s"buildDistributed: lft propagation did not converge in $maxDepth rounds")
      frontier = off.join(frontier.withColumnRenamed("id", "pid")
          .withColumnRenamed("lft", "plft"), Seq("pid"))
        .select(col("id"), (col("plft") + col("off")).as("lft"))
        .localCheckpoint()
      val added = frontier.count() // frontier-sized progress check
      if (added == 0)
        throw new IllegalStateException(
          "buildDistributed: lft propagation stalled — disconnected nodes?")
      levels += frontier
      lftCount += added
    }
    val lft = levels.reduce(_ unionByName _)

    lft.join(done, Seq("id"))
      .join(base, Seq("id"))
      .join(names.select(col("tax_id").cast("long").as("id"),
        col("name")), Seq("id"), "left")
      .select(col("id").as("tax_id"), col("name"), col("lft"),
        (col("lft") + lit(2L) * col("size") - 1L).as("rgt"),
        col("pid").as("parent_tax_id"))
  }
}
