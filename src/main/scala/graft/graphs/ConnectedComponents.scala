package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the last mile of
  * near-duplicate removal: LSH/SimHash/embedding tiers emit PAIRS, but a
  * keep/drop decision needs the transitive closure of those pairs (doc A
  * ~ B, B ~ C ⇒ one cluster, one survivor). The reference pipelines dedup
  * only per-key (e.g. `load_from_gdrive.py` unwind first-wins); cluster
  * formation is the scale-out generalization a 100 TB curation run needs.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges
  * in O(log² n) rounds on any graph (vs O(diameter) for naive min-label
  * propagation, which a chain degenerates to O(n)).
  *
  * Scale shape, per round:
  *  - ONE exchange of the neighbor relation per star step: the per-node
  *    min rides a partition-by-node window aggregate (round 13; the
  *    earlier groupBy+self-join shape shuffled the neighbors twice) —
  *    no `collect_list` of neighborhoods, so a 10⁸-degree hub node
  *    costs O(degree) buffered-and-spilled rows in one task either way
  *    (hash-by-node partitioning is identical in both shapes).
  *  - `localCheckpoint` truncates lineage each round (a cluster run
  *    against unreliable executors would use `checkpoint` to a reliable
  *    dir instead); the convergence probe is one count+hash aggregate.
  *
  * Output labels each node with the MINIMUM node id of its component —
  * deterministic, join-able back onto the corpus as the canonical-doc
  * pick ("keep the lowest doc_id of every near-dup cluster").
  */
object ConnectedComponents {

  /** Neighbor relation of an undirected edge list: every edge in both
    * directions. Column 1 is the grouping node, column 2 the neighbor.
    */
  private def neighbors(e: DataFrame): DataFrame =
    e.union(e.select(col("b").as("a"), col("a").as("b")))

  /** Large-star: every node points its STRICTLY LARGER neighbors at the
    * minimum of its closed neighborhood min(Γ(u) ∪ {u}). Output is NOT
    * deduplicated — small-star's aggregation tolerates duplicate edges
    * and its own distinct restores the invariant, saving one shuffle per
    * alternation (the loop always runs small after large).
    *
    * The per-node min is attached with a whole-partition window
    * aggregate instead of groupBy+self-join: ONE exchange per star step
    * instead of two (the join re-shuffled the full neighbor relation a
    * second time). Skew is unchanged — both forms hash-partition the
    * neighbor rows by node, so a hub's degree lands in one task either
    * way; the unbounded-frame window buffers exactly the rows the join
    * build side held, and spills through the same external row array.
    */
  private[graphs] def largeStar(edges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("a")
    neighbors(edges)
      .withColumn("__mb", min("b").over(w))
      .where(col("b") > col("a"))
      .select(col("b").as("a"), least(col("a"), col("__mb")).as("b"))
  }

  /** Small-star: every node points its ≤-neighbors and itself at the
    * minimum of {v ∈ Γ(u) : v ≤ u} ∪ {u}. Same single-exchange window
    * attach as [[largeStar]]; the pointed and self edge families are
    * emitted in ONE pass over the windowed rows (a 2-element explode
    * with per-element guards) instead of unioning two filtered
    * projections of the same subtree — the window computes once.
    */
  private[graphs] def smallStar(edges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("a")
    val joined = neighbors(edges).where(col("b") <= col("a"))
      .withColumn("__m", least(col("a"), min("b").over(w)))
    joined.select(explode(array(
        when(col("b") =!= col("__m"),
          struct(col("b").as("a"), col("__m").as("b"))),
        when(col("a") =!= col("__m"),
          struct(col("a"), col("__m").as("b"))))).as("__e"))
      .where(col("__e").isNotNull)
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
      .distinct()
  }

  /** Component labels for an undirected edge list with long columns
    * `a`, `b`: returns (id, component) for every endpoint, component =
    * min node id reachable. Self-loops and duplicate/reversed edges are
    * tolerated. Throws if `maxIter` alternations don't converge (the
    * O(log² n) bound makes the default unreachable in practice).
    */
  def components(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val nodes = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id"))).distinct()
    var cur = edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint(false)
    // (row count, order-insensitive hash-xor) fingerprints the edge set
    // (edges are distinct, so xor is a set fingerprint; xor can't hit the
    // ANSI-mode overflow a hash SUM would); the loop stops at the first
    // fixed point of (large ∘ small).
    //
    // The fingerprint is computed by ONE RDD pass over the LAZY local
    // checkpoint (round 14): the same job materializes the round's edge
    // set into executor storage AND folds (count, xor) partials straight
    // to the driver — no exchange, no separate eager-checkpoint job, no
    // second scan. The previous eager-checkpoint + Dataset-aggregate
    // shape cost 3 driver job dispatches per round where this costs 1;
    // at sf0.1 the per-job driver gap dominates these toy rounds, and at
    // scale one fewer full scan per round is a corpus-sized read saved.
    // (a, b) are non-null by construction — the initial distinct drops
    // null/self edges and both star steps emit only guarded structs.
    def signature(e: DataFrame): (Long, Long) = {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      e.queryExecution.toRdd.mapPartitions { it =>
        var c = 0L; var h = 0L
        while (it.hasNext) {
          val r = it.next()
          c += 1L
          h ^= XXH64.hashLong(r.getLong(1), XXH64.hashLong(r.getLong(0), 42L))
        }
        Iterator.single((c, h))
      }.fold((0L, 0L)) { case ((c1, h1), (c2, h2)) => (c1 + c2, h1 ^ h2) }
    }
    var sig = signature(cur)
    var converged = sig._1 == 0L
    var iters = 0
    while (!converged && iters < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextSig = signature(next)
      cur.unpersist()
      converged = nextSig == sig
      sig = nextSig
      cur = next
      iters += 1
    }
    if (!converged)
      sys.error(s"ConnectedComponents: no convergence after $maxIter rounds")
    // converged edge set is a star forest: (child, root) plus the roots
    // themselves and any isolated input nodes
    val childLabels = cur.select(col("a").as("id"), col("b").as("component"))
    nodes.join(childLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** INCREMENTAL component maintenance — the [[graft.ops.Profile]]
    * mergeable-artifact discipline applied to clustering: the previous
    * generation's (id, component) labels ARE a connectivity-preserving
    * edge set (each component collapsed to a depth-1 star on its min
    * id), so re-labeling after an ingest delta is `components` over
    * label-edges ∪ delta-edges — never over the full historical pair
    * set. Correct by the union-find checkpoint argument: the star
    * forest has exactly the old connectivity, and min-of-union =
    * min-of-mins, so labels equal a from-scratch run on all edges
    * EXACTLY. At 100 TB the payoff is twofold: history's pairs
    * (the expensive LSH/verify output, q32/q150) are never re-mined
    * or re-shuffled — |labels| = |corpus| rows regardless of how many
    * pairs produced them — and the collapsed graph's diameter is ~2,
    * so the alternating rounds converge in 1–2 iterations instead of
    * log² of the historical chain structure.
    */
  def incremental(labels: DataFrame, deltaEdges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val labelEdges = labels.select(col("id").as("a"),
      col("component").as("b"))
    components(labelEdges.unionByName(
      deltaEdges.select(col("a"), col("b"))), maxIter)
  }

  /** Near-dup pairs → per-doc cluster assignment over the WHOLE corpus:
    * docs in no pair become singleton clusters of themselves. Output
    * (id, cluster_id, is_canonical) — `keep where is_canonical` is the
    * dedup survivor list.
    *
    * The canonical is the minimum id of the cluster's members PRESENT IN
    * `corpusIds` — not the raw component label: stale pairs can mention
    * ids the corpus no longer has, and labeling canonicals by component
    * min alone would then delete every surviving copy of that cluster.
    */
  def dedupClusters(pairs: DataFrame, corpusIds: DataFrame,
      idACol: String = "id_a", idBCol: String = "id_b",
      idCol: String = "id"): DataFrame = {
    val labels = components(
      pairs.select(col(idACol).as("a"), col(idBCol).as("b")))
    val labeled = corpusIds.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster_id"))
    val canon = labeled.groupBy("cluster_id")
      .agg(min(col("id")).as("__canon"))
    labeled.join(canon, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"),
        (col("id") === col("__canon")).as("is_canonical"))
  }
}
