package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Connected components over a near-duplicate pair graph — the transitive
  * step that turns pairwise matches into duplicate CLUSTERS.
  *
  * Why it exists: a pair list is not a dedup policy. With pairs (a,c) and
  * (b,c) (a<b<c), the pairwise keep-smaller-id rule
  * ([[NearDup.dropDuplicatesByPairs]]) keeps BOTH a and b even though all
  * three are transitively the same document; grouping the component
  * {a,b,c} and keeping its minimum keeps only a. Reference scope ends at
  * row-identity upserts (`SisConnectorService.java:410-461` re-keys rows,
  * never relates them), so this is part of the beyond-reference pipeline
  * surface.
  *
  * Two algorithms, same output (`(id, cluster)` with cluster = component
  * minimum):
  *
  *   - [[alternatingStar]] — the default. Alternating large-star /
  *     small-star (Kiveris et al., "Connected Components in MapReduce and
  *     Beyond", SoCC'14): each round halves long paths by re-pointing
  *     nodes at their neighborhood minimum, so rounds grow
  *     polylogarithmically in component size — a 100 TB dup graph with a
  *     pathological chain component still converges. Per round: two
  *     aggregate+join passes, all shuffles partitioned by vertex id,
  *     nothing corpus-sized on the driver.
  *   - [[minLabelPropagation]] — each vertex repeatedly adopts the
  *     smallest label among itself and its neighbors; rounds = graph
  *     diameter. Near-dup graphs are unions of near-cliques, so 2–3
  *     rounds converge; kept as the cross-check reference (specs assert
  *     equality with the star scheme).
  *
  * Both run on the [[FixedPoint]] loop with an EXACT one-aggregate
  * convergence signal instead of a join-probe: every per-round transform
  * is per-row non-increasing in its monotone stat (edge endpoint-sum /
  * label sum) and never grows the row count, so (count, sum) unchanged
  * ⟺ the frame is unchanged.
  */
object ConnectedComponents {

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its closed neighborhood. Input/output edges are canonical
    * `(u, v)` with `v < u` (output m < u < the re-pointed neighbor).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u")
      .agg(min("v").as("__minv"))
      .select(col("u"), least(col("u"), col("__minv")).as("__m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("__m").as("v"))
      .distinct()
  }

  /** Small-star: every node re-points its smaller neighbors (and itself)
    * at the minimum of those neighbors. Keeps the canonical `v < u`
    * orientation; drops self-loops.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy("u").agg(min("v").as("__m"))
    edges.join(m, "u")
      .select(col("v").as("u"), col("__m").as("v"))
      .union(m.select(col("u"), col("__m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** (row count, exact sum of `cols`) — the convergence signal of both
    * schemes. DECIMAL sum: exact and overflow-free at any id range /
    * row count.
    */
  private def countAndSum(df: DataFrame, cols: String*): (Long, java.math.BigInteger) = {
    val r = df.agg(
      count(lit(1)),
      sum(cols.map(col(_).cast("decimal(38,0)")).reduce(_ + _))).head()
    (r.getLong(0),
      if (r.isNullAt(1)) java.math.BigInteger.ZERO else r.getDecimal(1).toBigInteger)
  }

  /** Component labels for every vertex appearing in `pairs` (columns
    * `id_a`, `id_b`) via alternating large-star/small-star: returns
    * `(id, cluster)` where `cluster` is the minimum vertex id in the
    * component. Polylog rounds in the largest component size — the scale
    * path for arbitrary (incl. long-chain) graphs.
    * The returned frame is pinned.
    */
  def alternatingStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val edges = pairs
      .select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // both star ops map each edge to at most one edge of no larger
    // endpoint-sum, so equal (count, endpoint-sum) ⟺ identical edge sets
    FixedPoint.run[(Long, java.math.BigInteger)](
      "ConnectedComponents.alternatingStar", edges, maxIter,
      step = (cur, _) => smallStar(largeStar(cur)),
      signal = (cur, _) => countAndSum(cur, "u", "v"),
      converged = (last, stats) => last.contains(stats),
      pinInit = true,
      // the fixpoint is a union of stars (child, root): label children
      // by their root and every root by itself
      finish = Some(cur => cur.select(col("u").as("id"), col("v").as("cluster"))
        .union(cur.select(col("v").as("id"), col("v").as("cluster")))
        .distinct()))
  }

  /** Component labels via min-label propagation — rounds = graph
    * diameter; the simple reference implementation the specs cross-check
    * [[alternatingStar]] against.
    */
  def minLabelPropagation(pairs: DataFrame, maxIter: Int = 20): DataFrame =
      RunScope.scope("ConnectedComponents.minLabelPropagation") {
    // symmetric edge list; self-loops are harmless (min with itself)
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .pin(RunScope.Persist)
    FixedPoint.run[(Long, java.math.BigInteger)](
        "ConnectedComponents.minLabelPropagation",
        edges.select(col("u").as("id")).distinct().withColumn("cluster", col("id")),
        maxIter,
        step = (labels, _) => {
          val nbrMin = edges
            .join(labels, edges("v") === labels("id"))
            .groupBy(col("u")).agg(min(col("cluster")).as("__nbr"))
          labels
            .join(nbrMin, labels("id") === nbrMin("u"), "left")
            .select(labels("id"),
              least(col("cluster"), coalesce(col("__nbr"), col("cluster"))).as("cluster"))
        },
        signal = (labels, _) => countAndSum(labels, "cluster"),
        // labels are per-vertex non-increasing over a fixed vertex set,
        // so an unchanged sum is exact; no vertices, nothing to propagate
        converged = (last, stats) => stats._1 == 0L || last.contains(stats),
        pinInit = true)
  }

  /** Cluster assignment for a whole corpus: docs that appear in `pairs`
    * get their component's minimum id, all others are their own cluster.
    */
  /** Fold a batch of NEW pairs into an existing component labeling
    * WITHOUT re-running the closure over the corpus pair set — the
    * [[graft.operators.DedupIndex]] `appendBatch` discipline brought to
    * the transitive layer: a growing corpus appends documents (and the
    * near-dup pairs they induce), and the component labels must fold
    * forward, not rebuild.
    *
    * Exactness: `labeling` clusters are min-member ids (the
    * [[alternatingStar]] contract), so contracting each batch endpoint
    * to its current cluster (itself when unseen) and closing over the
    * CONTRACTED edges yields per merged component min(cluster ids) =
    * min(member ids) — appended ≡ rebuilt, bit for bit, which the gate
    * asserts against the fresh full closure.
    *
    * Shape at scale: the closure runs on the contracted batch graph
    * (≤ 2·|batch| nodes) — polylog rounds in BATCH size, never corpus
    * size; the corpus-sized labeling is touched by exactly ONE pass (the
    * relabel join against the tiny cluster map, AQE-broadcast). Probe
    * work ∝ batch, the persisted-index property.
    *
    * @param labeling (`id`, `cluster`) — existing labels, clusters =
    *                 min member id
    * @param newPairs (`id_a`, `id_b`) — batch pairs; endpoints may be
    *                 unseen nodes
    * @return (`id`, `cluster`) covering labeled ∪ batch nodes
    */
  def appendEdges(labeling: DataFrame, newPairs: DataFrame): DataFrame =
      RunScope.scope("ConnectedComponents.appendEdges") {
    val lab = labeling.select(col("id"), col("cluster"))
    val ends = newPairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val endComp = ends.join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("comp"))
      .pin() // batch-sized; read three times
    val contracted = newPairs
      .join(endComp.select(col("id").as("id_a"), col("comp").as("__ca")), Seq("id_a"))
      .join(endComp.select(col("id").as("id_b"), col("comp").as("__cb")), Seq("id_b"))
      .select(col("__ca").as("id_a"), col("__cb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val stars = alternatingStar(contracted) // pinned (see alternatingStar)
    val clusterMap = stars
      .select(col("id").as("cluster"), col("cluster").as("__new"))
    val newNodes = endComp.join(lab, Seq("id"), "left_anti")
      .select(col("id"), col("comp").as("cluster"))
    // pin the folded labeling INSIDE the operator so endComp and the
    // contracted-closure stars free before return — a long-running
    // landing zone calls this once per micro-batch. The caller was
    // materializing the fold anyway (it becomes the next round's input),
    // so this moves that residency, it does not add one.
    lab.unionByName(newNodes)
      .join(clusterMap, Seq("cluster"), "left")
      .select(col("id"), coalesce(col("__new"), col("cluster")).as("cluster"))
      .pin()
  }

  def assignClusters(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val labels = alternatingStar(pairs)
      .select(col("id"), col("cluster"))
    docs
      .join(labels, docs(idCol) === labels("id"), "left")
      .select(docs.columns.map(docs(_)) :+
        coalesce(col("cluster"), docs(idCol)).as("cluster_id"): _*)
  }

  /** Transitively-correct dedup: keep exactly one document (the minimum
    * id) per duplicate cluster.
    */
  def dedupByComponents(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    assignClusters(docs, idCol, pairs)
      .filter(col(idCol) === col("cluster_id"))
      .drop("cluster_id")

  /** One representative per duplicate cluster chosen by HIGHEST `score`
    * (ties broken by smallest id) — the curation policy: among near-dups
    * keep the best document (longest, highest quality score, …), not the
    * accidental minimum id that [[dedupByComponents]] keeps. Returns the
    * representatives' full rows plus `cluster_id`.
    *
    * Selection is the bounded-heap top-1 aggregate per cluster
    * ([[SimilaritySearch.topKPerKey]]: map-side O(1) updates, one-entry
    * partials) + a semi join back — no per-cluster sort, and the picked
    * set is NOT broadcast (it is ~one row per cluster, corpus-sized when
    * most documents are singletons).
    *
    * Rows whose score is null/NaN are unrankable: a cluster whose every
    * member has a null score gets no representative.
    */
  def representativesByScore(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      score: Column): DataFrame = {
    val clustered = assignClusters(docs, idCol, pairs)
    val best = SimilaritySearch.topKPerKey(
      clustered.select(
        col("cluster_id"),
        score.cast("double").as("cosine"),
        col(idCol).as("neighbor_id")),
      "cluster_id", 1)
      .select(col("cluster_id"), col("neighbor_id").as(idCol))
    clustered.join(best, Seq("cluster_id", idCol), "left_semi")
  }
}
