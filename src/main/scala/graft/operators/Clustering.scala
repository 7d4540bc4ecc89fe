package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over a pair relation — the step that turns
  * near-duplicate PAIRS (from LSH / embedding bucketing) into duplicate
  * CLUSTERS with one canonical survivor per cluster, which is what a
  * dedup pipeline actually acts on at 100 TB.
  *
  * Two algorithms share one fixpoint loop: min-label propagation
  * ([[connectedComponents]], behind every dedup/curation entry) and
  * large-star/small-star ([[connectedComponentsStars]]). Each round is
  * declarative and AQE-optimized; the Spark driver only decides WHEN to
  * stop (a count observed on the round's checkpoint job), it never
  * touches row data.
  *
  * Failure contract: if `maxIter` rounds pass without reaching the
  * fixpoint, the operator throws `IllegalStateException` naming itself,
  * `maxIter` and the last round's change count — a non-converged
  * labelling is never returned.
  */
object Clustering {

  /** The fixpoint loop both algorithms run. Each round eagerly
    * checkpoints `round(current)` (constant-size plans, constant-depth
    * lineage — the GraphX/ML iterative-algorithm discipline) with
    * `metrics` observed on that same job, asks `changes(previous, next)`
    * how much the round changed, and frees the superseded round's blocks.
    * `start` belongs to the caller and is never released here. Returns
    * the converged state; the caller owns its blocks. A failed call
    * leaves its blocks to the ContextCleaner.
    */
  private def fixpoint(op: String, maxIter: Int, start: Scans.Tracked,
                       metrics: Seq[Column], rebase: Boolean)
                      (round: DataFrame => DataFrame)
                      (changes: (Scans.Tracked, Scans.Tracked) => Long)
      : Scans.Tracked = {
    var cur = start
    var changed = -1L
    var iter = 0
    while (changed != 0 && iter < maxIter) {
      val next = Scans.checkpointTracked(round(cur.df),
        s"$op round $iter", metrics, rebase)
      changed = changes(cur, next)
      if (cur ne start) cur.release()
      cur = next
      iter += 1
    }
    if (changed != 0)
      throw new IllegalStateException(s"$op did not converge within " +
        s"maxIter = $maxIter rounds (last round's change count: $changed)")
    cur
  }

  /** `broadcast(df)` when a relation measured at `bytes` fits the
    * session's own autoBroadcastJoinThreshold, else `df` (r15: broadcast
    * the side you KNOW is small). The static planner sees
    * checkpointed relations as unknown-size and plans sort-merge, paying
    * exchange stage jobs that AQE only converts to broadcast AFTER
    * materializing them; the hint removes those stages up front, and a
    * 100 TB edge relation keeps the shuffle plan.
    */
  private def broadcastIfFits(spark: org.apache.spark.sql.SparkSession,
                              bytes: Long): DataFrame => DataFrame =
    if (Scans.fitsBroadcast(spark, bytes)) broadcast(_) else identity

  /** (node, component) for every node in `pairs`, component = min node id
    * reachable. `pairs` columns: (aCol, bCol), one row per undirected edge.
    *
    * Iterated min-label propagation with pointer jumping (label <- min
    * over neighbours' labels and the label's own label), O(log(diameter))
    * rounds. Dedup graphs are unions of small cliques, so convergence is
    * 1-2 rounds in practice; `maxIter` bounds adversarial chains.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 16): DataFrame = {
    // Undirected edge list, both directions; self-loops are harmless.
    // The eager checkpoint TRUNCATES LINEAGE: the edge relation is tiny
    // relative to the corpus (only near-dup docs appear) while its
    // upstream plan (e.g. the whole LSH pipeline) is huge — without the
    // cut, every round's logical plan embeds the full upstream tree.
    // Mirror through explode(array(struct..)) rather than union-of-two-
    // selects: one generator evaluates the (expensive) pair upstream
    // exactly once, where the union's branches would each re-run it (r14:
    // one materialization job at loop entry instead of two).
    val edges = Scans.checkpointTracked(
      pairs.select(explode(array(
          struct(col(aCol).as("src"), col(bCol).as("dst")),
          struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")),
      "cc edges")
    // The label side of both per-round joins — one row per node — is never
    // larger than the mirrored edge relation.
    val small = broadcastIfFits(pairs.sparkSession, edges.bytes)
    // labels0 is NOT checkpointed (r15): round 0 consumes the min-of-
    // neighbours initialization inline. Its groupBy exchange is shared by
    // every reference inside round 0's single query (ReuseExchange), so
    // folding it removes one blocking materialization per call without
    // adding a shuffle.
    val labels0 = edges.df.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("mind"))
      .select(col("node"), least(col("node"), col("mind")).as("comp"))
    val labels = fixpoint("connectedComponents", maxIter, Scans.Tracked(labels0),
        Seq(count(when(col("comp") =!= col("prev"), 1)).as("changed")),
        rebase = false) { cur =>
      // One round = min over {own label} ∪ {neighbours' labels} ∪
      // {label's own label} (pointer jumping), expressed as a UNION into
      // a single min-aggregate rather than candidate relations joined
      // back onto labels (r14: map-side partial min keeps the shuffle at
      // O(E) bytes, and two label-set passes per round disappear). The
      // self row (exactly one per node — labels is unique by node)
      // carries the previous label through the aggregate, so the
      // convergence count is observed on the round's own checkpoint job
      // (the Observation seam is pinned by SparkInternalsSpec).
      val labels = cur.select("node", "comp")
      val neighbour = edges.df
        .join(small(labels.withColumnRenamed("node", "dst2")),
          col("dst") === col("dst2"))
        .select(col("src").as("node"), col("comp"), lit(0).as("self"))
      val pointer = labels.as("l")
        .join(small(labels.as("p")), col("l.comp") === col("p.node"))
        .select(col("l.node").as("node"), col("p.comp").as("comp"),
          lit(0).as("self"))
      labels.select(col("node"), col("comp"), lit(1).as("self"))
        .unionByName(neighbour).unionByName(pointer)
        .groupBy("node")
        .agg(min(col("comp")).as("comp"),
          max(when(col("self") === 1, col("comp"))).as("prev"))
    } { (_, next) => next.metrics("changed").asInstanceOf[Long] }
    edges.release()
    labels.df.select(col("node").as("doc_id"), col("comp").as("cluster_id"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the other canonical distributed-CC formulation, kept
    * alongside [[connectedComponents]] because its convergence guarantee
    * is structural, not diameter-bound: each round strictly shrinks the
    * potential function and the pair terminates in O(log² n) rounds on
    * ANY graph, including the long-chain adversarial shapes where plain
    * min-label propagation needs diameter rounds.
    *
    * Both operations are one groupBy over the edge relation:
    *  - large-star: for every node u, connect every STRICTLY GREATER
    *    neighbour v > u to m = min(N(u) ∪ u) — high-degree nodes shed
    *    their big neighbourhoods onto the minimum in a single round,
    *    which is exactly the skew case (a mega-cluster's hub) where
    *    propagation pays per-hop.
    *  - small-star: for every node u, connect all neighbours ≤ u
    *    (and u itself) to the minimum — flattens the partial trees.
    *
    * The edge relation only ever SHRINKS to the forest edges
    * (node → component min), so per-round cost is bounded by the initial
    * near-dup edge list. Fixpoint = both stars produce no new edge.
    * Returns the same (doc_id, cluster_id = min reachable node) relation
    * as [[connectedComponents]].
    *
    * @param dedupPairs pass false when `pairs` is PROVABLY one row per
    *   undirected edge in canonical (aCol < bCol) orientation — e.g.
    *   minhashLshPairs output, unique by its verification groupBy with
    *   doc_a < doc_b from candidate generation — to skip the initial
    *   distinct()'s exchange; the canonicalized projection of such input
    *   is already distinct, so the relation entering the loop is
    *   row-identical either way.
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
                               maxIter: Int = 32,
                               dedupPairs: Boolean = true): DataFrame = {
    // Every edge checkpoint is REBASED (see Scans.checkpointTracked): each
    // round self-joins and unions the previous one.
    val edgeCount = Seq(count(lit(1)).as("n"))
    def nEdges(t: Scans.Tracked): Long = t.metrics("n").asInstanceOf[Long]
    val canonical = pairs
      .select(least(col(aCol), col(bCol)).as("src"),
        greatest(col(aCol), col(bCol)).as("dst"))
      .filter(col("src") =!= col("dst"))
    // Initial emptiness rides the same checkpoint job (r14).
    val edges0 = Scans.checkpointTracked(
      if (dedupPairs) canonical.distinct() else canonical,
      "stars initial edge count", edgeCount, rebase = true)
    // `mins` — one (node, min) row per node — is never more than twice
    // the canonical edge relation (the |V| ≤ 2|E| bound).
    val small = broadcastIfFits(pairs.sparkSession, 2L * edges0.bytes)
    // Large-star: group the SYMMETRIC neighbourhood by u, emit
    // (v, min(N(u) ∪ u)) for v > u. Small-star: orient edges high→low
    // (u ≥ v), group by the high end, emit (v, m) for every low
    // neighbour plus (u, m). Both emit distinct undirected (lo, hi)
    // canonical edges; self-loops drop.
    // Neither star materializes a neighbourhood array (collect_set would
    // hand a mega-hub's whole neighbourhood to one row): the per-node min
    // is a map-side-combined aggregate and the emit is a join back onto
    // the edge relation — everything stays edge-shaped, so a 10⁷-degree
    // hub costs 10⁷ ROWS spread across partitions, never one giant cell.
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbr.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("m"))
      nbr.join(small(mins), "src")
        .filter(col("dst") > col("src"))
        .select(least(col("dst"), col("m")).as("src"),
          greatest(col("dst"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst"))
      // No dedup here (r14): the only consumer is smallStar, whose min
      // aggregate is duplicate-insensitive and whose output carries the
      // round's distinct() — and largeStar emits at most one row per
      // directed (u, v>u) input pair, so skipping the dedup cannot blow
      // the relation up.
    }
    def smallStar(e: DataFrame): DataFrame = {
      val hiLo = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = hiLo.groupBy("u").agg(min(col("v")).as("m"))
      val viaNbr = hiLo.join(small(mins), "u")
        .select(least(col("v"), col("m")).as("src"),
          greatest(col("v"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val viaSelf = mins
        .select(col("m").as("src"), col("u").as("dst"))
        .filter(col("src") =!= col("dst"))
      viaNbr.unionByName(viaSelf).distinct()
    }
    // The initial edge blocks are the loop's start state, so the loop
    // keeps them: the final labelling below derives the node set from
    // them (r15: lazily, inside the labels job, instead of a second
    // checkpoint at loop entry).
    val forest =
      if (nEdges(edges0) == 0) edges0
      else fixpoint("connectedComponentsStars", maxIter, edges0, edgeCount,
          rebase = true)(e => smallStar(largeStar(e))) { (prev, next) =>
        // Both sides are DISTINCT edge sets, so differing counts (observed
        // on the checkpoint job, r15) prove the round changed something;
        // only equal counts pay ONE symmetric-difference probe — union
        // with ±1 weights, grouped sum ≠ 0 ⟺ an edge on exactly one side
        // (r14: a plain partial-aggregated count shuffle in place of two
        // left-anti join probes).
        val diff = math.abs(nEdges(next) - nEdges(prev))
        if (diff != 0) diff
        else next.df.select(col("src"), col("dst"), lit(1).as("w"))
          .unionByName(prev.df.select(col("src"), col("dst"), lit(-1).as("w")))
          .groupBy("src", "dst").agg(sum(col("w")).as("d"))
          .filter(col("d") =!= 0)
          .limit(1).count()
      }
    // At fixpoint the edge relation IS the star forest: every non-root
    // appears exactly once as (component min, node). Nodes absent from
    // the dst side are component roots labelling themselves. Checkpoint
    // the labels BEFORE releasing the edge blocks they derive from (the
    // caller consumes labels after this frame returns); the forest never
    // exceeds the initial edge relation, so the same size gate covers
    // broadcasting it under the left join.
    val nodes = edges0.df.select(col("src").as("node"))
      .unionByName(edges0.df.select(col("dst").as("node"))).distinct()
    val labels = Scans.checkpointTracked(nodes
      .join(small(forest.df.select(col("dst").as("node"), col("src").as("comp"))),
        Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("comp"), col("node")).as("cluster_id")),
      "stars labels", rebase = true)
    forest.release()
    edges0.release()
    labels.df
  }

  /** Duplicate clusters from near-dup pairs: every clustered doc with its
    * cluster id (= min doc id in the cluster) and a keep flag on the
    * canonical survivor.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("boolean"))

  /** Incremental re-close of a materialized cluster membership after a
    * pair-relation upsert: only TOUCHED components recompute, the rest
    * of the membership is carried over unchanged.
    *
    * `seedIds` are the docs whose incident pairs changed (stale ids plus
    * added-pair endpoints). Every prev cluster containing a seed is
    * affected; its full member set plus the seeds forms the affected doc
    * set, connected components re-run ONLY over maintained pairs inside
    * that set, and unaffected membership rows union back untouched.
    *
    * Why one hop of cluster expansion suffices: any doc whose component
    * (hence membership row) changes lies in a component containing an
    * added or dropped edge; each prev cluster merged into or split from
    * such a component contains one of that edge's endpoints — a seed.
    * Consequently every maintained pair touching an affected doc has
    * BOTH endpoints affected (a kept pair's endpoints shared a prev
    * cluster; an added pair's endpoints are both seeds), so the re-close
    * edge set is closed under the doc_a-side semi-join alone and the
    * kept/re-closed split can never emit a doc twice.
    *
    * Scale shape: seeds and affected clusters are delta-sized broadcast
    * semi/anti-joins; the connected-components loop runs only on the
    * affected slice; the corpus-sized membership streams through one
    * anti-join.
    */
  def upsertClusters(prevClusters: DataFrame, pairs: DataFrame,
                     seedIds: DataFrame,
                     eagerCheckpoint: Boolean = true): DataFrame = {
    // Composed from the parts split, so the rebuild-equality oracle and
    // the poisoned-bucket carry-over spec gate the split form the
    // delta-cost publish consumes. EXECUTION SEMANTICS: with the
    // default eagerCheckpoint the affected-doc set runs Spark jobs AT
    // CALL TIME (the upsertLshPairs convention — see its scaladoc for
    // the lineage/fault-tolerance tradeoff); pass false for lazy
    // composition.
    val (affDocs, reclosed) =
      upsertClustersParts(prevClusters, pairs, seedIds, eagerCheckpoint)
    prevClusters.join(affDocs, Seq("doc_id"), "left_anti")
      .select("doc_id", "cluster_id")
      .unionByName(reclosed)
  }

  /** [[upsertClusters]] split at its carry-over boundary: `(affected doc
    * ids, their re-closed membership rows)`. Membership rows change ONLY
    * for docs in the affected set (the one-hop-expansion argument above),
    * so a publish that rewrites only the partitions holding affected
    * docs and references the rest in place is row-identical to the
    * union form. `affDocs` is delta-sized and eagerly checkpointed — it
    * feeds the affected-partition list, the carry-over anti-join, and
    * the re-close, and its upstream is a corpus-sized semi-join
    * (eagerCheckpoint = false composes lazily, re-executing that
    * upstream per consumer).
    */
  def upsertClustersParts(prevClusters: DataFrame, pairs: DataFrame,
                          seedIds: DataFrame,
                          eagerCheckpoint: Boolean = true)
      : (DataFrame, DataFrame) = {
    val seeds = seedIds.select(col("doc_id")).distinct()
    val affClusters = prevClusters.join(seeds, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
    val affDocs0 = prevClusters.join(affClusters, Seq("cluster_id"), "left_semi")
      .select("doc_id").unionByName(seeds).distinct()
    val affDocs = if (eagerCheckpoint) affDocs0.localCheckpoint(true) else affDocs0
    val affPairs = pairs.join(affDocs.select(col("doc_id").as("doc_a")),
      Seq("doc_a"), "left_semi")
    val reclosed = dedupClusters(affPairs, "doc_a", "doc_b")
      .select("doc_id", "cluster_id")
    (affDocs, reclosed)
  }

  /** The corpus AFTER dedup: every document that is either outside any
    * near-dup cluster or its cluster's canonical (min-id) survivor. The
    * step that turns pair/cluster REPORTS into the training corpus itself.
    * The drop set holds only non-canonical cluster members — tiny relative
    * to the corpus — so the anti join broadcasts under AQE and the big
    * side streams through unshuffled.
    */
  def applyDedup(docs: DataFrame, pairs: DataFrame, idCol: String,
                 aCol: String, bCol: String): DataFrame = {
    val drop = dedupClusters(pairs, aCol, bCol)
      .filter(!col("keep")).select(col("doc_id").as("__drop_id"))
    docs.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Cluster-size distribution of the duplicate graph: for each cluster
    * size, how many clusters and how many documents sit in them — the
    * first chart a corpus owner reads after a dedup run (a fat tail of
    * giant clusters means boilerplate or a crawler loop, not organic
    * duplication; pairs-only views hide this). Two grouped counts over
    * the (tiny) cluster-membership relation.
    */
  def clusterSizeHistogram(pairs: DataFrame, aCol: String,
                           bCol: String): DataFrame =
    dedupClusters(pairs, aCol, bCol)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))

  /** What dedup bought, per group: document and weight (e.g. char/token)
    * totals before and after dropping non-canonical cluster members — the
    * report a corpus owner reads after every dedup run. One broadcast
    * left join of the tiny drop set + one grouped aggregate; weights sum
    * as longs (exact).
    */
  def dedupSavings(docs: DataFrame, pairs: DataFrame, idCol: String,
                   aCol: String, bCol: String, groupCol: String,
                   weightCol: String): DataFrame = {
    val drop = dedupClusters(pairs, aCol, bCol)
      .filter(!col("keep")).select(col("doc_id").as("__drop_id"))
    docs.join(drop, col(idCol) === col("__drop_id"), "left")
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("docs_before"),
        count(when(col("__drop_id").isNull, 1)).as("docs_after"),
        sum(col(weightCol)).as("weight_before"),
        coalesce(sum(when(col("__drop_id").isNull, col(weightCol))), lit(0L))
          .as("weight_after"))
  }
}
