package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Staged, Tables}

/** Graph operators for the dedup pipeline: near-dup PAIRS (x2/x2c) only say
  * "these two documents overlap"; an actual dedup pass needs CLUSTERS — one
  * representative kept per connected component of the overlap graph, every
  * other member dropped. (Pair-wise anti-join, as in x6, over-drops: in a
  * chain a–b–c it removes both b and c even though c may not resemble a.)
  *
  * Algorithm: min-label propagation. Every node starts labeled with its own
  * id; each round it takes the min of its label and its neighbors' labels;
  * at fixpoint label(v) = min id of v's component. Deterministic regardless
  * of execution order (min is commutative/associative), so the result is
  * oracle-exact against DuckDB's recursive-CTE transitive closure.
  *
  * Scale (100 TB): each round is one shuffle join keyed by node id plus a
  * map-side-combined min-aggregation — no driver-side graph state, only a
  * per-round converged? count. Rounds = graph diameter; near-dup components
  * are clique-ish (every member shares most shingles), so diameter is 1–3
  * in practice. For adversarial long-chain graphs the alternating
  * large-star/small-star variant (Kiveris et al., "Connected Components in
  * MapReduce", SoCC'14) bounds rounds at O(log² n) with the same per-round
  * plan shape; propagation is preferred here for its strictly smaller
  * constant factor on short-diameter graphs. Lineage is cut per round with
  * localCheckpoint so the plan does not grow with the iteration count.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Connected components of an undirected edge list.
    *
    * Each round does (a) neighbor-min propagation and (b) a pointer-jump
    * (label compression: every node's label is replaced by its label's
    * label) — the jump halves the distance a min label still has to travel,
    * so rounds are O(log diameter), not O(diameter): a path of 10⁶ nodes
    * converges in ~20 rounds instead of 10⁶. If the round budget is still
    * exhausted without a fixpoint the function THROWS rather than return
    * partially-propagated (wrong) labels that downstream dedup would
    * silently trust.
    *
    * @param edges two-column DataFrame (src, dst), any orientation; self
    *              loops and duplicates are fine (symmetrized + deduped).
    * @return (node, cluster) — cluster = min node id in the component; only
    *         nodes appearing in `edges` are emitted.
    * @throws IllegalStateException if not converged within `maxRounds`.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    val src = edges.columns(0)
    val dst = edges.columns(1)
    val sym = edges.select(col(src).as("u"), col(dst).as("v"))
      .union(edges.select(col(dst).as("u"), col(src).as("v")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("cluster", col("node"))
      .localCheckpoint()
    var round = 0
    var converged = sym.isEmpty
    while (!converged && round < maxRounds) {
      val nbrMin = sym.join(labels, sym("v") === labels("node"))
        .groupBy(col("u")).agg(min(col("cluster")).as("nbr"))
      val prop = labels.join(nbrMin, labels("node") === nbrMin("u"), "left")
        .select(col("node"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"),
          (col("nbr") < col("cluster")).as("chg"))
      // pointer-jump THROUGH THE PREVIOUS ROUND'S MAP (label ids are node
      // ids): fetch the propagated label's label from `labels` — already
      // checkpointed — instead of self-joining `prop`, which needed its
      // own mid-round localCheckpoint (two materializations + their AQE
      // stage jobs per round; the suite is job-barrier-bound at bench
      // scale). Jumping through the one-round-older map is still a valid
      // shortcut (every label is a same-component node id and labels
      // only decrease, so `least` keeps the invariant) and still doubles
      // the propagation reach per round (r_k = 2·r_{k−1} + 1 vs the
      // prop-jump's 2·r_{k−1} + 2): the 200-node-path spec's 10-round
      // budget holds. ONE checkpoint + one convergence probe per round.
      val ptr = labels.select(col("node").as("pn"), col("cluster").as("pc"))
      val next = prop.join(ptr, prop("cluster") === ptr("pn"), "left")
        .select(col("node"),
          least(col("cluster"), coalesce(col("pc"), col("cluster"))).as("cluster"),
          (col("chg") || col("pc") < col("cluster")).as("chg"))
        .localCheckpoint()
      converged = next.filter(col("chg")).isEmpty
      labels = next.drop("chg")
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds; " +
        "labels would be partially propagated (wrong). Raise maxRounds — " +
        "rounds needed ≈ log2(component diameter) with pointer-jumping.")
    labels
  }

  /** One increment of INCREMENTAL connected-components maintenance: the
    * delta from folding a batch of NEW edges into an existing flat label
    * map (`prior`: (node, cluster), cluster = component-min node id — the
    * invariant [[connectedComponents]] establishes and this function
    * preserves). The batch near-dup clustering (x7) recomputes CC over
    * ALL pairs; a 100 TB crawl increment cannot — T13 already discovers
    * each pair exactly once, in the batch where its later member arrives,
    * so the cluster map should advance by exactly those pairs.
    *
    * Algorithm (the classic union-find merge, expressed as dataflow):
    * (1) map each new edge's endpoints through `prior` — an endpoint's
    * current label IS its component representative because the map is
    * flat, so no find-root chase is needed; (2) run [[connectedComponents]]
    * on the LABEL-level graph (nodes = touched cluster ids + brand-new
    * node ids — a graph proportional to the INCREMENT, never the corpus);
    * (3) emit delta rows for (a) every member of a cluster whose label
    * changed and (b) every brand-new node. Folding the delta over `prior`
    * latest-wins yields exactly `connectedComponents(allEdgesSoFar)`:
    * min-label CC is arrival-order-independent (min is commutative /
    * associative / idempotent), so the incremental fixpoint and the batch
    * fixpoint coincide — which is what lets `x7j_incr_clusters` be
    * hash-exact against the same DuckDB closure oracle as x7, not merely
    * bounded.
    *
    * Scale: step 1 is an equi-join of the increment against the store
    * keyed by node; step 2's CC runs on O(increment) edges; step 3 joins
    * the store against a BROADCAST of the changed-label map (bounded by
    * the increment's touched clusters) — the full map is scanned, never
    * shuffled, and the delta is bounded by affected-cluster membership,
    * not corpus size.
    *
    * @param prior    flat (node, cluster) map; empty on the first batch.
    * @param newEdges two-column (src, dst) increment, any orientation.
    * @return delta rows (node, cluster): new nodes + renamed members only.
    */
  def incrementDelta(prior: DataFrame, newEdges: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val src = newEdges.columns(0)
    val dst = newEdges.columns(1)
    val e = newEdges.select(col(src).as("u"), col(dst).as("v"))
    val labels = prior.select(col("node"), col("cluster"))
    val mapped = e
      .join(labels.select(col("node").as("u"), col("cluster").as("lu")),
        Seq("u"), "left")
      .join(labels.select(col("node").as("v"), col("cluster").as("lv")),
        Seq("v"), "left")
      .localCheckpoint() // read 2x (cluster edges + new-node scan); cut lineage
    val clusterEdges = mapped.select(
      coalesce(col("lu"), col("u")).as("a"),
      coalesce(col("lv"), col("v")).as("b"))
    val relabel = connectedComponents(clusterEdges, maxRounds)
      .select(col("node").as("old_label"), col("cluster").as("new_label"))
    val changed = relabel.filter(col("new_label") =!= col("old_label"))
    val renamed = labels
      .join(broadcast(changed), labels("cluster") === changed("old_label"))
      .select(col("node"), col("new_label").as("cluster"))
    val newNodes = mapped.select(col("u").as("node"), col("lu").as("had"))
      .union(mapped.select(col("v").as("node"), col("lv").as("had")))
      .filter(col("had").isNull).select(col("node")).distinct()
    val fresh = newNodes
      .join(broadcast(relabel), newNodes("node") === relabel("old_label"), "left")
      .select(col("node"), coalesce(col("new_label"), col("node")).as("cluster"))
    renamed.unionByName(fresh)
  }

  /** Fold an [[incrementDelta]] over the prior map: delta rows win per
    * node, untouched rows carry forward. The durable-store twin keys the
    * same fold by batch id ([[graft.streaming.Streams.readClusterMap]]).
    */
  def applyDelta(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.join(delta.select(col("node")), Seq("node"), "left_anti")
      .unionByName(delta)

  /** An empty flat label map typed after `edges`' first column — the
    * fold seed for the first increment.
    */
  def emptyLabels(edges: DataFrame): DataFrame = {
    val src = edges.columns(0)
    edges.select(col(src).as("node")).filter(lit(false))
      .withColumn("cluster", col("node"))
  }

  /** X7 — near-dup cluster formation over the verified Jaccard pair graph
    * (same staged pair table as x2c/x6): each document in any near-dup pair
    * gets its component's min doc_id as cluster id, plus the component
    * size. Downstream dedup keeps `doc_id == cluster` rows.
    */
  /** Staged (node, cluster) table over the verified pair graph — the
    * iterative propagation runs once per session; x7 and x7f consume the
    * checkpointed result.
    */
  def stagedClusters(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"neardup_cc:$dir")(
      connectedComponents(
        Text.stagedJaccardPairs(spark, dir).select(col("da"), col("db"))))

  val x7NeardupClusters: Q = (spark, dir) => {
    // component size via groupBy + broadcast join back, not a per-cluster
    // count window: a giant boilerplate component would land every member
    // in one window task, and the cluster-size table is bounded by near-dup
    // membership (≪ corpus), so it broadcasts
    val cc = stagedClusters(spark, dir)
    val sizes = cc.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    cc.join(broadcast(sizes), "cluster")
      .select(col("node").as("doc_id"), col("cluster"), col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** Oracle scaffolding: DuckDB recursive CTE computing the transitive
    * closure of the same pair graph (x2c's CTE chain builds the pairs),
    * then min(reach) per node = the component's min id. Closure is
    * quadratic per component — fine for an oracle at fixture scale, never
    * the engine plan.
    */
  private[graft] val ccCtes: String = {
    val pairCtes = Text.x2cCtePrefix("WITH RECURSIVE")
    pairCtes + s""",
      |pairs AS (
      | SELECT da, db
      | FROM shared JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      | WHERE shared * 10 >= (ca.n + cb.n - shared) * 7),
      |edges AS (SELECT da AS u, db AS v FROM pairs
      |          UNION SELECT db AS u, da AS v FROM pairs),
      |walk AS (SELECT u AS node, u AS reach FROM edges
      |         UNION
      |         SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach),
      |cc AS (SELECT node, min(reach) AS cluster FROM walk GROUP BY 1)""".stripMargin
  }

  val x7Sql: String = ccCtes + """
      |SELECT node AS doc_id, cluster,
      | CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
      |FROM cc ORDER BY doc_id""".stripMargin

  /** X7l — the cluster-size DISTRIBUTION: how many clusters of each
    * size, plus the largest component's size and share of clustered
    * docs. This is the dedup pipeline's skew ALARM read before any
    * apply step: a shingling bug (width too small for the vocabulary, a
    * boilerplate header that survived line-dedup) shows up as one giant
    * component absorbing the corpus — and x7f would then "dedup" almost
    * everything away. The histogram is tiny (≤ distinct sizes rows)
    * and the aggregation is two map-side-combined groupBys over the
    * bounded cluster map; nothing corpus-proportional moves.
    */
  val x7lClusterStats: Q = (spark, dir) => {
    val sizes = stagedClusters(spark, dir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    val tot = sizes.agg(
      sum(col("n_members")).as("n_clustered"),
      max(col("n_members")).as("max_size"))
    sizes.groupBy(col("n_members").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"),
        col("max_size"),
        // integer-exact giant-component share: permille of clustered docs
        expr("CAST(max_size * 1000 DIV n_clustered AS LONG)")
          .as("giant_permille"))
      .orderBy(col("cluster_size"))
  }
  val x7lSql: String = ccCtes + """,
      |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
      |       FROM cc GROUP BY 1),
      |tot AS (SELECT sum(n_members) AS n_clustered, max(n_members) AS max_size
      |        FROM sz)
      |SELECT n_members AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      | max_size, CAST(max_size * 1000 // n_clustered AS BIGINT) AS giant_permille
      |FROM sz, tot GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin


  /** X7f — cluster-representative dedup of the corpus: keep every document
    * that is either in no near-dup cluster or is its cluster's min-id
    * representative. This is the semantically-correct dedup apply — the
    * pair-wise anti-join (x6) also drops the chain-end c of a–b–c even
    * when c never resembled a; keeping one representative per COMPONENT
    * drops exactly (members − 1) per cluster.
    *
    * Scale: the cluster map is bounded by near-dup membership (≪ corpus),
    * so it broadcasts; the corpus side is scanned + hash-probed only.
    */
  val x7fDedupApply: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val cc = stagedClusters(spark, dir)
    docs.join(broadcast(cc), docs("doc_id") === cc("node"), "left")
      .filter(col("node").isNull || col("doc_id") === col("cluster"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .orderBy(col("doc_id"))
  }

  val x7fSql: String = ccCtes + """
      |SELECT doc_id, lang, n_chars, coalesce(cluster, doc_id) AS cluster
      |FROM documents LEFT JOIN cc ON doc_id = node
      |WHERE node IS NULL OR doc_id = cluster
      |ORDER BY doc_id""".stripMargin

  /** X7j — INCREMENTAL cluster maintenance equals batch CC, oracle-exact:
    * the same verified Jaccard pair graph arrives as three increments
    * (split by `pmod(da + db, 3)`, so chains routinely span increments
    * and clusters MERGE across batches — the case that breaks naive
    * append-only labeling), folded through [[incrementDelta]] /
    * [[applyDelta]]. Because min-label CC is arrival-order-independent,
    * the incrementally-maintained map must be IDENTICAL to x7's
    * all-at-once clustering — checked hash-exact against the very same
    * recursive-CTE closure oracle, not a weakened bound. This is the
    * inline batch expression of the durable T17 store
    * ([[graft.streaming.Streams.clusterIndexBatch]]), exactly as x3l is
    * of T16.
    */
  /** Staged x7j cluster map: the 3-increment delta-CC fold runs ONCE
    * per (session, sfDir) as a staged producer (bench `staging`
    * attribution), so the registered query times the SERVE — sizes +
    * membership off the maintained map — the production refresh shape.
    */
  def stagedIncrClusterMap(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"x7j_cluster_map:$dir") {
      val pairs = Text.stagedJaccardPairs(spark, dir)
        .select(col("da"), col("db"))
      (0 until 3).foldLeft(emptyLabels(pairs)) { (prior, i) =>
        val inc = pairs.filter(pmod(col("da") + col("db"), lit(3)) === i)
        applyDelta(prior, incrementDelta(prior, inc)).localCheckpoint()
      }
    }

  val x7jIncrClusters: Q = (spark, dir) => {
    val folded = stagedIncrClusterMap(spark, dir)
    val sizes = folded.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
    folded.join(broadcast(sizes), "cluster")
      .select(col("node").as("doc_id"), col("cluster"), col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** X7m — CONTAINMENT-AWARE dedup apply, the integration of x2e into the
    * cluster-representative pass. x7f alone keeps both sides of a
    * quote-embedding pair (symmetric Jaccard never fires on it, so neither
    * doc joins a cluster); running containment as a separate report and
    * hand-merging is how duplicates slip through. The two-stage apply used
    * in production corpus dedup:
    *
    *   1. Drop every VERBATIM-EMBEDDED document outright (containment ≥
    *      `Text.ContainmentVerbatim` = 19/20 — the quote/mirror case) —
    *      the HOST survives regardless of id order, because the host
    *      carries content the contained copy does not; on an equal-size
    *      tie (exact duplicates) the min-id doc survives, matching the
    *      cluster-representative convention (see `Text.containmentOf`).
    *      Transitive nesting (A ⊂ B ⊂ C) resolves correctly: A
    *      and B are each named contained somewhere, C never is.
    *   2. Cluster-representative dedup (exactly x7f) over the Jaccard
    *      graph RESTRICTED to survivors — edges touching a dropped doc are
    *      removed first, so a cluster whose min-id member was contained
    *      still elects a surviving representative instead of silently
    *      losing all members to the "not the representative" filter.
    *
    * The stage-1 threshold is deliberately ABOVE x2e's default 4/5:
    * J ≥ 7/10 forces shared/min ≥ 14/17 ≈ 0.82 on EVERY Jaccard pair
    * (shared ≥ 0.7·(na+nb−shared) and na+nb ≥ 2·min), so at 4/5 every
    * Jaccard pair is also a containment pair, stage 1 would swallow one
    * side of every near-dup pair and stage 2 would be vacuous. At 19/20
    * stage 1 fires only on true embeds and the fuzzy near-dup mass still
    * flows through clustering.
    *
    * Scale: both the contained-id set and the cluster map are bounded by
    * near-dup membership (≪ corpus) so every corpus-side join is a
    * broadcast probe; the edge restriction is two anti-joins over the
    * already-pruned pair table, and both pair sets are threshold filters
    * over the SAME staged verified-counts middle — one prune-verify pass
    * total.
    */
  /** The shared middle of the two-stage apply: (contained-id set, CC over
    * the Jaccard graph restricted to survivors). */
  private def restrictedClusters(contained: DataFrame,
      jaccard: DataFrame): (DataFrame, DataFrame) = {
    val dropIds = contained.select(col("contained").as("drop_id")).distinct()
    val jp = jaccard.select(col("da"), col("db"))
    val edges = jp
      .join(broadcast(dropIds), jp("da") === dropIds("drop_id"), "left_anti")
      .join(broadcast(dropIds), col("db") === dropIds("drop_id"), "left_anti")
    (dropIds, connectedComponents(edges))
  }

  /** Staged form of the shared middle for the REGISTERED x7m/x7n queries:
    * the survivor-restricted CC map is the session's second iterative
    * propagation job, and both queries need it — staging it under
    * `restricted_cc:$dir` (the `stagedClusters` convention: iterative
    * propagation runs once per session) keeps a session running x7m AND
    * x7n from executing the multi-round label propagation twice.
    * Returns (contained pairs, drop-id set, restricted CC map).
    */
  private def stagedRestrictedClusters(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val vc = Text.stagedVerifiedCounts(spark, dir)
    val contained = Text.containmentOf(vc,
      Text.ContainmentVerbatim._1, Text.ContainmentVerbatim._2)
    val cc = Staged(spark, s"restricted_cc:$dir")(
      restrictedClusters(contained, Text.jaccardOf(vc))._2)
    val dropIds = contained.select(col("contained").as("drop_id")).distinct()
    (contained, dropIds, cc)
  }

  def containmentDedup(docs: DataFrame, contained: DataFrame,
      jaccard: DataFrame): DataFrame = {
    val (dropIds, cc) = restrictedClusters(contained, jaccard)
    containmentDedupWith(docs, dropIds, cc)
  }

  private def containmentDedupWith(docs: DataFrame, dropIds: DataFrame,
      cc: DataFrame): DataFrame =
    docs
      .join(broadcast(dropIds), docs("doc_id") === dropIds("drop_id"), "left_anti")
      .join(broadcast(cc), col("doc_id") === cc("node"), "left")
      .filter(col("node").isNull || col("doc_id") === col("cluster"))
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .drop("node")

  /** X7n — dedup DECISION LINEAGE: one row per dropped document saying WHY
    * it was dropped and which document it lost to. (Under transitive
    * nesting A ⊂ B ⊂ C the loser's `kept_id` may itself be dropped —
    * B's row points to C; provenance resolves by following the chain,
    * and `cluster_dup` rows always point to a survivor.) The apply
    * steps (x7f/x7m) emit only survivors; a production corpus build also
    * has to answer "where did doc X go?" — for audits, for takedown
    * propagation (removing a kept host must also surface the copies that
    * were deduped INTO it), and for debugging over-aggressive dedup. Two
    * reasons, mirroring x7m's stages exactly:
    *
    *   - `contained`: the doc was verbatim-embedded in a host (x2e at
    *     19/20); `kept_id` = the min-id host among the pairs that named
    *     it (deterministic when a doc is quoted by several hosts).
    *   - `cluster_dup`: a non-representative member of a restricted-graph
    *     Jaccard cluster; `kept_id` = the elected representative.
    *
    * The two sets are disjoint by construction (a contained doc's edges
    * are restricted away, so it never appears in the cluster map), and
    * x7m's kept set ∪ x7n's dropped set partitions the corpus — spec'd.
    *
    * Scale: everything here is arithmetic over the pair/cluster tables,
    * which are bounded by near-dup membership; the corpus is never
    * scanned — lineage is a report over the (small) dedup state itself.
    */
  def dedupLineage(contained: DataFrame, jaccard: DataFrame): DataFrame =
    dedupLineageWith(contained, restrictedClusters(contained, jaccard)._2)

  private def dedupLineageWith(contained: DataFrame,
      cc: DataFrame): DataFrame = {
    val containedRows = contained.select(col("contained").as("doc_id"),
        when(col("contained") === col("da"), col("db")).otherwise(col("da"))
          .as("host"))
      .groupBy(col("doc_id")).agg(min(col("host")).as("kept_id"))
      .withColumn("reason", lit("contained"))
    val clusterRows = cc.filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"), col("cluster").as("kept_id"),
        lit("cluster_dup").as("reason"))
    containedRows.unionByName(clusterRows)
  }

  val x7nDedupLineage: Q = (spark, dir) => {
    val (contained, _, cc) = stagedRestrictedClusters(spark, dir)
    dedupLineageWith(contained, cc).orderBy(col("doc_id"))
  }

  val x7mContainmentApply: Q = (spark, dir) => {
    val (_, dropIds, cc) = stagedRestrictedClusters(spark, dir)
    containmentDedupWith(Tables.documents(spark, dir), dropIds, cc)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("cluster"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain for the two-stage apply's oracles (x7m final state,
    * x7n lineage) — extends x2c's pair chain with containment naming, the
    * survivor-restricted pair graph, and its closure. */
  private[graft] val x7mCtes: String =
    Text.x2cCtePrefix("WITH RECURSIVE") + """,
      |con2 AS (SELECT CASE WHEN ca.n < cb.n THEN da ELSE db END AS doc_id,
      |                CASE WHEN ca.n < cb.n THEN db ELSE da END AS host
      |         FROM shared JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      |         WHERE shared * 20 >= least(ca.n, cb.n) * 19),
      |con AS (SELECT DISTINCT doc_id FROM con2),
      |pairs AS (SELECT da, db
      |          FROM shared JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      |          WHERE shared * 10 >= (ca.n + cb.n - shared) * 7
      |            AND da NOT IN (SELECT doc_id FROM con)
      |            AND db NOT IN (SELECT doc_id FROM con)),
      |edges AS (SELECT da AS u, db AS v FROM pairs
      |          UNION SELECT db AS u, da AS v FROM pairs),
      |walk AS (SELECT u AS node, u AS reach FROM edges
      |         UNION
      |         SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach),
      |cc AS (SELECT node, min(reach) AS cluster FROM walk GROUP BY 1)""".stripMargin

  val x7mSql: String = x7mCtes + """
      |SELECT doc_id, lang, n_chars, coalesce(cluster, doc_id) AS cluster
      |FROM documents LEFT JOIN cc ON doc_id = node
      |WHERE doc_id NOT IN (SELECT doc_id FROM con)
      |  AND (node IS NULL OR doc_id = cluster)
      |ORDER BY doc_id""".stripMargin

  val x7nSql: String = x7mCtes + """,
      |conmin AS (SELECT doc_id, min(host) AS kept_id FROM con2 GROUP BY 1)
      |SELECT doc_id, kept_id, 'contained' AS reason FROM conmin
      |UNION ALL
      |SELECT node AS doc_id, cluster AS kept_id, 'cluster_dup' AS reason
      |FROM cc WHERE node <> cluster
      |ORDER BY doc_id""".stripMargin

  /** Q32 — HIERARCHY closure with path enumeration: every node of a
    * parent-pointer forest resolved to (root, depth, root-to-node path) —
    * the org-chart / category-tree / BOM-rollup query families, and the
    * one recursive-CTE workload class this engine hadn't yet re-expressed
    * (connectedComponents is the UNDIRECTED min-label case; this is the
    * DIRECTED rooted case where the path itself is the answer).
    *
    * Algorithm: pointer DOUBLING over (node → ancestor) state carrying
    * (depth-so-far, path-segment). Each round composes every node's
    * segment with its current ancestor's segment — ancestor jumps to the
    * ancestor's ancestor, depth adds, path prepends — so a depth-D chain
    * resolves in ⌈log2 D⌉ rounds, each one equi-join keyed on the
    * ancestor id + a localCheckpoint lineage cut (the CC discipline,
    * including the THROW on round exhaustion rather than returning
    * partially-resolved paths). DuckDB's WITH RECURSIVE walks the same
    * forest top-down as the oracle.
    *
    * Scale: per round one keyed shuffle whose PROBE side is only the
    * still-unresolved rows (halving each round); no driver state, no
    * single-partition window. `nodes` must be parent-CLOSED (every
    * non-null parent appears as a node) — a dangling parent THROWS
    * rather than composing a silent null-rooted row.
    */
  def hierarchyPaths(nodes: DataFrame, maxRounds: Int = 20): DataFrame =
    hierarchyPathsFrom(nodes,
      nodes.limit(0).select(col("node"), lit(0L).as("depth"),
        lit("").as("path")),
      maxRounds)

  /** [[hierarchyPaths]] generalized with a pre-resolved BASE: `base`
    * carries (node, depth, path) rows of ancestors OUTSIDE the pending
    * set whose closure is already known — the incremental-maintenance
    * entry ([[hierarchyApply]]): an affected subtree re-resolves against
    * the stored closure of its nearest unaffected ancestors instead of
    * walking to the root. Base rows join as already-resolved lookups
    * (absolute depth, full root path), so a pending node composing onto
    * one terminates immediately with the correct absolute closure.
    */
  def hierarchyPathsFrom(nodes: DataFrame, base: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val init = nodes.select(col("node"), col("parent").as("anc"),
        when(col("parent").isNull, 0L).otherwise(1L).as("depth"),
        col("node").cast("string").as("path"))
      .localCheckpoint()
    // resolved rows leave the loop: only the PENDING remainder (halving
    // each round) probes the join; the lookup side is the full current
    // state (an ancestor may itself be resolved). Resolved pieces are
    // each already checkpointed, so the accumulator union is cheap.
    val baseLookup = base.select(col("node").as("a_node"),
      lit(null).cast("long").as("a_anc"),
      col("depth").as("a_depth"), col("path").as("a_path"))
    var resolved = init.filter(col("anc").isNull)
    var pending = init.filter(col("anc").isNotNull)
    var round = 0
    while (!pending.isEmpty && round < maxRounds) {
      val lookup = resolved.unionByName(pending)
        .select(col("node").as("a_node"), col("anc").as("a_anc"),
          col("depth").as("a_depth"), col("path").as("a_path"))
        .unionByName(baseLookup)
      val stepped = pending.join(lookup,
          pending("anc") === lookup("a_node"), "left")
        .select(col("node"), col("a_anc").as("anc"),
          (col("depth") + col("a_depth")).as("depth"),
          concat(col("a_path"), lit("/"), col("path")).as("path"))
        .localCheckpoint()
      // a join miss (dangling parent) composes anc=null/path=null and
      // falls into `resolved` below; it is validated ONCE after the loop
      // — one Spark action per round (the loop guard), not two
      resolved = resolved.unionByName(stepped.filter(col("anc").isNull))
      pending = stepped.filter(col("anc").isNotNull)
      round += 1
    }
    if (!pending.isEmpty) throw new IllegalStateException(
      s"hierarchyPaths did not resolve within $maxRounds rounds — cycle " +
        "or depth > 2^maxRounds; partial paths would be silently wrong " +
        "downstream.")
    // dangling parents (and rows that walked through one) carry a null
    // or base-composed-onto-empty path — fail loudly instead of
    // emitting null-rooted rows
    if (!resolved.filter(col("path").isNull).isEmpty)
      throw new IllegalStateException(
        "hierarchyPaths: dangling parent — a non-null parent id does " +
          "not appear as a node; the input must be parent-closed.")
    resolved.select(col("node"),
      split(col("path"), "/").getItem(0).cast("long").as("root"),
      col("depth"), col("path"))
  }

  /** INCREMENTAL hierarchy maintenance (q32b/T36 — the T17 delta
    * discipline applied to the closure): fold one batch of
    * parent-pointer UPSERTS (node, parent) — inserts of new nodes and
    * re-parents of existing ones — into a maintained closure
    * (node, root, depth, path). A moved node invalidates the paths of
    * its ENTIRE stored subtree, so the affected set is
    * descendants-or-self of every upserted node, found from the STORED
    * PATHS by segment explosion (an equi-join over Σ depth rows — no
    * LIKE scan, no recursive walk); only that subtree re-resolves,
    * against the unaffected closure as the pre-resolved base
    * ([[hierarchyPathsFrom]]). Parent pointers are not stored twice:
    * a stored node's parent IS its path's penultimate segment, so the
    * closure is the only state. An upsert that creates a cycle (moving
    * a node under its own descendant) leaves the subtree unresolvable
    * and THROWS via the round-exhaustion guard rather than committing
    * a corrupt closure; deletes are [[hierarchyDelete]] (subtree
    * removal — a different operation with orphan-free semantics).
    *
    * Scale: cost per batch is O(Σ depth of stored paths) for the
    * affected-set join (one equi-shuffle) + the doubling rounds over
    * ONLY the affected subtree — never a full-forest recompute; the
    * unaffected closure passes through untouched.
    */
  def hierarchyApply(closure: DataFrame, upserts: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    // CONFLICTING same-node pointers inside one batch are ambiguous — a
    // micro-batch carries no intra-batch order, so "last write wins" is
    // undefined and a window tie-break would pick a NONDETERMINISTIC
    // winner: first execution could commit one closure and a crash
    // replay the other, exactly the corrupt-replay state the T36
    // versioned-store protocol forbids. THROW instead (the cycle-guard
    // discipline); exact duplicate rows collapse harmlessly via distinct.
    val upW = Window.partitionBy(col("node"))
    val up = upserts.select(col("node"), col("parent")).distinct()
      .withColumn("nptr", count(lit(1)).over(upW))
      .filter(graft.functions.Guards.assertFilter(col("nptr") === lit(1),
        "hierarchyApply: conflicting parent pointers for one node " +
          "in a single batch — intra-batch order is undefined, so a " +
          "winner would be nondeterministic under replay; sequence the " +
          "moves into separate batches"))
      .select(col("node"), col("parent"))
      .localCheckpoint()
    // descendants-or-self of upserted nodes, from stored path segments
    val upSegs = up.select(col("node").cast("string").as("seg")).distinct()
    val affected = pathSegments(closure).join(upSegs, Seq("seg"))
      .select(col("node"))
      .unionByName(up.select(col("node")))
      .distinct().localCheckpoint()
    // merged pointers for the affected set: the upserted pointer wins;
    // otherwise the stored pointer (the path's penultimate segment)
    val storedPtr = closure.select(col("node"),
      when(col("depth") === 0, lit(null).cast("long"))
        .otherwise(element_at(split(col("path"), "/"), -2).cast("long"))
        .as("parent"))
    val ptr = graft.sources.LakeFormat.newestPerKey(
        up.select(col("node"), col("parent"), lit(2).as("pri"))
          .unionByName(storedPtr.select(col("node"), col("parent"),
            lit(1).as("pri"))),
        Seq(col("node")), col("pri").desc)
      .select(col("node"), col("parent"))
    val unaffected = closure.join(affected, Seq("node"), "left_anti")
    val recomputed = hierarchyPathsFrom(ptr.join(affected, Seq("node")),
      unaffected.select(col("node"), col("depth"), col("path")), maxRounds)
    unaffected.select(col("node"), col("root"), col("depth"), col("path"))
      .unionByName(recomputed)
  }

  /** The DELETE half of closure maintenance: SUBTREE removal — deleting
    * a node removes it and every descendant (closure rows whose stored
    * path contains the node as a segment). This is the orphan-FREE
    * delete semantic: nothing ever dangles and no re-parent policy is
    * smuggled in — splicing surviving children to a grandparent is an
    * explicit UPSERT of those children, which the caller sequences in
    * an earlier or the same batch (upserts fold first, see
    * `Streams.hierarchyOpsBatch`). Deletes of ABSENT nodes are no-ops,
    * which makes at-least-once replay idempotent for free: a replayed
    * delete finds the subtree already gone and removes nothing.
    *
    * Scale: one segment-explode over stored paths (O(Σ depth of stored
    * paths) — the same affected-set discipline as [[hierarchyApply]])
    * probed by the delete set, then one anti-join. The join strategy is
    * the PLANNER's (broadcast when the delete set is increment-sized via
    * autoBroadcastJoinThreshold, shuffle when a bulk retire wave isn't) —
    * a forced broadcast hint would haul a millions-of-ids purge through
    * the driver. Never a forest recompute.
    */
  def hierarchyDelete(closure: DataFrame, deletes: DataFrame): DataFrame = {
    val delSegs = deletes.select(col("node").cast("string").as("seg"))
      .distinct()
    val doomed = pathSegments(closure).join(delSegs, Seq("seg"))
      .select(col("node")).distinct()
    closure.join(doomed, Seq("node"), "left_anti")
  }

  /** (node, seg) for every segment of every stored path — the shared
    * affected-set / doomed-set discovery of [[hierarchyApply]] and
    * [[hierarchyDelete]]: a node is in scope iff some probe id appears
    * among its ancestors-or-self.
    */
  private def pathSegments(closure: DataFrame): DataFrame =
    closure.select(col("node"),
      explode(split(col("path"), "/")).as("seg"))

  /** Empty closure seed for the [[hierarchyApply]] fold. */
  def emptyClosure(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("node"), col("id").as("root"),
      col("id").as("depth"), col("id").cast("string").as("path"))

  /** Staged q32b closure: the 4-increment maintenance fold — top-down
    * inserts, a deliberately WRONG-parent insert wave, then the
    * corrective re-parent of that whole layer (exercising subtree
    * invalidation at scale) — runs ONCE per (session, sfDir) as a
    * staged producer; the registered query is the SERVE off the
    * maintained closure. The schedule converges to the q32 forest, so
    * the oracle is q32Sql VERBATIM — maintained ≡ batch, hash-exact.
    */
  def stagedIncrHierarchy(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"q32b_closure:$dir") {
      val all = Tables.customer(spark, dir)
        .select(col("c_custkey").as("node"),
          when(col("c_custkey") < 10, lit(null).cast("long"))
            .otherwise(expr("c_custkey div 10")).as("parent"))
      val deep = all.filter(col("node") >= 1000)
      val incs = Seq(
        all.filter(col("node") < 100),                  // roots + level 1
        all.filter(col("node") >= 100 && col("node") < 1000),
        deep.select(col("node"), expr("node div 100").as("parent")),
        deep)                                            // corrective move
      val upserted = incs.foldLeft(emptyClosure(spark)) { (cl, inc) =>
        hierarchyApply(cl, inc).localCheckpoint()
      }
      // delete wave: retire a whole level-1 layer (nodes under root 3 —
      // subtree removal takes their descendants too), then re-insert the
      // layer from the changelog; converges back to the full forest, so
      // the oracle stays q32Sql VERBATIM while the serve path exercises
      // DELETE maintenance at fixture scale, not just in spec
      val retired = all.filter(col("node") >= 30 && col("node") < 40)
        .select(col("node"))
      val afterDelete = hierarchyDelete(upserted, retired).localCheckpoint()
      val reinserts = all.join(afterDelete.select(col("node")),
        Seq("node"), "left_anti")
      hierarchyApply(afterDelete, reinserts).localCheckpoint()
    }

  val q32bIncrHierarchy: Q = (spark, dir) =>
    stagedIncrHierarchy(spark, dir).orderBy(col("node"))

  /** The registered instance: a synthetic decimal forest over customers
    * (parent(k) = k DIV 10, roots k < 10 — depth ≈ log10(maxkey), so the
    * doubling converges in ~3 rounds at any SF).
    */
  val q32Hierarchy: Q = (spark, dir) =>
    hierarchyPaths(Tables.customer(spark, dir).select(
        col("c_custkey").as("node"),
        when(col("c_custkey") < 10, lit(null).cast("long"))
          .otherwise(expr("c_custkey DIV 10")).as("parent")))
      .orderBy(col("node"))
  val q32Sql: String =
    """WITH RECURSIVE base AS (
      | SELECT c_custkey AS node,
      |  CASE WHEN c_custkey < 10 THEN NULL ELSE c_custkey // 10 END AS parent
      | FROM customer),
      |walk AS (
      | SELECT node, node AS root, CAST(0 AS BIGINT) AS depth,
      |  CAST(node AS VARCHAR) AS path
      | FROM base WHERE parent IS NULL
      | UNION ALL
      | SELECT b.node, w.root, w.depth + 1, w.path || '/' || CAST(b.node AS VARCHAR)
      | FROM base b JOIN walk w ON b.parent = w.node)
      |SELECT node, root, depth, path FROM walk ORDER BY node""".stripMargin

  // ------------------------------------------------------- Q34 PageRank
  /** Q34 — PageRank over the customer–supplier co-purchase graph (edges =
    * distinct (custkey, suppkey) pairs through orders×lineitem,
    * symmetrized so suppliers are not sinks; node ids disambiguated as
    * custkey·2 / suppkey·2+1): the canonical iterative graph-analytics
    * workload, run in EXACT INTEGER arithmetic so the result is
    * engine-portable — rank mass lives in nano-units (`scale` total),
    * each node's contribution is `rank_u div deg`, the damping update is
    * `(scale div n)·15 div 100 + Σin·85 div 100`, and every per-node sum
    * is BIGINT addition (order- and partition-invariant; the tiny mass
    * leaked by integer division is identical in both engines). The
    * oracle unrolls the same three iterations as MATERIALIZED CTEs.
    *
    * Scale: per iteration ONE shuffle join keyed by node plus a
    * map-side-combined sum — the standard Pregel-on-DataFrames shape
    * with no driver-side graph state; the node count is read once from
    * the materialized degree table and folded into the plan as a
    * literal; output is top-k via TakeOrderedAndProject. (GraphX/
    * GraphFrames express the same loop; declaring it as joins keeps
    * Catalyst in charge of the physical plan.)
    */
  val prIters = 3
  val prScale = 1000000000000L
  val prTopK = 50
  def pageRank(edgesIn: DataFrame, iters: Int = prIters,
      scale: Long = prScale, topK: Int = prTopK,
      presymmetrized: Boolean = false,
      degIn: Option[DataFrame] = None): DataFrame = {
    // self-loops are excluded from the graph semantics EVERYWHERE — here,
    // in the x7q in-plan fold, in the T32 durable store
    // (Streams.graphEdgesBatch), in the q34Sql oracle's e CTE, and in the
    // spec's sequential pageRankRef — so the batch plan, the inline fold,
    // the store-served path, and both references agree on the edge set
    // even if an input batch ever carries src = dst (the fixtures cannot:
    // parity-disjoint ids; GraphMixingSpec feeds one by hand). A degIn
    // built by any of those paths then matches by construction.
    // =!= is deliberately null-REJECTING: a NULL-endpoint edge makes the
    // predicate NULL and the row is dropped here rather than reaching the
    // degree groupBy as a phantom null node.
    val noLoop = edgesIn.filter(col("src") =!= col("dst"))
    val edges =
      if (presymmetrized) noLoop.select(col("src"), col("dst"))
      else noLoop.select(col("src"), col("dst"))
        .unionByName(noLoop.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    // degIn: a MAINTAINED out-degree table (src, deg) — must equal the
    // edge-derived counts over a SYMMETRIC edge set (the x7q store
    // guarantees this additively; the fused-iteration rewrite below
    // leans on it); passing it skips the per-session groupBy over |E|.
    // The degree table is MATERIALIZED ONCE (localCheckpoint, |V| rows):
    // the recurrence references it (edge annotation + seed + n count),
    // and without a shuffle boundary to reuse, Catalyst re-executes the
    // whole |E|-row derivation per reference — measured at sf0.1: the
    // 1.17M-row edge scan + degree aggregation ran ~13× in one q34
    // execution, ~80% of the query's task time (guide §1.2: don't
    // compute things you throw away). Checkpointing also hands the
    // planner REAL size stats, so at fixture scale the deg join
    // broadcasts (|V| rows), and at 100 TB scale — where |V| outgrows
    // the broadcast threshold — the planner falls back to sort-merge
    // against the src-clustered staged edge table with zero edge-side
    // exchange: both regimes picked from measured sizes, not hints.
    // (callers passing degIn hand in an already-materialized store —
    // checkpointing again would just copy |V| rows through one more job)
    val deg = degIn.getOrElse(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .localCheckpoint())
    // |V| as a DRIVER scalar (one count over the materialized degree
    // table) instead of a 1-row aggregate cross-joined back per
    // reference: the seed and every iteration's teleport term become
    // plan LITERALS (same BIGINT `div` arithmetic, computed once), which
    // removes iters+1 broadcast-crossjoin subtrees — and their AQE
    // stage-materialization job barriers — from the recurrence (guide
    // §1.2 / §2.4). At any scale this is one |V|-row count against an
    // already-materialized table, not data work on the driver.
    val n = deg.count()
    require(n > 0, "pageRank: empty graph (no nodes with out-edges)")
    val base = scale / n // == `scale div n`: positive BIGINT division
    val tele = base * 15 / 100
    // Each iteration is a |V|-sized contribution join plus ONE
    // edge-sized probe and one map-side-combined aggregation — two
    // joins instead of the old three: the rank-update LEFT join over
    // the full node set (and its coalesce(insum, 0)) is gone because
    // every node of `deg` receives at least one contribution per
    // iteration — the graph is symmetric (the presymmetrized contract,
    // or symmetrized above) and `deg` carries exactly the edge-derived
    // out-degrees (the documented degIn contract), so deg(v) ≥ 1 ⇒ v
    // has an out-edge ⇒ v has an in-edge ⇒ v appears as a dst with a
    // ranked src: the groupBy output spans the full node set, proven
    // hash-exact against the unchanged left-join oracle (q34Sql) and
    // the sequential reference (GraphMixingSpec). Fusing deg into the
    // edge row instead (edges⋈deg once, one join per iteration) was
    // tried and rejected by measurement: it re-probed the degree table
    // per edge row per iteration (+6 summed task-sec at sf0.1) to save
    // one |V|-sized join. Per-node contribution FIRST keeps the degree
    // lookup at |V| rows per iteration, not |E| (guide §2.3/§2.4).
    var ranks = deg.select(col("src").as("node"), lit(base).as("rank_u"))
    for (_ <- 1 to iters) {
      val perNode = ranks.withColumnRenamed("node", "src")
        .join(deg, "src")
        .select(col("src"), expr("rank_u div deg").as("c"))
      ranks = edges.join(perNode, "src")
        .select(col("dst").as("node"), col("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("insum"))
        .select(col("node"),
          (lit(tele) + expr("insum * 85 div 100")).as("rank_u"))
    }
    ranks.orderBy(col("rank_u").desc, col("node")).limit(topK)
  }

  /** Staged SYMMETRIC co-purchase edge table: the iterative consumer
    * references the edge set ~2× per iteration (contribution join +
    * degree), so without staging the orders⋈lineitem distinct re-derives
    * ~8× — the Staged convention (one producer pass per session, cheap
    * consumers) is exactly the production shape for an iterated graph.
    *
    * The staged table is HASH-PARTITIONED AND SORTED BY `src` (captured
    * through `localCheckpoint` into the LogicalRDD's outputPartitioning/
    * outputOrdering): every PageRank iteration joins the edge set and the
    * degree table on `src`, so pre-clustering the store removes the |E|
    * exchange AND the |E| sort from every iteration — the degree groupBy,
    * the contribution join, and the rank-update join all reuse the one
    * staged layout, leaving ONE |E|→|V| exchange per iteration (the
    * dst-keyed contribution sum, which no layout can remove). Guide §2.4:
    * this is the bucketed-graph layout a 100 TB deployment would persist
    * (edges bucketed by src), expressed in the session-staging form; the
    * partition count is the session's `spark.sql.shuffle.partitions`
    * (= SPARK_GRAFT_CPUS in the bench), never a hardcoded constant.
    */
  def stagedCopurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    Staged.partitioned(spark, s"copurchase_edges:$dir", Seq("src")) {
      val e0 = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // no trailing distinct: the two branches are disjoint by parity
      // (even→odd vs odd→even) and e0 is already distinct
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    }

  /** Staged out-degree table of [[stagedCopurchaseEdges]]: the |E|-row
    * degree aggregation runs once per (session, dir) instead of once per
    * query execution — the same session-materialized-view discipline as
    * the edge table itself (and the batch analogue of the x7q degree
    * store: a production deployment that persists its bucketed edge
    * table persists the degree table next to it). Consistent with the
    * staged edges BY CONSTRUCTION, which is what the fused pageRank
    * iteration's inner-join rewrite requires.
    */
  def stagedCopurchaseDeg(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"copurchase_deg:$dir") {
      stagedCopurchaseEdges(spark, dir)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    }

  val q34PageRank: Q = (spark, dir) =>
    pageRank(stagedCopurchaseEdges(spark, dir), presymmetrized = true,
      degIn = Some(stagedCopurchaseDeg(spark, dir)))

  val q34Sql: String = {
    val s = prScale
    def iter(i: Int): String =
      s"""r$i AS MATERIALIZED (
         | SELECT d.src AS node,
         |  ($s // n) * 15 // 100 + coalesce(sm.insum, 0) * 85 // 100 AS rank_u
         | FROM deg d CROSS JOIN nn
         | LEFT JOIN (SELECT e.dst AS node,
         |    CAST(sum(r.rank_u // dg.deg) AS BIGINT) AS insum
         |   FROM e JOIN r${i - 1} r ON e.src = r.node
         |   JOIN deg dg ON e.src = dg.src
         |   GROUP BY 1) sm ON d.src = sm.node)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
       |        l_suppkey * 2 + 1 AS dst
       |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 WHERE src <> dst
       |     UNION SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |     FROM e GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS MATERIALIZED (SELECT src AS node, $s // n AS rank_u
       |     FROM deg CROSS JOIN nn),
       |${(1 to prIters).map(iter).mkString(",\n")}
       |SELECT node, rank_u FROM r$prIters
       |ORDER BY rank_u DESC, node LIMIT $prTopK""".stripMargin
  }

  // -------------------------------------------- X7o triangle counting
  /** X7o — per-document TRIANGLE counts over the verified near-dup pair
    * graph: triangles are the cliqueness signal the cluster-size alarm
    * (x7l) cannot see — a size-k component can be a harmless chain (k−1
    * edges, zero triangles) or a boilerplate clique (k·(k−1)·(k−2)/6
    * triangles); high triangle density marks template families worth a
    * representative-only drop.
    *
    * Algorithm: DEGREE-ORDERED edge orientation (Suri–Vassilvitskii,
    * WWW'11): orient every edge from its (degree, id)-smaller endpoint
    * to the larger, making the orientation a DAG under a total order, so
    * each triangle has exactly one node with two out-edges and is
    * counted exactly once by the path join ab⋈bc⋈ac — and the join's
    * intermediate is bounded by Σ outdeg² = O(m^1.5) instead of a hot
    * node's deg² (the giant-clique guard; a min-id orientation would
    * put the whole clique's fan-out on its smallest id). Exact integer
    * counts; the oracle runs the identical orientation.
    */
  val x7oTriangles: Q = (spark, dir) =>
    triangleCounts(
      Text.stagedJaccardPairs(spark, dir).select(col("da"), col("db")))

  /** Per-node triangle counts for an undirected edge list (da, db),
    * da ≠ db, each edge once — see [[x7oTriangles]] for the algorithm. */
  def triangleCounts(e: DataFrame): DataFrame = {
    val dg = e.select(col("da").as("v"))
      .unionByName(e.select(col("db").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val withDeg = e
      .join(dg.select(col("v").as("da"), col("dg").as("dga")), "da")
      .join(dg.select(col("v").as("db"), col("dg").as("dgb")), "db")
    val aFirst = struct(col("dga"), col("da")) < struct(col("dgb"), col("db"))
    val ort = withDeg.select(
      when(aFirst, col("da")).otherwise(col("db")).as("src"),
      when(aFirst, col("db")).otherwise(col("da")).as("dst"))
    val tri = ort.as("ab")
      .join(ort.as("bc"), col("ab.dst") === col("bc.src"))
      .join(ort.as("ac"),
        col("ab.src") === col("ac.src") && col("bc.dst") === col("ac.dst"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"),
        col("bc.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("doc_id"))
  }

  val x7oSql: String = Text.x2cCtePrefix() + """,
      |prs AS MATERIALIZED (SELECT da, db
      |      FROM shared JOIN cnt ca ON da = ca.doc_id
      |      JOIN cnt cb ON db = cb.doc_id
      |      WHERE shared * 10 >= (ca.n + cb.n - shared) * 7),
      |dgt AS (SELECT v, CAST(count(*) AS BIGINT) AS dg FROM (
      |       SELECT da AS v FROM prs UNION ALL SELECT db AS v FROM prs)
      |      GROUP BY 1),
      |ort AS MATERIALIZED (
      |      SELECT CASE WHEN (d1.dg, da) < (d2.dg, db) THEN da ELSE db END AS src,
      |             CASE WHEN (d1.dg, da) < (d2.dg, db) THEN db ELSE da END AS dst
      |      FROM prs JOIN dgt d1 ON da = d1.v JOIN dgt d2 ON db = d2.v),
      |tri AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
      |      FROM ort ab JOIN ort bc ON ab.dst = bc.src
      |      JOIN ort ac ON ab.src = ac.src AND bc.dst = ac.dst)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
      |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
      |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------- X7p incremental triangle maintenance
  /** X7p — INCREMENTAL triangle maintenance equals batch x7o,
    * oracle-exact: the verified pair graph arrives as three increments
    * (the x7j split, `pmod(da + db, 3)`, so triangles routinely close
    * ACROSS increments) and per-document triangle counts are maintained
    * by counting only the triangles each increment CREATES
    * ([[triangleDelta]]), merged additively. A crawl increment costs the
    * wedges incident to its new edges — Σ deg over the increment's
    * endpoints — never a full-graph recount (the T17 delta discipline
    * applied to x7o). Because every triangle is created exactly once (by
    * its last-arriving edge) and destroyed exactly once (by its
    * first-retired edge — [[triangleDeleteDelta]], the mirrored rule),
    * the folded counts equal the batch count of the final edge set
    * IDENTICALLY through the fold's trailing delete + re-insert wave,
    * and the oracle is x7oSql verbatim — hash-exact, not a bound.
    */
  /** Staged x7p triangle counts: the 3-increment wedge-delta fold runs
    * ONCE per (session, sfDir) as a staged producer (bench `staging`
    * attribution); the registered query is the SERVE off the maintained
    * count store — the production refresh shape.
    */
  def stagedIncrTriangleCounts(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"x7p_tri_counts:$dir") {
      val pairs = Text.stagedJaccardPairs(spark, dir)
        .select(col("da"), col("db"))
      val seed = (pairs.limit(0).select(col("da").as("doc_id"),
          lit(0L).as("n_tri")), pairs.limit(0))
      val (counts, stored) = (0 until 3).foldLeft(seed) {
        case ((cnt, st), i) =>
          val inc = pairs.filter(pmod(col("da") + col("db"), lit(3)) === i)
          val fresh = inc.distinct()
            .join(st, Seq("da", "db"), "left_anti")
            .localCheckpoint() // read twice: wedge probe + edge-set fold
          (mergeTriangleCounts(cnt, triangleDelta(st, fresh))
              .localCheckpoint(),
            st.unionByName(fresh).localCheckpoint())
      }
      // DELETE WAVE (the q32b discipline): a crawl refresh retires a
      // deterministic slice of the pair graph — counts DECREMENT by the
      // triangles those edges participated in ([[triangleDeleteDelta]],
      // exactly-once per destroyed triangle) — then the changelog
      // re-inserts the slice through the same create rule; the fold
      // converges back to the batch counts, so the oracle stays x7oSql
      // VERBATIM while every registered x7p run exercises triangle
      // retraction at fixture scale, not just in spec.
      val retired = stored
        .filter(pmod(col("da") + col("db"), lit(7)) === 0)
        .localCheckpoint()
      val remaining = stored.join(retired, Seq("da", "db"), "left_anti")
        .localCheckpoint()
      val afterDel = mergeTriangleCounts(counts,
          triangleDeleteDelta(remaining, retired)
            .select(col("doc_id"), (-col("n_tri")).as("n_tri")))
        .localCheckpoint()
      val reinserted = retired.join(remaining, Seq("da", "db"), "left_anti")
        .localCheckpoint()
      mergeTriangleCounts(afterDel, triangleDelta(remaining, reinserted))
        // the SERVE contract: a negative maintained count is a broken
        // attribution (create and destroy must pair exactly) and
        // THROWS; a zero-count node reads as absent, identically to
        // the batch plan's emit set
        .filter(graft.functions.Guards.assertFilter(col("n_tri") >= 0L,
          "stagedIncrTriangleCounts: negative maintained triangle " +
            "count — a decrement without its matching create; the " +
            "exactly-once attribution guarantees it cannot happen"))
        .filter(col("n_tri") > 0L)
    }

  val x7pIncrTriangles: Q = (spark, dir) =>
    stagedIncrTriangleCounts(spark, dir).orderBy(col("doc_id"))

  // -------------------------------------- X7q incremental PageRank serve
  /** X7q — PageRank SERVED FROM MAINTAINED GRAPH STORES: the q34 power
    * loop run over an incrementally-folded symmetric edge store and an
    * additively-maintained degree store, instead of re-deriving the
    * orders⋈lineitem distinct on every refresh.
    *
    * Honest scope (mirrors x4t's serve-from-maintained-index pattern):
    * rank mass is NOT incrementally decomposable — one new edge can
    * shift every rank, so the iteration must re-run. What IS
    * incremental at 100 TB is the expensive part the iteration consumes
    * twice per round: the co-purchase edge join+distinct (a full
    * lineitem⋈orders pass, the dominant cost on a crawl increment) and
    * the degree table. Each increment folds NEW edges only (anti-join
    * guard, the x7p/T13 idempotent protocol — re-sent edges are no-ops)
    * and bumps degrees additively (BIGINT counts, order- and
    * split-invariant, the T31 merge rule); the serve then runs the SAME
    * fixed-iteration integer recurrence over the maintained state.
    * Result ≡ batch q34 by construction — the oracle IS q34Sql
    * verbatim, so the driver hash-checks store-served ≡ re-derived.
    *
    * The pmod(src+dst) split keys both directed rows of an undirected
    * edge into the same increment, so every increment is symmetric by
    * construction and the stored edge set stays symmetric without a
    * re-symmetrization pass.
    *
    * Bench form: the fold is a staged producer ([[stagedX7qStores]]) —
    * run once per session, attributed under `staging` — and the TIMED
    * query is the serve, exactly as a production refresh consumes a
    * store its ingest pipeline maintains continuously.
    */
  /** The x7q maintenance fold, factored out so the self-loop spec can
    * drive it with hand-built edge sets: folds a symmetric edge table in
    * `nInc` pmod increments into (edge store, degree store), then runs a
    * DELETE wave (retire a deterministic symmetric slice, append
    * negative degree deltas) followed by a re-insert wave that converges
    * back to the full graph — so every consumer of the fold passes
    * through retraction maintenance and still matches the batch oracle
    * verbatim. Only each increment's FRESH set is checkpointed (it is
    * read twice: edge fold + degree delta, and every later anti-join
    * probes it); the stores themselves stay plain unions of those
    * checkpointed leaves — flat lineage without re-materializing the
    * whole store per round (the T32 read path: degree deltas re-sum once
    * at the end, and a node swept to 0 leaves the table; negatives
    * THROW). Self-loops are excluded inside the fold — the same
    * exclusion as [[pageRank]] and the T32 store, so the maintained
    * degree store can never count an edge the serve drops.
    */
  def foldGraphStores(sym: DataFrame, nInc: Int = 3)
      : (DataFrame, DataFrame) = {
    val seed = (sym.limit(0),
      sym.limit(0).select(col("src"), lit(0L).as("deg")))
    val (inserted, insDegs) = (0 until nInc).foldLeft(seed) {
      case ((stored, degs), i) =>
        val inc = sym.filter(pmod(col("src") + col("dst"), lit(nInc)) === i)
          .filter(col("src") =!= col("dst"))
        val fresh = inc.distinct()
          .join(stored, Seq("src", "dst"), "left_anti")
          .localCheckpoint()
        (stored.unionByName(fresh),
          degs.unionByName(fresh.groupBy(col("src"))
            .agg(count(lit(1)).as("deg"))))
    }
    // DELETE WAVE (the q32b discipline, applied to the edge store): a
    // crawl refresh retires a deterministic symmetric slice of the
    // stored set — retraction removes the edge and appends NEGATIVE
    // degree deltas, additively — then the changelog re-inserts the
    // slice through the SAME fresh-only insert protocol; the fold
    // converges back to the full graph, so the serve's oracle stays
    // q34Sql VERBATIM while every registered x7q run exercises DELETE
    // maintenance at fixture scale, not just in spec. The retire
    // predicate is symmetric in (src, dst), so the store stays
    // symmetric through the wave.
    val retired = inserted
      .filter(pmod(col("src") + col("dst"), lit(7)) === 0)
      .localCheckpoint()
    val afterDel = inserted.join(retired, Seq("src", "dst"), "left_anti")
      .localCheckpoint()
    val degsAfterDel = insDegs.unionByName(
      retired.groupBy(col("src")).agg((-count(lit(1))).as("deg")))
    val reinserted = retired
      .join(afterDel, Seq("src", "dst"), "left_anti")
      .localCheckpoint()
    (afterDel.unionByName(reinserted),
      degsAfterDel.unionByName(reinserted.groupBy(col("src"))
          .agg(count(lit(1)).as("deg")))
        .groupBy(col("src")).agg(sum(col("deg")).as("deg"))
        .filter(graft.functions.Guards.assertFilter(col("deg") >= 0L,
          "foldGraphStores: negative folded degree — a delete delta " +
            "without its matching insert; the fold protocol guarantees " +
            "it cannot happen"))
        .filter(col("deg") > 0L))
  }

  /** Staged x7q stores: the 3-increment maintenance fold runs ONCE per
    * (session, sfDir) as a staged PRODUCER, so the registered query
    * times the SERVE — the fixed-iteration integer recurrence over the
    * folded stores — matching the production refresh path where store
    * maintenance is the ingest pipeline's cost, not the query's (its
    * wall time lands in the bench `staging` attribution, like
    * [[stagedCopurchaseEdges]]). The two stores are staged as SEPARATE
    * checkpoints — a production ingest pipeline materializes the edge
    * store and the degree store as distinct tables, and the combined
    * edges+degs frame the earlier rounds used made every serve-side
    * reference re-scan |E|+|V| rows and re-filter to carve out its
    * half. The edge store is laid out by `src`
    * ([[Staged.partitioned]], the [[stagedCopurchaseEdges]] rationale);
    * the |V|-row degree store is a plain checkpoint whose real size
    * stats let the planner broadcast it at fixture scale.
    */
  def stagedX7qStores(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // one fold pass feeds both entries: the first key materialized in a
    // session builds the fold; the second stages its (already computed,
    // checkpoint-fed) half without re-running the maintenance waves
    lazy val folded = foldGraphStores(stagedCopurchaseEdges(spark, dir))
    (Staged.partitioned(spark, s"x7q_stores:$dir", Seq("src"))(folded._1),
      Staged(spark, s"x7q_degs:$dir")(folded._2))
  }

  val x7qIncrPagerank: Q = (spark, dir) => {
    val (edges, deg) = stagedX7qStores(spark, dir)
    pageRank(edges, presymmetrized = true, degIn = Some(deg))
  }

  /** Per-node counts of the triangles CREATED by `newEdges` on top of
    * `stored`: a triangle closing with 1, 2, or 3 in-batch edges is
    * attributed to exactly ONE of them — its MAX new edge under the
    * canonical (da, db) total order — so the delta is exactly-once with
    * no inclusion–exclusion. Both inputs must be canonical (da < db),
    * distinct, and mutually disjoint (the caller anti-joins). Cost: the
    * wedge join fans out from the NEW edges' endpoints only —
    * O(Σ deg(ΔE endpoints)) candidates, independent of graph size for a
    * bounded increment; the stored set is probed, never re-joined with
    * itself (batch x7o's ab⋈bc self-join is what this avoids).
    */
  def triangleDelta(stored: DataFrame, newEdges: DataFrame): DataFrame = {
    val all = stored.select(col("da"), col("db"), lit(false).as("nw"))
      .unionByName(newEdges.select(col("da"), col("db"), lit(true).as("nw")))
    // adjacency in both directions, each row carrying its edge's
    // canonical key — the max-new-edge rule needs to compare edges
    val adj = all.select(col("da").as("u"), col("db").as("v"),
        col("da").as("ka"), col("db").as("kb"), col("nw"))
      .unionByName(all.select(col("db").as("u"), col("da").as("v"),
        col("da").as("ka"), col("db").as("kb"), col("nw")))
    val ab = newEdges.select(col("da").as("a"), col("db").as("b"))
    val ac = adj.select(col("u").as("a"), col("v").as("c"),
      struct(col("ka"), col("kb")).as("k_ac"), col("nw").as("nw_ac"))
    val bc = adj.select(col("u").as("b"), col("v").as("c"),
      struct(col("ka"), col("kb")).as("k_bc"), col("nw").as("nw_bc"))
    val kAb = struct(col("a").as("ka"), col("b").as("kb"))
    val tri = ab.join(ac, Seq("a")).join(bc, Seq("b", "c"))
      .filter((!col("nw_ac") || col("k_ac") < kAb) &&
        (!col("nw_bc") || col("k_bc") < kAb))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
  }

  /** Per-node counts of the triangles DESTROYED by removing `deleted`
    * from the graph `remaining ∪ deleted` — the exact mirror of the
    * create rule: a triangle is destroyed iff it contains ≥1 deleted
    * edge, and it is attributed to exactly ONE of them (its MAX deleted
    * edge under the canonical (da, db) order), so the decrement is
    * exactly-once with no inclusion–exclusion. That set is IDENTICAL to
    * "the triangles CREATED by adding `deleted` back to `remaining`",
    * so the implementation IS [[triangleDelta]] with the roles recast
    * (stored = the post-delete survivor set, new = the retired slice):
    * one attribution rule serves both directions, provably symmetric —
    * which is also what makes delete-then-reinsert a provable net
    * no-op. Caller contract as [[triangleDelta]]: canonical (da < db),
    * distinct, mutually disjoint inputs; the caller NEGATES the
    * returned counts when merging ([[mergeTriangleCounts]] sums
    * whatever sign it is given).
    */
  def triangleDeleteDelta(remaining: DataFrame,
      deleted: DataFrame): DataFrame =
    triangleDelta(remaining, deleted)

  /** Additive fold of a [[triangleDelta]] into the maintained counts —
    * the same merge rule as the T31 moments (BIGINT addition, order-
    * and split-invariant). Deltas may carry either sign (create
    * increments, [[triangleDeleteDelta]] decrements); zero-count nodes
    * are kept here so intermediate folds stay additive — the SERVE
    * filters them ([[stagedIncrTriangleCounts]]), because "in zero
    * triangles" and "absent" must read identically to the batch plan. */
  def mergeTriangleCounts(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.unionByName(delta).groupBy(col("doc_id"))
      .agg(sum(col("n_tri")).as("n_tri"))

  val queries: Map[String, Q] = Map(
    "q32_hierarchy" -> q32Hierarchy,
    "q32b_incr_hierarchy" -> q32bIncrHierarchy,
    "q34_pagerank" -> q34PageRank,
    "x7o_triangles" -> x7oTriangles,
    "x7p_incr_triangles" -> x7pIncrTriangles,
    "x7q_incr_pagerank" -> x7qIncrPagerank,
    "x7_neardup_clusters" -> x7NeardupClusters,
    "x7l_cluster_stats" -> x7lClusterStats,
    "x7f_dedup_apply" -> x7fDedupApply,
    "x7m_containment_apply" -> x7mContainmentApply,
    "x7n_dedup_lineage" -> x7nDedupLineage,
    "x7j_incr_clusters" -> x7jIncrClusters)

  val oracle: Map[String, String] = Map(
    "q32_hierarchy" -> q32Sql,
    "q32b_incr_hierarchy" -> q32Sql,
    "q34_pagerank" -> q34Sql,
    "x7o_triangles" -> x7oSql,
    "x7p_incr_triangles" -> x7oSql,
    "x7q_incr_pagerank" -> q34Sql,
    "x7_neardup_clusters" -> x7Sql,
    "x7l_cluster_stats" -> x7lSql,
    "x7f_dedup_apply" -> x7fSql,
    "x7m_containment_apply" -> x7mSql,
    "x7n_dedup_lineage" -> x7nSql,
    "x7j_incr_clusters" -> x7Sql)
}
