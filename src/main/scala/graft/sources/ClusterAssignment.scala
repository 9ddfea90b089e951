package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The near-dup CLUSTER LABELS (doc_id, cluster_full, cluster_strong)
  * materialized once per source corpus — the layer between the
  * [[PairGraph]] pair relation and every consumer that needs components
  * rather than pairs. Before this layout q62, q63, q101 and the
  * SplitAssignment build each re-ran pointer-jumped connected components
  * ([[graft.operators.Components]]) over PairGraph at query time — the
  * suite's three slowest Spark rows (1.4/1.1/1.0 s, 25 jobs for q101 at
  * sf0.1) were all that recomputation. A production dedup pipeline runs
  * the cluster job ONCE per corpus and lands the labels next to the pair
  * graph; every downstream stage (canonicalization, split assignment,
  * ROI accounting) is then a scan plus small joins, which is exactly the
  * shape this gives the plans — the [[SplitAssignment]] precedent (its
  * consumers went 25/29/31 jobs → 3/8/9) applied one layer down.
  *
  * Two label columns because the suite deliberately exposes BOTH graphs:
  * `cluster_full` labels components of the full PairGraph (jaccard ≥
  * 0.06 — q62's raw transitive structure readout), `cluster_strong`
  * labels components of the jaccard ≥ [[StrongJaccard]] slice (the
  * deliverable threshold q63/q68/q101 canonicalize at; null for a doc in
  * no strong pair). Strong components refine full components, but the
  * labels are independent fixpoints, so both are stored.
  *
  * The stored values are EXACTLY what the inline computation produced —
  * min-label CC has a unique fixpoint (component minimum), longs
  * round-trip parquet bit-for-bit — so every oracle comparison is
  * unchanged; ClusterAssignmentSpec pins layout ≡ inline row by row.
  * Stamping/atomicity/reaping are [[DerivedLayout]]'s; the stamp keys on
  * documents.parquet so a regenerated corpus invalidates the layout.
  *
  * Scale: |docs-in-any-pair| rows of three longs — bounded by the
  * DfCap'd pair relation's node set, orders of magnitude smaller than
  * the corpus. A cold build is PairGraph (itself stamped, built from the
  * postings layout) + two O(log diameter) CC runs; every later consumer
  * is a parquet scan.
  */
object ClusterAssignment {

  /** The canonicalization threshold shared by q63/q68/q98/q101 — ONE
    * definition of "strong near-dup" across the suite (see q63's
    * threshold-hygiene note: clustering the full 0.06 graph chains 498
    * of 500 docs into one component; the deliverable thresholds first).
    */
  val StrongJaccard = 0.5

  /** Bump when [[graft.operators.Components.connectedComponents]] itself
    * changes behavior (the min-label CC algorithm).
    */
  // cc1 across plan rewrites: the fixpoint is unique, labels bit-identical
  private val Algo = "cc1"

  /** Structural version stamp: the CC algo version, the strong-slice
    * threshold, and the FULL upstream [[PairGraph]] tag — which itself
    * folds in the jaccard floor and ShinglePostings' grammar/cap tag. A
    * semantic change ANYWHERE in the derivation chain (DfCap, shingle
    * grammar, pair floor, strong threshold, CC algo) therefore mints a
    * fresh layout path with no hand bump — the r17 ADVICE fix: the old
    * manual `Version = "v1"` served stale labels if PairGraph's
    * semantics changed without a human remembering to bump it here. The
    * parameters exist so LayoutStampSpec can prove the invalidation is
    * structural; production callers use the defaults.
    */
  private[graft] def versionTag(
      upstream: String = PairGraph.versionTag(),
      strong: Double = StrongJaccard): String =
    s"$Algo.s$strong.$upstream"

  def layoutPath(dir: String): String =
    DerivedLayout.layoutPath("clusters", versionTag(), dir, Seq(s"$dir/documents.parquet"))

  def apply(spark: SparkSession, dir: String): DataFrame =
    DerivedLayout(spark, layoutPath(dir)) { tmp =>
      inlineFrame(spark, dir).write.mode("overwrite").parquet(tmp)
    }

  /** The layout's defining computation, also the spec's reference: CC
    * over the full pair graph left-joined with CC over the strong slice.
    */
  private[graft] def inlineFrame(spark: SparkSession, dir: String): DataFrame = {
    val pairs = PairGraph(spark, dir)
    val full = graft.operators.Components
      .connectedComponents(pairs.select("a", "b"))
      .select(col("id").as("doc_id"), col("component").as("cluster_full"))
    val strong = graft.operators.Components
      .connectedComponents(
        pairs.filter(col("jaccard") >= StrongJaccard).select("a", "b"))
      .select(col("id").as("doc_id"), col("component").as("cluster_strong"))
    full.join(strong, Seq("doc_id"), "left")
  }

  /** The strong-slice labels as (id, component) — the shape
    * [[graft.operators.Components.connectedComponents]] returns, for
    * consumers written against it (q63's drop set, q68's gate, q101's
    * histogram).
    */
  def strongComponents(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir)
      .filter(col("cluster_strong").isNotNull)
      .select(col("doc_id").as("id"), col("cluster_strong").as("component"))

  /** Delta refresh: build the NEW corpus's stamped label layout from the
    * OLD corpus's labels plus the pair-graph DELTA, skipping the full CC
    * re-run — the streaming `incrementalClusters` union-find discipline
    * applied to the batch layout (old components contract to single
    * nodes; CC runs over the contracted delta graph only; labels expand
    * back through the old assignment).
    *
    * EXACTNESS GUARD: appending documents is NOT edge-append-only —
    * a shingle crossing the DF cap is dropped from BOTH members'
    * fingerprint sets, so an old-old pair's jaccard can move (either
    * direction) and an old edge can VANISH from either slice, splitting
    * a component the merge path cannot split. The merge is exact iff no
    * old edge left its slice, so that is checked first (two anti-join
    * probes over the pair-sized relations); any vanished edge falls
    * back to the full inline rebuild. Either path lands the same
    * stamped dir a rebuild would (the [[ShinglePostings.refreshed]]
    * contract) — DerivedRefreshSpec pins merged ≡ rebuilt on both a
    * merge-eligible corpus and the cap-crossing corpus that forces the
    * fallback.
    */
  def refreshed(spark: SparkSession, newDir: String, oldDir: String): DataFrame =
    DerivedLayout(spark, layoutPath(newDir)) { tmp =>
      refreshFrame(spark, newDir, oldDir)._1.write.mode("overwrite").parquet(tmp)
    }

  /** The refresh computation plus which path ran (true = label merge,
    * false = full rebuild) — split out so the spec can pin path choice,
    * not just values.
    */
  private[graft] def refreshFrame(spark: SparkSession, newDir: String,
      oldDir: String): (DataFrame, Boolean) = {
    val newPairs = PairGraph(spark, newDir)
    val oldPairs = PairGraph(spark, oldDir)
    def slice(p: DataFrame, strong: Boolean): DataFrame =
      (if (strong) p.filter(col("jaccard") >= StrongJaccard) else p)
        .select("a", "b")
    def vanished(strong: Boolean): Boolean =
      slice(oldPairs, strong)
        .join(slice(newPairs, strong), Seq("a", "b"), "left_anti")
        .take(1).nonEmpty
    if (vanished(strong = false) || vanished(strong = true))
      (inlineFrame(spark, newDir), false)
    else {
      val old = apply(spark, oldDir)
      def added(strong: Boolean): DataFrame =
        slice(newPairs, strong)
          .join(slice(oldPairs, strong), Seq("a", "b"), "left_anti")
      val full = mergeLabels(
        old.select(col("doc_id").as("id"), col("cluster_full").as("component")),
        added(strong = false))
      val strongL = mergeLabels(
        old.filter(col("cluster_strong").isNotNull)
          .select(col("doc_id").as("id"), col("cluster_strong").as("component")),
        added(strong = true))
      (full.select(col("id").as("doc_id"), col("component").as("cluster_full"))
        .join(strongL.select(col("id").as("doc_id"),
          col("component").as("cluster_strong")), Seq("doc_id"), "left"), true)
    }
  }

  /** Exact label merge under the no-vanished-edges precondition: each old
    * component contracts to its label node (labels ARE the component
    * minima, and doc ids are corpus-unique, so label/new-id namespaces
    * never collide); added edges map through the contraction; min-label
    * CC over the contracted graph — which is delta-sized, not
    * corpus-sized — yields each merged component's global minimum; old
    * labels relabel through the result, previously-unlabeled endpoints
    * take their CC label directly. An added edge internal to one old
    * component contracts to a self-loop and is dropped (no label can
    * change).
    */
  private[graft] def mergeLabels(oldLabels: DataFrame,
      added: DataFrame): DataFrame = {
    val contracted = added
      .join(oldLabels.select(col("id").as("a"), col("component").as("ca")),
        Seq("a"), "left")
      .join(oldLabels.select(col("id").as("b"), col("component").as("cb")),
        Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val cc = graft.operators.Components.connectedComponents(contracted)
    val relabeled = oldLabels
      .join(cc.select(col("id").as("component"), col("component").as("newc")),
        Seq("component"), "left")
      .select(col("id"), coalesce(col("newc"), col("component")).as("component"))
    val freshNodes = added.select(col("a").as("id"))
      .unionAll(added.select(col("b").as("id"))).distinct()
      .join(oldLabels.select("id"), Seq("id"), "left_anti")
    relabeled.unionAll(freshNodes.join(cc, Seq("id")))
  }
}
