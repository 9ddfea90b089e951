package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The q68 leakage-safe split relation (doc_id, cluster_id, split)
  * materialized once per source corpus and shared by its consumers: q68
  * reads it directly, q70 audits residual overlap across it, q81 measures
  * distributional drift over it. Before this layout each of those queries
  * recomputed the full split machinery — capped pair graph + pointer-jumped
  * connected components + salted hash gate — per execution (25/29/31 Spark
  * jobs each at sf0.1); a production pipeline assigns splits ONCE per
  * corpus at ingest and every downstream job reads the assignment, which
  * is exactly the shape this gives the plans.
  *
  * The stored values are EXACTLY what the inline computation produced
  * (deterministic fingerprint gate over deterministic CC labels; longs and
  * strings round-trip parquet bit-for-bit), so every oracle comparison is
  * unchanged — SplitAssignmentSpec pins layout ≡ inline equality row by
  * row. Stamping/atomicity/reaping are [[DerivedLayout]]'s; the stamp keys
  * on documents.parquet so a regenerated corpus invalidates the layout.
  *
  * Scale: |corpus| rows of (long, long, short string) — the classic
  * ingest-time derived column set you'd land next to the corpus in the
  * lake. Builds on top of [[PairGraph]] (itself stamped), so a cold build
  * is pair-graph + CC once, and every later consumer is a parquet scan.
  */
object SplitAssignment {

  /** Encodes the split semantics (strong-edge jaccard ≥ 0.5 clusters,
    * 80/10/10 salted gate). Bump when
    * [[graft.queries.DedupOps.leakageSafeSplitFrame]] changes behavior.
    * v2: builds from the [[ClusterAssignment]] layout's strong labels
    * (identical values — min-label CC's fixpoint is unique — but the
    * cluster job now runs in the layout layer, once per corpus).
    */
  private val Version = "v2"

  def layoutPath(dir: String): String =
    DerivedLayout.layoutPath("split", Version, dir, Seq(s"$dir/documents.parquet"))

  def apply(spark: SparkSession, dir: String): DataFrame =
    DerivedLayout(spark, layoutPath(dir)) { tmp =>
      graft.queries.DedupOps.leakageSafeSplitFrame(spark, dir)
        .write.mode("overwrite").parquet(tmp)
    }
}
