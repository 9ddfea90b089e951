package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The ANN coarse-quantizer codebooks, trained once per corpus and
  * persisted: `c0` (the label-mean centroid table — q58's sub-codebook
  * source, q60's outlier reference, the k-means warm start) and `c1` (one
  * Lloyd refinement of c0 — the IVF cell table q42 and the q53 meter's ivf
  * arm probe). Production ANN trains its quantizer at ingest and every
  * query loads the codebook; before this layout each of q42/q53/q58/q60
  * re-trained the same tables per execution (~0.4 s per table warm at
  * sf0.1 — SCALE.md §"Storage layout"), which at suite scale re-paid the most
  * expensive non-scan work four times per bench pass.
  *
  * The stored values are EXACTLY the tables the queries computed inline
  * (KMeans.centroids' decimal-exact means projected to double; parquet
  * round-trips doubles bit-for-bit), so every oracle comparison is
  * unchanged. k·dim doubles per table — driver/broadcast scale at any
  * corpus size. Stamping/atomicity/reaping are [[DerivedLayout]]'s.
  */
object IvfCentroids {

  /** Bump when the centroid derivation changes (k-means math, key domain,
    * refinement depth). v2: added the scale-sized tables (c0s/c1s).
    */
  private val Version = "v2"

  type Table = Seq[(Long, Seq[Double])]

  /** The IVF sizing rule, k ∝ N/cell_target: smallest k with ~[[CellTarget]]
    * vectors per cell, floored at 10 (the label-codebook's granularity) so
    * tiny corpora keep a meaningful split. Pure integer arithmetic —
    * mirrored verbatim in q74's oracle `kgeo` CTE. This is what keeps
    * within-cell pair work bounded: at k = N/target, a confined pair stage
    * costs ~N·target/2 dots total — linear in N — instead of Θ(N²/k) at
    * fixed k (SCALE.md's measured q74 slope before round 14).
    */
  private[graft] val CellTarget = 100L
  private[graft] def scaleK(n: Long): Long =
    math.max(10L, (n + CellTarget - 1) / CellTarget)

  // collected-table memo: the layout read is a tiny job, but q53 alone
  // loads the codebook on every bench run — (session, fingerprinted path)
  // keys make staleness impossible, like Tables' plan cache
  private val cache = SessionMemo.track(scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), ((Table, Table), (Table, Table))])(_._1)

  def layoutPath(dir: String): String =
    DerivedLayout.layoutPath("cent", Version, dir, Seq(s"$dir/embeddings.parquet"))

  /** (c0 label-mean table, c1 refined cell table), sorted by label like
    * [[graft.ml.KMeans.collectCentroids]].
    */
  def apply(spark: SparkSession, dir: String): (Table, Table) =
    load(spark, dir)._1

  /** The SCALE-SIZED codebook (c0s warm-start means over vec_id % k with
    * k = [[scaleK]](N), c1s its one-Lloyd refinement) — q74 SemDeDup's
    * blocking structure, sized so per-cell pair work stays bounded as the
    * corpus grows. Same layout, trained in the same ingest pass.
    */
  def scaled(spark: SparkSession, dir: String): (Table, Table) =
    load(spark, dir)._2

  /** Append-delta assignment: delta vectors assigned to THIS corpus's
    * existing c1 cells — the production IVF delta path (the codebook is
    * trained at ingest and HELD FIXED across appends; re-training it
    * would silently re-shape every stored cell, so that is an explicit
    * rebuild via the stamp, never a refresh). Map-only over the broadcast
    * codebook: (vec_id, label, embedding, cell).
    */
  def assignDelta(spark: SparkSession, dir: String,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.ml.KMeans.assignWith(delta, apply(spark, dir)._2)

  private def load(spark: SparkSession, dir: String)
      : ((Table, Table), (Table, Table)) = {
    val target = layoutPath(dir)
    SessionMemo.cachedStamped(cache, spark, target)({
      import graft.ml.KMeans
      val df = DerivedLayout(spark, target) { tmp =>
        val emb = graft.Tables(spark, dir, "embeddings")
        val k = scaleK(CorpusStats.rowCount(spark, dir))
        val c0df = KMeans.centroids(emb.withColumn("__k", col("label")), "__k")
        val c0 = KMeans.collectCentroids(c0df)
        val c0sdf = KMeans.centroids(
          emb.withColumn("__k", pmod(col("vec_id"), lit(k))), "__k")
        val c0s = KMeans.collectCentroids(c0sdf)
        def tagged(stage: String, d: org.apache.spark.sql.DataFrame) =
          d.select(lit(stage).as("stage"),
            col("c_label").cast("long").as("c_label"), col("centroid"))
        tagged("c0", c0df)
          .unionByName(tagged("c1",
            KMeans.centroids(KMeans.assignWith(emb, c0), "cell")))
          .unionByName(tagged("c0s", c0sdf))
          .unionByName(tagged("c1s",
            KMeans.centroids(KMeans.assignWith(emb, c0s), "cell")))
          .write.mode("overwrite").parquet(tmp)
      }
      val rows = df.select("stage", "c_label", "centroid").collect()
      def table(stage: String): Table = rows.filter(_.getString(0) == stage)
        .map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1).toSeq
      ((table("c0"), table("c1")), (table("c0s"), table("c1s")))
    })
  }
}
