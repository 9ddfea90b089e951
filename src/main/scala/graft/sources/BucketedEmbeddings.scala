package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned embedding layout: the `embeddings` table persisted
  * once as `partitionBy("bucket")` parquet, where `bucket` is the 16-bit
  * sign-LSH bucket ([[graft.queries.VectorOps.lshBucket]]). This is the
  * layout that turns the ANN probe's bucket IN-list into PARTITION PRUNING:
  * the probed scan reads only the probed directories (PartitionFilters in
  * the plan — asserted by PlanSpec), so a 4096-bucket probe against a
  * 65536-partition corpus reads ~6% of it by construction, at any scale.
  *
  * Reference analogue: LmdbRDD's key-range partitioning
  * (caffe-distri/src/main/scala/com/yahoo/ml/caffe/LmdbRDD.scala:41-95) —
  * the same store-for-the-access-pattern role, with the access pattern here
  * being bucket probes instead of key ranges.
  *
  * Scale notes: the write shuffles once on the bucket key (so each output
  * partition directory is written by one task — no small-file explosion per
  * task×bucket) and is the one-time ingest cost every ANN index pays. At
  * 100 TB, 65536 partitions of ~1.5 GB each is a healthy parquet layout;
  * at test SF the directories are small but the PLAN is the same. Stamping,
  * atomic build, and stale-layout reaping are [[DerivedLayout]]'s.
  */
object BucketedEmbeddings {

  /** Bump when the plane family or layout shape changes: stale directories
    * from older code must never serve a probe.
    */
  private val Version = "v2"

  def layoutPath(dir: String): String =
    DerivedLayout.layoutPath("emb", Version, dir, Seq(s"$dir/embeddings.parquet"))

  def apply(spark: SparkSession, dir: String): DataFrame =
    // partition-directory values type-infer as INT on read-back; consumers
    // cast the final projection to the oracle's BIGINT
    DerivedLayout(spark, layoutPath(dir)) { tmp =>
      graft.Tables(spark, dir, "embeddings")
        .withColumn("bucket", graft.queries.VectorOps.lshBucket)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    }

  /** Append-only refresh: build the NEW corpus dir's stamped layout from
    * the OLD layout's rows plus the vec_id-anti-join delta — the 16
    * plane dots run only over delta vectors (the plane family is fixed,
    * so old buckets are already correct; at 100 TB the production form
    * appends delta files into the existing partition directories, and
    * this is that move under the stamp discipline). Lands at the same
    * stamped path a full rebuild would — consumers can't observe the
    * build path; DerivedRefreshSpec pins row-set equality with a rebuild.
    * The append-only precondition is PROBED ([[DerivedLayout.appendOnly]]
    * over (vec_id, xxhash64(embedding))): a dropped/rewritten old vector would ride along as a
    * ghost row, so that case falls back to the full rebuild.
    */
  def refreshed(spark: SparkSession, newDir: String, oldDir: String): DataFrame =
    DerivedLayout(spark, layoutPath(newDir)) { tmp =>
      val out =
        if (!DerivedLayout.appendOnly(spark, newDir, oldDir, "embeddings", "vec_id", Seq("embedding")))
          graft.Tables(spark, newDir, "embeddings")
            .withColumn("bucket",
              graft.queries.VectorOps.lshBucket.cast("int"))
        else {
          val old = apply(spark, oldDir)
          val delta = graft.Tables(spark, newDir, "embeddings")
            .join(old.select("vec_id"), Seq("vec_id"), "left_anti")
            .withColumn("bucket", graft.queries.VectorOps.lshBucket)
            // read-back partition values are INT; match before the union
            .withColumn("bucket", col("bucket").cast("int"))
          old.unionByName(delta.select(old.columns.toSeq.map(col): _*))
        }
      out.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    }
}
