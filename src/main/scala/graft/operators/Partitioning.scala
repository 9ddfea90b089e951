package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-layout utilities (SURVEY §2.9).
  *
  * Y2 `FixedSizePartitioner` (reference FixedSizePartitioner.scala:8-14,
  * applied CaffeOnSpark.scala:363-375): the reference keys rows by
  * zipWithIndex and assigns partition = idx / size so every partition holds
  * exactly `size` rows (training-loop alignment). Re-expressed the same way:
  * zipWithIndex numbers rows IN PARALLEL (one lightweight job collects
  * per-partition counts, then each partition numbers itself from its
  * offset — no global single-task order anywhere).
  *
  * Y1 cluster-aligned repartition and Y3 partition pruning are Catalyst
  * built-ins (`repartition(n)`, scan pruning); Y4 locality pinning is
  * intentionally dropped in favour of broadcast (SURVEY §4).
  */
object Partitioning {

  /** Exact-size partitions: every partition holds `rowsPerPartition` rows
    * (last one ragged), globally ordered by `orderCols` for determinism.
    *
    * Plan shape (every stage parallel):
    *   1. `repartitionByRange + sortWithinPartitions` — Spark's distributed
    *      total sort (range-sampled exchange, per-partition sort). NOT a
    *      `Window.orderBy` with no partitionBy, which would collapse the
    *      table into one task.
    *   2. `zipWithIndex` — per-partition offsets, reference
    *      CaffeOnSpark.scala:363-375 semantics.
    *   3. `repartitionAndSortWithinPartitions` with an identity `idx/size`
    *      partitioner (the reference's FixedSizePartitioner) — a hash
    *      `repartition(n, col)` would collide bucket keys and leave
    *      ragged/empty partitions, defeating the exact-fill guarantee.
    * The RDD hop is inherent: index-based placement is the one thing the
    * DataFrame API cannot express.
    */
  def repartitionFixedSize(df: DataFrame, rowsPerPartition: Int,
      orderCols: Seq[String]): DataFrame = {
    require(rowsPerPartition > 0)
    val sorted =
      if (orderCols.isEmpty) df
      else df.repartitionByRange(orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.map(col): _*)
    val n = df.count()
    val numParts = math.max(1, ((n + rowsPerPartition - 1) / rowsPerPartition).toInt)
    val keyed = sorted.rdd.zipWithIndex().map { case (r, i) => (i, r) }
    val placed = keyed.repartitionAndSortWithinPartitions(
      new org.apache.spark.Partitioner {
        override def numPartitions: Int = numParts
        override def getPartition(key: Any): Int =
          (key.asInstanceOf[Long] / rowsPerPartition).toInt
      })
    df.sparkSession.createDataFrame(placed.values, df.schema)
  }

  /** Y3 partition-pruned epoch scheduling (reference CaffeOnSpark.scala:
    * 284-302): split an RDD's partitions into `rounds` contiguous slices,
    * each a PartitionPruningRDD — round i trains on slice i WITHOUT
    * reshuffling. The prune dependency is narrow: each round's job
    * schedules only its own partitions; the other partitions aren't read,
    * moved, or even planned. Pair with [[repartitionFixedSize]] so every
    * slice holds the same number of equally-filled partitions (the
    * reference's cluster-aligned feed).
    */
  def roundRobinEpochs[T](rdd: org.apache.spark.rdd.RDD[T],
      rounds: Int): IndexedSeq[org.apache.spark.rdd.RDD[T]] = {
    require(rounds > 0)
    val parts = rdd.getNumPartitions
    val per = math.max(1, (parts + rounds - 1) / rounds)
    (0 until rounds).map { i =>
      org.apache.spark.rdd.PartitionPruningRDD.create(
        rdd, idx => idx >= i * per && idx < math.min((i + 1) * per, parts))
    }
  }

  /** A3 partition-size stats (CaffeOnSpark.scala:187-199): per-partition row
    * counts → (min, max, n). Used by the reference to validate feed
    * alignment before training.
    */
  def partitionSizeStats(df: DataFrame): (Long, Long, Int) = {
    val sizes = df.select(spark_partition_id().as("pid"))
      .groupBy("pid").agg(count(lit(1)).as("c"))
      .agg(min("c"), max("c"), count(lit(1)))
      .head()
    (sizes.getLong(0), sizes.getLong(1), sizes.getLong(2).toInt)
  }
}
