package graft.ml

import graft.agg.VectorMean
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The reference's four dataflow programs (SURVEY §2.8 M1–M4: train,
  * trainWithValidation, test, features — CaffeOnSpark.scala:164,239,396,427)
  * rebuilt Spark-native for a linear model:
  *
  *   - the RDMA/socket gradient allreduce (A7, socket_sync.cpp:117-182)
  *     becomes `RDD.treeAggregate` — partials combine map-side, merge in a
  *     tree, and the driver holds only O(dim) state;
  *   - the executor-singleton CaffeProcessor (M6) disappears: each iteration
  *     is a pure function of (broadcast weights, partition iterator);
  *   - partition alignment + sync barriers (M8, Y1-Y3) are unnecessary
  *     because treeAggregate is itself the synchronization point;
  *   - snapshots (K5) are a Parquet write of the weight vector.
  *
  * At 100 TB the per-iteration cost is one pass over the cached training
  * RDD with O(dim) shuffle traffic per partition — the same communication
  * pattern MLlib's GradientDescent uses.
  */
final case class TrainConfig(
    lr: Double = 1.0,
    iters: Int = 50,
    l2: Double = 1e-4,
    validateEvery: Int = 10)

class LogisticRegression(dim: Int, cfg: TrainConfig = TrainConfig()) extends Serializable {

  /** M1 `train`: synchronous full-batch gradient descent. Input rows:
    * (features: Seq[Float], y: 0/1 double).
    */
  def fit(data: RDD[(Array[Float], Double)]): Array[Double] = {
    val cached =
      if (data.getStorageLevel == StorageLevel.NONE) data.persist(StorageLevel.MEMORY_AND_DISK)
      else data
    try {
      var w = new Array[Double](dim)
      var it = 0
      while (it < cfg.iters) { w = step(cached, w); it += 1 }
      w
    } finally cached.unpersist(blocking = false)
  }

  /** One full-batch gradient step — ONE treeAggregate pass: gradient
    * partials and the row count combine map-side and merge in a tree, so
    * the step needs no separate count job (n is the pass's own count).
    * An empty training source fails here, on the first pass, instead of
    * dividing the gradient by zero into an all-NaN model.
    */
  private def step(cached: RDD[(Array[Float], Double)], w: Array[Double]): Array[Double] = {
    val bw = cached.sparkContext.broadcast(w)
    val (grad, n) = cached.treeAggregate((new Array[Double](dim), 0L))(
      seqOp = { case ((g, c), (x, y)) =>
        val err = sigmoid(dot(bw.value, x)) - y
        var i = 0
        while (i < dim) { g(i) += err * x(i); i += 1 }
        (g, c + 1L)
      },
      combOp = { case ((g1, c1), (g2, c2)) =>
        var i = 0
        while (i < dim) { g1(i) += g2(i); i += 1 }
        (g1, c1 + c2)
      })
    bw.destroy()
    if (n == 0L) throw new IllegalArgumentException(
      "training source is empty: no rows to fit")
    val next = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      next(i) = w(i) - cfg.lr * (grad(i) / n.toDouble + cfg.l2 * w(i))
      i += 1
    }
    next
  }

  /** M1 variant — minibatch local SGD with per-epoch model averaging: each
    * partition steps its own replica over minibatches (the reference's
    * per-batch `solver->Step(1)` pattern, CaffeNet.cpp:707-729), and the
    * epoch boundary plays the role of the gradient allreduce — replicas are
    * count-weighted averaged into the next broadcast weights. One pass +
    * O(dim·partitions) driver traffic per epoch, no per-batch sync: the
    * communication-efficient regime for wide clusters.
    */
  def fitLocalSgd(data: RDD[(Array[Float], Double)], epochs: Int = 5,
      batchSize: Int = 64): Array[Double] =
    fitLocalSgdFrom(data, new Array[Double](dim), epochs, batchSize)

  /** Warm-start form of [[fitLocalSgd]] — the epoch-scheduler building
    * block (Y3): each partition-pruned round continues from the previous
    * round's weights, mirroring the reference's interleaved training
    * (CaffeOnSpark.scala:284-312).
    */
  def fitLocalSgdFrom(data: RDD[(Array[Float], Double)], init: Array[Double],
      epochs: Int, batchSize: Int): Array[Double] = {
    val cached =
      if (data.getStorageLevel == StorageLevel.NONE) data.persist(StorageLevel.MEMORY_AND_DISK)
      else data
    val sc = cached.sparkContext
    val lr0 = cfg.lr
    val l2 = cfg.l2
    val d = dim
    var w = init.clone()
    var epoch = 0
    while (epoch < epochs) {
      val bw = sc.broadcast(w)
      val partials = cached.mapPartitions { it =>
        val wl = bw.value.clone()
        var n = 0L
        it.grouped(batchSize).foreach { batch =>
          val g = new Array[Double](d)
          batch.foreach { case (x, y) =>
            var s = 0.0
            var i = 0
            while (i < d) { s += wl(i) * x(i); i += 1 }
            val err = 1.0 / (1.0 + math.exp(-s)) - y
            i = 0
            while (i < d) { g(i) += err * x(i); i += 1 }
          }
          var i = 0
          while (i < d) {
            wl(i) -= lr0 * (g(i) / batch.size + l2 * wl(i)); i += 1
          }
          n += batch.size
        }
        Iterator((wl, n))
      }
      // Count-weighted replica average via treeAggregate: partials combine
      // in a tree and the driver receives ONE O(dim) vector — a collect()
      // here would pull O(dim × partitions) to the driver every epoch,
      // which OOMs at real cluster widths.
      val (sumW, total) = partials.treeAggregate((new Array[Double](d), 0L))(
        seqOp = { case ((acc, tn), (wl, n)) =>
          var i = 0
          while (i < d) { acc(i) += wl(i) * n; i += 1 }
          (acc, tn + n)
        },
        combOp = { case ((a1, n1), (a2, n2)) =>
          var i = 0
          while (i < d) { a1(i) += a2(i); i += 1 }
          (a1, n1 + n2)
        })
      val denom = math.max(total, 1L).toDouble
      val next = new Array[Double](d)
      var i = 0
      while (i < d) { next(i) = sumW(i) / denom; i += 1 }
      w = next
      bw.destroy()
      epoch += 1
    }
    cached.unpersist(blocking = false)
    w
  }

  /** M2 `trainWithValidation`: interleaves fit iterations with validation
    * metric rows; returns the metrics DataFrame (schema mirrors the
    * reference's per-validation [accuracy, loss] DF,
    * CaffeOnSpark.scala:355-357) — validation data is broadcast-joined
    * implicitly by being an RDD evaluated with the current weights
    * (replacing the location-pinned UnionRDD W3/Y4 machinery).
    */
  def fitWithValidation(
      spark: SparkSession,
      train: RDD[(Array[Float], Double)],
      validation: RDD[(Array[Float], Double)]): (Array[Double], DataFrame) = {
    val cached = train.persist(StorageLevel.MEMORY_AND_DISK)
    var w = new Array[Double](dim)
    val metrics = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    try {
      var it = 0
      while (it < cfg.iters) {
        w = step(cached, w)
        if ((it + 1) % cfg.validateEvery == 0 || it == cfg.iters - 1) {
          val (acc, loss) = evaluate(validation, w)
          metrics += ((it + 1, acc, loss))
        }
        it += 1
      }
    } finally cached.unpersist(blocking = false)
    import spark.implicits._
    (w, metrics.toSeq.toDF("iteration", "accuracy", "loss"))
  }

  /** M3 `features`: forward pass emitting (SampleID, one Array[Float] column
    * per requested output blob) — schema shape of CaffeOnSpark.scala:479.
    *
    * Pure column expressions: the dot product is the repo's codegen'd
    * FloatVectorDot (weights ride in as an array literal, the
    * broadcast-equivalent for O(dim) constants), sigmoid is built-in exp —
    * the whole forward pass stays inside whole-stage codegen with no RDD
    * hop, no Row boxing, and Catalyst can prune/push around it.
    */
  def features(df: DataFrame, idCol: String, featCol: String,
      weights: Array[Double]): DataFrame = {
    val wLit = lit(weights.map(_.toFloat))
    val z = org.apache.spark.sql.graft.VectorExpressions.float_dot(col(featCol), wLit)
    df.select(col(idCol).cast(StringType).as("SampleID"), z.as("z"))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))
      .select(col("SampleID"),
        array(col("z").cast(FloatType)).as("ip1"),
        array(col("p").cast(FloatType), (lit(1.0) - col("p")).cast(FloatType)).as("prob"))
  }

  /** M4 `test`: features + element-wise VectorMean per output column
    * (CaffeOnSpark.scala:396-418), every blob's mean in ONE aggregation
    * pass. Returns blob→mean map.
    */
  def test(df: DataFrame, idCol: String, featCol: String,
      weights: Array[Double]): Map[String, Seq[Double]] = {
    val means = Seq("ip1" -> 1, "prob" -> 2).map { case (name, d) =>
      udaf(new VectorMean(d)).apply(col(name)).as(name) }
    val r = features(df, idCol, featCol, weights).agg(means.head, means.tail: _*).head()
    r.schema.fieldNames.zipWithIndex.map { case (name, i) => name -> r.getSeq[Double](i) }.toMap
  }

  def evaluate(data: RDD[(Array[Float], Double)], w: Array[Double]): (Double, Double) = {
    val (correct, loss, n) = data.map { case (x, y) =>
      val p = sigmoid(dot(w, x))
      val pred = if (p >= 0.5) 1.0 else 0.0
      (if (pred == y) 1L else 0L,
        -(y * math.log(math.max(p, 1e-15)) + (1 - y) * math.log(math.max(1 - p, 1e-15))),
        1L)
    }.treeAggregate((0L, 0.0, 0L))(
      { case ((c, l, n0), (c1, l1, n1)) => (c + c1, l + l1, n0 + n1) },
      { case ((c, l, n0), (c1, l1, n1)) => (c + c1, l + l1, n0 + n1) })
    if (n == 0L) throw new IllegalArgumentException(
      "validation source is empty: no rows to score")
    (correct.toDouble / n, loss / n)
  }

  private def dot(w: Array[Double], x: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(w.length, x.length)
    while (i < n) { s += w(i) * x(i); i += 1 }
    s
  }
  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))
}

object LogisticRegression {
  /** K5 snapshot: persist/restore weights as Parquet. */
  def saveWeights(spark: SparkSession, w: Array[Double], path: String): Unit = {
    import spark.implicits._
    w.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
  /** Restore a [[saveWeights]] snapshot in ONE job: the schema is the one
    * saveWeights writes (no inference pass), and the O(dim) rows sort on
    * the driver (no shuffle).
    */
  def loadWeights(spark: SparkSession, path: String): Array[Double] =
    spark.read.schema("idx INT, w DOUBLE").parquet(path).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
}
