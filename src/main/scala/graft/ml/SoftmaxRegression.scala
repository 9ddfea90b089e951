package graft.ml

import graft.agg.VectorMean
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Multi-class (softmax) companion to [[LogisticRegression]] — the
  * MULTI-OUTPUT model surface of the reference's net programs: its
  * `features`/`test` emit `SampleID` plus one `ArrayType(FloatType)`
  * column per output blob (CaffeOnSpark.scala:479, 396-418), and a
  * classification net's blobs are the k-logit layer and the k-way softmax.
  * Here: `ip1` = the k logits, `prob` = the k softmax probabilities.
  *
  * Same execution shape as the binary model: training is full-batch
  * gradient descent where each iteration is ONE `treeAggregate` pass over
  * the cached RDD — partials combine map-side, merge in a tree, and the
  * driver holds O(k·dim) state (the gradient matrix), the exact
  * communication pattern of the reference's gradient allreduce (A7)
  * without the RDMA mesh. The forward pass is pure column expressions (k
  * codegen'd FloatVectorDots + built-in exp), so features/test stay inside
  * whole-stage codegen with no RDD hop.
  *
  * Weights travel FLATTENED (class-major: `w(c*dim + i)`), so the K5
  * parquet snapshot ([[LogisticRegression.saveWeights]]) and the whole
  * JobRunner lifecycle serve both models unchanged — `dim × classes`
  * doubles is driver/broadcast scale for any linear head.
  */
class SoftmaxRegression(dim: Int, numClasses: Int,
    cfg: TrainConfig = TrainConfig()) extends Serializable {
  require(numClasses >= 2, s"softmax needs >= 2 classes, got $numClasses")

  private val k = numClasses
  private val size = k * dim

  /** M1 `train`, k-class: rows are (features, y ∈ 0..k-1). Returns the
    * flattened weight matrix.
    */
  def fit(data: RDD[(Array[Float], Double)]): Array[Double] =
    fitFrom(data, new Array[Double](size), cfg.iters)

  /** Warm-start loop: `iters` full-batch iterations from `init` — each one
    * treeAggregate pass, O(k·dim) driver state.
    */
  private def fitFrom(data: RDD[(Array[Float], Double)], init: Array[Double],
      iters: Int): Array[Double] = {
    // persist only if the caller hasn't (the validation interleave owns
    // the cache across its chunked fitFrom calls)
    val wasCached = data.getStorageLevel != StorageLevel.NONE
    val cached =
      if (wasCached) data else data.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var w = init.clone()
      var it = 0
      while (it < iters) { w = step(cached, w); it += 1 }
      w
    } finally if (!wasCached) cached.unpersist(blocking = false)
  }

  /** One full-batch gradient step — ONE treeAggregate pass: gradient
    * partials and the row count merge in a tree, so no separate count job
    * runs per warm-start window. An empty training source fails here
    * instead of dividing the gradient by zero into an all-NaN model.
    */
  private def step(cached: RDD[(Array[Float], Double)], w: Array[Double]): Array[Double] = {
    val bw = cached.sparkContext.broadcast(w)
    val (grad, n) = cached.treeAggregate((new Array[Double](size), 0L))(
      seqOp = { case ((g, cnt), (x, y)) =>
        val p = probs(bw.value, x)
        val yi = y.toInt
        // label-domain check in the hot path (two comparisons against
        // the k·dim gradient loop — negligible): an out-of-range label
        // must fail as a CONFIG error naming the value, not as an
        // opaque ArrayIndexOutOfBounds inside an executor task
        // (JobConfig validates 'classes' but cannot see the data)
        if (yi < 0 || yi >= k) throw new IllegalArgumentException(
          s"softmax label $y out of range [0, $k) — check the 'classes' " +
            "config against the data's label domain")
        var c = 0
        while (c < k) {
          val err = p(c) - (if (c == yi) 1.0 else 0.0)
          var i = 0
          while (i < dim) { g(c * dim + i) += err * x(i); i += 1 }
          c += 1
        }
        (g, cnt + 1L)
      },
      combOp = { case ((g1, c1), (g2, c2)) =>
        var i = 0
        while (i < size) { g1(i) += g2(i); i += 1 }
        (g1, c1 + c2)
      })
    bw.destroy()
    if (n == 0L) throw new IllegalArgumentException(
      "training source is empty: no rows to fit")
    val next = new Array[Double](size)
    var i = 0
    while (i < size) {
      next(i) = w(i) - cfg.lr * (grad(i) / n.toDouble + cfg.l2 * w(i))
      i += 1
    }
    next
  }

  /** M2 `trainWithValidation`, k-class: metric rows (iteration, accuracy,
    * loss) on the validation set every `validateEvery` iterations.
    */
  def fitWithValidation(
      spark: SparkSession,
      train: RDD[(Array[Float], Double)],
      validation: RDD[(Array[Float], Double)]): (Array[Double], DataFrame) = {
    val metrics = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    // same loop, validation interleaved via a sub-run per probe window:
    // fit is one treeAggregate per iteration, so running it in
    // validateEvery-sized chunks with a warm start reproduces the
    // reference's interleave without duplicating the gradient code
    val cached = train.persist(StorageLevel.MEMORY_AND_DISK)
    var w = new Array[Double](size)
    try {
      var done = 0
      while (done < cfg.iters) {
        val window = math.min(cfg.validateEvery, cfg.iters - done)
        w = fitFrom(cached, w, window)
        done += window
        val (acc, loss) = evaluate(validation, w)
        metrics += ((done, acc, loss))
      }
    } finally cached.unpersist(blocking = false)
    import spark.implicits._
    (w, metrics.toSeq.toDF("iteration", "accuracy", "loss"))
  }

  /** M3 `features`, multi-blob: (SampleID, ip1: k logits, prob: k softmax
    * probabilities) — one column expression tree, k codegen'd dots.
    */
  def features(df: DataFrame, idCol: String, featCol: String,
      weights: Array[Double]): DataFrame = {
    require(weights.length == size,
      s"weight matrix is ${weights.length} doubles, expected $k x $dim")
    val zs = (0 until k).map { c =>
      org.apache.spark.sql.graft.VectorExpressions.float_dot(col(featCol),
        lit(weights.slice(c * dim, (c + 1) * dim).map(_.toFloat)))
    }
    // numerically-stable softmax in-plan: exp(z_c - max) / Σ exp(z_j - max)
    val mx = greatest(zs: _*)
    val es = zs.map(z => exp(z - mx))
    val denom = es.reduce(_ + _)
    df.select(col(idCol).cast(StringType).as("SampleID"),
      array(zs.map(_.cast(FloatType)): _*).as("ip1"),
      array(es.map(e => (e / denom).cast(FloatType)): _*).as("prob"))
  }

  /** M4 `test`: element-wise [[VectorMean]] of each output blob, all in
    * one aggregation pass.
    */
  def test(df: DataFrame, idCol: String, featCol: String,
      weights: Array[Double]): Map[String, Seq[Double]] = {
    val means = Seq("ip1", "prob").map(name => udaf(new VectorMean(k)).apply(col(name)).as(name))
    val r = features(df, idCol, featCol, weights).agg(means.head, means.tail: _*).head()
    r.schema.fieldNames.zipWithIndex.map { case (name, i) => name -> r.getSeq[Double](i) }.toMap
  }

  /** (accuracy, mean cross-entropy loss) of `w` on `data`; prediction is
    * the argmax class (ties to the smaller class id).
    */
  def evaluate(data: RDD[(Array[Float], Double)], w: Array[Double]): (Double, Double) = {
    val (correct, loss, n) = data.map { case (x, y) =>
      val p = probs(w, x)
      if (y.toInt < 0 || y.toInt >= k) throw new IllegalArgumentException(
        s"softmax label $y out of range [0, $k) — check the 'classes' " +
          "config against the data's label domain")
      var best = 0
      var c = 1
      while (c < k) { if (p(c) > p(best)) best = c; c += 1 }
      (if (best == y.toInt) 1L else 0L,
        -math.log(math.max(p(y.toInt), 1e-15)), 1L)
    }.treeAggregate((0L, 0.0, 0L))(
      { case ((c, l, n0), (c1, l1, n1)) => (c + c1, l + l1, n0 + n1) },
      { case ((c, l, n0), (c1, l1, n1)) => (c + c1, l + l1, n0 + n1) })
    if (n == 0L) throw new IllegalArgumentException(
      "validation source is empty: no rows to score")
    (correct.toDouble / n, loss / n)
  }

  /** Stable softmax over the flattened weights for one sample. */
  private def probs(w: Array[Double], x: Array[Float]): Array[Double] = {
    val z = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      var i = 0
      val lim = math.min(dim, x.length)
      while (i < lim) { s += w(c * dim + i) * x(i); i += 1 }
      z(c) = s
      c += 1
    }
    var m = z(0)
    c = 1
    while (c < k) { if (z(c) > m) m = z(c); c += 1 }
    var denom = 0.0
    c = 0
    while (c < k) { z(c) = math.exp(z(c) - m); denom += z(c); c += 1 }
    c = 0
    while (c < k) { z(c) /= denom; c += 1 }
    z
  }
}
