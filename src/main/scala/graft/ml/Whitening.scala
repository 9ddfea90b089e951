package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** PCA whitening for embedding columns — the rotation-sensitive
  * preprocessing step a quantization tier (q58 PQ, q85 SQ8) runs before
  * coding: decorrelate and rescale so every dimension carries unit
  * variance, which is where product quantizers get their advertised
  * distortion. Distributed/driver split mirrors the rest of graft.ml:
  *
  *   - the corpus pass is q90's second-moment aggregate (O(d²) shuffle
  *     cells, O(d²) driver state) plus q26's exact mean;
  *   - the d×d symmetric eigensolve runs on the DRIVER (cyclic Jacobi —
  *     deterministic, no native library), exactly like the k-means
  *     codebook or the BPE merge table: model-sized math stays local;
  *   - the whitening transform is map-only column arithmetic — d
  *     codegen'd FloatVectorDot rows against literal matrix rows, the
  *     same broadcast-as-literal shape as the softmax head — so it runs
  *     unchanged over batch or streaming frames.
  *
  * Measured payoff (SCALE.md §"Round 15", both warm and
  * RETRAINED sub-codebooks): whitening before PQ is NOT a systematic
  * win on this corpus — with retrained codebooks in both spaces,
  * sf0.01 whitened-trained wins (0.8625 vs 0.6875 recall@10) but
  * sf0.1 loses (0.3625 vs 0.4875) at equal read budget (full numbers
  * in SCALE.md). Retraining itself pays in every arm — that path is
  * [[graft.sources.PqCodebooks]]/q92; treat `whiten` as opt-in
  * preprocessing, not a default stage before `quantize`.
  */
object Whitening {

  /** Corpus (mean, covariance) from one distributed pass each: the q26
    * exact element-wise mean and q90's moment cells, combined as
    * cov = E[vvᵀ] − μμᵀ on the driver.
    */
  def meanAndCovariance(emb: DataFrame, featCol: String = "embedding")
      : (Array[Double], Array[Array[Double]]) = {
    val d = emb.select(size(col(featCol))).head().getInt(0)
    val vm = udaf(new graft.agg.VectorMean(d))
    val mean = emb.agg(vm(col(featCol))).head().getSeq[Double](0).toArray
    // q90's shared moment aggregate — one implementation of the moment pass
    // (r22: MomentCellsAgg partial vectors, no per-term explode)
    val cells = emb
      .agg(org.apache.spark.sql.graft.MomentCellsAgg
        .moment_cells(col(featCol), wide = false).as("mc"))
      .select(explode(col("mc")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        col("c.n").as("n"), col("c.s_n9").as("s"))
      .collect()
    val cov = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val m = r.getLong(3).toDouble / 1e9 / r.getLong(2)
      val c = m - mean(i) * mean(j)
      cov(i)(j) = c
      cov(j)(i) = c
    }
    (mean, cov)
  }

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi
    * rotations: returns (eigenvalues, eigenvectors as ROWS), both sorted
    * by descending eigenvalue (ties by original index — deterministic).
    * O(d³) per sweep on the driver — model-sized work, like the k-means
    * Lloyd step over collected centroids.
    */
  def symmetricEigen(a0: Array[Array[Double]], sweeps: Int = 32)
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (sweep < sweeps && off > 1e-12) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) rotate(a, v, p, q)
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    (order.map(i => a(i)(i)).toArray, order.map(i => v.map(_(i))).toArray)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  private def rotate(a: Array[Array[Double]], v: Array[Array[Double]],
      p: Int, q: Int): Unit = {
    val d = a.length
    val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
    val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1)) match {
      case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1))
      case x => x
    }
    val c = 1 / math.sqrt(t * t + 1)
    val s = t * c
    var k = 0
    while (k < d) {
      val akp = a(k)(p); val akq = a(k)(q)
      a(k)(p) = c * akp - s * akq
      a(k)(q) = s * akp + c * akq
      k += 1
    }
    k = 0
    while (k < d) {
      val apk = a(p)(k); val aqk = a(q)(k)
      a(p)(k) = c * apk - s * aqk
      a(q)(k) = s * apk + c * aqk
      val vkp = v(k)(p); val vkq = v(k)(q)
      v(k)(p) = c * vkp - s * vkq
      v(k)(q) = s * vkp + c * vkq
      k += 1
    }
  }

  /** The whitening matrix W = Λ^(−1/2)·Eᵀ from a covariance:
    * W·(x − μ) has identity covariance. Eigenvalues below `floor` are
    * clamped (a rank-deficient direction must not explode).
    */
  def whiteningMatrix(cov: Array[Array[Double]], floor: Double = 1e-9)
      : Array[Array[Double]] = {
    val (vals, vecs) = symmetricEigen(cov)
    vals.zip(vecs).map { case (l, row) =>
      val s = 1.0 / math.sqrt(math.max(l, floor))
      row.map(_ * s)
    }
  }

  /** Map-only whitening transform: out[k] = dot(W_k, x − μ), expressed as
    * d codegen'd float dots against literal rows (x−μ folded in as
    * dot(W_k, x) − dot(W_k, μ), a per-row scalar constant) — batch and
    * streaming frames alike.
    */
  def whiten(df: DataFrame, mean: Array[Double], w: Array[Array[Double]],
      featCol: String = "embedding", outCol: String = "white"): DataFrame = {
    val comps: Seq[Column] = w.map { row =>
      val rowF = row.map(_.toFloat)
      val shift = row.lazyZip(mean).map(_ * _).sum
      (org.apache.spark.sql.graft.VectorExpressions
        .float_dot(col(featCol), lit(rowF)) - lit(shift)).cast(FloatType)
    }.toSeq
    df.withColumn(outCol, array(comps: _*))
  }
}
