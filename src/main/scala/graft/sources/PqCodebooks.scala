package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Per-subspace RETRAINED product-quantization sub-codebooks, trained once
  * per corpus and persisted: the standard PQ trainer (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search" §III — k-means run
  * independently in each subspace) where q58's codebooks are mere 8-dim
  * slices of the full-vector label centroids. Slicing is cheap but
  * optimizes nothing per subspace; one Lloyd refinement inside each
  * subspace re-centers every sub-codeword on the vectors it actually
  * quantizes, which is where PQ's distortion budget is decided (the
  * round-15 whitening→PQ A/B in SCALE.md motivated this: whitening could not
  * pay precisely because the codebooks were affine images, not retrained).
  *
  * Training (mirrored CTE-for-CTE in q92's oracle):
  *   1. warm start: sub-codebook `sub` = dims [8·sub, 8·sub+8) of the
  *      persisted label-centroid table c0 ([[IvfCentroids]]);
  *   2. assign: every (vector, sub) pair to its nearest warm sub-codeword
  *      (sequential-fold squared L2 over the slice, ties to the smaller
  *      label — one map-only pass computing all 8 codes per row);
  *   3. re-center: each (sub, code) cell's new 8-dim centroid is the
  *      decimal-exact element-wise mean of its members' slices (Sum128
  *      over scale-9 nanos — KMeans.centroids' discipline — so the values
  *      are order-independent under shuffles and bit-identical to the
  *      oracle's sum(DECIMAL(18,9))/count).
  *
  * Plan shape at 100 TB: step 2 is a map over the corpus (broadcast-sized
  * warm codebook, k·dim doubles); step 3 posexplodes to (pos, v) rows but
  * partial-aggregates into M·k·D = 640 (sub, code, idx) cells map-side, so
  * the shuffle moves ~640 rows per partition regardless of corpus size.
  * Like the IVF codebook, the trained table is an ingest-time fact: a
  * delta append encodes against the HELD-FIXED codebook (re-training would
  * silently re-shape every stored code — that is an explicit rebuild via
  * the stamp, never a refresh).
  *
  * A (sub, label) cell that attracts no members in step 2 simply has no
  * row — both engines then encode against the surviving cells only.
  */
object PqCodebooks {

  /** Bump when the training derivation changes (warm start, refinement
    * depth, subspace geometry).
    */
  private val Version = "v1"

  /** Subspace geometry — must match q58/q92's packing (8 subspaces of 8
    * dims; 4-bit code fields require labels < 16).
    */
  val M = 8
  val D = 8

  /** Per subspace: (code label, 8-dim centroid), sorted by label. */
  type SubTable = Seq[Seq[(Long, Seq[Double])]]

  private val cache = SessionMemo.track(scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), SubTable])(_._1)

  // ---- shared encode / ADC builders -------------------------------------
  // ONE definition of the packing and tie-break rules for every consumer
  // (q92, q53's pq/pqt arms, the pq_encode stage, encodeDelta):
  // a change to the 4-bit field layout, the argmin tie order, or the LUT
  // fold order edits here, not four hand-copies in lockstep.

  /** Both the 4-bit `pq_code` fields and the `qid·16+label` ADC-map keys
    * collide silently if any codeword label leaves [0,16).
    */
  def requireFourBit(cb: SubTable): Unit =
    require(cb.forall(_.forall { case (l, _) => l >= 0 && l < 16 }),
      "pq_code/adc keys pack labels into 4-bit fields; " +
        "codebook labels must be in [0,16)")

  /** Subspace `sub`'s nearest-codeword label for a vector column — the
    * native sequential-fold argmin, ties to the smaller label.
    */
  def codeCol(cb: SubTable, sub: Int,
      emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.VectorExpressions
      .nearest_centroid(emb, cb(sub), offset = sub * D)

  /** Pack already-computed per-sub code columns into the single M×4-bit
    * long (sub 0 in the low nibble).
    */
  def packCodes(code: Int => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until M).map(sub => code(sub) * lit(1L << (4 * sub)))
      .reduce(_ + _).cast("long")

  /** The packed `pq_code` column straight from a vector column (encode +
    * pack in one map-only expression tree).
    */
  def pqCodeCol(cb: SubTable,
      emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    requireFourBit(cb)
    packCodes(sub => codeCol(cb, sub, emb))
  }

  /** Subspace `sub`'s nano-quantized squared reconstruction error of the
    * 4-bit code: ‖x_sub − c(code(x_sub))‖²·10⁹ floored half-up to a long.
    * The distance to the ASSIGNED codeword, recomputed as an
    * ascending-index double fold — the q106 distortion meter's per-cell
    * term, shared with its streaming maintenance twin (one definition of
    * "distortion", like the encode/ADC builders above). Works for any
    * codebook family with this subspace geometry (sliced or trained).
    */
  def errN9Col(cb: SubTable, sub: Int,
      emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val code = codeCol(cb, sub, emb).cast("long")
    val cent = element_at(
      typedLit(cb(sub).map { case (l, c) => l -> c }.toMap), code)
    val diffs = zip_with(slice(emb, sub * D + 1, D), cent,
      (x, c) => (x.cast("double") - c) * (x.cast("double") - c))
    floor(aggregate(diffs, lit(0.0), (a, v) => a + v) * lit(1e9) + lit(0.5))
      .cast("long")
  }

  /** Per-sub query LUT: the query slice's dot with every codeword, as a
    * sequential double fold — bit-identical to the oracle's
    * list_dot_product over identical doubles.
    */
  def queryLut(cb: SubTable, qv: Int => Double): Seq[Seq[Double]] =
    (0 until M).map { sub =>
      cb(sub).map { case (_, c) =>
        var acc = 0.0
        var i = 0
        while (i < D) { acc += qv(sub * D + i) * c(i); i += 1 }
        acc
      }
    }

  /** Per-sub ADC lookup maps over a query set, keyed `qid·16 + label`
    * (label domains can differ per sub — a refined cell with no members
    * has no codeword).
    */
  def adcMaps(cb: SubTable,
      lutsByQ: Seq[(Long, Seq[Seq[Double]])]): Seq[org.apache.spark.sql.Column] = {
    requireFourBit(cb)
    (0 until M).map { sub =>
      val labels = cb(sub).map(_._1)
      map_from_arrays(
        lit(lutsByQ.flatMap { case (qid, _) => labels.map(l => qid * 16 + l) }.toArray),
        lit(lutsByQ.flatMap { case (_, luts) => luts(sub) }.toArray))
    }
  }

  /** The ADC score: per-sub map lookups folded in FIXED subspace order
    * (IEEE-deterministic, mirrors the oracle's ordered sum).
    */
  def adcCol(maps: Seq[org.apache.spark.sql.Column],
      qid: org.apache.spark.sql.Column,
      code: Int => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until M).foldLeft(lit(0.0)) { (acc, sub) =>
      acc + element_at(maps(sub), qid * 16 + code(sub))
    }

  def layoutPath(dir: String): String =
    DerivedLayout.layoutPath("pqcb", Version, dir, Seq(s"$dir/embeddings.parquet"))

  /** Append-delta encoding: delta vectors packed against THIS corpus's
    * HELD-FIXED sub-codebooks — the PQ complement of
    * [[IvfCentroids.assignDelta]] (re-training on the grown corpus would
    * silently re-shape every stored code, so that is an explicit rebuild
    * via the stamp, never a refresh). Map-only over the broadcast-sized
    * codebooks: the input frame plus a packed `pq_code` long.
    */
  def encodeDelta(spark: SparkSession, dir: String,
      delta: org.apache.spark.sql.DataFrame,
      embCol: String = "embedding"): org.apache.spark.sql.DataFrame =
    delta.withColumn("pq_code", pqCodeCol(apply(spark, dir), col(embCol)))

  def apply(spark: SparkSession, dir: String): SubTable = {
    val target = layoutPath(dir)
    SessionMemo.cachedStamped(cache, spark, target)({
      import org.apache.spark.sql.graft.SumExpressions.{decimal9_nanos, sum128Nanos}
      val df = DerivedLayout(spark, target) { tmp =>
        val emb = graft.Tables(spark, dir, "embeddings")
        val (c0, _) = IvfCentroids(spark, dir)
        val warm: SubTable = (0 until M).map(sub =>
          c0.map { case (l, c) => (l, c.slice(sub * D, sub * D + D)) })
        // all 8 warm codes per row in one map pass (native argmin per sub)
        val coded = emb.select(
          col("embedding"),
          array((0 until M).map(sub =>
            org.apache.spark.sql.graft.VectorExpressions
              .nearest_centroid(col("embedding"), warm(sub), offset = sub * D)): _*)
            .as("codes"))
        // one aggregation re-centers every cell: (pos, v) → (sub, code, idx)
        coded
          .select(col("codes"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select((col("pos") / D).cast("int").as("sub"),
            pmod(col("pos"), lit(D)).as("idx"),
            element_at(col("codes"), (col("pos") / D).cast("int") + 1).as("code"),
            col("v"))
          .groupBy(col("sub"), col("code"), col("idx"))
          .agg((sum128Nanos(decimal9_nanos(col("v").cast(DoubleType)))
            .cast(DoubleType) / count(lit(1))).as("m"))
          .groupBy(col("sub"), col("code"))
          .agg(expr("transform(array_sort(collect_list(struct(idx, m))), s -> s.m)")
            .as("centroid"))
          .select(col("sub").cast("int").as("sub"),
            col("code").cast("long").as("c_label"), col("centroid"))
          .write.mode("overwrite").parquet(tmp)
      }
      val rows = df.select("sub", "c_label", "centroid").collect()
      (0 until M).map(sub => rows.filter(_.getInt(0) == sub)
        .map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1).toSeq)
    })
  }
}
