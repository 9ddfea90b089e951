package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions

/** Parametric sign-LSH banding — the generic candidate-pair generator
  * behind the curation stages, with the band geometry exposed because IT
  * is the scale knob. Since round 14 the banded queries (q28/q46/q86) and
  * the embed_near_dedup stage DERIVE bitsPerBand from the corpus count by
  * the policy below (floored at the historical 4×4 for tiny corpora);
  * declaring a geometry pins an operating point instead.
  *
  * Candidate volume math (measured and recorded in SCALE.md §"Measured
  * candidate slope"): pairs sharing a band key number ~ `bands · 2^-bits · N²/2`
  * for unrelated vectors — banding on a FIXED bit budget is Θ(N²) with a
  * small constant, not sub-quadratic. Keeping candidates ~linear as the
  * corpus grows requires the per-band bit depth to grow with it:
  *
  *   bitsPerBand ≈ log2(N / targetBucketSize)
  *
  * (so each (band, key) bucket holds ~targetBucketSize vectors and the
  * per-bucket pair expansion stays bounded — the exact argument behind
  * q21's DF cap, realized geometrically.) The price is recall, per the
  * sign-LSH S-curve: a pair at angle θ agrees per bit with probability
  * p = 1 − θ/π, per band with p^bits, overall 1−(1−p^bits)^bands. Deep
  * bands therefore need STRONG similarity to stay visible — at cos 0.99
  * (true near-duplicates), p ≈ 0.955 and 8-bit bands retain ~99% of pairs
  * at 1/16 the random-collision rate of 4-bit bands; at cos 0.25 (the
  * weak-similarity regime of the synthetic corpus, where no pair exceeds
  * cos 0.5) p ≈ 0.58 and anything deeper than ~4 bits loses most recall.
  * Pick the geometry for the similarity you are hunting; BandingSpec
  * demonstrates both regimes on constructed clusters.
  */
object Banding {

  private def mix64(v: Long): Long = {
    var x = v * 0x9E3779B97F4A7C15L
    x ^= (x >>> 31); x *= 0xBF58476D1CE4E5B9L; x ^= (x >>> 27)
    x
  }

  /** Deterministic integer-coefficient hyperplane family ([-9, 9], exact in
    * float and double). `familyKey` decorrelates this family from others
    * (the q34 probe family is key 0 with a plain index; any nonzero key
    * lands in a disjoint region of the mix).
    */
  def planes(nPlanes: Int, dim: Int, familyKey: Long = 0x9DL): Seq[Array[Float]] =
    Seq.tabulate(nPlanes)(j => Array.tabulate(dim)(i =>
      (java.lang.Long.remainderUnsigned(
        mix64(familyKey * 0x1000003L + j.toLong * dim + i), 19).toInt - 9).toFloat))

  /** Sign-bit bucket of an embedding column under a plane family (≤63
    * planes — the bucket rides a long).
    */
  def signBucket(emb: Column, ps: Seq[Array[Float]]): Column = {
    require(ps.length <= 63, s"sign bucket holds at most 63 planes, got ${ps.length}")
    ps.zipWithIndex.map { case (p, j) =>
      when(VectorExpressions.float_dot(emb, lit(p)) > 0d, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Distinct unordered candidate pairs (id_a < id_b) sharing at least one
    * of the `bands` band keys (each `bitsPerBand` sign bits). One shuffle
    * keyed on (band, key); the per-key pair expansion is the quadratic
    * locus the geometry above bounds.
    */
  def bandedCandidates(df: DataFrame, idCol: String, embCol: String, dim: Int,
      bands: Int, bitsPerBand: Int, familyKey: Long = 0x9DL): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bands * bitsPerBand <= 63,
      s"band geometry out of range: $bands x $bitsPerBand")
    val ps = planes(bands * bitsPerBand, dim, familyKey)
    val mask = (1L << bitsPerBand) - 1
    val withBucket = df.select(col(idCol).as("id"), signBucket(col(embCol), ps).as("bucket"))
    val bandRows = withBucket
      .select(col("id"), explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          shiftright(col("bucket"), j * bitsPerBand).bitwiseAND(mask).as("bk"))): _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bk").as("bk"))
    bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }
}
