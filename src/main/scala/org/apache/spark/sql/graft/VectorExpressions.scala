package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path.
  *
  * A Scala UDF over two Array[Float] columns deserializes both arrays into
  * boxed Seq[Float] per row; at 10^6+ candidate pairs × dim-64 that
  * allocation dominates. These expressions read the primitive `ArrayData`
  * buffers directly and participate in whole-stage codegen (`doGenCode`
  * emits a tight scalar loop), so the similarity-join hot loop stays
  * allocation-free — the "custom Expression beats UDF" rung of the
  * customization ladder (SURVEY §4 "needed customizations" item 1).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm with the same codegen properties as [[FloatVectorDot]]. */
case class FloatVectorNorm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid argmin against a driver-collected codebook: for an
  * embedding column and a broadcast-scale table of (label, centroid), emit
  * the label of the centroid minimizing squared L2 distance over
  * `embedding[offset ..< offset+len]` (len = the centroid length — `offset`
  * selects a PQ subspace; 0/full-length is plain IVF assignment).
  *
  * Bit-identical BY CONSTRUCTION to the compose form it replaces
  * (`array_min` over `struct(aggregate(zip_with(slice…)), label)`,
  * property-tested in KMeansSpec): distances accumulate as the same
  * sequential left-to-right double fold of (x−c)², and ties take the
  * smaller label (Double.compare also orders NaN largest, like Spark's
  * double ordering; −0.0 can't arise from a sum of squares). The compose
  * form allocated k zip_with arrays + k structs + an array-of-structs PER
  * ROW (~80 allocations/row for the PQ encoder); this is one
  * allocation-free scalar loop inside whole-stage codegen — the "native
  * PQEncode expression" the 100-TB notes on q58 called for.
  */
case class NearestCentroid(child: Expression, labels: Array[Long],
    cents: Array[Array[Double]], offset: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(labels.length == cents.length && labels.length > 0,
    s"codebook shape: ${labels.length} labels vs ${cents.length} centroids")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(input: Any): Any =
    ExprKernels.nearestCentroid(input.asInstanceOf[ArrayData], labels, cents, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val labelsRef = ctx.addReferenceObj("labels", labels, "long[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.ExprKernels.nearestCentroid($c, $labelsRef, $centsRef, $offset)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Caffe-transformer input normalization — P10's scale-multiply +
  * mean-subtract half (reference FloatDataTransformer.java:15-40 wrapping
  * Caffe's data_transformer `(value − mean) · scale`; transform_param
  * scale/mean_value/mean_file, e.g. data/lrcn_cos.prototxt:33-39):
  * `vec_normalize(x)` with the mean vector and scale riding as generated-
  * class references. mean.length == channels gives the per-channel
  * `mean_value` mode on an interleaved HWC buffer (channel = i mod
  * channels); mean.length == x.length gives the per-pixel `mean_file`
  * (corpus-mean blob) mode.
  */
case class VecNormalize(child: Expression, mean: Array[Float], scale: Float)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(mean.nonEmpty, "vec_normalize: empty mean vector")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "vec_normalize"

  override def nullSafeEval(input: Any): Any =
    ExprKernels.vecNormalize(input.asInstanceOf[ArrayData], mean, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("mean", mean, "float[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.ExprKernels.vecNormalize($c, $mRef, ${scale}f)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Codegen'd (x − mean) · scale normalization (the transformer kernel). */
  def vec_normalize(x: Column, mean: Seq[Float], scale: Float): Column =
    ExpressionUtils.column(VecNormalize(
      ExpressionUtils.expression(x), mean.toArray, scale))

  /** Codegen'd double dot product of two float-array columns. */
  def float_dot(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatVectorDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd nearest-centroid label over a driver-collected codebook. */
  def nearest_centroid(emb: Column, codebook: Seq[(Long, Seq[Double])],
      offset: Int = 0): Column =
    ExpressionUtils.column(NearestCentroid(ExpressionUtils.expression(emb),
      codebook.map(_._1).toArray, codebook.map(_._2.toArray).toArray, offset))

  /** Codegen'd L2 norm of a float-array column. */
  def float_norm(a: Column): Column =
    ExpressionUtils.column(FloatVectorNorm(ExpressionUtils.expression(a)))

  /** Cosine similarity from the codegen'd primitives. */
  def float_cosine(a: Column, b: Column): Column =
    float_dot(a, b) / (float_norm(a) * float_norm(b))
}
