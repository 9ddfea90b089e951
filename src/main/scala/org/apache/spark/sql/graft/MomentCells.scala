package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** q90's Gram-matrix accumulator: one long array per partition, updated IN
  * PLACE — the aggregation buffer of [[MomentCellsAgg]].
  *
  * Slot layout is COLUMN-MAJOR TRIANGULAR and d-independent: cell (i, j),
  * i <= j, lives at slot j·(j+1)/2 + i, so a row of length d fills exactly
  * slots [0, d·(d+1)/2) and RAGGED corpora compose — longer rows grow the
  * array, shorter rows touch its prefix, slot meaning never shifts. `nlen`
  * is the row-length histogram (nlen[d−1] = rows of length d) whose suffix
  * sums reproduce the groupBy twin's count(*) per cell exactly: a row
  * generates cell (i, j) iff its length exceeds j. Wide buffers interleave
  * 128-bit (lo, hi) pairs at (2·slot, 2·slot+1) with the Sum128 carry
  * identity.
  */
final class MomentBuf(val wide: Boolean) {
  var sums: Array[Long] = Array.emptyLongArray
  var nlen: Array[Long] = Array.emptyLongArray
  /** per-row float→double cache, reused across rows; never serialized */
  private var scratch: Array[Double] = Array.emptyDoubleArray

  private def grow(d: Int): Unit = {
    val t = d * (d + 1) / 2
    val width = if (wide) 2 * t else t
    if (sums.length < width) sums = java.util.Arrays.copyOf(sums, width)
    if (nlen.length < d) nlen = java.util.Arrays.copyOf(nlen, d)
    if (scratch.length < d) scratch = new Array[Double](d)
  }

  /** ANSI double→BIGINT cast discipline for the nano-quantized product —
    * the same fail-never-wrap rule as `CAST(floor(x) AS BIGINT)`.
    */
  private def ansiProductToLong(v: Double): Long = {
    if (!(v <= Long.MaxValue.toDouble && v >= Long.MinValue.toDouble))
      throw new ArithmeticException(
        s"moment_cells: nano-quantized product $v overflows BIGINT " +
          "(ANSI cast discipline: fail, never wrap)")
    v.toLong
  }

  /** Add one embedding row's upper-triangle products
    * floor(e[i]·e[j]·1e9 + 0.5), i <= j, into the slots — no allocation
    * beyond (rare) buffer growth. Narrow slots add with Math.addExact
    * (ANSI `sum(long)` semantics: fail loudly past 2^63); wide slots are
    * 128-bit with a checked hi word (fail loudly past 2^127). d = 0
    * contributes nothing — exactly the explode twin's and the oracle's
    * `unnest(range(0, 0))`.
    */
  def add(emb: ArrayData): Unit = {
    val d = emb.numElements()
    if (d == 0) return
    grow(d)
    var i = 0
    while (i < d) { scratch(i) = emb.getFloat(i).toDouble; i += 1 }
    var j = 0
    while (j < d) {
      val base = j * (j + 1) / 2
      val xj = scratch(j)
      var ii = 0
      while (ii <= j) {
        val p = ansiProductToLong(Math.floor(scratch(ii) * xj * 1.0e9 + 0.5))
        if (wide) {
          val slot = 2 * (base + ii)
          val lo = sums(slot)
          val nlo = lo + p
          var hi = Math.addExact(sums(slot + 1), p >> 63)
          if (((lo & p) | ((lo | p) & ~nlo)) < 0) hi = Math.addExact(hi, 1L)
          sums(slot) = nlo
          sums(slot + 1) = hi
        } else {
          sums(base + ii) = Math.addExact(sums(base + ii), p)
        }
        ii += 1
      }
      j += 1
    }
    nlen(d - 1) = Math.addExact(nlen(d - 1), 1L)
  }

  /** Elementwise combine of another buffer into this one (grow-to-max;
    * the other side's tail is zero-extended by construction).
    */
  def mergeFrom(o: MomentBuf): Unit = {
    grow(o.nlen.length)
    var i = 0
    if (wide) {
      while (2 * i + 1 < o.sums.length) {
        val lo = sums(2 * i)
        val v = o.sums(2 * i)
        val nlo = lo + v
        var hi = Math.addExact(sums(2 * i + 1), o.sums(2 * i + 1))
        if (((lo & v) | ((lo | v) & ~nlo)) < 0) hi = Math.addExact(hi, 1L)
        sums(2 * i) = nlo
        sums(2 * i + 1) = hi
        i += 1
      }
    } else {
      while (i < o.sums.length) {
        sums(i) = Math.addExact(sums(i), o.sums(i))
        i += 1
      }
    }
    i = 0
    while (i < o.nlen.length) {
      nlen(i) = Math.addExact(nlen(i), o.nlen(i))
      i += 1
    }
  }

  /** Finalize to (i, j, n, s_n9) struct rows in (i ASC, j ASC) order.
    * n(i, j) = rows with length > j — the suffix sum of the length
    * histogram, exactly the groupBy twin's count(*). Wide totals must fit
    * the BIGINT output column (hi is lo's sign extension), else this
    * throws — the ANSI DECIMAL→BIGINT finalization rule.
    */
  def unpack(): ArrayData = {
    val dmax = nlen.length
    val suf = new Array[Long](dmax + 1)
    var l = dmax - 1
    while (l >= 0) { suf(l) = suf(l + 1) + nlen(l); l -= 1 }
    val t = dmax * (dmax + 1) / 2
    val rows = new Array[Any](t)
    var k = 0
    var i = 0
    while (i < dmax) {
      var j = i
      while (j < dmax) {
        val slot = j * (j + 1) / 2 + i
        val s =
          if (wide) {
            val lo = sums(2 * slot)
            val hi = sums(2 * slot + 1)
            if (hi != (lo >> 63)) throw new ArithmeticException(
              "moment_cells: 128-bit cell total overflows the BIGINT " +
                "output column (ANSI cast discipline: fail, never wrap)")
            lo
          } else sums(slot)
        rows(k) = new GenericInternalRow(Array[Any](i.toLong, j.toLong, suf(j), s))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** q90's Gram-matrix aggregate as per-row IN-PLACE partial moment vectors
  * instead of per-row generated term ROWS (r22, guide §1.2 step 1 / §5).
  *
  * The explode form emitted d·(d+1)/2 (i, j, p) structs per input row —
  * 2 080 generated rows and 2 080 hash-aggregate key probes per 64-dim
  * vector, ~4.2 M generated rows per pass at sf0.1 — only to re-assemble
  * the very same fixed slot set every row touches. This aggregate keeps
  * ONE slot array per partition and each row adds its nano-quantized
  * products into it with ZERO per-row allocation: no Generate node, no
  * per-term keys, no hash probes, and the exchange carries one
  * (sums, nlen) pair per partition instead of O(d²) per-cell partial rows.
  *
  * Physicality note (r22, measured constraint): Spark 4.1's
  * AggregateCodegenSupport.supportCodegen requires every aggregation
  * buffer attribute to be an UnsafeRow-MUTABLE (fixed-width) type, so a
  * 2 080-slot buffer — ArrayType under a DeclarativeAggregate or an
  * object buffer here — can NEVER whole-stage-codegen regardless of
  * formulation (javap of AggregateCodegenSupport confirms the
  * `aggregateBufferAttributes.forall(isMutable)` gate). A declarative
  * array-rebuild variant was implemented first and measured: it pays a
  * full 16 KB array copy + allocation PER ROW to express "+=" in
  * expressions, and still lands in a non-codegen SortAggregate. The
  * TypedImperativeAggregate form does strictly less per-row work (in-place
  * adds, zero allocation); ObjectHashAggregate's object buffer is exactly
  * one MomentBuf per partition. The update arithmetic is the same either
  * way and is pinned bit-equal to the explode twin in CodegenGuardSpec.
  *
  * Exactness discipline (identical to the explode form, q90 scaladoc):
  * each product is floor(e[i]·e[j]·1e9 + 0.5) under the ANSI double→BIGINT
  * cast rule (fail, never wrap); `wide = false` accumulates with
  * Math.addExact — the ANSI `sum(long)` that throws past 2^63 — while
  * `wide = true` keeps 128-bit (lo, hi) pairs with the Sum128 carry
  * identity (exact intermediates at any corpus size, BIGINT-range-checked
  * once at finalization, matching `CAST(sum128(p) AS BIGINT)`). Addition
  * is commutative/associative on exact integers, so the result is
  * independent of partitioning and merge order — bit-identical to the
  * groupBy twin (CodegenGuardSpec pin; Sum128Spec pins narrow ≡ wide).
  *
  * Null rows are skipped (the explode twin generates nothing from a null
  * array); empty rows contribute nothing (the oracle's unnest(range(0,0))
  * — the twin's Spark form instead ERRORS on them via sequence(0, -1),
  * an ANSI quirk the aggregate deliberately does not reproduce).
  */
case class MomentCellsAgg(
    child: Expression,
    wide: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MomentBuf] with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = MomentCellsAgg.OutType
  override def nullable: Boolean = false
  override def prettyName: String = "moment_cells"

  override def createAggregationBuffer(): MomentBuf = new MomentBuf(wide)

  override def update(buf: MomentBuf, input: InternalRow): MomentBuf = {
    val e = child.eval(input)
    if (e != null) buf.add(e.asInstanceOf[ArrayData])
    buf
  }

  override def merge(buf: MomentBuf, other: MomentBuf): MomentBuf = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: MomentBuf): Any = buf.unpack()

  override def serialize(buf: MomentBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * (buf.nlen.length + buf.sums.length))
    bb.putInt(buf.nlen.length)
    bb.putInt(buf.sums.length)
    var i = 0
    while (i < buf.nlen.length) { bb.putLong(buf.nlen(i)); i += 1 }
    i = 0
    while (i < buf.sums.length) { bb.putLong(buf.sums(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MomentBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val nl = bb.getInt
    val ns = bb.getInt
    val buf = new MomentBuf(wide)
    buf.nlen = new Array[Long](nl)
    buf.sums = new Array[Long](ns)
    var i = 0
    while (i < nl) { buf.nlen(i) = bb.getLong; i += 1 }
    i = 0
    while (i < ns) { buf.sums(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MomentCellsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MomentCellsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object MomentCellsAgg {
  /** Output cell rows: (i, j, n, s_n9), all BIGINT, in (i ASC, j ASC) order. */
  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("s_n9", LongType, nullable = false))),
    containsNull = false)

  /** The upper-triangle Gram cells of a float-vector column, in one
    * aggregate: array<struct<i, j, n, s_n9>> — explode to recover the
    * groupBy twin's rows bit-exactly.
    */
  def moment_cells(c: Column, wide: Boolean): Column =
    ExpressionUtils.column(
      MomentCellsAgg(ExpressionUtils.expression(c), wide).toAggregateExpression())
}
