package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.MomentBuf
import org.scalatest.funsuite.AnyFunSuite

/** The wide (128-bit) slots of q90's Gram-matrix buffer: the hi word
  * carries like Sum128 and fails loudly instead of wrapping past 2^127.
  */
class MomentBufSpec extends AnyFunSuite {

  /** A wide buffer holding one row of length 1: slot (0, 0) = (lo, hi). */
  private def wide(lo: Long, hi: Long): MomentBuf = {
    val b = new MomentBuf(wide = true)
    b.sums = Array(lo, hi)
    b.nlen = Array(1L)
    b
  }

  test("merging wide buffers whose hi words sum past Long.MaxValue throws") {
    val a = wide(-1L, 5L) // lo = 2^64 - 1 unsigned: the merge carries
    a.mergeFrom(wide(1L, 2L))
    assert(a.sums.toSeq == Seq(0L, 8L))
    intercept[ArithmeticException](
      wide(0L, Long.MaxValue - 1).mergeFrom(wide(0L, 2L)))
    // the overflow may come from the lo-word carry alone
    intercept[ArithmeticException](
      wide(-1L, Long.MaxValue).mergeFrom(wide(1L, 0L)))
  }

  test("adding a row whose lo-word carry overflows the hi word throws") {
    val b = wide(-1L, Long.MaxValue)
    // the product floor(1·1·1e9 + 0.5) carries out of lo
    intercept[ArithmeticException](b.add(new GenericArrayData(Array[Any](1.0f))))
  }
}
