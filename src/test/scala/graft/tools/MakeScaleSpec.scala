package graft.tools

import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** `MakeScale.shiftFits`: the last copy's largest key must fit its dtype. */
class MakeScaleSpec extends AnyFunSuite {

  test("a 32-bit key whose 10th copy stays under Int.MaxValue fits") {
    // sf0.1-shaped: max 600 000, offset 1 000 000, 10 copies → 9 600 000
    assert(MakeScale.shiftFits(IntegerType, 600000L, 10, 1000000L))
  }

  test("a 32-bit key whose shifted max passes Int.MaxValue does not fit") {
    // 999 999 + 2 999 × 1 000 000 = 2 999 999 999 > 2 147 483 647
    assert(!MakeScale.shiftFits(IntegerType, 999999L, 3000, 1000000L))
    assert(MakeScale.shiftFits(LongType, 999999L, 3000, 1000000L))
  }

  test("the boundary is inclusive, and Long arithmetic cannot wrap") {
    assert(MakeScale.shiftFits(IntegerType, Int.MaxValue - 10L, 2, 10L))
    assert(!MakeScale.shiftFits(IntegerType, Int.MaxValue - 10L, 2, 11L))
    assert(!MakeScale.shiftFits(LongType, Long.MaxValue - 1L, 3, Long.MaxValue))
  }

  test("factor 1 is the identity and always fits an integral key") {
    assert(MakeScale.shiftFits(IntegerType, Int.MaxValue.toLong, 1, 1000L))
  }

  test("a non-integral key cannot carry a shift") {
    assert(!MakeScale.shiftFits(DoubleType, 10L, 2, 100L))
  }
}
