package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The interval rule both streaming sessionizers share, on plain Scala
  * values: items are (start, end, n) with gap 10, and a merge keeps the
  * earlier start, the later end and the summed count, as both callers'
  * merges do.
  */
class SessionFoldSpec extends AnyFunSuite {

  private type S = (Long, Long, Int)
  private def fold(items: S*) =
    SessionFold(items, gap = 10L)(_._1, _._2) {
      case ((s, e, n), (_, e1, n1)) => (s, math.max(e, e1), n + n1)
    }

  test("an item exactly gap after the session end merges") {
    assert(fold((0L, 0L, 1), (10L, 10L, 1)) === ((Vector.empty, Some((0L, 10L, 2)))))
  }

  test("an item past the gap closes the session and opens a new one") {
    assert(fold((0L, 0L, 1), (11L, 11L, 1)) ===
      ((Vector((0L, 0L, 1)), Some((11L, 11L, 1)))))
  }

  test("an out-of-order item within gap before the held session lowers its start") {
    // held session [100, 120] of 3 items, then a late item at 95
    assert(fold((100L, 120L, 3), (95L, 95L, 1)) === ((Vector.empty, Some((95L, 120L, 4)))))
  }

  test("a late item farther than gap before the held session forms its own session") {
    assert(fold((100L, 120L, 3), (80L, 80L, 1)) ===
      ((Vector((80L, 80L, 1)), Some((100L, 120L, 3)))))
  }

  test("no items: nothing closed, nothing open") {
    assert(fold() === ((Vector.empty, None)))
  }
}
