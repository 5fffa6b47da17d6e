package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Epoch, Pair}

/** `graft.Bench`'s replay decisions, as pure functions: the median-pair
  * headline, the ABBA order, the derived N, the stop rule and the
  * final-state check. No JVM is spawned.
  */
class BenchProtocolSpec extends AnyFunSuite {

  private def pair(nSec: Double, n4Sec: Double): Pair =
    Pair(Epoch(nSec, 0.0, 0.0), Epoch(n4Sec, 0.0, 0.0))

  test("the headline is the pair with the median N/4N quotient (odd K)") {
    // quotients 3.33, 4.0, 3.0: the median is the 10 s / 3 s pair
    assert(Bench.medianPair(Seq(pair(10, 3), pair(8, 2), pair(9, 3))) == ((10.0, 3.0)))
    assert(Bench.medianPair(Seq(pair(7, 2))) == ((7.0, 2.0)))
  }

  test("an even K takes the component-wise mean of the two middle pairs") {
    // quotients 2.0, 3.0, 3.5, 5.0: middle pairs (9, 3) and (7, 2)
    val ps = Seq(pair(10, 2), pair(7, 2), pair(4, 2), pair(9, 3))
    assert(Bench.medianPair(ps) == ((8.0, 2.5)))
    assert(Bench.medianPair(Seq(pair(8, 2), pair(6, 3))) == ((7.0, 2.5)))
    intercept[IllegalArgumentException](Bench.medianPair(Nil))
  }

  test("pairs alternate which side runs first (ABBA)") {
    assert((0 until 6).map(Bench.nFirst) == Seq(true, false, true, false, true, false))
  }

  test("N is a quarter of the cores, between 1 and 2") {
    assert(Bench.derivedN(4) == 1)
    assert(Bench.derivedN(8) == 2)
    assert(Bench.derivedN(32) == 2)
    assert(Bench.derivedN(1) == 1)
  }

  test("child heap and epoch size derive from memory and 4N") {
    assert(Bench.childHeapMb(16L << 20) == 16L * 1024 / 6) // 16 GiB host
    assert(Bench.childHeapMb(256L << 20) == 12L * 1024)    // capped at 12 GiB
    assert(Bench.childHeapMb(1L << 20) == 1024L)           // floored at 1 GiB
    assert(Bench.epochEvents(8, 12L * 1024) == 12000000L)  // 1.5M per 4N core
    assert(Bench.epochEvents(4, 2730L) == 2730L * 1024)    // heap-capped
  }

  test("another pair starts only while the slowest pair fits the budget") {
    assert(Bench.fitsAnotherPair(Nil, -5.0))
    val ps = Seq(pair(10, 3), pair(20, 6))
    assert(Bench.fitsAnotherPair(ps, 26.0))
    assert(!Bench.fitsAnotherPair(ps, 25.9))
  }

  test("the N and 4N final rows must agree at equal epoch depth") {
    Bench.requireSameFinalState(7, 179855L, 7, 179855L)
    val e = intercept[IllegalArgumentException](Bench.requireSameFinalState(7, 179855L, 7, 179854L))
    assert(e.getMessage.contains("parallelism changed final state after 7 epochs"))
    intercept[IllegalArgumentException](Bench.requireSameFinalState(6, 1L, 7, 1L))
  }
}
