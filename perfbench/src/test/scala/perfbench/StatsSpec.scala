package perfbench

import org.scalatest.funsuite.AnyFunSuite
import Stats._

class StatsSpec extends AnyFunSuite {

  test("union merges overlapping and touching intervals and drops empty ones") {
    assert(union(Seq(Iv(5, 6), Iv(0, 2), Iv(1, 3), Iv(3, 4), Iv(7, 7))) ==
      Seq(Iv(0, 4), Iv(5, 6)))
    assert(union(Nil).isEmpty)
  }

  test("job-active time is the union of job intervals, not their sum") {
    val jobs = Seq(Iv(1, 3), Iv(2, 4), Iv(6, 7))
    assert(coveredWithin(jobs, Iv(0, 10)) == 4.0)
    assert(coveredWithin(jobs, Iv(2.5, 6.5)) == 2.0)
  }

  test("idle gaps are the window minus the jobs, and active plus idle is the window") {
    val jobs = Seq(Iv(1, 3), Iv(2, 4), Iv(6, 7))
    val w = Iv(0, 10)
    assert(gaps(jobs, w) == Seq(Iv(0, 1), Iv(4, 6), Iv(7, 10)))
    assert(gaps(jobs, w).map(_.len).sum + coveredWithin(jobs, w) == w.len)
    assert(gaps(Nil, w) == Seq(w))
    assert(gaps(Seq(Iv(-1, 11)), w).isEmpty)
  }

  test("self time subtracts only the part of the span its children cover") {
    assert(selfTime(Iv(0, 10), Seq(Iv(1, 3), Iv(2, 5))) == 6.0)
    assert(selfTime(Iv(0, 10), Seq(Iv(8, 12))) == 8.0)
    assert(selfTime(Iv(0, 10), Nil) == 10.0)
    assert(selfTime(Iv(0, 10), Seq(Iv(-5, 20))) == 0.0)
  }

  test("median of odd and even sample counts") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the tail is the highest order statistic with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = tail(xs)
    assert(t.value == 30.0 && xs.count(_ > t.value) == 10)
    assert(t.percentile == 75.0 && t.samples == 40)
    val eleven = tail((1 to 11).map(_.toDouble).reverse)
    assert(eleven.value == 1.0 && eleven.percentile == 100.0 / 11)
  }

  test("with ten or fewer samples the tail falls back to the maximum") {
    assert(tail(Seq(2.0, 9.0, 4.0)) == Tail(9.0, 100.0, 3))
    assert(tail((1 to 10).map(_.toDouble)).value == 10.0)
  }
}
