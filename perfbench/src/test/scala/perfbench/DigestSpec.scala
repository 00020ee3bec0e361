package perfbench

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class DigestSpec extends AnyFunSuite {

  private val hashes = {
    val r = new Random(7)
    Vector.fill(1000)(r.nextLong())
  }

  test("the digest ignores row order") {
    val d = Digest.fold(hashes.iterator)
    assert(Digest.fold(hashes.reverse.iterator) == d)
    assert(Digest.fold(new Random(3).shuffle(hashes).iterator) == d)
  }

  test("the digest ignores how rows are split into partitions") {
    val whole = Digest.fold(hashes.iterator)
    for (n <- Seq(1, 3, 7, 64)) {
      val parts = hashes.grouped(n).map(p => Digest.fold(p.iterator))
      assert(parts.reduce(_ + _) == whole)
    }
  }

  test("the digest tells apart a changed, dropped or duplicated row") {
    val d = Digest.fold(hashes.iterator)
    assert(Digest.fold(hashes.updated(5, hashes(5) + 1).iterator) != d)
    assert(Digest.fold(hashes.tail.iterator) != d)
    assert(Digest.fold((hashes :+ hashes(0)).iterator) != d)
  }
}
