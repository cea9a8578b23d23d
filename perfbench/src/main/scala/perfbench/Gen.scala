package perfbench

import java.util.SplittableRandom

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += math.pow(i + 1.0, -s); a(i) = acc; i += 1 }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf(n - 1))
    if (i >= 0) i else math.min(n - 1, -i - 1)
  }
}

object Shuffle {
  /** A seeded permutation of 0..n-1. */
  def perm(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
