package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels

/** [[graft.functions.Kernels.hilbert2]] — proved against an
  * INDEPENDENT inverse walk (the d2xy half of the classic pair,
  * implemented here from the published algorithm, not from the
  * kernel): bijection via round-trip, the unit-step continuity that
  * is the whole point of choosing Hilbert over Z-order, and a direct
  * locality measurement against [[Kernels.interleave2]] on an
  * aligned subgrid.
  */
class HilbertSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Inverse walk (d → (x, y)) on the order-16 curve — the d2xy half
    * of the published pair; rotations here use the CURRENT level s
    * where the forward walk uses n (both forms only touch bits the
    * respective walk still reads, which is why the published pair
    * mixes them).
    */
  private def d2xy(d: Long): (Long, Long) = {
    val n = 65536L
    var x = 0L; var y = 0L; var t = d
    var s = 1L
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  test("hilbert2 round-trips through the independent inverse on " +
      "random points — the map is the true order-16 Hilbert curve") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 2000) {
      val x = rnd.nextLong() & 0xffffL
      val y = rnd.nextLong() & 0xffffL
      val d = Kernels.hilbert2(x, y)
      assert(d >= 0L && d < (1L << 32), s"key out of range: $d")
      assert(d2xy(d) == ((x, y)), s"roundtrip broke at ($x, $y) -> $d")
    }
    // corners pin the orientation convention: the curve starts at the
    // origin, and the last index round-trips like any other
    assert(Kernels.hilbert2(0, 0) == 0L)
    val (lx, ly) = d2xy((1L << 32) - 1)
    assert(Kernels.hilbert2(lx, ly) == (1L << 32) - 1)
  }

  test("unit-step continuity: consecutive keys are ALWAYS " +
      "Manhattan-1 neighbors (the property Z-order lacks)") {
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 2000) {
      val d = rnd.nextLong() & 0xffffffffL
      if (d + 1 < (1L << 32)) {
        val (x1, y1) = d2xy(d)
        val (x2, y2) = d2xy(d + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
        // and the forward kernel agrees with the inverse on both
        assert(Kernels.hilbert2(x1, y1) == d)
        assert(Kernels.hilbert2(x2, y2) == d + 1)
      }
    }
  }

  test("locality vs Z-order on an aligned 32x32 subgrid: hkey order " +
      "walks neighbors exactly; zkey order jumps at quadrant seams") {
    val cells = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    def meanStep(key: (Long, Long) => Long): Double = {
      val sorted = cells.sortBy { case (x, y) => key(x, y) }
      sorted.sliding(2).map { case Seq((x1, y1), (x2, y2)) =>
        (math.abs(x1 - x2) + math.abs(y1 - y2)).toDouble
      }.sum / (cells.size - 1)
    }
    val h = meanStep(Kernels.hilbert2)
    val z = meanStep(Kernels.interleave2)
    // Hilbert visits every aligned 2^k-square contiguously, so the
    // sorted walk is all unit steps; Z-order pays multi-cell jumps at
    // every quadrant seam
    assert(h == 1.0, s"hilbert mean step $h")
    assert(z > 1.5, s"zorder mean step $z — expected seam jumps")
  }

  test("hilbert_key is reachable through the SQL function surface " +
      "and matches the kernel") {
    val r = spark.sql(
      "SELECT hilbert_key(3, 5) AS h1, hilbert_key(0, 0) AS h2").head()
    assert(r.getLong(0) == Kernels.hilbert2(3, 5))
    assert(r.getLong(1) == 0L)
  }
}
