package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The input geometry the workload notes rely on. */
class WorkloadsSpec extends AnyFunSuite {

  test("shuffle_skew hotspots lie in distinct, non-neighbouring cells, 3.5 sigma inside every cell edge") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val cs = ShuffleSkew.centres(seed)
      assert(cs.length == ShuffleSkew.Hotspots)
      for (res <- 7 to 9) {
        val side = 360.0 / (1 << res)
        cs.foreach { case (x, y) =>
          Seq(x, y).foreach { v =>
            val inCell = v - math.floor(v / side) * side
            assert(math.min(inCell, side - inCell) >= 3.5 * ShuffleSkew.Sigma - 1e-9, s"seed $seed res $res at $v")
          }
        }
      }
      val cells = cs.map { case (x, y) => ((x / (360.0 / 128)).toInt, (y / (360.0 / 128)).toInt) }
      for (i <- cells.indices; j <- cells.indices if i < j) {
        val (a, b) = (cells(i), cells(j))
        assert(math.max(math.abs(a._1 - b._1), math.abs(a._2 - b._2)) >= 2, s"seed $seed: $a and $b touch")
      }
    }
  }

  test("shuffle_skew points are a function of the seed and differ between seeds") {
    val a = ShuffleSkew.centres(5L)
    val pts = (0 until 100).map(i => ShuffleSkew.point(a, 5L, 0L, i.toLong))
    assert(pts == (0 until 100).map(i => ShuffleSkew.point(ShuffleSkew.centres(5L), 5L, 0L, i.toLong)))
    assert(pts != (0 until 100).map(i => ShuffleSkew.point(ShuffleSkew.centres(6L), 6L, 0L, i.toLong)))
  }
}
