package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.index.PolygonLayer

/** The brute-force references against hand-computed tiny cases. */
class ReferenceSpec extends AnyFunSuite {

  private def ring(pts: (Double, Double)*): Array[Double] =
    (pts :+ pts.head).flatMap { case (x, y) => Seq(x, y) }.toArray

  // shape 0 (key 7): the square [0,10]² with the hole [4,6]²;
  // shape 1 (key 9): the square [10,20]x[0,10], sharing the edge x = 10
  private val layer = PolygonLayer.fromShapes(Seq(
    7L -> Seq(ring((0, 0), (10, 0), (10, 10), (0, 10)), ring((4, 4), (4, 6), (6, 6), (6, 4))),
    9L -> Seq(ring((10, 0), (20, 0), (20, 10), (10, 10)))))

  test("a point inside the outer ring and outside the hole is in") {
    assert(Reference.keysAt(layer, 2, 2).toSeq == Seq(7L))
  }

  test("a point inside the hole is out (even-odd parity)") {
    assert(Reference.keysAt(layer, 5, 5).isEmpty)
    assert(Reference.firstKeyAt(layer, 5, 5) == -1L)
  }

  test("boundary points count as in, on outer rings and on holes") {
    assert(Reference.keysAt(layer, 0, 5).toSeq == Seq(7L))
    assert(Reference.keysAt(layer, 4, 5).toSeq == Seq(7L))
    assert(Reference.keysAt(layer, 6, 6).toSeq == Seq(7L))
  }

  test("a point on a shared edge joins both shapes; the first key is the lower shape's") {
    assert(Reference.keysAt(layer, 10, 5).toSeq == Seq(7L, 9L))
    assert(Reference.firstKeyAt(layer, 10, 5) == 7L)
    assert(Reference.keysAt(layer, 21, 5).isEmpty)
  }

  // id 1 at the origin; ids 2, 3, 4 all at distance 1; id 5 at distance 2
  private val ids = Array(1L, 2L, 3L, 4L, 5L)
  private val xs = Array(0.0, 1.0, 0.0, -1.0, 2.0)
  private val ys = Array(0.0, 0.0, 1.0, 0.0, 0.0)

  test("kNN breaks equidistant ties by neighbour id and excludes the point itself") {
    assert(Reference.knn(ids, xs, ys, 0, 2) == Seq(2L -> 1.0, 3L -> 1.0))
    assert(Reference.knn(ids, xs, ys, 0, 4) == Seq(2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 4.0))
  }

  test("radius pairs include points exactly at the radius") {
    assert(Reference.withinRadius(ids, xs, ys, 0, 1.0) == Set(2L, 3L, 4L))
    assert(Reference.withinRadius(ids, xs, ys, 4, 1.0) == Set(2L))
  }

  test("cell ids interleave the biased column and row under the resolution") {
    // res 9: side 360/512; (0.5, 0.5) is column 0, row 0, both biased to 2^28
    assert(Reference.cellId(0.5, 0.5, 9) == ((9L << 58) | (1L << 57) | (1L << 56)))
    // column 1 sets bit 1 of the interleave, row 1 sets bit 0
    assert(Reference.cellId(0.8, 0.8, 9) == ((9L << 58) | (1L << 57) | (1L << 56) | 3L))
  }

  test("phash locations decode the column from odd bits and the row from even bits") {
    val unit = 100.0 / (1L << 26)
    assert(TileRunCheckpoint.lonLat(2L) == ((unit, 0.0)))
    assert(TileRunCheckpoint.lonLat(1L) == ((0.0, unit)))
  }
}
