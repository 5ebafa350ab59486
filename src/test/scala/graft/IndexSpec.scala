package graft

import org.scalatest.funsuite.AnyFunSuite

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.cell.CellIndex
import graft.geom.Geom
import graft.index.PolygonLayer
import graft.tables.{SplitMix64, Synthetic}

class IndexSpec extends AnyFunSuite {

  // ------------------------------------------------------------------ cells

  test("Morton cellId round-trips for random coords incl. negatives") {
    val rng = new SplitMix64(7)
    for (_ <- 0 until 2000) {
      val x = (rng.nextDouble() - 0.5) * 720
      val y = (rng.nextDouble() - 0.5) * 360
      val res = rng.nextInt(20)
      val id = CellIndex.cellId(x, y, res)
      val (ix, iy, r) = CellIndex.decode(id)
      assert(r == res)
      val cs = CellIndex.cellSize(res)
      assert(ix == math.floor(x / cs).toLong)
      assert(iy == math.floor(y / cs).toLong)
      val (x0, y0, x1, y1) = CellIndex.cellBBox(id)
      assert(x >= x0 && x < x1 && y >= y0 && y < y1)
    }
  }

  test("grids from different extents align (global origin)") {
    // same coordinate always maps to the same cell regardless of any dataset extent
    val a = CellIndex.cellId(33.33, 44.44, 8)
    val b = CellIndex.cellId(33.33, 44.44, 8)
    assert(a == b)
    // adjacent coords right at a boundary map to adjacent cells
    val cs = CellIndex.cellSize(8)
    val id1 = CellIndex.cellId(cs * 10 - 1e-9, 0, 8)
    val id2 = CellIndex.cellId(cs * 10 + 1e-9, 0, 8)
    val (ix1, _, _) = CellIndex.decode(id1)
    val (ix2, _, _) = CellIndex.decode(id2)
    assert(ix2 == ix1 + 1)
  }

  test("neighborRing and neighborDisk sizes and membership") {
    val id = CellIndex.cellId(10, 10, 6)
    assert(CellIndex.neighborRing(id, 0).toSeq == Seq(id))
    assert(CellIndex.neighborRing(id, 1).length == 8)
    assert(CellIndex.neighborRing(id, 3).length == 24)
    assert(CellIndex.neighborDisk(id, 2).length == 25)
    val disk = CellIndex.neighborDisk(id, 1).toSet
    assert(CellIndex.neighborRing(id, 1).forall(disk.contains) && disk.contains(id))
    // all ring-k cells are at Chebyshev distance exactly k
    val (cx, cy, _) = CellIndex.decode(id)
    CellIndex.neighborRing(id, 2).foreach { n =>
      val (nx, ny, _) = CellIndex.decode(n)
      assert(math.max(math.abs(nx - cx), math.abs(ny - cy)) == 2)
    }
  }

  test("coveringCells covers a bbox") {
    val cells = CellIndex.coveringCells(1.0, 1.0, 7.0, 4.0, 7) // cs = 2.8125
    val cs = CellIndex.cellSize(7)
    assert(cells.length == (math.floor(7 / cs).toInt - 0 + 1) * (math.floor(4 / cs).toInt + 1))
  }

  // ----------------------------------------------------------- PolygonLayer

  /** Brute-force PIP reference: every ring of every shape tested with
   * `Geom.pointInRing` on the raw coordinate arrays, combined even-odd with
   * the boundary counted as in. Shares no index (grid or RingSegmentIndex)
   * with the code under test. */
  private final class BruteForce(layer: PolygonLayer) {
    private val ringsOf: Array[Array[Int]] = {
      val b = Array.fill(layer.numShapes)(Array.newBuilder[Int])
      for (r <- 0 until layer.numRings) b(layer.ringShape(r)) += r
      b.map(_.result())
    }

    /** Enclosing shape indexes, ascending. */
    def shapes(x: Double, y: Double): Seq[Int] =
      (0 until layer.numShapes).filter { s =>
        Geom.combineRings(ringsOf(s).iterator.map { r =>
          val st = layer.ringStart(r)
          Geom.pointInRing(x, y, layer.xx, layer.yy, st, layer.ringStart(r + 1) - st)
        })
      }

    /** First disagreement of findShapes/findKeys/findFirstKey with the brute
     * force at (x, y), if any. */
    def mismatch(x: Double, y: Double): Option[String] = {
      val want = shapes(x, y)
      val wantKeys = want.map(layer.shapeKeys(_))
      val wantFirst = wantKeys.headOption.getOrElse(-1L)
      val got = layer.findShapes(x, y).toSeq
      val gotKeys = layer.findKeys(x, y).toSeq
      val gotFirst = layer.findFirstKey(x, y)
      if (got != want) Some(s"findShapes($x,$y) = $got, want $want")
      else if (gotKeys != wantKeys) Some(s"findKeys($x,$y) = $gotKeys, want $wantKeys")
      else if (gotFirst != wantFirst) Some(s"findFirstKey($x,$y) = $gotFirst, want $wantFirst")
      else None
    }

    def check(x: Double, y: Double): Unit = mismatch(x, y).foreach(m => fail(m))
  }

  private def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
    Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)

  /** Every ring vertex and every segment midpoint of the layer. */
  private def boundaryProbes(layer: PolygonLayer, maxRings: Int = Int.MaxValue): Seq[(Double, Double)] =
    (0 until math.min(layer.numRings, maxRings)).flatMap { r =>
      (layer.ringStart(r) until layer.ringStart(r + 1) - 1).flatMap { i =>
        Seq((layer.xx(i), layer.yy(i)),
          ((layer.xx(i) + layer.xx(i + 1)) / 2, (layer.yy(i) + layer.yy(i + 1)) / 2))
      }
    }

  test("PolygonLayer.findShapes equals brute-force over all rings") {
    val layer = Synthetic.polygonLayer(16, seed = 5L, holeEvery = 4)
    val oracle = new BruteForce(layer)
    val rng = new SplitMix64(21)
    for (_ <- 0 until 2000) {
      val x = rng.nextDouble() * 100
      val y = rng.nextDouble() * 100
      assert(layer.findShapes(x, y).toSeq == oracle.shapes(x, y), s"($x,$y)")
    }
  }

  test("GridPipIndex: findKeys/findFirstKey/findShapes equal the brute force") {
    // several layer shapes: blobs with holes, tiny layer, single shape
    val layers = Seq(
      Synthetic.polygonLayer(16, seed = 5L, holeEvery = 4),
      Synthetic.polygonLayer(1024, seed = 42L, holeEvery = 5), // the bench layer
      Synthetic.polygonLayer(1, seed = 9L, holeEvery = 0))
    for (layer <- layers) {
      val oracle = new BruteForce(layer)
      val rng = new SplitMix64(77)
      for (_ <- 0 until 2000) {
        val x = rng.nextDouble() * 110 - 5 // includes outside-extent probes
        val y = rng.nextDouble() * 110 - 5
        oracle.check(x, y)
      }
      // NaN coords: no shapes
      oracle.check(Double.NaN, 5.0)
      oracle.check(5.0, Double.NaN)
      assert(layer.findKeys(Double.NaN, 5.0).isEmpty)
      assert(layer.findFirstKey(5.0, Double.NaN) == -1L)
      // boundary probes: ring vertices and segment midpoints are ON
      boundaryProbes(layer, maxRings = 64).foreach { case (px, py) => oracle.check(px, py) }
    }
  }

  test("GridPipIndex: degenerate layers (axis-aligned rects, shared edges, holes)") {
    // axis-aligned rectangles: zero-height/width segment bboxes lie exactly
    // on grid lines; adjacent rects share full edges; one rect has a hole
    val layer = PolygonLayer.fromShapes(Seq(
      1L -> Seq(rect(0, 0, 10, 10)),
      2L -> Seq(rect(10, 0, 20, 10)), // shares the x=10 edge with shape 1
      3L -> Seq(rect(5, 5, 15, 15)),  // overlaps both
      4L -> Seq(rect(30, 0, 50, 20), Synthetic.reverseRing(rect(35, 5, 45, 15))), // hole
      5L -> Seq(rect(40, 10, 60, 30)) // overlaps 4's hole region partially
    ))
    val oracle = new BruteForce(layer)
    val rng = new SplitMix64(99)
    for (_ <- 0 until 3000) {
      val x = rng.nextDouble() * 70 - 5
      val y = rng.nextDouble() * 40 - 5
      oracle.check(x, y)
    }
    // exact boundary/corner/shared-edge probes
    val probes = Seq(
      (10.0, 5.0),   // shared vertical edge
      (10.0, 0.0),   // shared corner
      (5.0, 5.0),    // corner of overlap
      (35.0, 5.0),   // hole boundary (boundary-as-in)
      (40.0, 10.0),  // hole interior + shape-5 corner
      (38.0, 8.0),   // inside the hole (shape 4 must NOT match)
      (0.0, 0.0), (20.0, 10.0), (60.0, 30.0), (15.0, 15.0))
    probes.foreach { case (px, py) => oracle.check(px, py) }
    // semantic spot checks (independent of both implementations)
    assert(layer.findKeys(38.0, 8.0).toSeq == Seq.empty) // in the hole, outside 5
    assert(layer.findKeys(12.0, 7.0).toSeq == Seq(2L, 3L))
    assert(layer.findKeys(35.0, 5.0).toSeq == Seq(4L)) // hole boundary counts as in
  }

  test("GridPipIndex equals the brute force on generated layers (property)") {
    // lattice rectangles (shared and collinear edges, duplicates), one
    // rectangle with a reversed inner ring as a hole, and blobs with more
    // than 64 segments (RingSegmentIndex path)
    val latticeRect = for {
      x0 <- Gen.choose(0, 8); y0 <- Gen.choose(0, 8)
      w <- Gen.choose(1, 4); h <- Gen.choose(1, 4)
    } yield Seq(rect(x0, y0, x0 + w, y0 + h))
    val holedRect = for {
      x0 <- Gen.choose(0, 6); y0 <- Gen.choose(0, 6)
      w <- Gen.choose(3, 6); h <- Gen.choose(3, 6)
      hx <- Gen.choose(x0 + 1, x0 + w - 2); hy <- Gen.choose(y0 + 1, y0 + h - 2)
      hw <- Gen.choose(1, x0 + w - 1 - hx); hh <- Gen.choose(1, y0 + h - 1 - hy)
    } yield Seq(rect(x0, y0, x0 + w, y0 + h), Synthetic.reverseRing(rect(hx, hy, hx + hw, hy + hh)))
    val largeBlob = for {
      cx <- Gen.choose(0, 12); cy <- Gen.choose(0, 12); r <- Gen.choose(1, 4)
      nV <- Gen.choose(65, 400); seed <- Gen.long
    } yield Seq(Synthetic.blobRing(cx, cy, r, nV, new SplitMix64(seed)))
    val layerGen = for {
      nRects <- Gen.choose(1, 6)
      rects <- Gen.listOfN(nRects, latticeRect)
      holed <- holedRect
      nBlobs <- Gen.choose(1, 3)
      blobs <- Gen.listOfN(nBlobs, largeBlob)
    } yield PolygonLayer.fromShapes((rects ++ Seq(holed) ++ blobs).zipWithIndex.map {
      case (rings, i) => (100L + i) -> rings
    })
    // random probes: half the draws on the half-integer lattice (edges and
    // corners of the rectangles), half anywhere around the layers
    val point = Gen.oneOf(
      Gen.zip(Gen.choose(-10, 34).map(_ / 2.0), Gen.choose(-10, 34).map(_ / 2.0)),
      Gen.zip(Gen.choose(-5.0, 17.0), Gen.choose(-5.0, 17.0)))

    val prop = Prop.forAllNoShrink(layerGen, Gen.listOfN(200, point)) { (layer, randomProbes) =>
      val oracle = new BruteForce(layer)
      val (x0, y0, x1, y1) = layer.extent
      val outside = Seq((x0 - 1, y0 - 1), (x1 + 1, (y0 + y1) / 2), ((x0 + x1) / 2, y1 + 0.5), (x1 + 1e-9, y1))
      val probes = boundaryProbes(layer) ++ randomProbes ++ outside
      val bad = probes.iterator.flatMap { case (x, y) => oracle.mismatch(x, y) }.nextOption()
      bad.isEmpty :| bad.getOrElse("")
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(100)
      .withInitialSeed(Seed(20240917L)) // fixed: a failure reproduces
    val result = Test.check(params, prop)
    assert(result.passed, result.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case other => other
    })
  }

  test("RingSegmentIndex (bucketed) agrees with direct scan on large rings") {
    val rng = new SplitMix64(31)
    // large ring (many vertices) to force the indexed path
    val ring = Synthetic.blobRing(50, 50, 30, 300, rng)
    val layer = PolygonLayer.fromShapes(Seq((0L, Seq(ring))))
    val n = ring.length / 2
    val xx = Array.tabulate(n)(i => ring(i * 2))
    val yy = Array.tabulate(n)(i => ring(i * 2 + 1))
    for (_ <- 0 until 3000) {
      val x = rng.nextDouble() * 100
      val y = rng.nextDouble() * 100
      val direct = Geom.pointInRing(x, y, xx, yy, 0, n)
      val viaLayer = layer.pointInRing(x, y, 0)
      assert(direct == viaLayer, s"($x,$y)")
    }
  }

  test("shapeArea: holes subtract (opposite winding)") {
    val outer = Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0)
    val hole = Synthetic.reverseRing(Array(2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0, 2.0, 2.0))
    val layer = PolygonLayer.fromShapes(Seq((0L, Seq(outer, hole))))
    assert(math.abs(layer.shapeArea(0) - 96.0) < 1e-9)
  }
}
