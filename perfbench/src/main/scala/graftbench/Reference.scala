package graftbench

import graft.index.PolygonLayer

/**
 * Brute-force references the benchmark checks the engine against. They read
 * only the layer's public ring arrays and share no code with the engine's
 * indexes or joins.
 */
object Reference {
  final val Out = 0
  final val In = 1
  final val On = 2

  /** OUT / IN / ON of (x, y) against the closed ring stored at
   * `xx(start until start + n)` (first vertex repeated last). */
  def ringState(x: Double, y: Double, xx: Array[Double], yy: Array[Double], start: Int, n: Int): Int = {
    var inside = false
    var i = start
    while (i < start + n - 1) {
      val x1 = xx(i); val y1 = yy(i); val x2 = xx(i + 1); val y2 = yy(i + 1)
      val cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
      if (cross == 0.0 && x >= math.min(x1, x2) && x <= math.max(x1, x2) &&
          y >= math.min(y1, y2) && y <= math.max(y1, y2)) return On
      if ((y1 > y) != (y2 > y) && x < x1 + (y - y1) * (x2 - x1) / (y2 - y1)) inside = !inside
      i += 1
    }
    if (inside) In else Out
  }

  /** Shape indexes enclosing (x, y), ascending: even-odd parity over each
   * shape's rings, with a point on any ring's boundary counted as in. */
  def shapesAt(layer: PolygonLayer, x: Double, y: Double): Array[Int] = {
    val inside = new Array[Boolean](layer.numShapes)
    val on = new Array[Boolean](layer.numShapes)
    var r = 0
    while (r < layer.numRings) {
      val st = layer.ringStart(r)
      val shape = layer.ringShape(r)
      ringState(x, y, layer.xx, layer.yy, st, layer.ringStart(r + 1) - st) match {
        case On => on(shape) = true
        case In => inside(shape) = !inside(shape)
        case _ =>
      }
      r += 1
    }
    (0 until layer.numShapes).filter(s => on(s) || inside(s)).toArray
  }

  def keysAt(layer: PolygonLayer, x: Double, y: Double): Array[Long] =
    shapesAt(layer, x, y).map(layer.shapeKeys(_))

  /** Key of the lowest enclosing shape, or -1. */
  def firstKeyAt(layer: PolygonLayer, x: Double, y: Double): Long =
    shapesAt(layer, x, y).headOption.map(layer.shapeKeys(_)).getOrElse(-1L)

  /** Squared distance, in the same operation order as the engine's joins. */
  @inline def dist2(ax: Double, ay: Double, bx: Double, by: Double): Double =
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

  /** Nested-loop kNN of point `q` among all other points (by id), ranked by
   * (dist2, neighbor id): the k (neighbor id, dist2) pairs in rank order. */
  def knn(ids: Array[Long], xs: Array[Double], ys: Array[Double], q: Int, k: Int): Seq[(Long, Double)] =
    ids.indices.iterator.filter(j => ids(j) != ids(q))
      .map(j => (ids(j), dist2(xs(q), ys(q), xs(j), ys(j))))
      .toSeq.sortBy { case (id, d) => (d, id) }.take(k)

  /** Ids of all other points within `radius` of point `q`. */
  def withinRadius(ids: Array[Long], xs: Array[Double], ys: Array[Double], q: Int, radius: Double): Set[Long] = {
    val r2 = radius * radius
    ids.indices.iterator
      .filter(j => ids(j) != ids(q) && dist2(xs(q), ys(q), xs(j), ys(j)) <= r2)
      .map(ids(_)).toSet
  }

  /** Square-grid cell id: resolution in bits 58..62, then the Morton
   * interleave of the biased column (odd bits) and row (even bits), with a
   * cell side of 360 / 2^res. */
  def cellId(x: Double, y: Double, res: Int): Long = {
    val cs = 360.0 / (1L << res).toDouble
    val bias = 1L << 28
    val ix = math.floor(x / cs).toLong + bias
    val iy = math.floor(y / cs).toLong + bias
    var m = 0L
    var b = 0
    while (b < 29) {
      m |= ((ix >>> b) & 1L) << (2 * b + 1)
      m |= ((iy >>> b) & 1L) << (2 * b)
      b += 1
    }
    (res.toLong << 58) | m
  }
}
