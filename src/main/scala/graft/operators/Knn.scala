package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cell.CellIndex
import graft.functions.KnnTopK

/**
 * k-nearest-neighbor and radius (max-distance) joins via cell-ring expansion —
 * the shuffle-friendly replacement for the reference's kdbush KD-tree radius
 * search (`/root/reference/src/points/mapshaper-point-index.mjs:11-47`,
 * neighbor rings per `src/grids/mapshaper-square-grid.mjs:127-136`).
 *
 * Exactness guarantee for kNN: after joining candidates from the Chebyshev
 * disk of radius R cells, a point's k-th neighbor distance d is final iff
 * d <= R * cellSize (any point outside the disk is at least R*cellSize away,
 * since the query point lies inside its own cell). Points that fail the bound
 * are retried with a doubled R — a driver-side loop of a few Spark jobs, each
 * a plain equi-join on cellId (no cross join, no broadcast of the big side).
 *
 * Ranking: every round, and the brute-force tail, groups the candidate pairs
 * by query point with the bounded top-k aggregate
 * [[graft.functions.KnnTopK]]. Its partial aggregate runs in the candidate
 * stage and keeps each point's k best candidates, so at most one k-slot
 * buffer per (map task, query point) crosses the shuffle, never the
 * candidate pairs themselves, and nothing is sorted.
 *
 * Determinism: ranking is by (squared distance, neighbor id), the order of
 * `ORDER BY dist2, neighbor_id` — no FP reordering hazards, ties broken stably.
 */
object Knn {

  /**
   * For each row of `points` (id, x, y), the k nearest OTHER rows.
   * Output: (id, rank, neighbor_id, dist2).
   */
  def knnJoin(spark: SparkSession, points: DataFrame, idCol: String, xCol: String, yCol: String,
              k: Int, res: Int = -1, maxRounds: Int = 8,
              bruteForceBudget: Long = 50000000L): DataFrame = {
    require(k >= 1, s"knnJoin needs k >= 1, got $k")
    val base = points.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
    // auto resolution: aim for ~k+1 points per cell so the first 3x3 disk
    // usually satisfies the k-th-distance bound in one round
    val stats = base.agg(count(lit(1)), min(col("x")), max(col("x")),
      min(col("y")), max(col("y"))).head()
    val nPoints = math.max(1L, stats.getLong(0))
    val useRes = if (res >= 0) res else {
      val w = math.max(1e-9, stats.getDouble(2) - stats.getDouble(1))
      val h = math.max(1e-9, stats.getDouble(4) - stats.getDouble(3))
      // aim for ~2(k+1) points per cell: the 3x3 disk then satisfies the
      // k-th-distance bound for ~all points in ROUND 1 — every extra round
      // costs a full job + fresh codegen, which dominates at moderate n,
      // while 2x more candidates per point is noise in the top-k aggregate
      val csTarget = math.sqrt(w * h / nPoints.toDouble * 2.0 * (k + 1).toDouble)
      math.min(26, math.max(0, math.floor(math.log(360.0 / csTarget) / math.log(2.0)).toInt))
    }
    val pts = base.withColumn("cell", GraftCell.cellIdCol(col("x"), col("y"), useRes))
      .cache()

    val cs = CellIndex.cellSize(useRes)
    var pending = pts
    var pendingCount = nPoints // tracked arithmetically: no isEmpty/count jobs
    var results: DataFrame = null
    var lastRanked: DataFrame = null // best-known results of still-pending points
    // checkpointed round outputs still referenced by lazy downstream frames;
    // released only after the final result is itself materialized
    val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 1
    var round = 0
    while (round < maxRounds && pendingCount > 0) {
      // brute-force cutover for the tail (r6): once the pending set is small
      // enough that pending x n candidate pairs are trivial, one exact
      // top-k job replaces the remaining ring-expansion rounds (each a
      // checkpoint + anti-join job chain). Exactness is unchanged — the
      // cross form IS the definition of kNN, ranked by the same
      // (dist2, neighbor_id) law, and a point with fewer than k neighbors
      // gets all of them (identical to the straggler fallback's widest-ring
      // emission). The threshold scales with the data (pair budget), never
      // with the local core count.
      if (pendingCount * nPoints <= bruteForceBudget) {
        val cross = pending
          .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"))
          .crossJoin(pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by")))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("dist2",
            (col("ax") - col("bx")) * (col("ax") - col("bx")) +
              (col("ay") - col("by")) * (col("ay") - col("by")))
        val full = ranks(topK(cross, k))
        results = if (results == null) full else results.unionByName(full)
        pendingCount = 0
      } else {
      val ringR = r
      // codegen disk expansion (a boxed UDF here allocates an Array per row per
      // round; at 10^8 points the allocation rate makes the round GC-bound)
      val cand = pending
        .withColumn("qcell",
          explode(graft.functions.SpatialExprs.cellDisk(col("cell"), ringR)))
        .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"), col("qcell"))
        .join(pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"),
          col("cell").as("qcell")), Seq("qcell"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("dist2",
          (col("ax") - col("bx")) * (col("ax") - col("bx")) +
            (col("ay") - col("by")) * (col("ay") - col("by")))
      // FINALITY read from the same top-k buffer that ranks the point: it is
      // final iff it has >= k candidates (all k slots filled) AND the k-th
      // distance is within the ring bound — no second pass over the
      // candidates, no semi/anti join back onto the ranked rows.
      val bound = (ringR * cs) * (ringR * cs)
      // localCheckpoint truncates BOTH execution lineage and the logical
      // plan (without it the per-round union/anti-join chain sends Catalyst
      // analysis superlinear — same lesson as OverlayOp's CC loop); LAZY so
      // the doneCount action below materializes it — one job per round, not
      // two (checkpoint pass + count pass).
      val ranked = topK(cand, k)
        .withColumn("_final", when(size(col("top")) === k,
          col("top")(k - 1)("dist2") <= lit(bound)).otherwise(false))
        .localCheckpoint(false)

      val finalPts = ranked.filter(col("_final"))
      // one job decides the round AND materializes the checkpoint
      val doneCount = finalPts.count()
      val done = ranks(finalPts)
      results = if (results == null) done else results.unionByName(done)
      lastRanked = ranks(ranked.filter(!col("_final")))
      live += ranked
      pendingCount -= doneCount
      round += 1
      if (pendingCount > 0 && round < maxRounds) {
        val nextLazy = pending.join(finalPts.select(col("a_id").as("id")), Seq("id"), "left_anti")
        if (pendingCount * nPoints <= bruteForceBudget) {
          // next iteration cuts over to the single brute-force job, which
          // consumes this frame exactly once — materializing it first would
          // spend a whole job on a handful of rows. Lineage stays shallow
          // (one anti-join over the round's checkpoint), and the previous
          // pending's blocks must outlive the final materialization, so no
          // early unpersist (the function-end cleanup releases everything).
          if (pending ne pts) live += pending // release after final materialization
          pending = nextLazy
        } else {
          val nextPending = nextLazy.localCheckpoint(true)
          if (pending ne pts) pending.unpersist() // dead once nextPending is materialized
          pending = nextPending
        }
      }
      r *= 2
      }
    }
    // stragglers (k >= n-1, or degenerate distributions that exhaust
    // maxRounds): emit their best-known neighbors from the widest ring
    // searched instead of dropping them
    if (lastRanked != null && pendingCount > 0)
      results = if (results == null) lastRanked else results.unionByName(lastRanked)
    // materialize the final result, then release every intermediate block
    val out =
      if (results == null) pts.limit(0)
        .select(col("id"), lit(1).as("rank"), col("id").as("neighbor_id"),
          lit(0.0).as("dist2"))
      else results.localCheckpoint(true)
    live.foreach(_.unpersist())
    if (pending ne pts) pending.unpersist()
    pts.unpersist()
    out
  }

  /** Each a_id's k best (dist2, b_id) candidates as one sorted `top` array. */
  private def topK(cand: DataFrame, k: Int): DataFrame =
    cand.groupBy("a_id").agg(KnnTopK.agg(col("dist2"), col("b_id"), k).as("top"))

  /** One (id, rank, neighbor_id, dist2) row per entry of [[topK]]'s arrays. */
  private def ranks(top: DataFrame): DataFrame =
    top.select(col("a_id").as("id"), posexplode(col("top")).as(Seq("pos", "nn")))
      .select(col("id"), (col("pos") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"), col("nn.dist2").as("dist2"))

  /**
   * Radius join: all pairs (a, b), a.id < b.id, within `radius`. Cell size is
   * chosen >= radius so the 3x3 disk is a complete candidate set.
   */
  def distanceJoin(spark: SparkSession, points: DataFrame, idCol: String, xCol: String, yCol: String,
                   radius: Double): DataFrame = {
    // smallest res whose cellSize >= radius
    var res = 0
    while (CellIndex.cellSize(res + 1) >= radius && res < 30) res += 1
    val pts = points.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .withColumn("cell", GraftCell.cellIdCol(col("x"), col("y"), res))
    // forward-neighbor expansion (cell + E/NE/N/NW) instead of the full 3x3
    // disk (r6, guide §2.3 — shuffle/join fewer rows): every unordered pair
    // of adjacent cells appears in exactly ONE side's forward set, so each
    // candidate pair is generated once — 5/9 the join fan-out of the disk
    // form, with the a<b constraint needed only within the same cell.
    // dist2 is symmetric bit-exactly ((a-b)^2 == (b-a)^2), so orienting the
    // output by least/greatest id leaves every emitted value unchanged.
    val left = pts
      .withColumn("qcell",
        explode(graft.functions.SpatialExprs.cellForward(col("cell"))))
      .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        col("cell").as("acell"), col("qcell"))
    val right = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"),
      col("cell").as("qcell"))
    left.join(right, Seq("qcell"))
      .filter(col("qcell") =!= col("acell") || col("a_id") < col("b_id"))
      .withColumn("dist2",
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
      .filter(col("dist2") <= lit(radius * radius))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("dist2"))
  }
}
