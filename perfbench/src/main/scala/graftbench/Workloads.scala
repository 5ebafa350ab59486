package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions.{cellId, phashLat, phashLon}
import graft.index.PolygonLayer
import graft.operators.{Knn, SpatialJoin, Tiling}
import graft.streaming.TileRun
import graft.tables.{Images, SplitMix64, Synthetic}

/** One part of an iteration's output: its row count and an order-independent
 * checksum over its full rows. */
final case class Part(name: String, rows: Long, checksum: Long)

/** What one iteration produced. `seconds` holds timed sub-steps (resume). */
final case class Outcome(parts: Seq[Part], seconds: Map[String, Double] = Map.empty,
                         counts: Map[String, Double] = Map.empty) {
  def sameOutput(o: Outcome): Boolean = parts == o.parts
}

/** Named wall-clock timings taken during set-up. */
final class Timings {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/**
 * A closed-loop workload: one client runs the next iteration only after the
 * previous one completed. Inputs come from the seed alone; the engine sees
 * only the generated rows and layers.
 */
trait Workload {
  /** Input rows one iteration covers (logical images or points). */
  def rows: Long
  def layer: PolygonLayer
  /** Generate the input, build the layer and fill the cache. */
  def setup(spark: SparkSession, t: Timings): Unit
  /** Drop cached state so the next set-up starts from nothing. */
  def release(): Unit
  def iterate(spark: SparkSession, tr: Tracer): Outcome
  /** Brute-force checks of a seeded sample of `first`; one line per mismatch. */
  def check(spark: SparkSession, first: Outcome): Seq[String]
  /** Traced run only: each operator as its own noop-sink action, in seconds,
   * plus the counts those actions expose. */
  def operators(spark: SparkSession, tr: Tracer): Map[String, Double]
  /** Traced run only: metrics read from the traced iterations' spans. */
  def layerMetrics(tr: Tracer, traced: Seq[Outcome]): Map[String, Double] = Map.empty
  /** Probe points drawn like the input, for the single-thread kernel probes. */
  def probePoints(n: Int): (Array[Double], Array[Double])
  /** Write the cached input under `dir`, so that another parallelism level
   * of the same run can load it instead of generating it again. */
  def saveInput(dir: String): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("tile_headline", "shuffle_skew", "tilerun_checkpoint")

  /** Every workload partitions its input this way at every parallelism
   * level, so the 1-core and 4-core runs execute the same plan. */
  final val Partitions = 12

  def make(name: String, seed: Long, scratch: String, loadInput: Option[String]): Workload = name match {
    case "tile_headline" => new TileHeadline(seed, loadInput)
    case "shuffle_skew" => new ShuffleSkew(seed)
    case "tilerun_checkpoint" => new TileRunCheckpoint(seed, scratch)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'; one of ${names.mkString(", ")}")
  }

  /** First image id / point id of a seed: seeds draw disjoint id ranges. */
  def firstId(seed: Long): Long = (seed & 0x3fffffffL) << 24

  /** (rows, checksum) over the full output of `df`, independent of row order. */
  def digest(name: String, df: DataFrame, cols: String*): Part = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L))).head()
    Part(name, r.getLong(0), r.getLong(1) * 31 + r.getLong(2))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median wall seconds of `reps` runs of `body`, each in its own span. */
  def timeOp(tr: Tracer, name: String, reps: Int = 3)(body: => Unit): Double = {
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      tr.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(ts)
  }

  /** Uniform probe points in the [0,100)² domain. */
  def uniformPoints(seed: Long, n: Int): (Array[Double], Array[Double]) = {
    val rng = new SplitMix64(seed * 0x9e3779b97f4a7c15L + 17)
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = rng.nextDouble() * 100; ys(i) = rng.nextDouble() * 100; i += 1 }
    (xs, ys)
  }

  /** Narrow projection of a generated image row. */
  def imageRows(spark: SparkSession, first: Long, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, Partitions).as[Long].map { i =>
      val r = Images.row(first + i)
      (r.image_id, r.w, r.h, r.phash)
    }.toDF("image_id", "w", "h", "phash")
  }
}

import Workloads._

/**
 * The north-rule pipeline in one action: cell id, broadcast PIP join (all
 * keys) against 1024 shapes, 4×4 tile assignment with a first-key PIP per
 * tile, then a count per (cell, polygon). Uniform locations; the input is
 * cached, so kernels do nearly all the work and nothing much is shuffled.
 */
final class TileHeadline(seed: Long, loadInput: Option[String], base: Int = 1500, rep: Int = 1024)
    extends Workload {
  val rows: Long = base.toLong * rep
  private val TileGrid = 4
  private val SampleImages = 8
  private val SampleReps = 32
  private var input: DataFrame = _
  private var lyr: PolygonLayer = _
  def layer: PolygonLayer = lyr

  def setup(spark: SparkSession, t: Timings): Unit = {
    val gen = t.time("tables.gen_s") {
      val rows = loadInput.fold(imageRows(spark, firstId(seed), base))(spark.read.parquet(_))
      val g = rows.persist(StorageLevel.MEMORY_ONLY)
      g.count()
      g
    }
    input = t.time("tables.cache_fill_s") {
      val c = gen.repartition(Partitions).persist(StorageLevel.MEMORY_ONLY)
      c.count()
      gen.unpersist(blocking = true)
      c
    }
    lyr = t.time("index.build_s") {
      val l = Synthetic.polygonLayer(1024, seed)
      l.grid
      l
    }
  }

  def release(): Unit = if (input != null) input.unpersist(blocking = true)

  override def saveInput(dir: String): Unit = input.write.mode("overwrite").parquet(dir)

  /** Each stored image becomes `rep` logical images: rep 0 keeps its phash,
   * the others take a seeded xxhash64 perturbation of it. */
  private def located(df: DataFrame): DataFrame = {
    val mask = (1L << 52) - 1
    df.withColumn("rep", explode(sequence(lit(0), lit(rep - 1))))
      .withColumn("ph", when(col("rep") === 0, col("phash"))
        .otherwise(xxhash64(col("phash"), col("rep")).bitwiseAND(mask)))
      .withColumn("x", phashLon(col("ph")))
      .withColumn("y", phashLat(col("ph")))
      .withColumn("cell", cellId(col("x"), col("y"), 8))
  }

  private def tiles(spark: SparkSession, df: DataFrame): DataFrame =
    Tiling.tileAssignAt(spark, SpatialJoin.broadcastJoin(spark, df, "x", "y", lyr),
      "x", "y", TileGrid, 9, Some(lyr))

  /** Tile counts per (image cell, tile cell, polygon). `tileAssignAt` keeps
   * only `image_id` of its input's columns, so the image's own cell rides in
   * that column; the count then reads it, and its `cellId` cannot be pruned. */
  def iterate(spark: SparkSession, tr: Tracer): Outcome = tr.span("pipeline") {
    val counts = tiles(spark, located(input).withColumn("image_id", col("cell")))
      .groupBy(col("image_id").as("image_cell"), col("cell_id"), col("poly_key")).count()
    Outcome(Seq(digest("tile_counts", counts, "image_cell", "cell_id", "poly_key", "count")))
  }

  def check(spark: SparkSession, first: Outcome): Seq[String] = {
    import spark.implicits._
    val sample = input.orderBy("image_id").limit(SampleImages).cache()
    def sampled(df: DataFrame) = df.filter(col("rep") < SampleReps)
    val pts = sampled(located(sample)).select("image_id", "rep", "x", "y", "cell")
      .as[(String, Int, Double, Double, Long)].collect()
    val joined = SpatialJoin.broadcastJoin(spark, sampled(located(sample)), "x", "y", lyr)
      .select("image_id", "rep", "poly_key").as[(String, Int, Long)].collect()
      .groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).sorted.toSeq }
    val tileRows = tiles(spark, sampled(located(sample))).select("image_id", "cx", "cy", "cell_id", "poly_key")
      .as[(String, Double, Double, Long, Long)].collect()
    sample.unpersist()
    val errs = mutable.ArrayBuffer.empty[String]
    val expectTiles = mutable.Map.empty[String, Int].withDefaultValue(0)
    pts.foreach { case (id, r, x, y, cell) =>
      if (cell != Reference.cellId(x, y, 8)) errs += s"image cell of $id rep $r at ($x, $y): got $cell"
      val want = Reference.keysAt(lyr, x, y).sorted.toSeq
      val got = joined.getOrElse((id, r), Seq.empty)
      if (got != want) errs += s"pip keys of $id rep $r at ($x, $y): got $got, want $want"
      expectTiles(id) += want.size * TileGrid * TileGrid
    }
    tileRows.foreach { case (id, cx, cy, cell, key) =>
      val wantKey = Reference.firstKeyAt(lyr, cx, cy)
      if (key != wantKey) errs += s"tile key of $id at ($cx, $cy): got $key, want $wantKey"
      if (cell != Reference.cellId(cx, cy, 9)) errs += s"tile cell of $id at ($cx, $cy): got $cell"
    }
    val gotTiles = tileRows.groupBy(_._1).map { case (k, v) => k -> v.length }
    expectTiles.foreach { case (id, n) =>
      if (gotTiles.getOrElse(id, 0) != n) errs += s"tile rows of $id: got ${gotTiles.getOrElse(id, 0)}, want $n"
    }
    errs.toSeq
  }

  def operators(spark: SparkSession, tr: Tracer): Map[String, Double] = Map(
    "operators.pip_join_s" -> timeOp(tr, "operators.pip_join") {
      noop(SpatialJoin.broadcastJoin(spark, located(input), "x", "y", lyr))
    },
    "operators.tile_assign_s" -> timeOp(tr, "operators.tile_assign") {
      noop(Tiling.tileAssignAt(spark, located(input), "x", "y", TileGrid, 9, Some(lyr)))
    })

  def probePoints(n: Int): (Array[Double], Array[Double]) = uniformPoints(seed, n)
}

/**
 * Clustered points: Zipf-weighted hotspots put a large share of the points
 * into a few cells. A cell join against 16384 shapes (too many to want a
 * broadcast), a kNN join (k = 8) and a radius join. The kNN join's candidate
 * pairs, which the hot cells inflate, and their shuffle do most of the work;
 * the broadcast grid index does none.
 */
final class ShuffleSkew(seed: Long, n: Int = ShuffleSkew.Points, shapes: Int = 16384) extends Workload {
  val rows: Long = n.toLong
  private val K = 8
  private val Radius = 0.1
  private val CellRes = 9
  private val SamplePoints = 64
  private val centres = ShuffleSkew.centres(seed)
  private var points: DataFrame = _
  private var rings: DataFrame = _
  private var lastKnn: DataFrame = _
  private var lyr: PolygonLayer = _
  def layer: PolygonLayer = lyr

  def setup(spark: SparkSession, t: Timings): Unit = {
    import spark.implicits._
    val (s, first) = (seed, firstId(seed))
    val gen = t.time("tables.gen_s") {
      val cs = centres
      val g = spark.range(0, n, 1, Partitions).as[Long]
        .map(i => ShuffleSkew.point(cs, s, first, i)).toDF("id", "x", "y")
        .persist(StorageLevel.MEMORY_ONLY)
      g.count()
      g
    }
    points = t.time("tables.cache_fill_s") {
      val c = gen.repartition(Partitions).persist(StorageLevel.MEMORY_ONLY)
      c.count()
      gen.unpersist(blocking = true)
      c
    }
    t.time("index.build_s") {
      lyr = Synthetic.polygonLayer(shapes, seed)
      lyr.grid
      val l = lyr
      val ringRows = (0 until l.numRings).map { r =>
        val (a, b) = (l.ringStart(r), l.ringStart(r + 1))
        (l.shapeKeys(l.ringShape(r)), l.xx.slice(a, b), l.yy.slice(a, b))
      }
      rings = ringRows.toDF("poly_key", "ring_x", "ring_y").persist(StorageLevel.MEMORY_ONLY)
      rings.count()
    }
  }

  def release(): Unit = {
    Seq(points, rings).filter(_ != null).foreach(_.unpersist(blocking = true))
    lastKnn = null
  }

  private def cellJoin(spark: SparkSession) =
    SpatialJoin.cellJoin(spark, points, "x", "y", rings, CellRes).select("id", "poly_key")
  private def knn(spark: SparkSession) = Knn.knnJoin(spark, points, "id", "x", "y", K)
  private def radius(spark: SparkSession) = Knn.distanceJoin(spark, points, "id", "x", "y", Radius)

  def iterate(spark: SparkSession, tr: Tracer): Outcome = Outcome(Seq(
    tr.span("cell_join")(digest("cell_join", cellJoin(spark), "id", "poly_key")),
    tr.span("knn") { lastKnn = knn(spark); digest("knn", lastKnn, "id", "rank", "neighbor_id", "dist2") },
    tr.span("radius")(digest("radius", radius(spark), "a_id", "b_id", "dist2"))))

  def check(spark: SparkSession, first: Outcome): Seq[String] = {
    import spark.implicits._
    val errs = mutable.ArrayBuffer.empty[String]
    val bcast = digest("cell_join",
      SpatialJoin.broadcastJoin(spark, points, "x", "y", lyr).select("id", "poly_key"), "id", "poly_key")
    val cj = first.parts.find(_.name == "cell_join").get
    if (bcast != cj) errs += s"cellJoin pair set $cj differs from broadcastJoin's $bcast"

    val all = points.as[(Long, Double, Double)].collect().sortBy(_._1)
    val ids = all.map(_._1); val xs = all.map(_._2); val ys = all.map(_._3)
    val rng = new SplitMix64(seed ^ 0x5eed)
    val sample = Array.fill(SamplePoints)(rng.nextInt(ids.length)).distinct
    val sampleIds = sample.map(ids(_)).toSet
    val idCol = col("id").isin(sampleIds.toSeq: _*)

    val gotPip = cellJoin(spark).filter(idCol).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    // kNN output is materialised (checkpointed) by knnJoin: read the cold
    // iteration's instead of recomputing it
    val gotKnn = lastKnn.filter(idCol).select("id", "rank", "neighbor_id", "dist2")
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
    val gotRad = radius(spark).filter(col("a_id").isin(sampleIds.toSeq: _*) || col("b_id").isin(sampleIds.toSeq: _*))
      .select("a_id", "b_id").as[(Long, Long)].collect()
    sample.foreach { q =>
      val id = ids(q)
      val wantPip = Reference.keysAt(lyr, xs(q), ys(q)).sorted.toSeq
      if (gotPip.getOrElse(id, Seq.empty) != wantPip)
        errs += s"pip keys of point $id: got ${gotPip.getOrElse(id, Seq.empty)}, want $wantPip"
      val wantKnn = Reference.knn(ids, xs, ys, q, K)
      if (gotKnn.getOrElse(id, Seq.empty) != wantKnn)
        errs += s"knn of point $id: got ${gotKnn.getOrElse(id, Seq.empty)}, want $wantKnn"
      val wantRad = Reference.withinRadius(ids, xs, ys, q, Radius)
      val got = gotRad.collect { case (a, b) if a == id => b; case (a, b) if b == id => a }
      if (got.length != wantRad.size || got.toSet != wantRad)
        errs += s"radius pairs of point $id: got ${got.length}, want ${wantRad.size}"
    }
    errs.toSeq
  }

  def operators(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val cellJoinS = timeOp(tr, "operators.cell_join")(noop(cellJoin(spark)))
    val knnS = timeOp(tr, "operators.knn")(noop(knn(spark)))
    val radiusS = timeOp(tr, "operators.radius")(noop(radius(spark)))
    val cj = tr.named("operators.cell_join").map(tr.inclusive)
    val candidates = Stats.median(cj.map(_.joinRows.toDouble))
    Map(
      "operators.cell_join_s" -> cellJoinS,
      "operators.knn_s" -> knnS,
      "operators.radius_s" -> radiusS,
      "operators.knn_jobs" -> Stats.median(tr.named("operators.knn").map(tr.inclusive(_).jobs.toDouble)),
      "operators.cell_join_candidates" -> candidates,
      "operators.cell_join_match_ratio" -> digest("m", cellJoin(spark), "id").rows / math.max(1.0, candidates))
  }

  def probePoints(m: Int): (Array[Double], Array[Double]) = {
    val pts = (0 until m).map(i => ShuffleSkew.point(centres, seed ^ 0x9b0be, 0L, i.toLong))
    (pts.map(_._2).toArray, pts.map(_._3).toArray)
  }
}

object ShuffleSkew {
  final val Points = 24000
  final val Hotspots = 64
  final val ZipfS = 1.0
  final val Background = 0.75
  final val Sigma = 0.1

  private val cdf: Array[Double] = {
    val w = (1 to Hotspots).map(r => 1.0 / math.pow(r, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Hotspot centres of a seed, by popularity rank. Each sits in its own
   * cell of side 360/2^7 (the kNN join's cell at this size), at the centre of
   * the sub-cell of side 360/2^9 one step in from the cell's corner: at least
   * 3.5 sigma from every cell edge at resolutions 7 to 9, so a hotspot falls
   * into a single cell of the kNN join and of the cell join whatever the
   * seed. Only cells with even coordinates are used, so no two hotspots are
   * neighbours and no kNN query's 3×3 cell disk holds two of them: the
   * candidate count then hardly depends on the seed, which picks the cells. */
  def centres(seed: Long): Array[(Double, Double)] = {
    val cs7 = 360.0 / (1 << 7)
    val side = (100 / cs7).toInt // cells 0 .. side-1 lie wholly inside [0, 100)
    val slots = (for (i <- 2 until side - 1 by 2; j <- 2 until side - 1 by 2) yield (i, j)).toArray
    val rng = new SplitMix64(SplitMix64.hash(seed * 131 + 7))
    (0 until Hotspots).map { r =>
      val j = r + rng.nextInt(slots.length - r)
      val t = slots(r); slots(r) = slots(j); slots(j) = t
      val off = 1.5 * 360.0 / (1 << 9)
      (slots(r)._1 * cs7 + off, slots(r)._2 * cs7 + off)
    }.toArray
  }

  /** Point i of a seed: with probability 0.75 a uniform background point;
   * otherwise a Zipf(1) pick among 64 hotspots (the hottest holds about 5 %
   * of all points), then a Gaussian offset of sigma 0.1 from its centre. A
   * hotspot is a place many points share, such as a landmark; Zipf's law is
   * the usual model of how popularity falls with rank. The background keeps
   * the rest of the domain dense enough that nearly every kNN query finishes
   * in its first round. */
  def point(centres: Array[(Double, Double)], seed: Long, first: Long, i: Long): (Long, Double, Double) = {
    val rng = new SplitMix64(SplitMix64.hash(seed) ^ (i * 0x2545f4914f6cdd1dL))
    if (rng.nextDouble() < Background) return (first + i, rng.nextDouble() * 99.999999, rng.nextDouble() * 99.999999)
    var c = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    if (c < 0) c = -c - 1
    val (cx, cy) = centres(math.min(c, Hotspots - 1))
    val r = math.sqrt(-2 * math.log(1 - rng.nextDouble()))
    val a = 2 * math.Pi * rng.nextDouble()
    (first + i, cx + Sigma * r * math.cos(a), cy + Sigma * r * math.sin(a))
  }
}

/**
 * A checkpointed tile run read from Parquet: run with a simulated crash after
 * half the cell groups, resume, and compare the manifests with an
 * uninterrupted run's. Parquet writes, manifest commits and read-backs beside
 * the broadcast PIP join.
 */
final class TileRunCheckpoint(seed: Long, scratch: String, n: Int = 20000) extends Workload {
  val rows: Long = n.toLong
  private val SampleImages = 256
  private var images: DataFrame = _
  private var lyr: PolygonLayer = _
  private var failAfter = 1
  private var iter = 0
  def layer: PolygonLayer = lyr
  private def inputDir = s"$scratch/input.parquet"

  def setup(spark: SparkSession, t: Timings): Unit = {
    import spark.implicits._
    val first = firstId(seed)
    t.time("tables.gen_s") {
      spark.range(0, n, 1, Partitions).as[Long].map(i => Images.row(first + i))
        .write.mode("overwrite").parquet(inputDir)
    }
    images = t.time("tables.cache_fill_s") {
      val df = spark.read.parquet(inputDir)
      df.count()
      df
    }
    lyr = t.time("index.build_s") {
      val l = Synthetic.polygonLayer(1024, seed)
      l.grid
      l
    }
    failAfter = math.max(1, TileRun.planGroups(spark, images, 3).length / 2)
  }

  def release(): Unit = TileRunCheckpoint.delete(new java.io.File(inputDir))

  /** (group, input rows, output rows, checksum) of every manifest in `dir`. */
  private def manifests(dir: String): Seq[(Long, Long, Long, Long)] = {
    val num = "\"(\\w+)\":(-?\\d+)".r
    new java.io.File(s"$dir/manifest").listFiles().toSeq.filter(_.getName.endsWith(".json")).map { f =>
      val m = num.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(x => x.group(1) -> x.group(2).toLong).toMap
      (m("group"), m("input_rows"), m("output_rows"), m("checksum"))
    }.sorted
  }

  private def outcome(dir: String, extra: Map[String, Double]): Outcome = {
    val ms = manifests(dir)
    val parts = ms.map { case (g, in, out, sum) => Part(s"group_$g", out, sum * 31 + in) }
    val bytes = TileRunCheckpoint.fileBytes(new java.io.File(s"$dir/tiles"))
    Outcome(parts, seconds = extra, counts = Map("bytes_written" -> bytes.toDouble))
  }

  def iterate(spark: SparkSession, tr: Tracer): Outcome = {
    iter += 1
    val dir = s"$scratch/runs/it$iter"
    tr.span("streaming.run")(TileRun.run(spark, images, lyr, dir, failAfter = failAfter))
    val t0 = System.nanoTime()
    tr.span("streaming.resume")(TileRun.run(spark, images, lyr, dir))
    val resume = (System.nanoTime() - t0) / 1e9
    val o = outcome(dir, Map("resume_s" -> resume))
    TileRunCheckpoint.delete(new java.io.File(dir))
    o
  }

  def check(spark: SparkSession, first: Outcome): Seq[String] = {
    import spark.implicits._
    val errs = mutable.ArrayBuffer.empty[String]
    val refDir = s"$scratch/runs/uninterrupted"
    TileRun.run(spark, images, lyr, refDir)
    val ref = outcome(refDir, Map.empty)
    if (ref.parts != first.parts) errs += s"resumed manifests ${first.parts} differ from uninterrupted ${ref.parts}"
    val sample = images.select("image_id", "phash").orderBy("image_id").limit(SampleImages)
      .as[(String, Long)].collect()
    val got = spark.read.parquet(s"$refDir/tiles")
      .filter(col("image_id").isin(sample.map(_._1).toSeq: _*))
      .select("image_id", "cell_id", "poly_key", "g").as[(String, Long, Long, Long)].collect()
      .groupBy(_._1)
    sample.foreach { case (id, ph) =>
      val (x, y) = TileRunCheckpoint.lonLat(ph)
      val want = Reference.keysAt(lyr, x, y).sorted.toSeq
        .map(k => (id, Reference.cellId(x, y, 8), k, Reference.cellId(x, y, 3)))
      val have = got.getOrElse(id, Array.empty).toSeq.sortBy(_._3)
      if (have != want) errs += s"tile run rows of $id at ($x, $y): got $have, want $want"
    }
    TileRunCheckpoint.delete(new java.io.File(refDir))
    errs.toSeq
  }

  def operators(spark: SparkSession, tr: Tracer): Map[String, Double] = Map.empty

  override def layerMetrics(tr: Tracer, traced: Seq[Outcome]): Map[String, Double] = {
    val runs = tr.named("streaming.run")
    val resumes = tr.named("streaming.resume")
    val scans = runs.zip(resumes).map { case (a, b) =>
      (tr.inclusive(a).inputRecords + tr.inclusive(b).inputRecords).toDouble / n }
    Map(
      "streaming.run_s" -> Stats.median(runs.map(_.seconds)),
      "streaming.resume_s" -> Stats.median(resumes.map(_.seconds)),
      "streaming.bytes_written_per_row" -> Stats.median(traced.map(_.counts("bytes_written") / n)),
      "streaming.input_scans" -> Stats.median(scans))
  }

  def probePoints(m: Int): (Array[Double], Array[Double]) = uniformPoints(seed, m)
}

object TileRunCheckpoint {
  /** Location of a phash: the low 52 bits interleave a 26-bit column (odd
   * bits) and row (even bits) of a 2^26 grid over [0,100)². */
  def lonLat(phash: Long): (Double, Double) = {
    var ix = 0L
    var iy = 0L
    var b = 0
    while (b < 26) {
      ix |= ((phash >>> (2 * b + 1)) & 1L) << b
      iy |= ((phash >>> (2 * b)) & 1L) << b
      b += 1
    }
    val scale = 100.0 / (1L << 26).toDouble
    (ix * scale, iy * scale)
  }

  def fileBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) f.listFiles().map(fileBytes).sum
    else f.length()

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }
}
