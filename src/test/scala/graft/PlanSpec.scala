package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Partial}
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.KnnTopK
import graft.operators.{Knn, SpatialJoin, Tiling}
import graft.tables.{Images, SplitMix64, Synthetic}

/**
 * Plan-quality assertions: the claims "filters push down", "columns prune",
 * "hot path stays in whole-stage codegen", "payload bytes are never read by
 * spatial queries" are tested here, not just asserted in prose.
 */
class PlanSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def imagesParquet: String =
    Images.ensureParquet(spark, "/root/repo/data", "plantest", 200)

  test("spatial pipeline scan prunes to narrow columns (no bytes/caption)") {
    val df = spark.read.parquet(imagesParquet)
      .select(col("image_id"), col("phash"))
      .withColumn("x", graft.functions.GraftFunctions.phashLon(col("phash")))
      .withColumn("y", graft.functions.GraftFunctions.phashLat(col("phash")))
    val joined = SpatialJoin.broadcastJoin(spark, df, "x", "y", Synthetic.oracleLayer)
    val scan = joined.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("image_id") && readSchema.contains("phash"))
    assert(!readSchema.contains("bytes") && !readSchema.contains("caption"),
      s"payload columns must be pruned: $readSchema")
  }

  test("filter on parquet source is pushed down") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .filter(col("l_quantity") >= 30.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,30.0)"), plan.take(2000))
  }

  test("cell/PIP expressions run inside WholeStageCodegen") {
    val bc = spark.sparkContext.broadcast(Synthetic.oracleLayer)
    val df = spark.range(100)
      .withColumn("x", (col("id") % 100).cast("double"))
      .withColumn("y", (col("id") % 50).cast("double"))
      .withColumn("cell", graft.functions.SpatialExprs.cellIdCol(col("x"), col("y"), 8))
      .withColumn("pk", graft.functions.SpatialExprs.pipFirstKey(col("x"), col("y"), bc))
    // '*' node prefixes mark whole-stage-codegen spans; verify by node type too
    val hasWsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc, df.queryExecution.executedPlan.toString.take(1000))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEval"), plan.take(1000))
    // sanity: results identical to the interpreted (non-codegen) path
    val got = df.select("id", "cell", "pk").collect()
    got.foreach { r =>
      val x = (r.getLong(0) % 100).toDouble
      val y = (r.getLong(0) % 50).toDouble
      assert(r.getLong(1) == graft.cell.CellIndex.cellId(x, y, 8))
      assert(r.getLong(2) == Synthetic.oracleLayer.findFirstKey(x, y))
    }
  }

  test("tile assignment plan never references the binary payload") {
    val imgs = spark.read.parquet(imagesParquet)
    val tiles = Tiling.tileAssign(spark, imgs, tileGrid = 2, res = 9, Some(Synthetic.oracleLayer))
    // the physical scan must not materialize the payload column
    val readSchema = tiles.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("bytes"), readSchema)
  }

  test("CRS forward expressions run inside WholeStageCodegen, scan prunes") {
    val df = spark.read.parquet(s"$Sf/customer.parquet")
      .select(col("c_custkey"))
      .withColumn("lon", (col("c_custkey") % 360).cast("double") - 180.0)
      .withColumn("lat", (col("c_custkey") % 170).cast("double") - 85.0)
      .withColumn("aea", graft.functions.SpatialExprs.crsForward(
        col("lon"), col("lat"), graft.geom.Crs.Albers(29.5, 45.5, 23.0, -96.0)))
      .withColumn("utm", graft.functions.SpatialExprs.utmForward(col("lon"), col("lat")))
    val hasWsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc)
    val readSchema = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_custkey") && !readSchema.contains("c_name"), readSchema)
    // codegen result == scalar kernel
    val r = df.limit(5).collect()
    r.foreach { row =>
      val lon = row.getDouble(1); val lat = row.getDouble(2)
      val (x, y) = graft.geom.Crs.Albers(29.5, 45.5, 23.0, -96.0).forward(lon, lat)
      assert(row.getSeq[Double](3) == Seq(x, y))
    }
  }

  test("distributed polygon-overlap join broadcasts the small side (no cartesian)") {
    import spark.implicits._
    def sq(x: Double, y: Double): Array[Double] =
      Array(x, y, x + 5, y, x + 5, y + 5, x, y + 5, x, y)
    val targets = (0 until 50).map(i => (i.toLong, sq(i % 10 * 4.0, i / 10 * 4.0))).toDF("key", "ring")
    val sources = (0 until 3).map(i => (100L + i, sq(i * 8.0, i * 8.0))).toDF("key", "ring")
    val df = graft.operators.PolyJoin.overlapDistributed(spark, targets, sources)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(1500))
  }

  test("broadcast PIP join produces no shuffle of the point side") {
    val df = spark.range(1000)
      .withColumn("x", (col("id") % 100).cast("double"))
      .withColumn("y", (col("id") % 50).cast("double"))
    val joined = SpatialJoin.broadcastJoin(spark, df, "x", "y", Synthetic.oracleLayer)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"broadcast PIP join must be shuffle-free:\n${plan.take(1500)}")
  }

  /** Every shuffle's output attribute names in the executed plan. */
  private def exchangeOutputs(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name).toSeq
    }

  test("lshTopK probe shuffle is id-only: no exchange carries vectors with buckets") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(3)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Ann.lshTopK(spark, vecs, "vec_id", "embedding", k = 3)
    val bad = exchangeOutputs(df).filter(out =>
      out.exists(_.contains("_bucket")) && out.exists(n => n == "vec" || n == "nvec" || n == "embedding"))
    assert(bad.isEmpty, s"vector bytes rode a bucket shuffle: $bad")
  }

  test("minhash band shuffle is id-only: no exchange carries text with buckets") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"some words here $i repeated tokens " * 5))
      .toDF("doc_id", "text")
    val df = graft.operators.Dedup.minhashPairs(spark, docs, "doc_id", "text", threshold = 0.3)
    val bad = exchangeOutputs(df).filter(out =>
      out.exists(_.contains("_bucket")) && out.exists(_.contains("text")))
    assert(bad.isEmpty, s"document text rode a band shuffle: $bad")
  }

  test("minhash signature chain is materialized once (no UDF recompute fan-out)") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"body words $i tok " * 6))
      .toDF("doc_id", "text")
    val df = graft.operators.Dedup.minhashPairs(spark, docs, "doc_id", "text", threshold = 0.3)
    val plan = df.queryExecution.executedPlan.toString
    // the banded (id, bucket) projection is a checkpointed RDD scan, so the
    // sig/band UDF chain is OUT of the final plan entirely — only the jaccard
    // verifier UDF remains
    assert(plan.contains("ExistingRDD"), "banded projection should be a checkpoint scan")
    // r6: signature/banding AND the jaccard verifier are codegen expressions
    // — no boxed ScalaUDF anywhere on the minhash path
    val udfCount = "(?i)scalaudf".r.findAllIn(plan).size
    assert(udfCount == 0, s"expected no ScalaUDF, got $udfCount:\n${plan.take(1500)}")
  }

  test("lshTopK signature projection is materialized once, no ScalaUDF") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(5)
    val vecs = (0 until 150).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Ann.lshTopK(spark, vecs, "vec_id", "embedding", k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), "sig projection should be a checkpoint scan")
    // r6: signature/probe/cosine kernels are codegen expressions
    assert("(?i)scalaudf".r.findAllIn(plan).isEmpty, "expected no ScalaUDF on the LSH path")
  }

  test("ivfTopK final plan has no ScalaUDF (codegen argmax/probe/cosine)") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(13)
    val vecs = (0 until 150).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Ann.ivfTopK(spark, vecs, "vec_id", "embedding", k = 3,
      nlist = 8, nprobe = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert("(?i)scalaudf".r.findAllIn(plan).isEmpty, "expected no ScalaUDF on the IVF path")
  }

  test("exact dedup: no exchange carries the text column (128-bit key decision)") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"document body $i " * 10))
      .toDF("doc_id", "text")
    val df = graft.operators.Dedup.exact(docs, "doc_id", "text")
    val bad = exchangeOutputs(df).filter(_.exists(_.contains("text")))
    assert(bad.isEmpty, s"corpus text rode a dedup shuffle: $bad")
    // and the removal list is broadcast (corpus side never shuffles at all
    // beyond the (id, h1, h2, len) projection)
    val exch = exchangeOutputs(df)
    assert(exch.forall(out => out.forall(n =>
      n.startsWith("_e") || n.startsWith("_h") || n.startsWith("_len") || n.startsWith("_keep"))),
      s"unexpected exchange columns: $exch")
  }

  test("embeddingPairs probe shuffle is id-only") {
    import spark.implicits._
    val rng = new graft.tables.SplitMix64(9)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rng.nextDouble().toFloat).toSeq)).toDF("vec_id", "embedding")
    val df = graft.operators.Dedup.embeddingPairs(spark, vecs, "vec_id", "embedding", 0.9)
    val bad = exchangeOutputs(df).filter(out =>
      out.exists(_.contains("_bucket")) && out.exists(n => n == "v" || n == "embedding"))
    assert(bad.isEmpty, s"vector bytes rode a bucket shuffle: $bad")
  }

  test("-lines edge classification is UDF-free; only edge coords + small attrs shuffle") {
    import spark.implicits._
    val polys = (0 until 50).map { i =>
      (i.toLong, s"g${i % 3}",
        Seq(i * 2.0, 0.0, i * 2.0 + 2, 0.0, i * 2.0 + 2, 2.0, i * 2.0, 2.0, i * 2.0, 0.0))
    }.toDF("key", "g", "ring")
    val out = graft.operators.Lines.polygonsToLines(polys, "key", "ring", Seq("g"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("BatchEval"),
      "-lines should be pure built-in expressions")
    // the shuffle carries only edge coords + (key, g) structs — never rings
    val bad = exchangeOutputs(out).filter(_.exists(_.contains("ring")))
    assert(bad.isEmpty, s"ring arrays rode the -lines shuffle: $bad")
  }

  test("-check-geometry pair tests are UDF-free codegen column arithmetic") {
    import spark.implicits._
    val segs = (0 until 40).map(i =>
      (i.toLong, i * 1.0, 0.0, i * 1.0 + 3, 3.0)).toDF("sid", "x1", "y1", "x2", "y2")
    val pairs = graft.operators.CheckGeometry.intersectingPairs(segs, "sid", 2.0)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("BatchEval"))
  }

  test("polygon-side ring cover/bbox are codegen expressions, not Scala UDFs") {
    import spark.implicits._
    val rings = (0 until 20).map { i =>
      (i.toLong, Seq(i * 10.0, 0.0, i * 10.0 + 5, 0.0, i * 10.0 + 5, 5.0, i * 10.0, 5.0, i * 10.0, 0.0))
    }.toDF("key", "ring")
    val pairs = graft.operators.PolyJoin.candidatePairs(spark, rings, rings, cellRes = 5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("ring_cover"), plan.take(800))
    assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("BatchEval"),
      "boxed UDF survives on the polygon side")
  }

  /** Executed plans of the actions `body` runs whose plan holds a node matching `want`. */
  private def executedPlans(want: SparkPlan => Boolean, expected: Int)(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(want).isDefined) seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.size < expected && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[SparkPlan]).toSeq
  }

  private def topKAgg(p: SparkPlan, mode: AggregateMode): Boolean =
    p match {
      case a: HashAggregateExec => a.aggregateExpressions.exists(e =>
        e.mode == mode && e.aggregateFunction.isInstanceOf[KnnTopK])
      case _ => false
    }

  test("knnJoin ranks with a partial and a final top-k HashAggregate: no window, sort or object agg") {
    import spark.implicits._
    val rng = new SplitMix64(21)
    val n = 400
    val pts = (0 until n).map(i => (i.toLong, rng.nextDouble() * 100, rng.nextDouble() * 100))
      .toDF("id", "x", "y")
    // cells of 2.8 units hold ~0.3 points, so round 1 finalizes only some
    // points and the brute-force tail ranks the rest
    val plans = executedPlans(topKAgg(_, Final), expected = 2) {
      Knn.knnJoin(spark, pts, "id", "x", "y", k = 4, res = 7, bruteForceBudget = n.toLong * n - 1)
    }
    val isTail = (p: SparkPlan) => find(p) {
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
      case _ => false
    }.isDefined
    val (tail, ring) = plans.partition(isTail)
    assert(ring.nonEmpty && tail.size == 1,
      s"want ring-round plans and one tail plan, got ${ring.size} and ${tail.size}")
    for (plan <- ring ++ tail) {
      val banned = collect(plan) {
        case w @ (_: WindowExec | _: WindowGroupLimitExec | _: SortExec |
                  _: ObjectHashAggregateExec | _: SortAggregateExec) => w.nodeName
      }
      assert(banned.isEmpty, s"ranking plan has $banned:\n$plan")
      val finalAgg = collect(plan) { case a if topKAgg(a, Final) => a }
      assert(finalAgg.size == 1, plan.toString)
      // only exchanges and codegen/AQE wrappers may sit between the final
      // and the partial aggregate: the shuffle carries top-k buffers
      var exchanged = false
      def below(p: SparkPlan): SparkPlan = p match {
        case e: ShuffleExchangeExec => exchanged = true; below(e.child)
        case s: ShuffleQueryStageExec => below(s.plan)
        case _: AQEShuffleReadExec | _: WholeStageCodegenExec | _: InputAdapter => below(p.children.head)
        case other => other
      }
      assert(topKAgg(below(finalAgg.head.children.head), Partial),
        s"the final top-k aggregate must read a partial one through the exchange:\n$plan")
      // ring-round candidates are not partitioned by a_id, so the partial
      // buffers must be shuffled
      if (ring.contains(plan)) assert(exchanged, s"no exchange under the final top-k aggregate:\n$plan")
    }
  }

  private def scalaUdfs(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan)(p => p.expressions.flatMap(_.collect {
      case u: ScalaUDF => u.toString
    })).flatten

  test("cellJoin salts hot cells with codegen expressions, no ScalaUDF") {
    import spark.implicits._
    val polys = (0 until 20).map { i =>
      val x = (i % 5) * 20.0; val y = (i / 5) * 20.0
      (i.toLong, Seq(x, x + 15, x + 15, x, x), Seq(y, y, y + 15, y + 15, y))
    }.toDF("poly_key", "ring_x", "ring_y")
    val pts = (0 until 200).map(i => (i.toLong, i % 97 * 1.0, i % 89 * 1.0)).toDF("id", "x", "y")
    // saltThreshold = 0: every cell is hot, so the salting expressions are live
    val joined = SpatialJoin.cellJoin(spark, pts, "x", "y", polys, res = 5, saltThreshold = 0)
    assert(scalaUdfs(joined).isEmpty, joined.queryExecution.executedPlan.toString.take(2000))
  }
}
