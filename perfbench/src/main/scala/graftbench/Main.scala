package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.cell.CellIndex
import graft.index.LayerBroadcasts

/**
 * One benchmark JVM: one workload at one parallelism level. `run.py` starts
 * one of these per level, pinned to that many CPUs, and merges their reports.
 *
 * Usage: graftbench.Main --workload W --seed N --seconds S --cores C
 *          --trace 0|1 --scratch DIR --report FILE [--spans FILE]
 *          [--setup-reps R] [--save-input DIR] [--load-input DIR]
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, cores: Int, trace: Boolean,
                        scratch: String, report: String, spans: Option[String], setupReps: Int,
                        loadInput: Option[String], saveInput: Option[String])

  /** End-to-end metrics every untraced run reports (BENCHMARK.json gates
   * these; scale_eff_1_4 and resume_s apply to one workload each). */
  val endToEndKeys: Seq[String] = Seq("setup_s", "cold_s", "rows_per_s", "cpu_s_per_mrow", "peak_rss_mb")

  val probeKeys: Seq[String] = Seq("index.first_key_mps", "index.all_keys_mps", "index.keys_per_probe",
    "cell.encode_mps", "cell.disk_mps")

  /** Per-layer metrics every traced run reports; the operator and streaming
   * metrics of single workloads come on top. */
  val commonLayerKeys: Seq[String] = Seq("tables.gen_s", "tables.cache_fill_s", "index.build_s",
    "index.bcast_s") ++ probeKeys ++ Counts.keys :+ "trace.overhead_frac"

  /** Warm iterations run until `--seconds` have passed, and at least this many. */
  final val MinWarm = 4
  /** Untimed iterations after the cold one, so that JIT compilation has
   * settled before timing starts. Their outputs are still checked. */
  final val WarmupSeconds = 2.0
  final val Probes = 1000000

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i)
      require(k.startsWith("--"), s"unexpected argument '$k'")
      require(i + 1 < argv.length, s"missing value for $k")
      kv(k.drop(2)) = argv(i + 1)
      i += 2
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("cores").toInt,
      need("trace") == "1", need("scratch"), need("report"), kv.get("spans"),
      kv.getOrElse("setup-reps", "3").toInt, kv.get("load-input"), kv.get("save-input"))
    require(a.cores >= 1 && a.setupReps >= 1 && a.seconds > 0, s"bad arguments $a")
    val cpus = Runtime.getRuntime.availableProcessors()
    require(a.cores <= cpus, s"refusing local[${a.cores}]: only $cpus CPUs are available to this JVM")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val r = run(a)
    val out = java.nio.file.Paths.get(a.report)
    java.nio.file.Files.writeString(out, r.json)
    sys.exit(r.exitCode)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .config("spark.sql.shuffle.partitions", Workloads.Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Coalescing packs the 12 shuffle partitions into 4 or 5 tasks by their
      // sizes, so a stage on 4 cores took one wave or two depending on the
      // seed. Uncoalesced, every shuffle stage runs 12 even tasks.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private val t00 = System.nanoTime()
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2fs $msg")

  final class Result(val json: String, val exitCode: Int)

  /** Attempted and failed operations: the cold iteration counts as failed if a
   * brute-force check disagrees, each warm one if its full output differs
   * from the cold iteration's. */
  def judge(first: Outcome, refErrors: Seq[String], warm: Seq[Outcome]): (Int, Int) =
    (1 + warm.size, (if (refErrors.nonEmpty) 1 else 0) + warm.count(o => !o.sameOutput(first)))

  def exitCode(failed: Int): Int = if (failed > 0) 1 else 0

  /** Single-thread kernel probes over `Probes` points drawn like the input. */
  def probes(w: Workload): Map[String, Double] = {
    val (xs, ys) = w.probePoints(Probes)
    val layer = w.layer
    var sink = 0L
    def rate(body: Int => Unit): Double = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < xs.length) { body(i); i += 1 }
      xs.length / ((System.nanoTime() - t0) / 1e9)
    })
    var keys = 0L
    xs.indices.foreach(i => keys += layer.findKeys(xs(i), ys(i)).length)
    val cells = xs.indices.map(i => CellIndex.cellId(xs(i), ys(i), 9)).toArray
    val m = Map(
      "index.first_key_mps" -> rate(i => sink += layer.findFirstKey(xs(i), ys(i))) / 1e6,
      "index.all_keys_mps" -> rate(i => sink += layer.findKeys(xs(i), ys(i)).length) / 1e6,
      "index.keys_per_probe" -> keys.toDouble / xs.length,
      "cell.encode_mps" -> rate(i => sink += CellIndex.cellId(xs(i), ys(i), 9)) / 1e6,
      "cell.disk_mps" -> rate(i => sink += CellIndex.neighborDisk(cells(i), 1).length) / 1e6)
    if (sink == 42) println("") // keeps the probe results live
    m
  }

  def run(a: Args): Result = {
    val w = Workloads.make(a.workload, a.seed, a.scratch, a.loadInput)
    val runId = s"${a.workload}-seed${a.seed}-local${a.cores}-${ProcessHandle.current().pid()}"
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupParts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var spark: SparkSession = null
    for (_ <- 0 until a.setupReps) {
      if (spark != null) { w.release(); spark.stop() }
      val t = new Timings
      val t0 = System.nanoTime()
      spark = t.time("session_s")(session(a))
      w.setup(spark, t)
      setupS += (System.nanoTime() - t0) / 1e9
      progress(s"setup ${t.seconds.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}")
      t.seconds.foreach { case (k, v) => setupParts.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    }
    val tracer = new Tracer(spark, runId)
    val layerM = mutable.Map.empty[String, Double]
    if (a.trace) {
      tracer.enabled = true
      val t0 = System.nanoTime()
      tracer.span("index.bcast")(LayerBroadcasts.of(spark, w.layer))
      layerM("index.bcast_s") = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
    }

    val c0 = System.nanoTime()
    val first = w.iterate(spark, tracer)
    val coldS = (System.nanoTime() - c0) / 1e9
    progress(f"cold iteration $coldS%.3f s")
    // A JVM that loads another level's input is checked against that level's
    // output by run.py instead of repeating the brute-force check.
    val refErrors = if (a.loadInput.isEmpty) w.check(spark, first) else Nil
    progress(s"reference check: ${refErrors.size} mismatches")
    refErrors.take(20).foreach(e => System.err.println(s"[perfbench] MISMATCH $e"))

    // Warm loop. In a traced run every other iteration is traced, so the
    // untraced ones give the overhead baseline under the same conditions.
    val warm = mutable.ArrayBuffer.empty[Outcome]
    val plainS = mutable.ArrayBuffer.empty[Double]
    val plainCpu = mutable.ArrayBuffer.empty[Double]
    val plainResume = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Outcome]
    val warmupEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    do warm += w.iterate(spark, tracer) while (System.nanoTime() < warmupEnd)
    progress(s"warm-up: ${warm.size} iterations")
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || plainS.size < MinWarm || (a.trace && tracedS.size < MinWarm)) {
      val on = a.trace && i % 2 == 1
      tracer.enabled = on
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val o = if (on) tracer.span("iteration")(w.iterate(spark, tracer)) else w.iterate(spark, tracer)
      val dt = (System.nanoTime() - t0) / 1e9
      warm += o
      progress(f"warm iteration $i traced=$on $dt%.3f s")
      if (on) { tracedS += dt; traced += o }
      else {
        plainS += dt
        plainCpu += (cpuNs() - cpu0) / 1e9
        plainResume ++= o.seconds.get("resume_s")
      }
      i += 1
    }
    tracer.enabled = false

    val (attempted, failed) = judge(first, refErrors, warm.toSeq)
    val rowsPerS = w.rows / Stats.median(plainS.toSeq)
    val endToEnd = mutable.LinkedHashMap(
      "setup_s" -> Stats.median(setupS.toSeq),
      "cold_s" -> coldS,
      "rows_per_s" -> rowsPerS,
      "cpu_s_per_mrow" -> plainCpu.sum / (w.rows * plainCpu.size / 1e6))
    if (plainResume.nonEmpty) endToEnd("resume_s") = Stats.median(plainResume.toSeq)

    if (a.trace) {
      setupParts.foreach { case (k, v) => if (k != "session_s") layerM(k) = Stats.median(v.toSeq) }
      layerM ++= probes(w)
      val iters = tracer.named("iteration").map(s => tracer.inclusive(s).toMap)
      Counts.keys.foreach(k => layerM(k) = Stats.median(iters.map(_(k))))
      layerM("trace.overhead_frac") = Stats.median(tracedS.toSeq) / Stats.median(plainS.toSeq) - 1
      tracer.enabled = true
      layerM ++= w.operators(spark, tracer)
      tracer.enabled = false
      layerM ++= w.layerMetrics(tracer, traced.toSeq)
      a.spans.foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p), Json.obj(Seq(
        "run" -> Json.str(runId), "per_layer" -> Json.nums(layerM.toMap), "spans" -> tracer.toJson))))
    }
    a.saveInput.foreach(w.saveInput)
    w.release()
    spark.stop()
    progress("session stopped")
    endToEnd("peak_rss_mb") = peakRssMb()

    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "cores" -> a.cores.toString,
      "run_id" -> Json.str(runId),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "rows" -> w.rows.toString,
      "output" -> first.parts.map(p => s"[${Json.str(p.name)},${p.rows},${p.checksum}]").mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "mismatches" -> refErrors.take(20).map(Json.str).mkString("[", ",", "]"),
      "warm_iterations" -> plainS.size.toString,
      "warm_s" -> plainS.map(Json.num).mkString("[", ",", "]"),
      "traced_s" -> tracedS.map(Json.num).mkString("[", ",", "]"),
      "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "end_to_end" -> Json.nums(endToEnd.toMap),
      "per_layer" -> Json.nums(layerM.toMap)))
    new Result(json, exitCode(failed))
  }
}
