package graftbench

import scala.collection.mutable

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counts attributed to one span (its own actions only). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var delayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var actions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** `numOutputRows` of every join node in the final (AQE) plans. */
  var joinRows = 0L
  /** Task run times per stage, for the skew of the widest stage. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** Submission to completion of each stage, in ms. */
  val stageWallMs = mutable.Map.empty[Int, Long]
  /** Shuffle records each stage read and wrote. */
  val stageRecords = mutable.Map.empty[Int, (Long, Long)]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; delayMs += o.delayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords; actions += o.actions
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    joinRows += o.joinRows
    o.stageTaskMs.foreach { case (s, ts) => stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
    stageWallMs ++= o.stageWallMs
    stageRecords ++= o.stageRecords
  }

  /** max ÷ median task run time in the widest stage: the one with the most
   * tasks, and of those the one with the most task time (1 = even). */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(t => (t.size, t.sum)).map(_.toDouble).sorted
      val med = Stats.median(ts.toSeq)
      if (med <= 0) 1.0 else ts.last / med
    }

  /** One JSON object per stage: tasks, wall time, the sum, median and
   * maximum of its task run times, and its shuffle records, so that a span's
   * time splits into stage work and the driver time between stages. */
  def stagesJson: String = stageTaskMs.toSeq.sortBy(_._1).map { case (id, ts) =>
    val sorted = ts.map(_.toDouble).sorted.toSeq
    s"""{"stage":$id,"tasks":${ts.size},"wall_ms":${stageWallMs.getOrElse(id, -1L)},""" +
      s""""task_ms_sum":${ts.sum},"task_ms_median":${Json.num(Stats.median(sorted))},""" +
      s""""task_ms_max":${Json.num(sorted.last)},"shuffle_records_read":${stageRecords.getOrElse(id, (0L, 0L))._1},""" +
      s""""shuffle_records_written":${stageRecords.getOrElse(id, (0L, 0L))._2}}"""
  }.mkString("[", ",", "]")

  def toMap: Map[String, Double] = Map(
    "driver.analysis_ms" -> analysisMs.toDouble,
    "driver.optimization_ms" -> optimizationMs.toDouble,
    "driver.planning_ms" -> planningMs.toDouble,
    "sched.jobs" -> jobs.toDouble,
    "sched.stages" -> stages.toDouble,
    "sched.tasks" -> tasks.toDouble,
    "sched.delay_s" -> delayMs / 1e3,
    "exec.cpu_s" -> cpuNs / 1e9,
    "exec.run_s" -> runMs / 1e3,
    "exec.gc_s" -> gcMs / 1e3,
    "exec.task_skew" -> taskSkew,
    "shuffle.write_bytes" -> shuffleWrite.toDouble,
    "shuffle.read_bytes" -> shuffleRead.toDouble,
    "shuffle.spill_bytes" -> spill.toDouble,
    "scan.input_bytes" -> inputBytes.toDouble,
    "scan.records" -> inputRecords.toDouble)
}

object Counts {
  val keys: Seq[String] = new Counts().toMap.keys.toSeq.sorted
}

final class Span(val id: Int, val parent: Int, val name: String, val run: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  val counts = new Counts
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into the engine, plus the Spark runtime
 * counts each span's actions caused. Every action inside a span runs under a
 * job group named after the span, so job, stage and task events are filed by
 * group. Query-execution events carry no group; the bus is drained at each
 * span boundary, and one client runs one action at a time, so they belong to
 * the innermost open span.
 *
 * A disabled tracer runs the body and records nothing, and it keeps no
 * listener on the session: untraced iterations pay no listener cost.
 */
final class Tracer(spark: SparkSession, runId: String) {
  /** Spans are recorded only while this is set (top level only). */
  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  @volatile private var innermost: Span = null
  private var listening = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s != null) {
        s.counts.synchronized { s.counts.jobs += 1 }
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val s = stageSpan.get(info.stageId)
      if (s != null) s.counts.synchronized {
        s.counts.stages += 1
        for (a <- info.submissionTime; b <- info.completionTime) s.counts.stageWallMs(info.stageId) = b - a
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.counts.synchronized {
        val c = s.counts
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        val (r, w) = c.stageRecords.getOrElse(e.stageId, (0L, 0L))
        c.stageRecords(e.stageId) = (r + m.shuffleReadMetrics.recordsRead, w + m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = innermost
      if (s != null) s.counts.synchronized {
        val c = s.counts
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        c.actions += 1
        c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
        c.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
        c.planningMs += ms(QueryPlanningTracker.PLANNING)
        c.joinRows += PlanWalk.joinOutputRows(qe)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def listen(on: Boolean): Unit = if (on != listening) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
    } else {
      GraftBenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
    listening = on
  }

  /** Run `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      listen(on = true)
      GraftBenchBus.drain(sc)
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, runId, System.nanoTime())
      val group = s"$name#${s.id}"
      spans += s
      byGroup.put(group, s)
      stack = s :: stack
      innermost = s
      sc.setJobGroup(group, name)
      try body
      finally {
        GraftBenchBus.drain(sc)
        s.endNs = System.nanoTime()
        stack = stack.tail
        innermost = stack.headOption.orNull
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"${p.name}#${p.id}", p.name)
          case None => sc.clearJobGroup(); listen(on = false)
        }
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Counts of a span and all its descendants. */
  def inclusive(s: Span): Counts = {
    val c = new Counts
    c.add(s.counts)
    spans.filter(_.parent == s.id).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = spans.map { s =>
    val c = inclusive(s)
    val counts = c.toMap.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"run":${Json.str(s.run)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"dur_s":${Json.num(s.seconds)},""" +
      s""""self_s":${Json.num(selfSeconds(s))},"actions":${c.actions},"join_rows":${c.joinRows},"counts":{$counts},""" +
      s""""stages":${c.stagesJson}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Final-plan SQL metrics, read through AQE stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def joinOutputRows(qe: QueryExecution): Long =
    collect(qe.executedPlan) { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
