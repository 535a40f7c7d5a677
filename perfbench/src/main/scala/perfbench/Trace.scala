package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code around a call into graft. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, runId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * In-memory span recorder. Spans are only recorded while `enabled` is set
 * (the traced phase of a `--trace 1` run); otherwise `span` is a plain call,
 * so an untraced run pays one volatile read per call site. The parent of a
 * span is the innermost open span on the same thread, or the explicit
 * `root` for work handed to pool threads.
 */
object Trace {
  @volatile var enabled = false
  @volatile var runId = ""
  @volatile var root: Long = 0L
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(root)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), parent, runId))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Total milliseconds spent in spans of `name`. */
  def totalMs(name: String): Double =
    done.asScala.iterator.filter(_.name == name).map(_.ms).sum
  def durationsMs(name: String): Seq[Double] =
    done.asScala.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Milliseconds of `[from, to)` that no span with a parent of `parents`
    * covers: the wall time of an op that no layer span accounts for. */
  def uncoveredMs(fromNs: Long, toNs: Long, parents: Set[Long]): Double = {
    val iv = done.asScala.iterator
      .filter(s => parents.contains(s.parent) && s.endNs > fromNs && s.startNs < toNs)
      .map(s => (math.max(s.startNs, fromNs), math.min(s.endNs, toNs)))
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    ((toNs - fromNs) - covered) / 1e6
  }

  /** Opens a root span for one op; layer spans inside it hang off it. */
  def op[A](name: String)(body: => A): (A, Span) = {
    val id = ids.incrementAndGet()
    val prevRoot = root
    if (enabled) root = id
    val t0 = System.nanoTime()
    val stack = open.get()
    if (enabled) open.set(id :: stack)
    val a = try body finally { open.set(stack); root = prevRoot }
    val s = Span(id, name, t0, System.nanoTime(), 0L, runId)
    if (enabled) done.add(s)
    (a, s)
  }

  def writeJson(path: java.nio.file.Path, extra: Map[String, Double]): Unit = {
    val sb = new StringBuilder
    sb.append("{\"run_id\":\"").append(runId).append("\",\"metrics\":{")
    sb.append(extra.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${Json.num(v)}""" }.mkString(","))
    sb.append("},\"spans\":[")
    sb.append(spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent}}""").mkString(",\n"))
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
    ()
  }
}

/**
 * Spark engine counters: a `SparkListener` for jobs, stages and task
 * metrics, and a `QueryExecutionListener` for Catalyst planning time
 * (the `QueryPlanningTracker` phases). Registered only on traced runs.
 */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, singleTaskStages = new LongAdder
  val planNs, waitMs, runMs, cpuNs = new LongAdder
  val shuffleRead, shuffleWrite, spill, output = new LongAdder
  private val submitted = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val firstLaunch = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t => submitted.put(e.stageInfo.stageId, t))
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    firstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)
    ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    stages.increment()
    if (e.stageInfo.numTasks == 1) singleTaskStages.increment()
    val s = submitted.remove(id)
    val l = firstLaunch.remove(id)
    if (s != null && l != null) waitMs.add(math.max(0L, l - s))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      output.add(m.outputMetrics.bytesWritten)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planNs.add(qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planNs.add(qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum)

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble,
    "tasks" -> tasks.sum.toDouble,
    "single_task_stages" -> singleTaskStages.sum.toDouble,
    "plan_ms" -> planNs.sum / 1e6, "task_wait_ms" -> waitMs.sum.toDouble,
    "executor_run_ms" -> runMs.sum.toDouble,
    "executor_cpu_ms" -> cpuNs.sum / 1e6,
    "shuffle_read_bytes" -> shuffleRead.sum.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
    "spill_bytes" -> spill.sum.toDouble,
    "output_bytes" -> output.sum.toDouble)
}

object EngineListener {
  def install(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  /** `v` with `digits` significant digits. */
  def num(v: Double, digits: Int = 7): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else BigDecimal(v).round(new java.math.MathContext(digits)).bigDecimal
      .stripTrailingZeros.toPlainString

  def metrics(ms: Seq[(String, Double, String)], digits: Int): String =
    ms.map { case (n, v, u) => s""""$n":{"value":${num(v, digits)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

/** Mutable per-run metric sink, filled by the workloads. */
final class Sink {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def set(k: String, v: Double): Unit = m(k) = v
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def get(k: String): Double = m.getOrElse(k, 0.0)
  def toMap: Map[String, Double] = m.toMap
}
