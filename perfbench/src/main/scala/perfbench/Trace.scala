package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval with a parent; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, durMs: Double)

/** Spans of the traced run, kept in memory and written when the run ends.
  * Spark jobs inherit the span and phase that the driver thread (or a sink
  * call on the stream thread) sets as local properties; the listener turns
  * jobs and stages into child spans and sums task metrics per phase. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val sc = spark.sparkContext

  def nowMs: Double = System.currentTimeMillis().toDouble

  def newId(): Int = ids.incrementAndGet()

  def add(parent: Int, name: String, startMs: Double, durMs: Double, id: Int = newId()): Int = {
    spans.add(Span(id, parent, name, startMs, durMs))
    id
  }

  /** Runs `f` as a span under `parent`, with Spark jobs it starts attributed
    * to the span and to `phase`. */
  def span[T](parent: Int, name: String, phase: String)(f: Int => T): T = {
    val id = newId()
    val (oldSpan, oldPhase) = (sc.getLocalProperty(Tracer.SpanKey), sc.getLocalProperty(Tracer.PhaseKey))
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    sc.setLocalProperty(Tracer.PhaseKey, phase)
    val t0 = nowMs
    try f(id)
    finally {
      spans.add(Span(id, parent, name, t0, nowMs - t0))
      sc.setLocalProperty(Tracer.SpanKey, oldSpan)
      sc.setLocalProperty(Tracer.PhaseKey, oldPhase)
    }
  }

  val jobs = new JobListener(this)
  val catalyst = new CatalystListener(System.currentTimeMillis())

  def start(): Unit = { sc.addSparkListener(jobs); spark.listenerManager.register(catalyst) }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(catalyst)
  }

  /** Waits until the listener bus has delivered everything posted so far:
    * a marker job's end event arrives after every earlier event. */
  def drain(): Unit = {
    val before = jobs.markers.get()
    sc.setLocalProperty(Tracer.PhaseKey, Tracer.Marker)
    try spark.range(1).collect() finally sc.setLocalProperty(Tracer.PhaseKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (jobs.markers.get() == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** The trace file: every span with its self time (duration minus the
    * summed durations of its children). */
  def json: String = {
    val ss = all.sortBy(_.id)
    val childMs = ss.groupBy(_.parent).view.mapValues(_.map(_.durMs).sum).toMap
    ss.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
        s""""dur_ms":${Json.num(s.durMs)},"self_ms":${Json.num(s.durMs - childMs.getOrElse(s.id, 0.0))}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
  val Marker = "marker"

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}

/** Sums of Spark task metrics over a set of stages. */
final class TaskSums {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs, deserMs, shuffleRead, shuffleWrite, spill = 0.0
}

/** Job and stage spans plus per-phase task-metric sums, from Spark's
  * public listener events. */
final class JobListener(tracer: Tracer) extends SparkListener {
  import JobListener.Job
  private val open = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val markers = new AtomicInteger(0)
  /** Per phase: task sums and the [start, end) interval of every job, keyed
    * by the span the job ran under. */
  val sums: mutable.Map[String, TaskSums] = mutable.Map()
  val jobIntervals: mutable.Map[Int, mutable.ArrayBuffer[(Double, Double)]] = mutable.Map()

  private def sumsFor(phase: String) = synchronized(sums.getOrElseUpdate(phase, new TaskSums))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("other")
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(0)
    val job = Job(tracer.newId(), span, phase, e.time.toDouble)
    open.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.put(s, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(open.remove(e.jobId)).foreach { j =>
    if (j.phase == Tracer.Marker) markers.incrementAndGet()
    else {
      tracer.add(j.span, s"job ${e.jobId}", j.startMs, e.time - j.startMs, j.id)
      synchronized {
        sumsFor(j.phase).jobs += 1
        jobIntervals.getOrElseUpdate(j.span, mutable.ArrayBuffer()) += ((j.startMs, e.time.toDouble))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.remove(e.stageInfo.stageId)).filter(_.phase != Tracer.Marker).foreach { j =>
      val si = e.stageInfo
      val start = si.submissionTime.getOrElse(0L).toDouble
      val end = si.completionTime.getOrElse(start.toLong).toDouble
      tracer.add(j.id, s"stage ${si.stageId}", start, end - start)
      val m = si.taskMetrics
      synchronized {
        val s = sumsFor(j.phase)
        s.stages += 1
        s.tasks += si.numTasks
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.deserMs += m.executorDeserializeTime
          s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

object JobListener {
  final case class Job(id: Int, span: Int, phase: String, startMs: Double)
}

/** Catalyst phase times of every query materialized through `noop` that
  * started planning after `sinceMs` (the bus may still deliver earlier
  * queries' events). */
final class CatalystListener(sinceMs: Long) extends QueryExecutionListener {
  val phases: mutable.ArrayBuffer[Map[String, Double]] = mutable.ArrayBuffer()

  private def isNoopWrite(qe: QueryExecution): Boolean =
    qe.analyzed.collectFirst { case w: V2WriteCommand => w.table.name }.contains("noop-table")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (isNoopWrite(qe) && qe.tracker.phases.values.forall(_.startTimeMs >= sinceMs)) synchronized {
      phases += qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
