package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._

/** In-memory span recorder plus the Spark listener that attributes every
  * job to the span that launched it.
  *
  * A span wraps one public call (a query's build, its `executedPlan`, its
  * `toRdd.count()`, a pipeline `run`, one table's write …). The span id
  * travels as a Spark local property, so `onJobStart` reads the launching
  * span from the job's own properties instead of guessing by time. Spans
  * are recorded only while `active`; the listener is attached for active
  * passes only, so untraced passes pay for neither.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val epochMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Wall clock in epoch milliseconds at nanosecond resolution, on the
    * same axis as the listener's event times. */
  def nowMs: Double = epochMs + (System.nanoTime() - nanoBase) / 1e6

  val spans = ArrayBuffer[Span]()
  val recorder = new Recorder
  private var stack = List.empty[Int]
  private var nextId = 0
  private var active = false
  private var pass = 0
  private var op = ""

  def beginPass(k: Int, traced: Boolean): Unit = {
    pass = k
    active = traced
    if (active) sc.addSparkListener(recorder)
  }

  def endPass(): Unit = if (active) {
    BusDrain(sc)
    sc.removeSparkListener(recorder)
    active = false
  }

  /** Root span of one operation: every span and job inside shares `name`
    * as its op id. */
  def op[T](name: String)(body: => T): T = { op = name; span("op")(body) }

  def span[T](name: String)(body: => T): T = if (!active) body else {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack ::= id
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowMs
    try body
    finally {
      spans += Span(id, parent, name, op, pass, t0, nowMs)
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Everything recorded, as plain maps and sequences for the result file. */
  def toRecord: Map[String, Any] = Map(
    "spans" -> spans.sortBy(_.id).map(s =>
      Seq(s.id, s.parent, s.name, s.op, s.pass, s.t0, s.t1)).toSeq,
    "jobs" -> recorder.jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      Seq(id, j.span, j.start, j.end, j.stageIds) },
    "stages" -> recorder.stages.asScala.toSeq.map { s =>
      val tasks = Option(recorder.tasks.get((s.stageId, s.attempt)))
        .map(_.asScala.toSeq).getOrElse(Nil)
      Map("id" -> s.stageId, "attempt" -> s.attempt, "job" -> recorder.stageJob
          .getOrDefault(s.stageId, -1), "submit" -> s.submit, "complete" -> s.complete,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "input" -> s.input, "output" -> s.output,
        "task_launch" -> tasks.map(_._1), "task_ms" -> tasks.map(_._2))
    },
    "counts" -> Map("jobs" -> recorder.nJobs.get, "stages" -> recorder.nStages.get,
      "tasks" -> recorder.nTasks.get))
}

object Tracer {
  val SpanKey = "graftbench.span"

  final case class Span(id: Int, parent: Int, name: String, op: String, pass: Int,
                        t0: Double, t1: Double)

  final class JobRec(val span: Int, val start: Long, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }

  final case class StageRec(stageId: Int, attempt: Int, submit: Long, complete: Long,
                            runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
                            shuffleWrite: Long, spill: Long, input: Long, output: Long)

  /** Listener-bus side: concurrent maps and atomic counters only; the
    * main thread reads them after [[BusDrain]]. */
  final class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val tasks = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[(Long, Long)]]()
    val nJobs, nStages, nTasks = new AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(span, e.time, e.stageIds))
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      nJobs.incrementAndGet()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.add(StageRec(si.stageId, si.attemptNumber(),
        si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
      nStages.incrementAndGet()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new ConcurrentLinkedQueue[(Long, Long)]())
        .add((e.taskInfo.launchTime, e.taskInfo.duration))
      nTasks.incrementAndGet()
    }
  }
}
