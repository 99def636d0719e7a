package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{BenchAccess, SparkContext}
import org.apache.spark.scheduler._

/** One traced call into a layer. Spans of one operation share `op`;
  * `parent` is the span that was open when this one started. The
  * listener counts of every Spark job started inside the span (and not
  * inside a child span) are attached to it. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val step: String, val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var durNs = 0L
  var jobs = 0
  var firstJobMs = Long.MaxValue
  var lastJobEndMs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var inputTasks = 0L
  var inputTaskMs = 0L
  val stageTaskMs = mutable.Map[Int, ArrayBuffer[Long]]()

  /** max ÷ median task time of the most skewed stage with ≥ 2 tasks. */
  def skew: Double = {
    val per = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
    if (per.isEmpty) 1.0 else per.max
  }

  def json: String = Json.obj(Seq(
    "id" -> id.toString, "name" -> Json.str(name), "parent" -> parent.toString,
    "op" -> op.toString, "step" -> Json.str(step),
    "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
    "dur_s" -> Json.num(durNs / 1e9), "jobs" -> jobs.toString,
    "first_job_ms" -> (if (jobs == 0) "null" else firstJobMs.toString),
    "last_job_end_ms" -> (if (jobs == 0) "null" else lastJobEndMs.toString),
    "tasks" -> tasks.toString, "task_s" -> Json.num(taskMs / 1e3),
    "gc_s" -> Json.num(gcMs / 1e3), "shuffle_bytes" -> shuffleBytes.toString,
    "spill_bytes" -> spillBytes.toString, "records_read" -> recordsRead.toString,
    "input_tasks" -> inputTasks.toString, "input_task_s" -> Json.num(inputTaskMs / 1e3),
    "skew" -> Json.num(skew)))
}

/** Spans kept in memory, plus the Spark listener that attributes job,
  * stage and task counts to them through a job-local property. With
  * `enabled = false` every call runs its body and records nothing, and
  * no listener is registered. */
final class Tracer(val enabled: Boolean) extends SparkListener {
  private val Key = "graftbench.span"
  private val spans = ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var listening = false
  private var on = enabled

  def attach(s: SparkContext): Unit = {
    sc = s; listening = false
    stageSpan.clear(); jobSpan.clear()
    setActive(on)
  }

  /** Trace mode alternates traced and untraced passes to measure the
    * tracing overhead; an untraced pass also detaches the listener. */
  def setActive(a: Boolean): Unit = {
    on = enabled && a
    if (sc != null && on != listening) {
      if (on) sc.addSparkListener(this) else sc.removeSparkListener(this)
      listening = on
    }
  }

  def active: Boolean = on

  def span[T](name: String, op: Int = -1, step: String = "")(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.fold(-1)(_.id),
        if (op >= 0) op else parent.fold(-1)(_.op),
        if (step.nonEmpty) step else parent.fold("")(_.step),
        System.currentTimeMillis(), System.nanoTime())
      spans += s; byId.put(s.id, s); stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.durNs = System.nanoTime() - s.startNs
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def drain(): Unit = if (sc != null && !sc.isStopped) BenchAccess.drainListenerBus(sc)

  def dump(): Seq[String] = spans.map(_.json).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
        s.jobs += 1
        s.firstJobMs = math.min(s.firstJobMs, e.time)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { s =>
      s.lastJobEndMs = math.max(s.lastJobEndMs, e.time)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      val dur = e.taskInfo.duration
      s.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += dur
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        val read = m.inputMetrics.recordsRead
        s.recordsRead += read
        if (read > 0) { s.inputTasks += 1; s.inputTaskMs += m.executorRunTime }
      }
    }
}
