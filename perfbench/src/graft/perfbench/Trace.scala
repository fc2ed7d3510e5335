package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch nanoseconds. `op` groups the spans of one
  * benchmark operation; `parent` is the id of the span that caused this
  * one (-1 for an operation's root span). Spans from Spark events carry
  * millisecond resolution. */
final case class Span(id: Int, name: String, layer: String, op: Int,
                      parent: Int, startNs: Long, endNs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store. Operation spans are opened by the client thread;
  * Spark job and query-phase spans arrive from listeners and are attached
  * to the operation whose interval holds them (one client thread runs one
  * operation at a time, so the interval identifies the operation). */
final class Tracer {
  private val originNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0

  def nowNs: Long = System.nanoTime() + originNs

  def add(name: String, layer: String, op: Int, parent: Int, startNs: Long,
          endNs: Long, attrs: Map[String, Double] = Map.empty): Int =
    synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, name, layer, op, parent, startNs, endNs, attrs)
      id
    }

  /** Run `f` as a span; the span is recorded even when `f` throws. */
  def span[A](name: String, layer: String, op: Int, parent: Int = -1)(f: => A): A = {
    val t0 = nowNs
    try f finally add(name, layer, op, parent, t0, nowNs)
  }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Parent every listener span to its operation's root span: by the op id
    * the span carries, else by the operation interval that holds it. */
  def attach(): Vector[Span] = {
    val ss = all
    val ops = ss.filter(_.layer == Tracer.OpLayer).sortBy(_.startNs)
    val byOp = ops.map(o => o.op -> o).toMap
    val starts = ops.map(_.startNs).toArray
    val attached = ss.map { s =>
      if (s.layer == Tracer.OpLayer || s.parent >= 0) s
      else if (s.op >= 0) byOp.get(s.op).map(o => s.copy(parent = o.id)).getOrElse(s)
      else {
        // last op starting at or before the span (ms rounding: 1 ms slack)
        val i = java.util.Arrays.binarySearch(starts, s.startNs + 1000000L) match {
          case k if k >= 0 => k
          case k => -k - 2
        }
        if (i >= 0 && s.startNs <= ops(i).endNs + 1000000L)
          s.copy(op = ops(i).op, parent = ops(i).id)
        else s
      }
    }
    synchronized { spans.clear(); spans ++= attached }
    attached
  }
}

object Tracer {
  /** Layer of an operation's root span. */
  val OpLayer = "op"

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-job Spark task metrics, keyed to the benchmark operation through
  * the `perfbench.op` local property the client thread sets. */
final case class JobStats(jobId: Int, op: Int, startMs: Long, var endMs: Long = -1L,
                          var stages: Int = 0, var tasks: Int = 0,
                          var runMs: Long = 0L, var cpuNs: Long = 0L,
                          var schedDelayMs: Long = 0L, var gcMs: Long = 0L,
                          var shuffleBytes: Long = 0L)

class JobListener(tracer: Tracer) extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageToJob = mutable.Map[Int, Int]()

  def snapshot: Vector[JobStats] = synchronized(jobs.values.toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobStats(e.jobId, op, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
      if (e.stageInfo.numTasks > 0 && e.stageInfo.completionTime.isDefined) j.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      // time the task waited: launch to finish minus the executor's own work
      val own = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      j.schedDelayMs += math.max(0L, info.duration - own)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val done = synchronized {
      jobs.get(e.jobId).map { j => j.endMs = e.time; j }
    }
    done.foreach { j =>
      tracer.add("spark.job", "spark", j.op, -1, j.startMs * 1000000L,
        j.endMs * 1000000L, Map("job_id" -> j.jobId.toDouble))
    }
  }
}

object JobListener { val OpKey = "perfbench.op" }

/** Spark's own per-query phase timings (analysis, optimization, physical
  * planning), recorded as `sql.*` spans. */
class PhaseListener(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      tracer.add(s"sql.$phase", "sql", -1, -1, s.startTimeMs * 1000000L,
        s.endTimeMs * 1000000L)
    }
}
