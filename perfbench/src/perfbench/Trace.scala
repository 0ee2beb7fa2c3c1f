package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so span
  * times line up with the millisecond timestamps Spark puts on events.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()
}

/** One call the benchmark made into an engine layer. `name` is
  * `<layer>.<call>`; `op` is the timed operation it ran under (-1 when
  * outside the timed loop).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** One Spark job with the task counters summed over its stages. */
final class Job(val id: Int, val start: Long, val stages: Seq[Int]) {
  var end: Long = start
  var tasks = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** One timed operation of the closed loop. */
final case class Op(id: Int, start: Long, end: Long, traced: Boolean) {
  def wallMs: Double = (end - start) / 1e6
}

/** In-memory span recorder. With `on` false a span is just the call. */
final class Tracer {
  var on = false
  var op = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        spans(id) = Span(id, name, parent, op, t0, Clock.now())
        stack = stack.tail
      }
    }

  /** Duration of each span minus the part covered by its children. */
  def selfNs: Map[Int, Long] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.dur)
    spans.map(s => s.id -> (s.dur - child(s.id))).toMap
  }
}

/** Job, task, byte and planning counters, collected from the listener
  * bus and attributed to spans and operations by time.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  /** (end of planning in epoch ns, analysis + optimization + planning ms) */
  val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time * 1000000L, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.endTimeMs).max * 1000000L, phases.map(_.durationMs).sum.toDouble))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobsIn(start: Long, end: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= start && j.start <= end).toSeq
  }

  def planMsIn(start: Long, end: Long): Double = synchronized {
    plans.collect { case (t, ms) if t >= start && t <= end => ms }.sum
  }

  /** Nanoseconds of [start, end] covered by at least one of `js`. */
  def inJobNs(js: Seq[Job], start: Long, end: Long): Long = {
    var covered = 0L
    var reach = start
    js.map(j => (math.max(j.start, start), math.min(j.end, end))).sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    covered
  }
}
