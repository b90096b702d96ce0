package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval of a traced run. Times are milliseconds since the
  * runner started; `parent` is 0 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: String, name: String, start: Double, end: Double)

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def fromEpochMs(epochMs: Long): Double = (epochMs - t0EpochMs).toDouble
  def reserve(): Int = ids.incrementAndGet()
  def put(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }

  /** Run `body` inside a span; `body` receives the span's id so that work
    * it starts can name this span as parent. */
  def span[T](parent: Int, op: String, name: String)(body: Int => T): T = {
    val id = reserve()
    val start = nowMs
    try body(id) finally put(Span(id, parent, op, name, start, nowMs))
  }
}

/** Per-operation execution counts from Spark's listener bus. Jobs are bound
  * to an operation by the `perfbench.op` local property the runner sets
  * around each traced operation, and to a parent span by `perfbench.span`. */
final class OpListener(tracer: Tracer) extends SparkListener {
  import OpListener.JobRef
  final class Counts {
    var jobs, stages, tasks, cpuNs, inputBytes, recordsRead, shuffleBytes, spillBytes = 0L
    var schedulerWaitMs = 0.0
  }
  private val byOp = new ConcurrentHashMap[String, Counts]()
  private val jobs = new ConcurrentHashMap[Int, JobRef]()
  private val stageJob = new ConcurrentHashMap[Int, JobRef]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()

  def counts(op: String): Counts = byOp.computeIfAbsent(op, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
    op.foreach { o =>
      val parent = Option(e.properties.getProperty("perfbench.span")).map(_.toInt).getOrElse(0)
      val ref = JobRef(o, parent, tracer.reserve(), tracer.fromEpochMs(e.time))
      jobs.put(e.jobId, ref)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, ref))
      val c = counts(o)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { r =>
      tracer.put(Span(r.spanId, r.parent, r.op, "job", r.start, tracer.fromEpochMs(e.time)))
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime,
      (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(math.min(a, b)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { r =>
      val c = counts(r.op)
      for (sub <- info.submissionTime; done <- info.completionTime) {
        tracer.put(Span(tracer.reserve(), r.spanId, r.op, "stage",
          tracer.fromEpochMs(sub), tracer.fromEpochMs(done)))
        Option(stageFirstLaunch.remove(info.stageId)).foreach { first =>
          c.synchronized(c.schedulerWaitMs += math.max(0L, first - sub).toDouble)
        }
      }
      c.synchronized(c.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val c = counts(r.op)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.recordsRead += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

object OpListener {
  private final case class JobRef(op: String, parent: Int, spanId: Int, start: Double)
}
