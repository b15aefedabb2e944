package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a call into a layer, timed from outside. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      start: Long, end: Long) {
  def wallS: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: jobs, executor run time and shuffle
  * bytes written. */
final class SpanWork {
  var jobs = 0
  var taskMs = 0L
  var shuffleBytes = 0L
}

/**
 * Span recorder plus the listener that attributes Spark's job, stage and
 * task counters to the innermost open span of the thread that submitted the
 * job. The span id travels as a Spark local property, which Spark copies
 * into every job (and into the broadcast/subquery threads it forks), so no
 * program code needs to know about the tracer. Spans stay in memory and are
 * written out once, when the run ends.
 */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  val Property = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val closed = mutable.Buffer[Span]()
  private val stack = mutable.Stack[(Long, Long)]() // (id, start ns)

  // listener state (listener-bus thread)
  private val stageSpan = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val work = mutable.Map[Long, SpanWork]()
  private val jobIntervals = mutable.Buffer[(Long, Long)]() // ns, any job
  // totals across the whole run, traced or not
  private var totalJobs = 0
  private var totalFailedJobs = 0
  private var totalFailedTasks = 0
  private var totalSpill = 0L

  sc.addSparkListener(this)

  /** Runs `body` inside a span named `name`, child of the current span. */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    stack.push((id, System.nanoTime()))
    sc.setLocalProperty(Property, id.toString)
    try body
    finally {
      val (_, start) = stack.pop()
      val end = System.nanoTime()
      sc.setLocalProperty(Property, stack.headOption.map(_._1.toString).orNull)
      synchronized(closed += Span(id, name, parent, runId, start, end))
    }
  }

  def spans: Seq[Span] = synchronized(closed.toVector)

  private def nowNs(epochMs: Long): Long =
    // listener timestamps are epoch ms; spans use nanoTime
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totalJobs += 1
    jobStart(e.jobId) = nowNs(e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(Property))).foreach { s =>
      val id = s.toLong
      e.stageIds.foreach(st => stageSpan(st) = id)
      work.getOrElseUpdate(id, new SpanWork).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, nowNs(e.time))))
    if (e.jobResult != JobSucceeded) totalFailedJobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) totalFailedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      totalSpill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageSpan.get(e.stageId).foreach { id =>
        val w = work.getOrElseUpdate(id, new SpanWork)
        w.taskMs += m.executorRunTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Waits until every posted event has been delivered to this listener. */
  def drain(): Unit = org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(sc)

  def jobs: Int = synchronized(totalJobs)
  def failedJobs: Int = synchronized(totalFailedJobs)
  def failedTasks: Int = synchronized(totalFailedTasks)
  def spillBytes: Long = synchronized(totalSpill)

  /** Work of span `id` and all its descendants. */
  def inclusive(id: Long): SpanWork = synchronized {
    val kids = closed.groupBy(_.parent)
    val acc = new SpanWork
    def add(i: Long): Unit = {
      work.get(i).foreach { w =>
        acc.jobs += w.jobs; acc.taskMs += w.taskMs; acc.shuffleBytes += w.shuffleBytes
      }
      kids.getOrElse(i, Nil).foreach(s => add(s.id))
    }
    add(id)
    acc
  }

  /** Seconds of [start, end] during which no Spark job was running: the
    * time the work waited on the driver (planning, AQE re-planning, job
    * submission, driver-side glue). */
  def driverSeconds(s: Span): Double = synchronized {
    val clipped = jobIntervals.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter(t => t._2 > t._1).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    math.max(0L, (s.end - s.start) - busy) / 1e9
  }

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = inclusive(s.id)
      s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"task_ms":${w.taskMs},""" +
        s""""shuffle_bytes":${w.shuffleBytes},"jobs":${w.jobs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Counts log4j ERROR events (Spark's own and the engine's) for the run. */
object ErrorLogCounter {
  import org.apache.logging.log4j.Level
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  private val count = new AtomicLong(0)
  private val samples = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private final class Appender extends AbstractAppender(
      "perfbench-error-counter", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
        count.incrementAndGet()
        if (samples.size < 5) samples.add(String.valueOf(e.getMessage.getFormattedMessage).take(160))
      }
  }

  def install(): Unit = {
    val ctx = LoggerContext.getContext(false)
    val app = new Appender
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
  }

  def errors: Long = count.get()
  def sampleMessages: Seq[String] = samples.toArray.map(_.toString).toSeq.sorted
}

/** Heap still in use after a full collection: the live set the operations
  * left behind (cached frames, broadcasts, driver-side state). Heap used at
  * any other moment tracks the collector's sizing policy more than the
  * program, so it is not used. */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
