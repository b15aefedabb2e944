package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One measured value and its unit. */
final case class Metric(value: Double, unit: String)

/**
 * One closed-loop operation: one batch (a `Crawl.run` call or an archive
 * cycle) of `wallS` seconds and `cpuS` process CPU seconds, in which `urls`
 * URLs were crawled or archived; `stats` carries the workload's own
 * measurements.
 */
final case class OpOutcome(
    wallS: Double, cpuS: Double, urls: Long, bytesPerUrl: Double,
    stats: Map[String, Double], failures: Seq[String], traced: Boolean, spans: Seq[Span])

/** What the warm-up cost, and what its full output checks found. */
final case class WarmUp(cost: Cost, failures: Seq[String])

/** Wall-clock and CPU seconds of one timed piece of work. CPU time counts
  * every thread of the JVM (Spark's tasks, the driver, the garbage
  * collector) except the JIT compiler's: compilation goes on for several
  * operations after the warm-up and varied one operation's CPU time by up
  * to 2x, which would hide the cost of the work measured. */
final case class Cost(wallS: Double, cpuS: Double) {
  def +(o: Cost): Cost = Cost(wallS + o.wallS, cpuS + o.cpuS)
}

object Cost {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  // HotSpot's per-thread CPU counters of its internal threads; run.py
  // exports sun.management for this and fixes the compiler thread count,
  // so no compiler thread (and its CPU time) goes away during a run
  private val internalCpu: () => java.util.Map[String, java.lang.Long] = {
    val bean = Class.forName("sun.management.ManagementFactoryHelper")
      .getMethod("getHotspotThreadMBean").invoke(null)
    val times = Class.forName("sun.management.HotspotThreadMBean").getMethod("getInternalThreadCpuTimes")
    () => times.invoke(bean).asInstanceOf[java.util.Map[String, java.lang.Long]]
  }
  private def jitNs: Long = {
    val compilers = internalCpu().asScala.collect { case (n, t) if n.contains("CompilerThread") => t.longValue }
    if (compilers.isEmpty) throw new IllegalStateException("no JIT compiler thread found")
    compilers.sum
  }
  def cpuNs: Long = os.getProcessCpuTime - jitNs
  def of[T](body: => T): (T, Cost) = {
    val w0 = System.nanoTime(); val c0 = cpuNs
    val r = body
    (r, Cost((System.nanoTime() - w0) / 1e9, (cpuNs - c0) / 1e9))
  }
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {
  val parts: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Times `body`; in a traced operation it also becomes a span. */
  def step[T](name: String, traced: Boolean)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = if (traced) tracer.span(name)(body) else body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Util.deleteTree(p)
    p
  }
}

trait Workload {
  /** Input sizes, echoed on stdout. */
  def describe: String
  /** Set-up work done once per run, before the fixtures (timed). */
  def prepare(): Unit = ()
  /** Writes this seed's inputs under `dir` (repeated to time set-up). */
  def fixtures(dir: Path): Unit
  /** Binds the inputs written by [[fixtures]]. */
  def use(dir: Path): Unit
  /** The seed-dependent part of the inputs, derived for any seed from the
    * seed-independent fixtures under `dir`. */
  def seedInputs(seed: Long, dir: Path): DataFrame
  /** Digest of the seed-dependent inputs actually written under `dir`. */
  def inputFingerprint(dir: Path): String
  /** Warm-up operations; their output is checked in full and becomes the
    * reference every measured operation must reproduce. */
  def warmUp(): WarmUp
  /** Operations the measured window runs even past its deadline. */
  def minOps: Int = 1
  def op(i: Int, traced: Boolean): OpOutcome
  /** Checks that run once, after the timed window. */
  def finalChecks(): Seq[String] = Nil
  /** Workload-specific per-layer metrics: span-derived ones from the traced
    * operations, the rest from the untraced operations of the same run. */
  def layerMetrics(traced: Seq[OpOutcome], plain: Seq[OpOutcome]): Map[String, Metric]
  def kernelInputs(): Kernels.Inputs
}

object Util {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p).iterator().asScala.toVector.reverse
      paths.foreach(Files.deleteIfExists)
    }

  /** Bytes of the regular files under `p` whose names satisfy `keep`. */
  def bytesUnder(p: Path, keep: String => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString))
      .map(f => Files.size(f)).sum

  /** Order-independent digest of a frame: row count plus two sums of
    * 31-bit row hashes (sums cannot overflow below 2^32 rows). */
  def frameHash(df: DataFrame): String = {
    val cols = if (df.columns.isEmpty) Seq(lit(0)) else df.columns.toSeq.map(col)
    val r = df.agg(count(lit(1)),
      coalesce(sum(shiftrightunsigned(xxhash64(cols: _*), 33)), lit(0L)),
      coalesce(sum(shiftrightunsigned(hash(cols: _*).cast("long") + lit(1L << 31), 1)), lit(0L)))
      .collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** Releases everything an operation left cached or checkpointed, so each
    * operation starts from the same storage-memory state. */
  def releaseCached(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def payloadOf(spans: Column, html: Boolean): Column =
    if (html) graft.web.SyntheticWeb.htmlPayloadExpr(spans)
    else graft.web.SyntheticWeb.payloadExpr(spans)
}
