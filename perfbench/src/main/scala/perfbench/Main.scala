package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: one workload, one seed, one `local[nproc]` session,
 * a closed loop of operations (the next starts when the previous one has
 * finished) for `--seconds`, output checks, and one JSON result line.
 *
 *   --workload crawl_wide|crawl_deep|archive_rw  --seed N  --seconds S
 *   --trace 0|1  --work DIR  [--spans FILE]
 *
 * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
 * untraced and traced operations and reports the per-layer metrics, the
 * kernel microbenchmark, and the tracing overhead (traced over untraced
 * operation time).
 */
object Main {
  /** Fixture generation is repeated this many times; set-up reports the
    * median, so one slow file-system moment does not move it. */
  private val SetupReps = 3
  /** Shuffle partitions and politeness slots: fixed, so plans do not depend
    * on the core count. */
  private val Partitions = 4

  private val Spans = Seq(
    "crawl.round", "crawl.state_checkpoint", "crawl.stats", "frontier.schedule",
    "seen.filter_build", "seen.filter_merge", "fetch.fetch", "fetch.warc_rows", "fetch.outlinks",
    "snapshot.commit", "snapshot.resume",
    "sources.warc_write", "sources.warc_scan", "jobs.verify",
    "jobs.cdx_build", "jobs.cdx_merge", "jobs.cdx_lookup")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  private def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // room for every generated class of an operation: at the default 100
      // entries, some runs evicted and recompiled ~40 classes per operation
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // the status store keeps a bounded history of jobs, stages, tasks
      // and SQL executions; a small bound is reached during set-up, so each
      // operation pays the same for trimming it
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  private def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Metric)]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0.0" else java.lang.Double.toString(d)
    val ms = metrics.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = parse(args)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = session(work)
    spark.sparkContext.setLogLevel("ERROR")
    ErrorLogCounter.install()
    val tracer = new Tracer(spark.sparkContext, s"$workload-$seed-${if (trace) "traced" else "plain"}")
    val started = Cost((System.nanoTime() - t0) / 1e9, Cost.cpuNs / 1e9)
    val ctx = new Ctx(spark, tracer, work, seed)
    val w: Workload = workload match {
      case "crawl_wide" => new CrawlWide(ctx)
      case "crawl_deep" => new CrawlDeep(ctx)
      case "archive_rw" => new ArchiveRw(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    try {
      // ---- set-up: session, one-off preparation, fixtures (repeated,
      // median), warm-up ----
      val (_, prepare) = Cost.of(w.prepare())
      val fixtureCosts = (1 to SetupReps).map { k =>
        val d = ctx.fresh(s"fixtures-$k")
        val (_, c) = Cost.of(w.fixtures(d))
        if (k < SetupReps) Util.deleteTree(d)
        c
      }
      val fixtures = work.resolve(s"fixtures-$SetupReps")
      w.use(fixtures)
      val warm = w.warmUp()
      val setup = started + prepare + fixtureCosts.sortBy(_.wallS).apply(SetupReps / 2) + warm.cost
      val setupS = setup.wallS
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6
      println(s"perfbench: workload=$workload seed=$seed trace=${if (trace) 1 else 0} " +
        s"inputs=${w.inputFingerprint(fixtures)} ${w.describe} cores=${Runtime.getRuntime.availableProcessors()} " +
        f"partitions=$Partitions storage_memory_mb=$storageMb%.0f setup_s=$setupS%.3f " +
        f"(session ${started.wallS}%.2f, prepare ${prepare.wallS}%.2f, " +
        f"fixtures ${fixtureCosts.map(c => f"${c.wallS}%.2f").mkString("/")}, " +
        f"warm-up ${warm.cost.wallS}%.2f) setup_cpu_s=${setup.cpuS}%.3f")

      // ---- measured window: closed loop ----
      val jobs0 = { tracer.drain(); tracer.jobs }
      val outcomes = mutable.Buffer[OpOutcome]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      // a traced run needs an untraced operation after the first (still
      // warming) one, to compare the traced operation with
      val minOps = math.max(w.minOps, if (trace) 3 else 1)
      var i = 0
      var lastNs = 0L
      // start another operation while at least half of it fits the window
      while (i < minOps || System.nanoTime() + lastNs / 2 < deadline) {
        val opStart = System.nanoTime()
        val traced = trace && i % 2 == 1
        tracer.drain()
        val failedJobs0 = tracer.failedJobs
        val o =
          try w.op(i, traced)
          catch {
            case e: Throwable =>
              OpOutcome(0, 0, 0, 0, Map.empty, Seq(s"operation threw: $e"), traced, Nil)
          }
        tracer.drain()
        val failedJobs = tracer.failedJobs - failedJobs0
        outcomes += (if (failedJobs == 0) o else o.copy(failures = o.failures :+ s"$failedJobs Spark jobs failed"))
        lastNs = System.nanoTime() - opStart
        i += 1
      }
      val measuredJobs = tracer.jobs - jobs0
      System.err.println("perfbench: operation seconds " + outcomes.map(o => f"${o.wallS}%.3f").mkString(" ") +
        ", CPU seconds " + outcomes.map(o => f"${o.cpuS}%.3f").mkString(" "))
      val retainedMb = Heap.retainedMb()

      // ---- checks after the window ----
      val finalFailures = (warm.failures.map("warm-up: " + _) ++
        (try w.finalChecks() catch { case e: Throwable => Seq(s"final check threw: $e") }) ++
        seedCheck(w, ctx, fixtures)).toVector
      val ok = outcomes.toSeq.filter(_.failures.isEmpty)
      outcomes.filter(_.failures.nonEmpty).flatMap(_.failures).distinct.take(5)
        .foreach(f => System.err.println(s"perfbench: FAILED $f"))
      finalFailures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
      // the run-level checks count as one more attempted operation
      val attempted = outcomes.size + 1
      val failed = outcomes.count(_.failures.nonEmpty) + (if (finalFailures.nonEmpty) 1 else 0)
      val plain = ok.filterNot(_.traced)

      val metrics: Seq[(String, Metric)] =
        if (!trace) Seq(
          "setup_s" -> Metric(setupS, "s"),
          "op_cpu_s" -> Metric(Util.median(plain.map(_.cpuS)), "s"),
          "urls_per_cpu_s" -> Metric(Util.median(plain.map(o => o.urls / o.cpuS)), "URLs/s"),
          "bytes_per_url" -> Metric(Util.median(plain.map(_.bytesPerUrl)), "B/URL"))
        else {
          val tracedOps = ok.filter(_.traced)
          val layers = spanMetrics(tracer, tracedOps) ++ w.layerMetrics(tracedOps, plain) ++
            Kernels.run(w.kernelInputs())
          tracer.drain()
          val overhead = Util.median(tracedOps.map(_.wallS)) / Util.median(plain.drop(1).map(_.wallS)) - 1
          val counters = Map(
            "jvm.retained_heap_mb" -> Metric(retainedMb, "MB"),
            "op_s" -> Metric(Util.median(plain.map(_.wallS)), "s"),
            "urls_per_s" -> Metric(Util.median(plain.map(o => o.urls / o.wallS)), "URLs/s"),
            "trace.overhead_ratio" -> Metric(overhead, "ratio"),
            "fail_ratio" -> Metric(failed.toDouble / attempted, "ratio"),
            "spark.jobs" -> Metric(measuredJobs.toDouble / outcomes.size, "count"),
            "spark.spill_mb" -> Metric(tracer.spillBytes / 1e6, "MB"),
            "spark.failed_tasks" -> Metric(tracer.failedTasks.toDouble, "count"),
            "spark.log_errors" -> Metric(ErrorLogCounter.errors.toDouble, "count"))
          opts.get("spans").foreach(p => tracer.writeSpans(Paths.get(p)))
          val all = layers ++ counters
          LayerNames.all.map { case (k, unit) => k -> all.getOrElse(k, Metric(0.0, unit)) }
        }
      if (ErrorLogCounter.errors > 0)
        System.err.println(s"perfbench: ${ErrorLogCounter.errors} ERROR log lines, e.g. " +
          ErrorLogCounter.sampleMessages.mkString(" | "))
      println(json(failed == 0, attempted, failed, metrics))
    } finally {
      spark.stop()
    }
  }

  /** The seed reaches the program only through the generated inputs: this
    * seed's inputs must be the ones written, and another seed's must differ. */
  private def seedCheck(w: Workload, ctx: Ctx, fixtures: Path): Seq[String] =
    try {
      val mine = Util.frameHash(w.seedInputs(ctx.seed, fixtures))
      val other = Util.frameHash(w.seedInputs(ctx.seed + 1, fixtures))
      (if (mine != w.inputFingerprint(fixtures)) Seq("the written inputs are not this seed's") else Nil) ++
        (if (mine == other) Seq(s"seeds ${ctx.seed} and ${ctx.seed + 1} give the same inputs") else Nil)
    } catch { case e: Throwable => Seq(s"seed check threw: $e") }

  /** Per span name: wall, executor busy, driver-wait seconds and shuffle MB
    * per operation, over the traced operations. */
  private def spanMetrics(t: Tracer, traced: Seq[OpOutcome]): Map[String, Metric] = {
    val ops = traced.size.toDouble
    val spans = traced.flatMap(_.spans)
    Spans.flatMap { n =>
      val ss = spans.filter(_.name == n)
      val work = ss.map(s => t.inclusive(s.id))
      Seq(
        s"$n.wall_s" -> Metric(ss.map(_.wallS).sum / ops, "s"),
        s"$n.task_s" -> Metric(work.map(_.taskMs).sum / 1e3 / ops, "s"),
        s"$n.driver_s" -> Metric(ss.map(t.driverSeconds).sum / ops, "s"),
        s"$n.shuffle_mb" -> Metric(work.map(_.shuffleBytes).sum / 1e6 / ops, "MB"))
    }.toMap
  }

  /** Every per-layer metric name with its unit, in output order. A layer a
    * workload does not call reports 0. */
  object LayerNames {
    val all: Seq[(String, String)] =
      Spans.flatMap(n => Seq(s"$n.wall_s" -> "s", s"$n.task_s" -> "s", s"$n.driver_s" -> "s",
        s"$n.shuffle_mb" -> "MB")) ++ Seq(
        "crawl.urls_per_s" -> "URLs/s", "crawl.round_s" -> "s", "crawl.state_bytes_per_url" -> "B/URL",
        "seen.bloom_maybe_ratio" -> "ratio", "crawl.digest_state_rows" -> "rows",
        "archive.write_mb_per_s" -> "MB/s", "archive.scan_mb_per_s" -> "MB/s",
        "archive.index_s" -> "s", "archive.bytes_per_payload_byte" -> "ratio",
        "jobs.cdx_merge.shuffle_per_delta_byte" -> "ratio",
        "functions.url_canonicalize.rows_per_s" -> "rows/s",
        "functions.warc_sha1_b32.rows_per_s" -> "rows/s",
        "functions.rolling_token_hashes.rows_per_s" -> "rows/s",
        "functions.xor_min_sig.rows_per_s" -> "rows/s",
        "functions.might_contain_blob.rows_per_s" -> "rows/s",
        "spark.jobs" -> "count", "spark.spill_mb" -> "MB", "spark.failed_tasks" -> "count",
        "spark.log_errors" -> "count", "jvm.retained_heap_mb" -> "MB", "op_s" -> "s", "urls_per_s" -> "URLs/s",
        "fail_ratio" -> "ratio",
        "trace.overhead_ratio" -> "ratio")
  }
}
