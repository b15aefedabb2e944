package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.frontier.Scheduler
import graft.jobs.Crawl
import graft.seen.{FilterExprs, SeenSetOps}
import graft.seen.SeenSetOps.FilterTable
import graft.snapshot.SnapshotStore
import graft.web.SyntheticWeb

/** Shape of a synthetic web. `crawlDelayEvery` > 0 gives every n-th host a
  * robots Crawl-delay rule next to the path rules. */
final case class WebShape(pages: Long, seeds: Long, hosts: Int, crawlDelayEvery: Int = 0)

object Web {
  /** The crawl seeds for `seed`: SyntheticWeb's seed list (duplicates and
    * non-canonical variants included) over a 4x larger id range, of which
    * the seed picks `shape.seeds` rows. SyntheticWeb itself takes no seed;
    * this is the only place the workload seed enters a crawl. */
  def seeds(spark: SparkSession, shape: WebShape, seed: Long): DataFrame =
    SyntheticWeb.seeds(spark, 4 * shape.seeds, shape.pages, shape.hosts)
      .orderBy(xxhash64(lit(seed), col("discovery_time")), col("discovery_time"))
      .limit(shape.seeds.toInt)

  def robots(spark: SparkSession, shape: WebShape): DataFrame = {
    val rules = SyntheticWeb.robots(spark, shape.hosts)
    if (shape.crawlDelayEvery <= 0) rules
    else rules.unionByName(spark.range(shape.hosts)
      .filter(pmod(col("id"), lit(shape.crawlDelayEvery.toLong)) === 1)
      .select(concat(lit("host"), col("id").cast("string"), lit(".example")).as("host"),
        lit("*").as("user_agent"), lit("crawl-delay").as("rule_type"), lit("5").as("path_prefix")))
  }

  def write(spark: SparkSession, dir: Path, shape: WebShape, seed: Long): Unit = {
    def out(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(dir.resolve(name).toString)
    out(SyntheticWeb.pages(spark, shape.pages, shape.hosts), "pages")
    out(seeds(spark, shape, seed), "seeds")
    out(robots(spark, shape), "robots")
    out(SyntheticWeb.doppelganger(spark, shape.pages, shape.hosts), "dopp")
    out(SyntheticWeb.cdx(spark, shape.pages, shape.hosts), "cdx")
  }
}

/** Output checks shared by the crawl workloads. */
object CrawlChecks {
  def apply(res: Crawl.Result, budget: Int, dopp: DataFrame, cdx: DataFrame): Seq[String] = {
    val warc = res.warcRows
    val seq0 = warc.filter(col("seq") === 0).count()
    val seen = res.seenKeys.select("url_key").distinct().count()
    val failures = Seq.newBuilder[String]
    if (!(res.totalScheduled == seen && seen == seq0))
      failures += s"URLs scheduled ${res.totalScheduled}, distinct seen $seen, seq-0 records $seq0 differ"
    if (budget < Int.MaxValue) {
      val over = warc.filter(col("seq") === 0).groupBy("round", "host").count()
        .filter(col("count") > budget).count()
      if (over > 0) failures += s"$over host-rounds over the per-host budget $budget"
    }
    val resp = warc.filter(col("warc_type") === "response")
      .select(col("record_id").as("r_id"), col("payload_digest").as("r_digest"), col("round").as("r_round"))
    val rev = warc.filter(col("warc_type") === "revisit")
    val badLocal = rev.filter(col("refers_to").isNotNull)
      .join(resp, col("refers_to") === col("r_id"), "left")
      .filter(col("r_id").isNull || col("r_digest") =!= col("payload_digest") || col("r_round") > col("round"))
      .count()
    val known = resp.select(col("r_digest").as("d"))
      .unionByName(dopp.select(col("digest").as("d"))).unionByName(cdx.select(col("digest").as("d")))
    val badRemote = rev.filter(col("refers_to").isNull)
      .join(known, col("payload_digest") === col("d"), "left_anti").count()
    if (badLocal + badRemote > 0)
      failures += s"$badLocal local and $badRemote remote revisits refer to no earlier capture"
    failures.result()
  }

  /** Share of probed candidates the Bloom prefilter passes on to the exact
    * anti-join, for the candidates the next round would schedule. */
  def bloomMaybeRatio(frontier: DataFrame, filters: Option[FilterTable], robots: DataFrame): Double =
    filters match {
      case None => Double.NaN
      case Some(ft) =>
        val h = SeenSetOps.keyHash(col("url_key"))
        val r = Scheduler.robotsFilter(Scheduler.canonicalize(frontier), robots)
          .select(h.as("h"), pmod(h, lit(ft.numShards.toLong)).cast("int").as("shard"))
          .join(ft.df.select(col("shard"), col("bloom")), Seq("shard"), "left")
          .agg(count(lit(1)), sum(when(
            FilterExprs.might_contain_blob(col("shard"), col("bloom"), col("h")), 1L).otherwise(0L)))
          .collect()(0)
        if (r.getLong(0) == 0) Double.NaN else r.getLong(1).toDouble / r.getLong(0)
    }

  /** Keeps the probe inputs of the last traced operation for the kernel
    * microbenchmark: candidate keys and the shard filter table. */
  def saveProbeInputs(spark: SparkSession, frontier: DataFrame, filters: Option[FilterTable],
                      dir: Path): Unit = filters.foreach { ft =>
    Scheduler.canonicalize(frontier).select("url_key")
      .write.mode("overwrite").parquet(dir.resolve("probe_keys").toString)
    ft.df.select("shard", "bloom").write.mode("overwrite").parquet(dir.resolve("probe_filters").toString)
  }
}

/** Shared plumbing of the two crawl workloads. */
abstract class CrawlWorkload(ctx: Ctx) extends Workload {
  def shape: WebShape
  def html: Boolean
  def numShards: Int
  protected val spark: SparkSession = ctx.spark
  protected var dir: Path = _
  protected def rd(n: String): DataFrame = spark.read.parquet(dir.resolve(n).toString)

  override def fixtures(d: Path): Unit = Web.write(spark, d, shape, ctx.seed)
  override def use(d: Path): Unit = dir = d
  override def seedInputs(seed: Long, d: Path): DataFrame = Web.seeds(spark, shape, seed)
  override def inputFingerprint(d: Path): String =
    Util.frameHash(spark.read.parquet(d.resolve("seeds").toString))

  override def kernelInputs(): Kernels.Inputs = {
    val pages = rd("pages")
    Kernels.Inputs(
      urls = pages.select(col("url")).unionByName(rd("seeds").select(col("url"))),
      payloads = pages.select(Util.payloadOf(col("spans"), html).as("payload")),
      probeKeys = spark.read.parquet(ctx.work.resolve("probe_keys").toString),
      probeFilters = spark.read.parquet(ctx.work.resolve("probe_filters").toString),
      numShards = numShards)
  }

  override def layerMetrics(traced: Seq[OpOutcome], plain: Seq[OpOutcome]): Map[String, Metric] = {
    def med(k: String) = Util.median(traced.flatMap(_.stats.get(k)))
    Map(
      "crawl.urls_per_s" -> Metric(Util.median(plain.map(o => o.urls / o.wallS)), "URLs/s"),
      "seen.bloom_maybe_ratio" -> Metric(med("bloom_maybe_ratio"), "ratio"),
      "crawl.digest_state_rows" -> Metric(med("digest_state_rows"), "rows"))
  }
}

/**
 * `crawl_wide`: ScalingBench's shape at a size one 4-core session crawls in
 * a few seconds. One operation is one `Crawl.run` of two rounds over many
 * seeds with the per-host budget uncapped, the Bloom prefilter on, stats off
 * and no store; a noop sink consumes `warcRows`. Scheduling, the fetch join,
 * the dedup tiers, digesting and the state checkpoints do the work.
 */
final class CrawlWide(ctx: Ctx) extends CrawlWorkload(ctx) {
  val shape: WebShape = WebShape(pages = 20000, seeds = 4000, hosts = 64)
  val html = false
  private val cfg = Crawl.Config(maxRounds = 2, perHostBudget = Int.MaxValue,
    numSlots = ctx.parts, dedupSizeThreshold = 32, numShards = 16, collectStats = false)
  def numShards: Int = cfg.numShards
  private var refHash: String = _
  private var refBytesPerUrl = 0.0

  def describe: String =
    s"pages=${shape.pages} seeds=${shape.seeds} hosts=${shape.hosts} rounds=${cfg.maxRounds} " +
      s"budget=uncapped slots=${cfg.numSlots} shards=${cfg.numShards}"

  private def crawl(traced: Boolean): (CrawlMirror.Out, Cost) = Cost.of {
    val out =
      if (traced) CrawlMirror.run(spark, ctx.tracer, rd("pages"), rd("seeds"), Some(rd("robots")),
        Some(rd("dopp")), Some(rd("cdx")), cfg, None, roundSpans = true)
      else CrawlMirror.Out(Crawl.run(spark, rd("pages"), rd("seeds"), Some(rd("robots")),
        Some(rd("dopp")), Some(rd("cdx")), cfg), null, None)
    out.result.warcRows.write.format("noop").mode("overwrite").save()
    out
  }

  /** Two crawls: the first one's output is checked in full, the second
    * must reproduce it. One warm-up crawl leaves the first measured crawl
    * still compiling hot code. */
  override def warmUp(): WarmUp = {
    val (out, cost) = crawl(traced = false)
    val res = out.result
    refHash = Util.frameHash(res.warcRows)
    val bytes = res.warcRows.agg(sum("content_length")).collect()(0).getLong(0)
    refBytesPerUrl = bytes.toDouble / res.totalScheduled
    val failures = CrawlChecks(res, cfg.perHostBudget, rd("dopp"), rd("cdx"))
    Util.releaseCached(spark)
    val again = op(-1, traced = false)
    WarmUp(cost + Cost(again.wallS, again.cpuS), failures ++ again.failures)
  }

  override def op(i: Int, traced: Boolean): OpOutcome = {
    val before = ctx.tracer.spans.size
    val (out, cost) = crawl(traced)
    val res = out.result
    val h = Util.frameHash(res.warcRows)
    val failures =
      if (h == refHash) Nil
      else Seq(s"warc_rows hash $h differs from the reference $refHash (traced=$traced)")
    val stats =
      if (!traced) Map.empty[String, Double]
      else {
        CrawlChecks.saveProbeInputs(spark, out.frontier, out.filters, ctx.work)
        Map("bloom_maybe_ratio" -> CrawlChecks.bloomMaybeRatio(out.frontier, out.filters, rd("robots")),
          "digest_state_rows" -> res.digestSeen.count().toDouble)
      }
    Util.releaseCached(spark)
    OpOutcome(cost.wallS, cost.cpuS, res.totalScheduled, refBytesPerUrl, stats, failures, traced,
      ctx.tracer.spans.drop(before))
  }
}

/**
 * `crawl_deep`: a small web with few seeds and a small per-host budget, so
 * the frontier carries over between rounds; robots rules include
 * Crawl-delay and links are parsed from the fetched HTML. State lives in a
 * retention-bounded `SnapshotStore`. Set-up runs one uninterrupted
 * store-backed `Crawl.run` of `FirstRound` + `Rounds` rounds. Each operation
 * resumes from that crawl's snapshot before round `FirstRound` and crawls
 * `Rounds` rounds, one `Crawl.run` call per round, each opening the store
 * anew as a crawler restarted between rounds would. Every operation repeats
 * the same work (in a traced run, through the traced mirror) and must
 * reproduce the uninterrupted crawl's records of those rounds.
 */
final class CrawlDeep(ctx: Ctx) extends CrawlWorkload(ctx) {
  // enough seeds that every round fills most hosts' budgets, so URLs per
  // round, and with them the round's work, hardly vary by seed
  val shape: WebShape = WebShape(pages = 20000, seeds = 400, hosts = 64, crawlDelayEvery = 5)
  val html = true
  private val FirstRound = 1
  /** Rounds per operation: with one, an operation's CPU time alternated
    * high and low from one operation to the next. */
  private val Rounds = 2
  private val cfg = Crawl.Config(perHostBudget = 6, parseLinks = true, snapshotKeepLast = Some(2))
  def numShards: Int = cfg.numShards

  def describe: String =
    s"pages=${shape.pages} seeds=${shape.seeds} hosts=${shape.hosts} " +
      s"budget=${cfg.perHostBudget}/host/round crawl-delay-every=${shape.crawlDelayEvery} " +
      s"keep-last=${cfg.snapshotKeepLast.get} parse-links=true collect-stats=true " +
      s"measured-rounds=$FirstRound..${FirstRound + Rounds - 1}"

  private def base: java.nio.file.Path = ctx.work.resolve("deep-store")
  private def branchDir: java.nio.file.Path = ctx.work.resolve("deep-round")
  // the uninterrupted crawl's records of the measured rounds
  private var refHash: String = _

  private def resultOf(store: SnapshotStore): Crawl.Result = {
    val m = store.latest.get
    Crawl.Result(Nil, store.read(spark, "warc_rows").get, store.read(spark, "url_seen").get,
      store.read(spark, "digest_seen").get, m.counts("total_scheduled"))
  }

  private def measuredHash(store: SnapshotStore): String =
    Util.frameHash(store.read(spark, "warc_rows").get.filter(col("round") >= FirstRound))

  /** Bytes of the files the latest snapshot references. */
  private def liveBytes(store: SnapshotStore): Long =
    store.latest.get.files.values.flatten.map(f => java.nio.file.Files.size(
      java.nio.file.Paths.get(new java.net.URI(f)))).sum

  /** A fresh branch of the base store as it stood before round
    * `FirstRound`: the manifest of the round before (one commit per round,
    * so version = round), which names the base's data files by absolute
    * path, over an empty data directory. The resumed rounds commit, expire
    * and vacuum in the branch only, so the base stays as set-up left it. */
  private def branch(): Unit = {
    val d = ctx.fresh(branchDir.getFileName.toString)
    val name = s"v${FirstRound - 1}.json"
    java.nio.file.Files.copy(base.resolve("manifests").resolve(name),
      java.nio.file.Files.createDirectories(d.resolve("manifests")).resolve(name))
  }

  /** The uninterrupted crawl, checked in full, then one operation. The
    * crawl keeps every snapshot, so the one the operations resume from is
    * not expired; retention changes no record. */
  override def warmUp(): WarmUp = {
    Util.deleteTree(base)
    val (_, cost) = Cost.of {
      Crawl.run(spark, rd("pages"), rd("seeds"), Some(rd("robots")), Some(rd("dopp")), Some(rd("cdx")),
        cfg.copy(maxRounds = FirstRound + Rounds, snapshotKeepLast = None), Some(new SnapshotStore(base.toString)))
    }
    val store = new SnapshotStore(base.toString)
    refHash = measuredHash(store)
    val failures = CrawlChecks(resultOf(store), cfg.perHostBudget, rd("dopp"), rd("cdx"))
    Util.releaseCached(spark)
    val again = op(-1, traced = false)
    WarmUp(cost + Cost(again.wallS, again.cpuS), failures ++ again.failures)
  }

  /** `Rounds` `Crawl.run` calls, each resuming from the latest snapshot
    * and crawling the next round. */
  override def op(i: Int, traced: Boolean): OpOutcome = {
    val before = ctx.tracer.spans.size
    branch()
    val failures = Seq.newBuilder[String]
    var scheduled = 0L
    var cost = Cost(0, 0)
    (FirstRound until FirstRound + Rounds).foreach { r =>
      val c = cfg.copy(maxRounds = r + 1)
      val (_, roundCost) = Cost.of {
        val opened = new SnapshotStore(branchDir.toString) // a restarted crawler opens the store anew
        if (traced) ctx.tracer.span("crawl.round") {
          CrawlMirror.run(spark, ctx.tracer, rd("pages"), rd("seeds"), Some(rd("robots")),
            Some(rd("dopp")), Some(rd("cdx")), c, Some(opened), roundSpans = false)
        }
        else Crawl.run(spark, rd("pages"), rd("seeds"), Some(rd("robots")),
          Some(rd("dopp")), Some(rd("cdx")), c, Some(opened))
      }
      cost = cost + roundCost
      val m = new SnapshotStore(branchDir.toString).latest.get
      if (m.round != r) failures += s"round $r committed no snapshot"
      val n = m.counts.getOrElse("round_scheduled", 0L)
      if (n <= 0) failures += s"round $r scheduled nothing"
      scheduled += n
    }

    val store = new SnapshotStore(branchDir.toString)
    val m = store.latest.get
    val h = measuredHash(store)
    if (h != refHash)
      failures += s"resumed rounds' records $h differ from the uninterrupted crawl's $refHash (traced=$traced)"
    val stats =
      if (!traced) Map.empty[String, Double]
      else {
        val frontier = store.read(spark, "frontier").get
        val filters = store.read(spark, "filters").map(df => FilterTable(df, cfg.numShards))
        CrawlChecks.saveProbeInputs(spark, frontier, filters, ctx.work)
        Map("bloom_maybe_ratio" -> CrawlChecks.bloomMaybeRatio(frontier, filters, rd("robots")),
          "digest_state_rows" -> store.read(spark, "digest_seen").get.count().toDouble)
      }
    Util.releaseCached(spark)
    OpOutcome(cost.wallS, cost.cpuS, scheduled, liveBytes(store).toDouble / m.counts("total_scheduled"),
      stats, failures.result(), traced, ctx.tracer.spans.drop(before))
  }

  /** After the window: the last operation's whole crawl, the rounds it
    * resumed from included, passes the output checks. */
  override def finalChecks(): Seq[String] = {
    val failures = CrawlChecks(resultOf(new SnapshotStore(branchDir.toString)), cfg.perHostBudget,
      rd("dopp"), rd("cdx"))
    Util.releaseCached(spark)
    failures
  }

  override def layerMetrics(traced: Seq[OpOutcome], plain: Seq[OpOutcome]): Map[String, Metric] =
    super.layerMetrics(traced, plain) ++ Map(
      "crawl.round_s" -> Metric(Util.median(plain.map(_.wallS / Rounds)), "s"),
      "crawl.state_bytes_per_url" -> Metric(Util.median(plain.map(_.bytesPerUrl)), "B/URL"))
}
