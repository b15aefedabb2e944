package graft.jobs

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fetch.Fetch
import graft.frontier.Scheduler
import graft.seen.SeenSetOps
import graft.seen.SeenSetOps.FilterTable
import graft.snapshot.SnapshotStore

/**
 * The crawl loop: batch-incremental rounds (SURVEY §3.1 Spark lifecycle).
 * Each round is one closed dataflow — schedule -> fetch -> dedup -> emit
 * WARC rows -> extract outlinks -> update the seen set — committed as one
 * snapshot, the analog of the reference's RecordBatch + feedback-ack +
 * rotate/rename pipeline (warc.go:149-256) with rounds as the batch unit.
 *
 * Determinism: capture time = baseEpoch + round; all ids hash-derived; the
 * per-round filter/seen/frontier states are pure functions of the inputs, so
 * `local[8]` and `local[32]` converge to identical tables (asserted in
 * CrawlSpec).
 */
object Crawl {

  /** Dedicated pool for concurrent Spark job submission (round-internal
    * overlap). Small and daemonized: it only ever blocks on Spark actions. */
  private lazy val jobEc: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-crawl-jobs"); t.setDaemon(true); t
    }))

  case class Config(
      maxRounds: Int = 3,
      perHostBudget: Int = 100,
      maxPerRound: Long = Long.MaxValue,
      numSlots: Int = 32,
      dedupSizeThreshold: Long = 64, // synthetic payloads are small; ref default 2048
      maxReadBeforeTruncate: Int = 1 << 30, // client.go:190-194 default 1 GB
      numShards: Int = 16,
      bloomBlocksPerShard: Int = 256, // 256 blocks * 512 bits ~ 16 KiB/shard locally
      cuckooBucketsPerShard: Int = 1 << 14,
      // build the (8x-heavier, never-probed-by-scheduling) cuckoo shards too;
      // on only when bounded/deletable dedup-cache semantics are wanted
      buildCuckoo: Boolean = false,
      // submit independent per-round jobs concurrently. Off by default: with
      // executor-sized heaps the overlapped materializations contend for the
      // unified memory pool (measured: +10% wall at 8 pinned cores / 8g heap);
      // worth enabling on real clusters where storage memory is plentiful and
      // driver job-submission latency dominates
      concurrentJobs: Boolean = false,
      baseEpoch: Long = 1700000000L,
      useBloomPrefilter: Boolean = true,
      // snapshot retention: keep the last K committed versions, expiring
      // older manifests + vacuuming their orphaned data files after each
      // round's commit. None = keep everything (full time-travel history).
      // A 100-round crawl otherwise accumulates one manifest per round AND
      // pins every frontier/filters generation's files forever.
      snapshotKeepLast: Option[Int] = None,
      // per-round counter collection (A1 analog). Costs two extra driver
      // round-trips per round; benchmarks turn it off (outputs unchanged —
      // the counters are derivable from warc_rows afterwards).
      collectStats: Boolean = true,
      // discover outlinks by parsing the fetched HTML payload (extract ->
      // RFC 3986 resolve -> canonicalize) instead of exploding the
      // fixture's pre-tokenized link spans; the fetched payload renders as
      // HTML so the extractor has real markup to parse
      parseLinks: Boolean = false,
      // truncate lineage each round via localCheckpoint. Without it the
      // logical plan DEEPENS every round (seen = seen ∪ new, frontier =
      // f(prev round's full DAG)) and Catalyst re-analyzes the whole history
      // at each action — the classic iterative-algorithm lineage blowup; at
      // a 100-round crawl the driver, not the cluster, becomes the
      // bottleneck. Snapshot-store runs get truncation for free (state
      // rebinds to committed parquet).
      checkpointState: Boolean = true)

  case class RoundStats(round: Int, scheduled: Long, responses: Long, revisits: Long,
                        revisitsByTier: Map[String, Long], bytes: Long, outlinks: Long)

  case class Result(rounds: Seq[RoundStats], warcRows: DataFrame, seenKeys: DataFrame,
                    digestSeen: DataFrame, totalScheduled: Long)

  private def emptyDigestSeen(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("payload_digest", StringType), StructField("record_id", StringType),
        StructField("target_uri", StringType), StructField("warc_date", TimestampType),
        StructField("size", LongType))))
  }

  def run(spark: SparkSession,
          pages: DataFrame,
          seeds: DataFrame,
          robots: Option[DataFrame],
          dopp: Option[DataFrame],
          cdx: Option[DataFrame],
          cfg: Config,
          store: Option[SnapshotStore] = None,
          dns: Option[DataFrame] = None,
          // rank-ordered frontier (OPIC/PageRank prioritization): host scores
          // (node, rank) — typically GraphOps.pageRank over a previous
          // crawl's link graph — applied to every round's discovered links
          hostRanks: Option[DataFrame] = None): Result = {

    // resume from the last committed snapshot when a store is present
    val resumed = store.flatMap(s => s.latest)
    // shard probing in notSeen is keyed by pmod(hash, numShards): resuming a
    // persisted filter table under a DIFFERENT shard count would misalign the
    // probe and read absent shard rows as definite-miss — silently
    // re-scheduling seen URLs. The manifest records the geometry; mismatch
    // fails loudly instead.
    resumed.foreach { m =>
      m.counts.get("num_shards").filter(_ != cfg.numShards.toLong).foreach { was =>
        throw new IllegalStateException(
          s"snapshot was written with numShards=$was but resume config has " +
            s"numShards=${cfg.numShards}: the persisted filter table cannot be " +
            "re-sharded in place — resume with the original shard count")
      }
      m.counts.get("bloom_blocks_per_shard").filter(_ != cfg.bloomBlocksPerShard.toLong)
        .foreach { was =>
          throw new IllegalStateException(
            s"snapshot was written with bloomBlocksPerShard=$was but resume config " +
              s"has ${cfg.bloomBlocksPerShard}: merged filter blobs would be " +
              "incompatible — resume with the original geometry")
        }
    }
    var round = resumed.map(_.round + 1).getOrElse(0)
    var frontier = resumed
      .flatMap(_ => store.get.read(spark, "frontier"))
      .getOrElse(graft.web.SyntheticWeb.seedFrontier(seeds)
        .select(col("url"), col("priority"), col("discovery_time"), col("depth"), col("via")))
    var seenKeys = resumed.flatMap(_ => store.get.read(spark, "url_seen"))
      .getOrElse(spark.range(0).select(col("id").cast("string").as("url_key")).limit(0))
    var digestSeen = resumed.flatMap(_ => store.get.read(spark, "digest_seen"))
      .getOrElse(emptyDigestSeen(spark))
    // the filter state IS a table: resume reads it back without the blobs
    // ever visiting the driver (round-1 rebuilt a driver-side blob array)
    var filters: Option[FilterTable] = resumed.flatMap { _ =>
      store.get.read(spark, "filters").map(df => FilterTable(df, cfg.numShards))
    }

    val stats = scala.collection.mutable.Buffer[RoundStats]()
    var allWarc: Option[DataFrame] = store.flatMap(_.read(spark, "warc_rows"))
    var totalScheduled = resumed.map(_.counts.getOrElse("total_scheduled", 0L)).getOrElse(0L)
    var continue = true

    while (continue && round < cfg.maxRounds) {
      val fcfg = Fetch.Config(round, cfg.baseEpoch + round, cfg.dedupSizeThreshold,
        maxReadBeforeTruncate = cfg.maxReadBeforeTruncate, parseLinks = cfg.parseLinks)

      val scheduledPlan = Scheduler.schedule(spark, frontier, seenKeys,
        if (cfg.useBloomPrefilter) filters else None,
        robots, Scheduler.Config(cfg.perHostBudget, cfg.maxPerRound, cfg.numSlots, salt = round))
      val scheduled =
        if (cfg.checkpointState) scheduledPlan.localCheckpoint() else scheduledPlan.cache()
      // With cfg.concurrentJobs, independent per-round jobs are SUBMITTED
      // CONCURRENTLY (Spark's scheduler interleaves their stages), hiding
      // per-job planning + scheduling latency — the driver-serial fraction
      // that caps N->4N efficiency on real clusters. Default is sequential:
      // see the Config scaladoc (overlapped materializations contend for
      // storage memory on executor-sized heaps).
      implicit val ec: ExecutionContext = Crawl.jobEc
      // shard-filter build: one aggregation, only P blobs shuffle, none
      // reach the driver; the round count is then a P-row sum over the
      // materialized table (the driver sees ONE long, not the blobs)
      def buildFilters(): DataFrame = {
        val plan = SeenSetOps.buildFilterTable(
          scheduled.select(col("url_key")), "url_key", cfg.numShards,
          cfg.bloomBlocksPerShard, cfg.cuckooBucketsPerShard,
          includeCuckoo = cfg.buildCuckoo)
        if (cfg.checkpointState) plan.df.localCheckpoint() else plan.df.cache()
      }
      def doFetch(): DataFrame = {
        val plan = Fetch.fetch(scheduled, pages, fcfg, dns)
        if (cfg.checkpointState) plan.localCheckpoint() else plan.cache()
      }
      // concurrent mode starts the fetch join (depends only on `scheduled`)
      // alongside the filter build; an empty final round then wastes one
      // cheap empty-join materialization
      val fetchedF: Option[Future[DataFrame]] =
        if (cfg.concurrentJobs) Some(Future(doFetch())) else None
      val newFilters = FilterTable(buildFilters(), cfg.numShards)
      val nScheduled = newFilters.df.agg(sum(col("n"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }

      if (nScheduled == 0) {
        fetchedF.foreach(f => Await.result(f, Duration.Inf).unpersist(blocking = false))
        scheduled.unpersist()
        continue = false
      } else {
        val fetched = fetchedF.map(Await.result(_, Duration.Inf)).getOrElse(doFetch())
        val doStats = cfg.collectStats || store.nonEmpty
        // metrics ride the materialization itself: Dataset.observe attaches
        // a CollectMetrics node, so the checkpoint that materializes the
        // round's warc rows ALSO delivers the reference's atomic counters
        // (warc.go:62-73; A1) — no second scan, no extra job. Tier counts
        // are conditional sums over the fixed tier set (dialer.go:707-735).
        val obs = new org.apache.spark.sql.Observation(s"graft-round-$round")
        def tierCount(t: String) =
          sum(when(col("seq") === 0 && col("dedupe_source") === t, 1L).otherwise(0L)).as(t)
        val warcPlan0 = Fetch.buildWarcRows(fetched, digestSeen, dopp, cdx, fcfg)
          .withColumn("round", lit(round))
        val warcPlan =
          if (doStats) warcPlan0.observe(obs,
            tierCount("none"), tierCount("local"), tierCount("doppelganger"), tierCount("cdx"),
            sum(when(col("seq") === 0, col("payload_size")).otherwise(0L)).as("bytes"))
          else warcPlan0
        val warc = if (cfg.checkpointState) warcPlan.localCheckpoint() else warcPlan.cache()
        if (!cfg.checkpointState && doStats) warc.count() // cache() alone defers the action
        val newDigests = Fetch.newDigestEntries(warc, fcfg)
        val links = Fetch.outlinks(fetched, fcfg)

        val metrics = if (doStats) obs.get else Map.empty[String, Any]
        val byTier = Seq("none", "local", "doppelganger", "cdx")
          .map(t => t -> metrics.get(t).map(_.asInstanceOf[Long]).getOrElse(0L)).toMap
        val bytes = metrics.get("bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
        val nResp = byTier.getOrElse("none", 0L)
        val nRevisit = byTier.view.filterKeys(_ != "none").values.sum

        val newSeen = scheduled.select(col("url_key"))
        filters = Some(filters.map(f => SeenSetOps.mergeFilterTables(f, newFilters))
          .getOrElse(newFilters))
        seenKeys = seenKeys.unionByName(newSeen)
        digestSeen = digestSeen.unionByName(newDigests.select(
          col("payload_digest"), col("record_id"), col("target_uri"), col("warc_date"), col("size")))
        frontier = hostRanks
          .map(r => graft.ops.GraphOps.rankPriorities(links, "url", r))
          .getOrElse(links)
        if (cfg.checkpointState && store.isEmpty) {
          // four independent state materializations (the merged filter
          // checkpoint also truncates the union-groupBy lineage chain across
          // rounds); concurrent mode overlaps their job latencies
          if (cfg.concurrentJobs) {
            val fSeen = Future(seenKeys.localCheckpoint())
            val fDigest = Future(digestSeen.localCheckpoint())
            val fFrontier = Future(frontier.localCheckpoint())
            val fFilters = Future(filters.map(f => FilterTable(f.df.localCheckpoint(), f.numShards)))
            seenKeys = Await.result(fSeen, Duration.Inf)
            digestSeen = Await.result(fDigest, Duration.Inf)
            frontier = Await.result(fFrontier, Duration.Inf)
            filters = Await.result(fFilters, Duration.Inf)
          } else {
            seenKeys = seenKeys.localCheckpoint()
            digestSeen = digestSeen.localCheckpoint()
            frontier = frontier.localCheckpoint()
            filters = filters.map(f => FilterTable(f.df.localCheckpoint(), f.numShards))
          }
          // scheduled/fetched are fully consumed once the round's state is
          // checkpointed (warc stays: the final output union reads it)
          scheduled.unpersist(blocking = false)
          fetched.unpersist(blocking = false)
        }
        totalScheduled += nScheduled
        allWarc = Some(allWarc.map(_.unionByName(warc)).getOrElse(warc))
        val nLinks = if (doStats) frontier.count() else -1L
        stats += RoundStats(round, nScheduled, nResp, nRevisit, byTier - "none", bytes, nLinks)

        store.foreach { s =>
          import spark.implicits._
          val filterDf = filters.get.df
          val metricsDf = (byTier.toSeq :+ ("bytes" -> bytes))
            .toDF("metric", "value").withColumn("round", lit(round))
          s.commit(round, Map(
            "warc_rows" -> warc,
            "url_seen" -> newSeen,
            "digest_seen" -> newDigests,
            "frontier" -> frontier,
            "filters" -> filterDf,
            "metrics" -> metricsDf,
            "fetch_log" -> warc.filter(col("seq") === 0).select(
              col("target_uri"), col("host"), col("status"),
              col("content_length").as("bytes"), col("dedupe_source"), col("truncated"), col("round"))),
            Map("total_scheduled" -> totalScheduled, "round_scheduled" -> nScheduled,
              "num_shards" -> cfg.numShards.toLong,
              "bloom_blocks_per_shard" -> cfg.bloomBlocksPerShard.toLong))
          // retention AFTER the commit: expire keeps the newest K manifests
          // (always including the one just written), vacuum reclaims files
          // no retained manifest references — the rebound reads below only
          // ever touch latest-manifest files, which retention never drops
          cfg.snapshotKeepLast.foreach { k => s.expire(k); s.vacuum() }
          // rebind state to committed files (truncates lineage, enables resume)
          seenKeys = s.read(spark, "url_seen").get
          digestSeen = s.read(spark, "digest_seen").get
          frontier = s.read(spark, "frontier").get
          filters = s.read(spark, "filters").map(df => FilterTable(df, cfg.numShards))
          allWarc = s.read(spark, "warc_rows")
        }

        round += 1
      }
    }

    Result(stats.toSeq, allWarc.getOrElse(spark.emptyDataFrame), seenKeys, digestSeen, totalScheduled)
  }
}
