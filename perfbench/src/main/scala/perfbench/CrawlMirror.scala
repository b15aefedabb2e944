package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fetch.Fetch
import graft.frontier.Scheduler
import graft.jobs.Crawl
import graft.seen.SeenSetOps
import graft.seen.SeenSetOps.FilterTable
import graft.snapshot.SnapshotStore

/**
 * The traced crawl: `Crawl.run`'s round loop driven from outside, making
 * the same public calls in the same order, with a span around each call
 * into a layer. It covers the configurations the benchmark uses
 * (sequential jobs, no DNS table, no host ranks). The benchmark checks on
 * every traced operation that this mirror reproduces `Crawl.run`'s
 * `warc_rows` hash for the same inputs, so it cannot silently drift from
 * the program it measures.
 *
 * Where the round materializes a layer's lazy result right away, the span
 * covers the materialization too (the fetch join, the WARC rows, the
 * state checkpoints). In a store-backed crawl the outlinks and the merged
 * filters are first materialized by the snapshot commit, so their work
 * shows under `snapshot.commit`, and their own spans hold planning only.
 */
object CrawlMirror {

  /** What the round loop leaves behind besides `Crawl.Result`: the next
    * round's candidates and the seen filters they would be probed against. */
  final case class Out(result: Crawl.Result, frontier: DataFrame, filters: Option[FilterTable])

  private def emptyDigestSeen(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("payload_digest", StringType), StructField("record_id", StringType),
        StructField("target_uri", StringType), StructField("warc_date", TimestampType),
        StructField("size", LongType))))
  }

  /** `roundSpans`: open a `crawl.round` span per round (a store-backed
    * caller instead wraps its whole one-round call, resume included). */
  def run(spark: SparkSession, t: Tracer, pages: DataFrame, seeds: DataFrame,
          robots: Option[DataFrame], dopp: Option[DataFrame], cdx: Option[DataFrame],
          cfg: Crawl.Config, store: Option[SnapshotStore], roundSpans: Boolean): Out = {
    require(!cfg.concurrentJobs && cfg.checkpointState, "the mirror covers the sequential, checkpointed loop")
    def roundSpan[T](body: => T): T = if (roundSpans) t.span("crawl.round")(body) else body

    def resume[T](body: => T): T = if (store.isDefined) t.span("snapshot.resume")(body) else body
    val (resumed, round0, frontier0, seen0, digest0, filters0, warc0, total0) = resume {
      val resumed = store.flatMap(s => s.latest)
      resumed.foreach { m =>
        require(m.counts.get("num_shards").forall(_ == cfg.numShards.toLong), "shard count changed")
        require(m.counts.get("bloom_blocks_per_shard").forall(_ == cfg.bloomBlocksPerShard.toLong),
          "bloom geometry changed")
      }
      val frontier = resumed.flatMap(_ => store.get.read(spark, "frontier"))
        .getOrElse(graft.web.SyntheticWeb.seedFrontier(seeds)
          .select(col("url"), col("priority"), col("discovery_time"), col("depth"), col("via")))
      val seen = resumed.flatMap(_ => store.get.read(spark, "url_seen"))
        .getOrElse(spark.range(0).select(col("id").cast("string").as("url_key")).limit(0))
      val digest = resumed.flatMap(_ => store.get.read(spark, "digest_seen"))
        .getOrElse(emptyDigestSeen(spark))
      val filters = resumed.flatMap { _ =>
        store.get.read(spark, "filters").map(df => FilterTable(df, cfg.numShards))
      }
      (resumed, resumed.map(_.round + 1).getOrElse(0), frontier, seen, digest, filters,
        store.flatMap(_.read(spark, "warc_rows")),
        resumed.map(_.counts.getOrElse("total_scheduled", 0L)).getOrElse(0L))
    }
    var round = round0
    var frontier = frontier0
    var seenKeys = seen0
    var digestSeen = digest0
    var filters = filters0
    var allWarc = warc0
    var totalScheduled = total0
    val stats = scala.collection.mutable.Buffer[Crawl.RoundStats]()
    var continue = true

    while (continue && round < cfg.maxRounds) roundSpan {
      val fcfg = Fetch.Config(round, cfg.baseEpoch + round, cfg.dedupSizeThreshold,
        maxReadBeforeTruncate = cfg.maxReadBeforeTruncate, parseLinks = cfg.parseLinks)

      val scheduled = t.span("frontier.schedule") {
        Scheduler.schedule(spark, frontier, seenKeys,
          if (cfg.useBloomPrefilter) filters else None,
          robots, Scheduler.Config(cfg.perHostBudget, cfg.maxPerRound, cfg.numSlots, salt = round))
          .localCheckpoint()
      }
      val (newFilters, nScheduled) = t.span("seen.filter_build") {
        val plan = SeenSetOps.buildFilterTable(
          scheduled.select(col("url_key")), "url_key", cfg.numShards,
          cfg.bloomBlocksPerShard, cfg.cuckooBucketsPerShard, includeCuckoo = cfg.buildCuckoo)
        val nf = FilterTable(plan.df.localCheckpoint(), cfg.numShards)
        val n = nf.df.agg(sum(col("n"))).collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
        (nf, n)
      }

      if (nScheduled == 0) {
        scheduled.unpersist()
        continue = false
      } else {
        val fetched = t.span("fetch.fetch") {
          Fetch.fetch(scheduled, pages, fcfg, None).localCheckpoint()
        }
        val doStats = cfg.collectStats || store.nonEmpty
        val obs = new org.apache.spark.sql.Observation(s"graft-round-$round")
        def tierCount(tier: String) =
          sum(when(col("seq") === 0 && col("dedupe_source") === tier, 1L).otherwise(0L)).as(tier)
        val (warc, newDigests) = t.span("fetch.warc_rows") {
          val warcPlan0 = Fetch.buildWarcRows(fetched, digestSeen, dopp, cdx, fcfg)
            .withColumn("round", lit(round))
          val warcPlan =
            if (doStats) warcPlan0.observe(obs,
              tierCount("none"), tierCount("local"), tierCount("doppelganger"), tierCount("cdx"),
              sum(when(col("seq") === 0, col("payload_size")).otherwise(0L)).as("bytes"))
            else warcPlan0
          val w = warcPlan.localCheckpoint()
          (w, Fetch.newDigestEntries(w, fcfg))
        }
        val links = t.span("fetch.outlinks")(Fetch.outlinks(fetched, fcfg))

        val metrics = if (doStats) obs.get else Map.empty[String, Any]
        val byTier = Seq("none", "local", "doppelganger", "cdx")
          .map(k => k -> metrics.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)).toMap
        val bytes = metrics.get("bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
        val nResp = byTier.getOrElse("none", 0L)
        val nRevisit = byTier.view.filterKeys(_ != "none").values.sum

        val newSeen = scheduled.select(col("url_key"))
        filters = t.span("seen.filter_merge") {
          Some(filters.map(f => SeenSetOps.mergeFilterTables(f, newFilters)).getOrElse(newFilters))
        }
        seenKeys = seenKeys.unionByName(newSeen)
        digestSeen = digestSeen.unionByName(newDigests.select(
          col("payload_digest"), col("record_id"), col("target_uri"), col("warc_date"), col("size")))
        frontier = links
        if (store.isEmpty) t.span("crawl.state_checkpoint") {
          seenKeys = seenKeys.localCheckpoint()
          digestSeen = digestSeen.localCheckpoint()
          frontier = t.span("fetch.outlinks")(frontier.localCheckpoint())
          filters = t.span("seen.filter_merge") {
            filters.map(f => FilterTable(f.df.localCheckpoint(), f.numShards))
          }
          scheduled.unpersist(blocking = false)
          fetched.unpersist(blocking = false)
        }
        totalScheduled += nScheduled
        allWarc = Some(allWarc.map(_.unionByName(warc)).getOrElse(warc))
        val nLinks = if (doStats) t.span("crawl.stats")(frontier.count()) else -1L
        stats += Crawl.RoundStats(round, nScheduled, nResp, nRevisit, byTier - "none", bytes, nLinks)

        store.foreach { s => t.span("snapshot.commit") {
          import spark.implicits._
          val metricsDf = (byTier.toSeq :+ ("bytes" -> bytes))
            .toDF("metric", "value").withColumn("round", lit(round))
          s.commit(round, Map(
            "warc_rows" -> warc,
            "url_seen" -> newSeen,
            "digest_seen" -> newDigests,
            "frontier" -> frontier,
            "filters" -> filters.get.df,
            "metrics" -> metricsDf,
            "fetch_log" -> warc.filter(col("seq") === 0).select(
              col("target_uri"), col("host"), col("status"),
              col("content_length").as("bytes"), col("dedupe_source"), col("truncated"), col("round"))),
            Map("total_scheduled" -> totalScheduled, "round_scheduled" -> nScheduled,
              "num_shards" -> cfg.numShards.toLong,
              "bloom_blocks_per_shard" -> cfg.bloomBlocksPerShard.toLong))
          cfg.snapshotKeepLast.foreach { k => s.expire(k); s.vacuum() }
          seenKeys = s.read(spark, "url_seen").get
          digestSeen = s.read(spark, "digest_seen").get
          frontier = s.read(spark, "frontier").get
          filters = s.read(spark, "filters").map(df => FilterTable(df, cfg.numShards))
          allWarc = s.read(spark, "warc_rows")
        }}
        round += 1
      }
    }

    Out(Crawl.Result(stats.toSeq, allWarc.getOrElse(spark.emptyDataFrame), seenKeys, digestSeen,
      totalScheduled), frontier, filters)
  }
}
