package graft

/**
 * Physical-plan quality gates: these assert the *shape* Catalyst produces,
 * not results — a correct query that scans all columns or shuffles a
 * broadcastable dimension would pass every value check and still be wrong
 * at 100 TB. (SURVEY §4: pushdown/pruning/broadcast are the native wins the
 * engine must not accidentally disable.)
 */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan as text — the adaptive plan's toString
    * appends "== Initial Plan ==" after the final plan; cut it off so node
    * counts aren't doubled. */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize AQE
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  test("q01: filters push to the parquet scan and the schema is pruned") {
    val plan = planOf("q01_filter_project")
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"), plan.take(900))
    assert(!plan.contains("l_comment"), "scan reads unneeded columns:\n" + plan.take(900))
  }

  test("q03: the customer dimension joins as a broadcast hash join") {
    val plan = planOf("q03_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("q11: nation and region join broadcast (no shuffle for small dims)") {
    val plan = planOf("q11_region_revenue")
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2,
      "expected >=2 broadcast joins:\n" + plan.take(1500))
  }

  test("q15: the seen-set prefilter probes the shard filter blob before any join") {
    // default = recompute (no checkpoint boundary): the probe expression and
    // BOTH union branches stay visible in one declarative plan — Catalyst
    // broadcasts the blob table and the whole pre-split chain is map-side
    val plan = planOf("q15_seen_antijoin")
    assert(plan.contains("might_contain_blob"), plan.take(1200))
    // opt-in materialization puts a checkpoint (LogicalRDD) boundary in
    import org.apache.spark.sql.functions._
    import graft.seen.SeenSetOps
    val d = spark.read.parquet(s"$dir/documents.parquet").withColumn("url_key", md5(col("text")))
    val seen = d.filter(col("doc_id") % 3 === 0).select("url_key")
    val filters = SeenSetOps.buildFilterTable(seen, "url_key", numShards = 4,
      blocksPerShard = 64, cuckooBucketsPerShard = 1 << 12)
    val mat = SeenSetOps.notSeen(d, "url_key", Some(filters), seen,
      materializeProbe = true)
    assert(mat.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }

  test("q59/q61: new pipeline ops never collapse to a one-partition window") {
    // chunkDedup's first-occurrence rule is a MAP-SIDE-COMBINABLE aggregate
    // (partial min(struct(ord, idx)) collapses hot-chunk duplicates BEFORE
    // the shuffle) + a join back — never a window over the chunk value,
    // which would serialize all duplicates of a hot boilerplate chunk into
    // one un-skew-splittable window partition at 100 TB
    val p59 = planOf("q59_chunk_dedup")
    assert(p59.contains("partial_min"),
      "chunk first-occurrence must map-side combine:\n" + p59.take(1200))
    assert(!p59.contains("windowspecdefinition(chunk"),
      "chunk dedup regressed to the skew-hazard window form:\n" + p59.take(1200))
    // epochShuffle's rank comes from the two-phase prefix sum: a RANGE
    // repartition must appear and NO Window node at all
    val p61 = planOf("q61_epoch_shuffle")
    assert(p61.contains("rangepartitioning"), p61.take(900))
    assert(!p61.contains("Window ["),
      "epoch rank must not use a window (one-partition scale killer):\n" + p61.take(1200))
  }

  test("q65/q66: LM scoring and boilerplate removal keep the scale-safe shapes") {
    // ngramLmPerplexity: NO window anywhere; the vocab-bounded <unk> mapping
    // joins broadcast (a corpus-wide shuffle per language-model lookup would
    // dominate the operator); unigram/bigram counting partial-aggregates
    val p65 = planOf("q65_lm_perplexity")
    assert(!p65.contains("Window ["),
      "LM scoring must not use windows:\n" + p65.take(1200))
    assert(p65.contains("BroadcastHashJoin"),
      "the vocab umap/ctx joins must broadcast:\n" + p65.take(1200))
    assert(p65.contains("partial_count"),
      "model counts must map-side combine:\n" + p65.take(1200))
    // dropBoilerplateLines: hot-line counting is the two-stage aggregate
    // (never count_distinct funneling a hot line's doc set through one
    // reducer) and the drop is a broadcast ANTI-join
    val p66 = planOf("q66_boilerplate_lines")
    assert(!p66.contains("Window ["), p66.take(1200))
    assert(p66.contains("LeftAnti") && p66.contains("BroadcastHashJoin"),
      "boilerplate drop must be a broadcast anti-join:\n" + p66.take(1200))
    assert(!p66.contains("count(distinct"),
      "distinct-doc counting regressed to the skewable direct form:\n" + p66.take(1200))
  }

  test("q69: DSIR top-k is a bounded TakeOrdered, never a global sort") {
    val p = planOf("q69_dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      "the k-selection must be per-partition heaps + driver merge:\n" + p.take(1200))
    // the rank window is allowed ONLY above the TakeOrdered (it then sees k
    // rows, not the corpus); a window below it would be a global-sort killer
    val winIdx = p.indexOf("Window [")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx < 0 || winIdx < takeIdx,
      "a Window below the k-limit ranks the whole corpus:\n" + p.take(1500))
  }

  test("q32: language-ID tokenizes once (staged attributes, no HOF recompute)") {
    val p = planOf("q32_langid")
    // one split() per row feeding four filter() scores; the old column-form
    // plan carried 4 independent split()s plus 2^k when-fold copies
    assert(p.split("split\\(").length - 1 == 1,
      "language-ID must stage ONE tokenize:\n" + p.take(1500))
  }

  test("q63: bpe_encode runs inside whole-stage codegen on a pruned scan, no extra shuffle") {
    val plan = planOf("q63_bpe_encode")
    assert(plan.contains("bpe_encode"), plan.take(900))
    // narrow map: the ONLY exchange is the output orderBy's range partition
    assert(!plan.contains("Exchange hashpartitioning"),
      "encode must not shuffle:\n" + plan.take(1200))
    // encoder expression did not fall out of codegen: in the AQE final
    // plan's rendering a whole-stage-codegen'd node is starred "*(n)", so
    // the Project carrying bpe_encode must be starred
    assert(plan.linesIterator.exists(l => l.contains("bpe_encode") && l.contains("*(")),
      "bpe_encode fell out of codegen:\n" + plan.take(1200))
    // and the struct is staged ONCE: exactly one bpe_encode occurrence
    // (CollapseProject duplicating it into the 3 field reads would run the
    // encoder 3x per row)
    assert(plan.split("bpe_encode").length - 1 == 1,
      "encoder evaluated more than once:\n" + plan.take(1200))
    assert(plan.contains("ReadSchema") && !plan.contains("embedding"),
      "scan not pruned:\n" + plan.take(1200))
  }

  test("q75/q76: CDX lookup broadcasts targets; PageRank has no window and reuses the cached edges") {
    val look = planOf("q75_cdx_nearest")
    assert(look.contains("BroadcastHashJoin"),
      "lookup targets must broadcast (the index side never shuffles for the join):\n" + look.take(1500))
    assert(look.contains("partial_min"),
      "nearest pick must be a map-side-combinable min, not a window:\n" + look.take(1200))
    assert(!look.contains("Window"), "lookup regressed to a window:\n" + look.take(1200))
    val pr = planOf("q76_pagerank")
    assert(!pr.contains("Window"), "pageRank must not use windows:\n" + pr.take(1200))
    // the result is served from the final localCheckpoint (iteration lineage
    // cut + the edges/nodes caches released before return — the per-round
    // cache-hygiene test lives in GraphOpsSpec)
    assert(pr.contains("Scan ExistingRDD"),
      "pageRank result must be the materialized checkpoint:\n" + pr.take(1200))
  }

  test("q77: domain cap is a partial bounded aggregate, never a rank window") {
    val plan = planOf("q77_domain_cap")
    assert(!plan.contains("Window"), "cap regressed to a window:\n" + plan.take(1200))
    assert(plan.contains("partial_kth_smallest_agg"),
      "threshold must partial-aggregate map-side (<= k coins per task):\n" + plan.take(1200))
  }

  test("q81/q82/q83: corpus analytics stay windowless with partial aggregation") {
    val ng = planOf("q81_crossdoc_ngrams")
    assert(!ng.contains("Window"), "crossDoc regressed to a window:\n" + ng.take(1200))
    assert(ng.contains("partial_count"),
      "gram doc-frequency must partial-aggregate:\n" + ng.take(1200))
    val bm = planOf("q82_bm25")
    assert(!bm.contains("Window"), "bm25 regressed to a window:\n" + bm.take(1200))
    assert(bm.contains("BroadcastHashJoin"),
      "term doc-frequencies must broadcast:\n" + bm.take(1500))
    val rc = planOf("q83_recrawl_schedule")
    assert(!rc.contains("Window"),
      "recrawl must not order capture history in a window:\n" + rc.take(1200))
    assert(rc.contains("partial_count") || rc.contains("partial_min"),
      "recrawl aggregation must be partial:\n" + rc.take(1200))
  }

  test("q85: exact-substring dedup picks first occurrences via partial min, no shingle window") {
    val plan = planOf("q85_exact_substring")
    assert(!plan.contains("Window"),
      "first-occurrence regressed to a window over shingle groups:\n" + plan.take(1200))
    assert(plan.contains("partial_min"),
      "first-occurrence must be the map-side-combinable min(struct):\n" + plan.take(1200))
  }

  test("q02: aggregation is partial (map-side combine), one hash-exchange") {
    val plan = planOf("q02_agg_returnflag")
    assert(plan.contains("partial_sum"), "no map-side partial agg:\n" + plan.take(1200))
    val hashExchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(hashExchanges == 1, s"agg should hash-shuffle once, got $hashExchanges")
  }

  test("scheduler canonicalize dedups via aggregate with partial combine, not a sort window") {
    val seeds = graft.web.SyntheticWeb.seeds(spark, 200, 1000)
    val canon = graft.frontier.Scheduler.canonicalize(
      graft.web.SyntheticWeb.seedFrontier(seeds))
    canon.collect()
    val plan = canon.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), "no map-side combine:\n" + plan.take(1000))
    assert(!plan.contains("Window"), "canonicalize regressed to a window:\n" + plan.take(1000))
  }

  test("WARC source: pruning and warc_type pushdown visible in the scan") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("planspec").toString
    import spark.implicits._
    val rows = Seq(("WARC/1.1", Map("WARC-Type" -> "response", "WARC-Record-ID" -> "<urn:uuid:p>"), "x"))
      .toDF("version", "headers", "content")
    writeWarc(rows.coalesce(1), tmp)
    val q = spark.read.format("graft.sources.WarcDataSource").load(tmp)
      .filter(col("warc_type") === "response").select("record_id")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[EqualTo(warc_type,response)]"), plan.take(900))
    assert(plan.contains("columns=record_id,warc_type"), plan.take(900))
  }
}
