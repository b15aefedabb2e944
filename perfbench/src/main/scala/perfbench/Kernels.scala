package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SketchExprs
import graft.functions.UrlCanonicalize.url_canonicalize
import graft.functions.WarcDigest.warc_sha1_b32
import graft.seen.{FilterExprs, SeenSetOps}

/**
 * The codegen-kernel layer on its own: each custom expression runs alone
 * over a cached input taken from the workload (crawl URLs, crawl payloads
 * and their tokens, the crawl's seen-filter table), and reports rows/s.
 * The Bloom probe is timed as the program runs it in `SeenSetOps.notSeen`:
 * candidate keys joined to their shard's filter blob, then probed.
 */
object Kernels {
  final case class Inputs(urls: DataFrame, payloads: DataFrame,
                          probeKeys: DataFrame, probeFilters: DataFrame, numShards: Int)

  private val Reps = 3
  private val ShingleK = 5
  private val Salts: Seq[Long] = (0 until 32).map(i => 0x9E3779B97F4A7C15L * (i + 1))

  /** Median seconds of `Reps` passes of `out` through the noop sink, after
    * one warm-up pass (code generation and JIT happen there). */
  private def time(out: DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      out.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Util.median((1 to Reps).map(_ => once()))
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  def run(in: Inputs): Map[String, Metric] = {
    def rate(name: String, input: DataFrame, kernel: Column): (String, Metric) = {
      val (c, n) = cached(input)
      val secs = time(c.select(kernel.as("k")))
      c.unpersist(blocking = true)
      s"functions.$name.rows_per_s" -> Metric(n / secs, "rows/s")
    }
    val tokens = in.payloads.select(graft.ops.TextOps.tokens(col("payload")).as("toks"))
    val (hashes, _) = cached(tokens.select(
      SketchExprs.rolling_token_hashes(col("toks"), ShingleK).as("hs")))
    val probe = {
      val h = SeenSetOps.keyHash(col("url_key"))
      in.probeKeys.select(h.as("h"), pmod(h, lit(in.numShards.toLong)).cast("int").as("shard"))
    }
    val filters = broadcast(in.probeFilters)
    val out = Seq(
      rate("url_canonicalize", in.urls, url_canonicalize(col("url"))),
      rate("warc_sha1_b32", in.payloads, warc_sha1_b32(col("payload"))),
      rate("rolling_token_hashes", tokens, SketchExprs.rolling_token_hashes(col("toks"), ShingleK)),
      rate("xor_min_sig", hashes, SketchExprs.xor_min_sig(col("hs"), Salts)),
      {
        val (c, n) = cached(probe)
        val secs = time(c.join(filters, Seq("shard"), "left")
          .select(FilterExprs.might_contain_blob(col("shard"), col("bloom"), col("h")).as("k")))
        c.unpersist(blocking = true)
        "functions.might_contain_blob.rows_per_s" -> Metric(n / secs, "rows/s")
      })
    hashes.unpersist(blocking = true)
    out.toMap
  }
}
