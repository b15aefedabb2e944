package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.WarcSink

/** Manual end-to-end drive of the public API: crawl a synthetic web, ship
  * warc_rows through the rotating gzip writer, scan them back with the WARC
  * DataSourceV2 (pruned + filtered), print what a user would see. */
object WarcRoundTripDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val n = 400L
    val res = graft.jobs.Crawl.run(spark,
      graft.web.SyntheticWeb.pages(spark, n),
      graft.web.SyntheticWeb.seeds(spark, 150, n),
      Some(graft.web.SyntheticWeb.robots(spark)), None, None,
      graft.jobs.Crawl.Config(maxRounds = 2, perHostBudget = 60, numSlots = 8,
        dedupSizeThreshold = 32, numShards = 4))
    println(s"crawl rounds: ${res.rounds}")

    val dir = java.nio.file.Files.createTempDirectory("warc-demo").toString
    val shaped = WarcSink.toRecordColumns(
      res.warcRows.withColumn("content", concat_ws("|", col("warc_type"), col("target_uri"))),
      "content")
    shaped.write.format("graft.sources.WarcDataSource").mode("append")
      .option("maxRecordsPerFile", "200").save(dir)
    println(s"writer dir listing: ${new java.io.File(dir).list().sorted.mkString(", ")}")

    val back = spark.read.format("graft.sources.WarcDataSource").load(dir)
    println(s"scanned rows: ${back.count()} (crawl emitted ${res.warcRows.count()})")
    val q = back.filter(col("warc_type") === "revisit").select("record_id", "target_uri", "profile", "truncated")
    q.show(5, truncate = false)
    println("physical plan leaf: " +
      q.queryExecution.executedPlan.collectLeaves().head.toString.linesIterator.next())
    spark.stop()
  }
}
