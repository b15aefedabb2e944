package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per suite, per spark_guide.md). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Writes (version, headers, content) rows as WARC files into `dir`
    * through the DSv2 writer; `opts` are its write options. */
  def writeWarc(df: DataFrame, dir: String, opts: (String, Any)*): Unit =
    df.write.format("graft.sources.WarcDataSource").mode("append")
      .options(opts.map { case (k, v) => k -> v.toString }.toMap).save(dir)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .withExtensions(new graft.GraftExtensions) // SQL-function surface under test
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
