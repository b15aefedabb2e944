package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Manual probes of the WARC scan's failure surface: trailing garbage,
  * empty dir, non-warc files. */
object WarcProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fmt = "graft.sources.WarcDataSource"

    // dir with one good file + trailing garbage appended
    val dir = Files.createTempDirectory("warc-probe")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(("WARC/1.1", Map("WARC-Type" -> "response", "WARC-Record-ID" -> "<urn:uuid:x>"), "abc"))
      .toDF("version", "headers", "content")
    rows.coalesce(1).write.format(fmt).mode("append").save(dir.toString)
    val f = dir.resolve(new java.io.File(dir.toString).list().filter(_.endsWith(".warc.gz")).head)
    println("clean scan count: " + spark.read.format(fmt).load(dir.toString).count())
    Files.write(f, "GARBAGE-NOT-GZIP".getBytes, StandardOpenOption.APPEND)
    try println("garbage scan count: " + spark.read.format(fmt).load(dir.toString).count())
    catch { case e: Throwable => println("garbage scan error: " +
      Option(e.getCause).getOrElse(e).getMessage.linesIterator.next()) }

    val empty = Files.createTempDirectory("warc-empty")
    println("empty dir count: " + spark.read.format(fmt).load(empty.toString).count())

    val mixed = Files.createTempDirectory("warc-mixed")
    Files.write(mixed.resolve("notes.txt"), "not a warc".getBytes)
    rows.coalesce(1).write.format(fmt).mode("append").save(mixed.toString)
    println("mixed dir count (txt ignored): " + spark.read.format(fmt).load(mixed.toString).count())
    spark.stop()
  }
}
