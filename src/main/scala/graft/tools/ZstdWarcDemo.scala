package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end drive of the zstd WARC surface (K6/K7): writer with a raw-content
  * dictionary -> skippable dict frame + sized per-record frames + sidecar
  * index -> member-aligned split scan; plus foreign bzip2/xz sniffing. */
object ZstdWarcDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fmt = "graft.sources.WarcDataSource"

    val rows = spark.range(500).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:demo"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit("http://demo.example/p"), col("id").cast("string"))).as("headers"),
      concat(lit("demo-payload-"), col("id").cast("string")).cast("string").as("content"))

    val dict = "WARC/1.1\r\nWARC-Type: response\r\ndemo-payload-".getBytes("UTF-8")
    val dir = Files.createTempDirectory("zstd-demo").toString
    rows.coalesce(1).write.format(fmt).mode("append")
      .option("compression", "zstd")
      .option("zstdDictBase64", java.util.Base64.getEncoder.encodeToString(dict))
      .option("maxRecordsPerFile", "1000").save(dir)

    val zst = new java.io.File(dir).list().filter(_.endsWith(".warc.zst"))
    println(s"files: ${zst.mkString(",")}")
    val whole = spark.read.format(fmt).load(dir)
    println("whole-scan records: " + whole.filter(col("warc_type") =!= "warcinfo").count())
    val split = spark.read.format(fmt).option("maxPartitionBytes", "4096").load(dir)
    println(s"split partitions: ${split.rdd.getNumPartitions}")
    println("split equals whole: " +
      (split.orderBy("record_ordinal").select("record_id", "content").collect()
        .sameElements(whole.orderBy("record_ordinal").select("record_id", "content").collect())))

    // crash-recovery: chop the tail mid-frame, mend, rescan survivors
    val f = new java.io.File(dir).listFiles().find(_.getName.endsWith(".warc.zst")).get
    val bytes = Files.readAllBytes(f.toPath)
    val open = f.toPath.resolveSibling(f.getName + ".open")
    Files.write(open, java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 37))
    Files.delete(f.toPath)
    Files.delete(f.toPath.resolveSibling(f.getName + ".idx"))
    val m = graft.jobs.Mend.mendFile(open.toString)
    println(s"mend: records=${m.validRecords} kept=${m.keptBytes} " +
      s"truncated=${m.truncatedBytes} renamed=${m.renamed} error=${m.error}")
    val idx = graft.jobs.IndexWarc.indexAll(spark, dir).collect()
    println(s"reindex: members=${idx.head.getAs[Long]("members")}")
    val mended = spark.read.format(fmt).option("maxPartitionBytes", "4096").load(dir)
    println(s"mended scan: records=${mended.count()} partitions=${mended.rdd.getNumPartitions}")
    spark.stop()
  }
}
