package graft.sources

import org.apache.spark.sql.DataFrame

/**
 * Shapes rows into the record layout the WARC writer takes:
 * (version: string, headers: map<string,string>, content: binary|string).
 * Write the result with
 * `df.write.format("graft.sources.WarcDataSource").mode("append").save(dir)`
 * (see [[WarcWriteBuilder]] for rotation, naming, framing and publish).
 */
object WarcSink {

  /** Shape the crawl's warc_rows (plus a content column) into writer rows.
    * `keepDigests=false` drops the digest headers so the writer recomputes
    * the block digest from the actual content — use it whenever the content
    * column is not the original digested block. */
  def toRecordColumns(warcRows: DataFrame, contentCol: String,
                      keepDigests: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    def hdr(k: String, c: org.apache.spark.sql.Column) = Seq(lit(k), c.cast("string"))
    val digests =
      if (keepDigests)
        hdr("WARC-Block-Digest", col("block_digest")) ++
          hdr("WARC-Payload-Digest", col("payload_digest"))
      else Seq.empty
    warcRows.select(
      lit("WARC/1.1").as("version"),
      map_filter(map(
        hdr("WARC-Record-ID", col("record_id")) ++
          hdr("WARC-Type", col("warc_type")) ++
          hdr("WARC-Date", date_format(col("warc_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'")) ++
          hdr("WARC-Target-URI", col("target_uri")) ++
          hdr("Content-Length", col("content_length")) ++
          digests ++
          hdr("WARC-Concurrent-To", col("concurrent_to")) ++
          hdr("WARC-Refers-To", col("refers_to")) ++
          (if (warcRows.columns.contains("ip")) hdr("WARC-IP-Address", col("ip")) else Seq.empty) ++
          hdr("WARC-Profile", col("profile")) ++
          hdr("WARC-Truncated", col("truncated")): _*),
        (_, v) => v.isNotNull).as("headers"),
      col(contentCol).cast("string").as("content"))
  }
}
