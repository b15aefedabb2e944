package graft

import java.nio.file.Files

import org.scalacheck.Gen

import graft.snapshot.SnapshotStore

/** Snapshot layer: time travel + append/replace table semantics; plus the
  * WarcIO serializer round-trip property (write.go layout <-> ReadRecord). */
class SnapshotSpec extends SparkSpec with GenHelpers {

  test("time travel: readAt(v) sees exactly the rows committed up to v") {
    import spark.implicits._
    val store = new SnapshotStore(Files.createTempDirectory("snap-tt").toString)
    store.commit(0, Map(
      "warc_rows" -> Seq((0, "a")).toDF("round", "uri"),
      "frontier" -> Seq("f0").toDF("url")))
    store.commit(1, Map(
      "warc_rows" -> Seq((1, "b")).toDF("round", "uri"),
      "frontier" -> Seq("f1").toDF("url")))
    assert(store.versions === Seq(0, 1))
    // append table accumulates; at v0 only round 0 is visible
    assert(store.readAt(spark, "warc_rows", 0).get.count() === 1)
    assert(store.readAt(spark, "warc_rows", 1).get.count() === 2)
    // replace table shows only the version's own rows
    assert(store.readAt(spark, "frontier", 0).get.select("url").head().getString(0) === "f0")
    assert(store.readAt(spark, "frontier", 1).get.select("url").head().getString(0) === "f1")
    // latest == readAt(max)
    assert(store.read(spark, "warc_rows").get.count() === 2)
  }

  test("retention: expire drops old versions, vacuum reclaims their files, survivors intact") {
    import spark.implicits._
    val store = new SnapshotStore(Files.createTempDirectory("snap-exp").toString)
    for (r <- 0 until 4) store.commit(r, Map(
      "warc_rows" -> Seq((r, s"u$r")).toDF("round", "uri"),
      "frontier" -> Seq(s"f$r").toDF("url")))
    assert(store.versions === Seq(0, 1, 2, 3))
    // vacuum BEFORE expiration reclaims nothing: every replace-table
    // generation is still referenced by some retained manifest (time travel)
    assert(store.vacuum().isEmpty)

    assert(store.expire(keepLast = 2) === Seq(0, 1))
    assert(store.versions === Seq(2, 3))
    // expired versions are unreadable; retained time travel + latest intact
    assert(store.readAt(spark, "warc_rows", 0).isEmpty)
    assert(store.readAt(spark, "warc_rows", 1).isEmpty)
    assert(store.readAt(spark, "warc_rows", 2).get.count() === 3) // cumulative appends survive
    assert(store.read(spark, "warc_rows").get.count() === 4)
    assert(store.read(spark, "frontier").get.select("url").head().getString(0) === "f3")

    // vacuum now reclaims exactly the expired replace-table generations
    // (f0/f1); append-table files are still referenced by v2/v3's cumulative
    // lists and survive
    val removed = store.vacuum()
    assert(removed.nonEmpty && removed.forall(_.contains("/frontier/")), removed.toString)
    assert(removed.exists(_.contains("/r0")) && removed.exists(_.contains("/r1")))
    assert(store.readAt(spark, "frontier", 2).get.select("url").head().getString(0) === "f2")
    assert(store.read(spark, "warc_rows").get.count() === 4)
    // expire is idempotent at the floor
    assert(store.expire(keepLast = 2).isEmpty)
  }

  test("property: WarcIO write->read round-trips arbitrary records") {
    val keyGen = Gen.oneOf("WARC-Type", "WARC-Target-URI", "X-Custom-A", "B-Custom")
    val valGen = Gen.alphaNumStr.suchThat(_.length <= 40)
    val hdrGen = Gen.mapOf(Gen.zip(keyGen, valGen)).map(_.toSeq)
    val contentGen = Gen.listOf(Gen.chooseNum(0, 255)).map(_.map(_.toByte).toArray)
    checkAll(Gen.zip(hdrGen, contentGen), n = 200) { case (hdrs, content) =>
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.WarcIO.writeRecord(bos, "WARC/1.1", hdrs, content)
      val (it, in) = graft.sources.WarcIO.openRecords(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      val recs = try it.toList finally in.close()
      assert(recs.length === 1)
      assert(recs.head.version === "WARC/1.1")
      assert(java.util.Arrays.equals(recs.head.content, content))
      // every provided header survives (lowercased key, trimmed value);
      // Content-Length and block digest are injected
      hdrs.toMap.foreach { case (k, v) =>
        assert(recs.head.headers.get(k.toLowerCase).contains(v.trim)) }
      assert(recs.head.headers("content-length").toLong === content.length)
    }
  }

  test("property: gzip member framing round-trips N records") {
    checkAll(Gen.chooseNum(1, 20), n = 30) { n =>
      val bos = new java.io.ByteArrayOutputStream()
      (0 until n).foreach { i =>
        graft.sources.WarcIO.writeGzipMember(bos) { g =>
          graft.sources.WarcIO.writeRecord(g, "WARC/1.1",
            Seq("WARC-Type" -> "resource", "WARC-Record-ID" -> s"<urn:uuid:$i>"),
            s"content-$i".getBytes)
        }
      }
      val (it, in) = graft.sources.WarcIO.openRecords(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      val recs = try it.toList finally in.close()
      assert(recs.length === n)
      recs.zipWithIndex.foreach { case (r, i) =>
        assert(new String(r.content) === s"content-$i")
        assert(r.ordinal === i)
      }
      // member coordinates: contiguous, exact, 1 member per record
      assert(recs.head.memberOffset === 0L)
      recs.sliding(2).foreach {
        case Seq(a, b) => assert(a.memberOffset + a.memberSize === b.memberOffset)
        case _ =>
      }
      assert(recs.last.memberOffset + recs.last.memberSize === bos.toByteArray.length)
    }
  }
}
