package graft

import org.apache.spark.sql.functions._

import graft.ops.DedupOps

/** MinHash-LSH worst-case bound (VERDICT r1 #10): a cluster of identical
  * documents must not go quadratic inside one band bucket — the exact-dup
  * pre-pass collapses it to one representative and emits the cluster's
  * pairs directly. */
class DedupOpsSpec extends SparkSpec {

  test("identical-document cluster: pairs exact, work bounded by output") {
    import spark.implicits._
    val m = 300 // 300 identical docs -> 44_850 intra pairs
    val identical = spark.range(m)
      .select(col("id").as("doc_id"), lit("the same exact document body repeated").as("text"))
    val distinctDocs = spark.range(m, m + 40).select(col("id").as("doc_id"),
      concat(lit("unique text body number "), col("id").cast("string"),
        lit(" with its own words")).as("text"))
    val df = identical.unionByName(distinctDocs)

    val pairs = DedupOps.minhashLshPairs(df, "doc_id", "text",
      shingleSize = 5, numHashes = 32, bandsCount = 8, threshold = 0.4).cache()
    val intra = pairs.filter(col("id_a") < m && col("id_b") < m)
    assert(intra.count() === m.toLong * (m - 1) / 2)
    assert(intra.filter(col("jaccard") =!= 1.0).count() === 0)
    // no self pairs, orientation always id_a < id_b
    assert(pairs.filter(col("id_a") >= col("id_b")).count() === 0)
    pairs.unpersist()
  }

  test("sketch kernels are bit-identical to the HOF folds they replace") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(120)).map(_ => rnd.nextPrintableChar()).mkString)
    }.toDF("id", "text")
    val k = 5
    val staged = docs.select(col("id"),
      when(length(col("text")) < k, array(col("text")))
        .otherwise(transform(sequence(lit(0), length(col("text")) - k),
          i => col("text").substr(i + 1, lit(k)))).as("shingles"),
      graft.ops.TextOps.tokens(col("text")).as("toks"))
      .withColumn("th", transform(col("toks"), t => xxhash64(t)))
    val cmp = staged.select(
      DedupOps.minhashSignature(col("shingles"), 32).as("hof_sig"),
      graft.functions.SketchExprs.minhash_sig(col("shingles"), 32).as("krn_sig"),
      DedupOps.simhashFromVotes(DedupOps.simhashVotes(col("th"))).as("hof_sim"),
      graft.functions.SketchExprs.simhash64_from_hashes(col("th")).as("krn_sim"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  test("connected components match union-find on a seeded random graph + long chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val randomEdges = (0 until 300).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    // a 64-node chain: stresses multi-hop label propagation (pointer jumping
    // must collapse it in O(log n) iterations, not 64)
    val chainEdges = (1000L until 1063L).map(i => (i, i + 1))
    val edges = randomEdges ++ chainEdges
    val pairs = edges.toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap

    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical representative = min id in component
    val minOf = verts.groupBy(find).map { case (root, vs) => root -> vs.min }
    val expected = verts.map(v => v -> minOf(find(v))).toMap

    assert(got.keySet === expected.keySet)
    assert(got === expected)
    // every chain node resolves to the chain head
    assert((1000L to 1063L).forall(got(_) === 1000L))
  }

  test("connectedComponents rejects non-castable ids loudly (no silent null vertex)") {
    import spark.implicits._
    // string ids cast(long) -> NULL silently; a null vertex would merge the
    // whole graph into one bogus component — must throw instead
    val pairs = Seq(("doc-a", "doc-b"), ("doc-b", "doc-c")).toDF("id_a", "id_b")
    val e = intercept[Throwable] { DedupOps.connectedComponents(pairs) }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    // under ANSI (Spark 4 default) the cast itself throws CAST_INVALID_INPUT
    // before our raise_error guard; with ANSI off the guard fires instead —
    // either way the call fails loudly rather than collapsing the graph
    assert(msgs.contains("castable") || msgs.contains("USER_RAISED_EXCEPTION") ||
      msgs.contains("CAST_INVALID_INPUT"),
      s"expected a loud id-cast failure, got: $msgs")
    // numeric strings still pass (they cast losslessly)
    val ok = DedupOps.connectedComponents(
      Seq(("1", "2"), ("2", "3")).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(ok === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("keepClusterRepresentatives: one survivor per component, singletons intact") {
    import spark.implicits._
    val docs = Seq("a", "b", "c", "d", "e", "lone").toDF("doc_id")
    // two components: {a,b,c} (chain) and {d,e}; "lone" appears in no pair
    val pairs = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("id_a", "id_b")
    val kept = DedupOps.keepClusterRepresentatives(docs, pairs, "doc_id")
      .collect().map(_.getString(0)).toSet
    assert(kept.size === 3) // one per component + the singleton
    assert(kept.contains("lone"))
    assert(kept.count(Set("a", "b", "c")) === 1)
    assert(kept.count(Set("d", "e")) === 1)
    // deterministic: same survivors on a reshuffled input
    val again = DedupOps.keepClusterRepresentatives(docs.repartition(5), pairs, "doc_id")
      .collect().map(_.getString(0)).toSet
    assert(again === kept)
  }

  test("keepBestClusterRepresentatives: argmax-quality survivor, null scores lose") {
    import spark.implicits._
    val docs = Seq(("a", 0.2), ("b", 0.9), ("c", 0.5), ("d", 0.1), ("e", 0.1),
      ("lone", 0.0)).toDF("doc_id", "q")
    val pairs = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("id_a", "id_b")
    val kept = DedupOps.keepBestClusterRepresentatives(docs, pairs, "doc_id", "q")
      .collect().map(_.getString(0)).toSet
    assert(kept.contains("b"), "best-quality member must survive {a,b,c}")
    assert(kept.contains("lone") && kept.size === 3)
    assert(kept.count(Set("d", "e")) === 1) // score tie -> exactly one, by id hash
    // deterministic under repartitioning
    val again = DedupOps.keepBestClusterRepresentatives(
      docs.repartition(5), pairs, "doc_id", "q").collect().map(_.getString(0)).toSet
    assert(again === kept)
    // all-null-score cluster still keeps exactly one member
    val nulls = Seq(("x", null.asInstanceOf[java.lang.Double]),
      ("y", null.asInstanceOf[java.lang.Double]),
      ("z", java.lang.Double.valueOf(0.3))).toDF("doc_id", "q")
    val keptN = DedupOps.keepBestClusterRepresentatives(nulls,
      Seq(("x", "y")).toDF("id_a", "id_b"), "doc_id", "q")
      .collect().map(_.getString(0)).toSet
    assert(keptN.contains("z") && keptN.count(Set("x", "y")) === 1)
    // NaN sorts above every double in Spark — it must LOSE, not win
    val nan = Seq(("p", Double.NaN), ("r", 0.4)).toDF("doc_id", "q")
    val keptNaN = DedupOps.keepBestClusterRepresentatives(nan,
      Seq(("p", "r")).toDF("id_a", "id_b"), "doc_id", "q")
      .collect().map(_.getString(0)).toSet
    assert(keptNaN === Set("r"), "NaN-scored member must not win the argmax")
  }

  /** Independent reference for exactSubstringDedup (same semantics, plain
    * Scala): duplicated k-shingles, first (ord=id, pos) kept, k-covers of
    * non-first starts removed. */
  private def exactSubstrRef(docs: Seq[(Long, String)], k: Int): Map[Long, (String, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
    val shingles = for {
      (id, ts) <- toks if ts.size >= k
      p <- 0 to ts.size - k
    } yield (ts.slice(p, p + k).mkString(" "), id, p)
    val dupStarts = shingles.groupBy(_._1).values.filter(_.size >= 2)
      .flatMap(_.sortBy(x => (x._2, x._3)).tail.map(x => (x._2, x._3))).toSet
    toks.map { case (id, ts) =>
      val dpos = dupStarts.collect { case (i, p) if i == id => p }
      val kept = ts.zipWithIndex.collect {
        case (t, i) if !dpos.exists(q => q <= i && i < q + k) => t
      }
      id -> ((kept.mkString(" "), (ts.size - kept.size).toLong))
    }.toMap
  }

  test("exactSubstringDedup: UNALIGNED repeats excised, first kept (vs brute force)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),           // first occurrence of "c d e f"
      (2L, "x x c d e f y z"),           // same run at a DIFFERENT alignment
      (3L, "m n o p m n o p m n o p"),   // self-repetition within one doc
      (4L, "short doc"),                 // < k tokens: untouched
      (5L, ""))                          // empty: untouched
    val got = DedupOps.exactSubstringDedup(docs.toDF("doc_id", "text"),
      "doc_id", "text", minTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val want = exactSubstrRef(docs, 4)
    assert(got === want)
    // the headline property chunkDedup cannot deliver: doc 2's unaligned
    // copy of "c d e f" is gone, doc 1's original survives
    assert(got(1L)._1 === "a b c d e f g h")
    assert(!got(2L)._1.contains("c d e f") && got(2L)._2 === 4L)
    assert(got(3L)._2 === 8L, "self-repetition keeps only the first run")
    assert(got(4L) === (("short doc", 0L)) && got(5L) === (("", 0L)))
  }

  test("exactSubstringDedup: randomized corpus matches brute force") {
    import spark.implicits._
    // deterministic pseudo-random corpus from a tiny vocab forces repeats
    val rnd = new scala.util.Random(42)
    val vocab = Vector("v0", "v1", "v2", "v3", "v4")
    val docs = (0L until 30L).map { i =>
      i -> Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val got = DedupOps.exactSubstringDedup(docs.toDF("doc_id", "text"),
      "doc_id", "text", minTokens = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === exactSubstrRef(docs, 5))
    // the O(n) rolling fast path and the O(n·k) portable md5 path agree
    val portable = DedupOps.exactSubstringDedup(docs.toDF("doc_id", "text"),
      "doc_id", "text", minTokens = 5, portableKeys = true)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(portable === got)
  }

  test("rolling_token_hashes: window equality iff token equality (vs direct poly)") {
    import spark.implicits._
    import graft.functions.SketchExprs.rolling_token_hashes
    val rnd = new scala.util.Random(7)
    val arrs = (0 until 20).map(_ =>
      Seq.fill(3 + rnd.nextInt(15))(s"t${rnd.nextInt(4)}"))
    val k = 3
    val got = arrs.map(_.mkString(" ")).toDF("s")
      .select(rolling_token_hashes(graft.ops.TextOps.tokens(col("s")), k).as("h"))
      .collect().map(_.getSeq[Long](0))
    // direct O(n*k) reference with the same base hashes
    def fnv(s: String): Long = s.getBytes("UTF-8")
      .foldLeft(0xcbf29ce484222325L)((a, b) => (a ^ (b & 0xffL)) * 0x100000001b3L)
    val B = 0x100000001b3L
    arrs.zip(got).foreach { case (ts, hs) =>
      if (ts.size < k) assert(hs.isEmpty)
      else {
        val want = (0 to ts.size - k).map(p =>
          ts.slice(p, p + k).map(fnv).foldLeft(0L)((r, h) => r * B + h))
        assert(hs.toSeq === want, ts.toString)
      }
    }
    // equality structure: same window <-> same hash across all arrays
    val windows = arrs.filter(_.size >= k).flatMap(ts =>
      (0 to ts.size - k).map(p => ts.slice(p, p + k)))
    val hashes = arrs.filter(_.size >= k).zip(
      got.filter(_ => true).filter(_.nonEmpty)).flatMap(_._2)
    windows.zip(hashes).groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).distinct.size === 1, "equal windows must hash equal")
    }
  }

  test("ngram jaccard exact mode (maxDocFreq<=0) matches brute force") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta zeta"),
      (2L, "alpha beta gamma other words"),
      (3L, "totally different text entirely")).toDF("doc_id", "text")
    val got = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", n = 2,
      threshold = 0.2, maxDocFreq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    // brute force over word-bigram sets
    def grams(s: String) = s.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val texts = Map(0L -> "alpha beta gamma delta epsilon", 1L -> "alpha beta gamma delta zeta",
      2L -> "alpha beta gamma other words", 3L -> "totally different text entirely")
    val expect = (for {
      a <- texts.keys; b <- texts.keys if a < b
      ga = grams(texts(a)); gb = grams(texts(b))
      j = ga.intersect(gb).size.toDouble / ga.union(gb).size
      if j >= 0.2
    } yield (a, b, math.rint(j * 10000) / 10000)).toSeq.sorted
    assert(got.toSeq === expect)
  }

  test("rep expansion preserves pair-for-pair output on a mixed corpus") {
    import spark.implicits._
    // two duplicate clusters + near-dup texts: every cross pair of two
    // clusters must carry the reps' jaccard
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val docs = Seq(
      (0L, base), (1L, base), (2L, base), // cluster A
      (3L, near), (4L, near), // cluster B
      (5L, "completely different words entirely here now")).toDF("doc_id", "text")
    val pairs = DedupOps.minhashLshPairs(docs, "doc_id", "text",
      shingleSize = 5, numHashes = 32, bandsCount = 8, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val intraA = pairs.filter(p => p._1 < 3 && p._2 < 3)
    assert(intraA.length === 3 && intraA.forall(_._3 == 1.0))
    val intraB = pairs.filter(p => p._1 >= 3 && p._1 < 5 && p._2 >= 3 && p._2 < 5)
    assert(intraB.length === 1 && intraB.forall(_._3 == 1.0))
    // cross pairs A x B all share one jaccard value (same underlying texts)
    val cross = pairs.filter(p => p._1 < 3 && p._2 >= 3 && p._2 < 5)
    if (cross.nonEmpty) {
      assert(cross.length === 6, s"expected all 3x2 cross pairs, got ${cross.length}")
      assert(cross.map(_._3).distinct.length === 1)
    }
  }

  test("portable MinHash twin: non-empty pair set, jaccard matches brute force") {
    import spark.implicits._
    // planted near-dups on NON-adjacent ids (the q57 lesson: real near-dup
    // pairs land at random id distances, so the twin must find them without
    // any id-locality assumption)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (0L, base),
      (7L, base + " x"), // near-dup of 0
      (3L, "completely different words living in this one here"),
      (11L, base.replace("quick", "rapid")), // near-dup of 0 and 7
      (5L, "another unrelated document body entirely")).toDF("doc_id", "text")
    val got = DedupOps.minhashLshPairsPortable(docs, "doc_id", "text",
      shingleSize = 5, numHashes = 16, bandsCount = 4, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got.nonEmpty, "twin must verify a non-empty pair set")
    // every emitted jaccard must equal the brute-force 5-shingle jaccard
    def shingles(s: String) = {
      val n = s.toLowerCase.trim.replaceAll("\\s+", " ")
      if (n.length < 5) Set(n) else n.sliding(5).toSet
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (a, b, j) =>
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(j === math.rint(expect * 10000) / 10000, s"pair ($a,$b)")
      assert(expect >= 0.4)
    }
    // the two planted high-jaccard pairs must be recalled
    assert(got.map(p => (p._1, p._2)).toSet.contains((0L, 7L)))
  }

  test("portable shingle-hash kernel is bit-identical to the HOF md5 chain (incl. non-ASCII)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val alphabet = "abc déü東 01"
    val docs = ((0 until 150).map { i =>
      (i.toLong, (0 until rnd.nextInt(90)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } :+ (999L, "ab")).toDF("id", "norm") // "ab": shorter than k -> whole-text shingle
    val k = 5
    val hofShingles = when(length(col("norm")) < k, array(col("norm")))
      .otherwise(transform(sequence(lit(0), length(col("norm")) - k),
        i => col("norm").substr(i + 1, lit(k))))
    val cmp = docs.select(
      graft.functions.SketchExprs.portable_shingle_hashes(col("norm"), k).as("krn"),
      array_sort(array_distinct(transform(hofShingles,
        s => graft.ops.PipelineOps.portableHash64(s)))).as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("xx shingle kernel + sig-from-hashes are bit-identical to the HOF chain (incl. non-ASCII)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val alphabet = "abc déü東 01"
    val docs = ((0 until 150).map { i =>
      (i.toLong, (0 until rnd.nextInt(90)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } :+ (999L, "ab")).toDF("id", "norm") // "ab": shorter than k -> whole-text shingle
    val k = 5
    val hofShingles = when(length(col("norm")) < k, array(col("norm")))
      .otherwise(transform(sequence(lit(0), length(col("norm")) - k),
        i => col("norm").substr(i + 1, lit(k))))
    val staged = docs.select(col("norm"), hofShingles.as("shingles"))
    val cmp = staged.select(
      graft.functions.SketchExprs.xx_shingle_hashes(col("norm"), k).as("krn_hs"),
      array_sort(array_distinct(transform(col("shingles"), s => xxhash64(s)))).as("hof_hs"),
      graft.functions.SketchExprs.minhash_sig_from_hashes(
        graft.functions.SketchExprs.xx_shingle_hashes(col("norm"), k), 32).as("krn_sig"),
      graft.functions.SketchExprs.minhash_sig(col("shingles"), 32).as("hof_sig"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1)) // hash set identical
      assert(r.getSeq[Long](2) === r.getSeq[Long](3)) // signature identical
    }
  }

  test("portable_hash64_tokens and xor_min_sig are bit-identical to their HOF forms") {
    import spark.implicits._
    import graft.functions.SketchExprs.{portable_hash64_tokens, xor_min_sig}
    val rnd = new scala.util.Random(37)
    val alphabet = "abc déü東 01"
    // words may be empty strings; token arrays may be empty
    def word() = (0 until rnd.nextInt(8)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val inputs = (0 until 200).map(i => (i.toLong, Seq.fill(rnd.nextInt(30))(word()),
      Seq.fill(rnd.nextInt(40))(rnd.nextLong()))) :+
      (998L, Seq.empty[String], Seq(Long.MinValue, Long.MaxValue, 0L, -1L)) :+
      (999L, Seq.empty[String], Seq.empty[Long])
    assert(inputs.exists(_._2.exists(_.exists(_ > 127))) && inputs.exists(_._2.contains("")))
    val docs = inputs.toDF("id", "toks", "raw")
    val salts = Seq.fill(16)(rnd.nextLong()) ++ Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    def hofSig(hs: org.apache.spark.sql.Column) =
      array(salts.map(s => array_min(transform(hs, h => h.bitwiseXOR(lit(s))))): _*)
    val staged = docs.withColumn("hs", portable_hash64_tokens(col("toks")))
    val cmp = staged.select(
      col("hs"), transform(col("toks"), t => graft.ops.PipelineOps.portableHash64(t)),
      xor_min_sig(col("hs"), salts), hofSig(col("hs")),
      xor_min_sig(col("raw"), salts), hofSig(col("raw")), size(col("raw")))
      .collect()
    def sigsAgree(krn: Seq[Long], hof: Seq[Any], inputSize: Int): Unit =
      if (inputSize > 0) assert(krn === hof)
      else { // empty set: the kernel fills Long.MaxValue, array_min of nothing is null
        assert(krn === Seq.fill(salts.size)(Long.MaxValue))
        assert(hof.forall(_ == null))
      }
    cmp.foreach { r =>
      val hs = r.getSeq[Long](0)
      assert(hs === r.getSeq[Long](1))
      sigsAgree(r.getSeq[Long](2), r.getSeq[Any](3), hs.size)
      sigsAgree(r.getSeq[Long](4), r.getSeq[Any](5), r.getInt(6))
    }
    assert(cmp.exists(_.getSeq[Long](0).isEmpty) && cmp.exists(_.getInt(6) == 0))
  }

  test("chunkDedup skew: a chunk duplicated 1e5x — aggregate form equals the window form") {
    import spark.implicits._
    // the aggregate first-occurrence rule must collapse the hot chunk in
    // the partial aggregate AND still produce the window form's output
    // bit-for-bit: 1000 docs x 100 repeats of ONE boilerplate chunk each
    // (1e5 duplicates of a single chunk value) + a unique per-doc tail
    val boiler = "all rights reserved"
    val docs = (0L until 1000L).map { i =>
      (i, (Seq.fill(100)(boiler) :+ s"unique tail $i").mkString(" "))
    }.toDF("doc_id", "text")
    val fast = DedupOps.chunkDedup(docs, "doc_id", "text", chunkTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val windowed = DedupOps.chunkDedupWindowed(docs, "doc_id", "text", chunkTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fast.size === 1000)
    (0L until 1000L).foreach(i => assert(fast(i) === windowed(i), s"doc $i"))
    // sanity: doc 0 keeps one boilerplate chunk, all others drop all 100
    assert(fast(0L)._1.startsWith(boiler))
    assert(fast(999L)._3 === 100L)
  }

  test("chunkDedup: repeated chunks removed first-occurrence-wins, text reassembled") {
    import spark.implicits._
    // 4-token chunks; doc 0 carries the boilerplate, doc 1 repeats it
    // around its own middle chunk, doc 2 repeats a chunk WITHIN itself,
    // doc 3 is empty, doc 4 is all-unique
    val boiler = "all rights reserved worldwide" // one aligned 4-token chunk
    val docs = Seq(
      (0L, s"$boiler and some original words here"),
      (1L, s"$boiler its own middle content $boiler"),
      (2L, "w x y z w x y z"),
      (3L, "   "),
      (4L, "totally fresh unique content")).toDF("doc_id", "text")
    val got = DedupOps.chunkDedup(docs, "doc_id", "text", chunkTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 0 first: keeps everything (9 tokens -> 3 chunks, all unique)
    assert(got(0L) === ((s"$boiler and some original words here", 3L, 0L)))
    // doc 1: BOTH aligned boilerplate occurrences dropped (the first was
    // claimed by doc 0); its own middle chunk survives
    assert(got(1L) === (("its own middle content", 3L, 2L)))
    // doc 2: second identical within-doc chunk dropped
    assert(got(2L) === (("w x y z", 2L, 1L)))
    // empty doc survives as empty
    assert(got(3L) === (("", 0L, 0L)))
    assert(got(4L) === (("totally fresh unique content", 1L, 0L)))
  }

  test("chunkDedup property: random corpora match the brute-force reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Array("aa", "bb", "cc", "dd") // tiny vocab -> many chunk collisions
    val docs = (0L until 80L).map { i =>
      (i, (0 until rnd.nextInt(14)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val k = 3
    // brute force: global first-occurrence-wins over (doc order, chunk idx)
    val seen = scala.collection.mutable.Set[String]()
    val expect = docs.map { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val chunks = toks.grouped(k).map(_.mkString(" ")).toSeq
      val kept = chunks.filter(c => seen.add(c))
      id -> ((kept.mkString(" "), chunks.length.toLong, (chunks.length - kept.length).toLong))
    }.toMap
    val got = DedupOps.chunkDedup(docs.toDF("doc_id", "text"), "doc_id", "text", chunkTokens = k)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    docs.foreach { case (id, _) => assert(got(id) === expect(id), s"doc $id") }
  }
}
