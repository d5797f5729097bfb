package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.SigHash

class DedupSpec extends SparkTestBase {

  private def docs = {
    import graft.TestSpark.spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
      (4L, "completely different text about spark engines here"),
      (5L, "")
    ).toDF("id", "text")
  }

  test("exactKeepMinId keeps the minimum id per group") {
    val kept = Dedup.exactKeepMinId(docs, col("text"), col("id"))
    val m = kept.collect().map(r =>
      r.getAs[String]("dedup_key") -> (r.getAs[Long]("keep_id"), r.getAs[Long]("group_size"))).toMap
    assert(m("the quick brown fox jumps over the lazy dog") == (1L, 2L))
    assert(m("").equals((5L, 1L)))
  }

  test("exactDuplicateIds returns exactly the dropped rows") {
    val dups = Dedup.exactDuplicateIds(docs, col("text"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((2L, 1L)))
  }

  test("ngramJaccardPairs finds near-dups with exact jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("document-frequency cap drops hot shingles consistently") {
    // shingle "the quick brown" appears in docs 1,2,3 -> df=3 > cap=2
    val capped = Dedup.ngramJaccardPairs(docs, col("id"), col("text"), 3, 0.99,
      maxDocFreq = Some(2L))
    // 1 and 2 are still identical over the surviving shingle set
    val m = capped.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(m.get((1L, 2L)).contains(1.0))
  }

  test("capped pair graph: boilerplate-only links drop, genuine " +
    "clusters survive the df-cap end to end (CC over capped pairs)") {
    import graft.TestSpark.spark.implicits._
    // every doc shares the boilerplate prefix "terms of service apply"
    // (df = 6 > cap = 4); docs 1/2 and 3/4 are genuine near-dups beyond
    // it, 5 and 6 are unrelated. Uncapped, the boilerplate shingles
    // alone link EVERYTHING at low jaccard; capped, only the genuine
    // families pair — the dedup_clusters_capped production semantics.
    val boiler = Seq(
      (1L, "terms of service apply alpha beta gamma delta"),
      (2L, "terms of service apply alpha beta gamma delta"),
      (3L, "terms of service apply epsilon zeta eta theta"),
      (4L, "terms of service apply epsilon zeta eta theta"),
      (5L, "terms of service apply iota kappa lambda mu"),
      (6L, "terms of service apply nu xi omicron pi")
    ).toDF("id", "text")
    val capped = Dedup.ngramJaccardPairs(boiler, col("id"), col("text"),
      n = 3, minJaccard = 0.5, maxDocFreq = Some(4L))
    val cc = Dedup.connectedComponents(capped, checkpointEvery = 4)
    val comp = boiler.select(col("id"))
      .join(cc, boiler("id") === cc("id"), "left")
      .select(boiler("id"), coalesce(col("comp"), boiler("id")).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L, comp.toString)
    assert(comp(3L) == 3L && comp(4L) == 3L, comp.toString)
    assert(comp(5L) == 5L && comp(6L) == 6L, comp.toString)
    // the uncapped graph would have linked 5 and 6 into the blob:
    // every shared shingle is boilerplate, jaccard 3/7 each direction
    // against 1-4... assert the capped PAIR SET is exactly the two
    // genuine mirrors (no boilerplate-only pair survives the cap)
    val pairSet = capped.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(pairSet == Set((1L, 2L), (3L, 4L)), pairSet.toString)
  }

  test("minhash LSH surfaces exact and near duplicates as candidates") {
    val pairs = Dedup.minhashDedupPairs(docs, col("id"), col("text"),
      numHashes = 64, shingleSize = 2, bands = 16, minEstJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("minhashDedupPairsFromSigs over a shared signature frame == the " +
    "full operator (engine and portable forms) — the r18 funnel split") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    for ((hash, numHashes, bands) <- Seq((SigHash.Engine, 64, 16),
                                         (SigHash.Md5, 16, 4))) {
      val full = asSet(Dedup.minhashDedupPairs(docs, col("id"), col("text"),
        numHashes, shingleSize = 2, bands, minEstJaccard = 0.4, hash = hash))
      val sigs = Dedup.minhashSignatures(docs, col("id"), col("text"),
        numHashes, shingleSize = 2, hash)
      val split = asSet(Dedup.minhashDedupPairsFromSigs(sigs,
        numHashes, bands, minEstJaccard = 0.4, hash))
      assert(split == full, s"$hash split=$split full=$full")
    }
  }

  test("noveltyScores: known/unknown shingle split per incoming doc") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val ref = Seq(
      (100L, "the quick brown fox jumps"),
      (101L, "over the lazy dog today")
    ).toDF("id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps"),        // fully known: novelty 0
      (2L, "entirely fresh words appear here"), // fully novel
      (3L, "the quick brown cat sits"),         // 1 of 3 shingles known
      (4L, "xy")                                // < n tokens: no shingles
    ).toDF("id", "text")
    val got = Dedup.noveltyScores(incoming, ref, col("id"), col("text"), n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((3L, 3L, 0.0)))
    assert(got(2L) == ((3L, 0L, 1.0)))
    assert(got(3L) == ((3L, 1L, 1.0 - 1.0 / 3.0)))
    // shingle-less docs: nothing about them is known to the reference
    assert(got(4L) == ((0L, 0L, 1.0)))
    spark.catalog.clearCache()
  }

  test("duplicateSpanStats: span counts and union coverage, all docs present") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val span = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9"                     // 9 tokens
    val docs = Seq(
      (1L, s"one two three $span"),   // span at pos 3
      (2L, s"$span nine ten"),        // span at pos 0
      (3L, "completely unrelated words here that never repeat anywhere at all"),
      (4L, s"$span $span"),           // span at 0 and 8: whole doc covered
      (5L, "tiny doc"),               // < n tokens: no grams
      (6L, run),                      // 2 overlapping hot 8-grams
      (7L, s"pre $run")
    ).toDF("id", "text")
    val got = Dedup.duplicateSpanStats(docs, col("id"), col("text"), n = 8)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(got(1L) == ((11L, 1L, 8L)))
    assert(got(2L) == ((10L, 1L, 8L)))
    assert(got(3L) == ((10L, 0L, 0L)))
    // two disjoint hot spans: 8 + min(8, gap 8) = 16 — fully covered
    assert(got(4L) == ((16L, 2L, 16L)))
    assert(got(5L) == ((2L, 0L, 0L)))
    // two OVERLAPPING hot spans (gap 1): union is 9 tokens, not 16
    assert(got(6L) == ((9L, 2L, 9L)))
    assert(got(7L) == ((10L, 2L, 9L)))
    spark.catalog.clearCache()
  }

  test("duplicateSpanStats property: matches brute force on random dense corpora") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val rnd = new scala.util.Random(11)
    val n = 4
    // 5-word vocabulary: dense collisions, many overlapping hot spans
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (1 to 40).map { i =>
      val ntok = rnd.nextInt(25)
      (i.toLong, Vector.fill(ntok)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // brute force: count every n-gram occurrence, union hot intervals
    val grams = docs.flatMap { case (docId, text) =>
      val t = text.split(" ", -1).toVector
      if (t.size >= n) (0 to t.size - n).map(p => (docId, p, t.slice(p, p + n).mkString(" ")))
      else Nil
    }
    val cnt = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val expected = docs.map { case (docId, text) =>
      val t = text.split(" ", -1).toVector
      val hotStarts = grams.filter(g => g._1 == docId && cnt(g._3) >= 2).map(_._2)
      val union = hotStarts.flatMap(p => p until p + n).toSet.size
      docId -> ((t.size.toLong, hotStarts.size.toLong, union.toLong))
    }.toMap
    val got = Dedup.duplicateSpanStats(docs.toDF("id", "text"),
        col("id"), col("text"), n = n)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    spark.catalog.clearCache()
  }

  test("stripDuplicateSpans property: matches brute force on random dense corpora") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val rnd = new scala.util.Random(13)
    val n = 4
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (1 to 40).map { i =>
      val ntok = rnd.nextInt(25)
      (i.toLong, Vector.fill(ntok)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val grams = docs.flatMap { case (docId, text) =>
      val t = text.split(" ", -1).toVector
      if (t.size >= n) (0 to t.size - n).map(p => (docId, p, t.slice(p, p + n).mkString(" ")))
      else Nil
    }
    val cnt = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val expected = docs.map { case (docId, text) =>
      val t = text.split(" ", -1).toVector
      val covered = grams.filter(g => g._1 == docId && cnt(g._3) >= 2)
        .flatMap(g => g._2 until g._2 + n).toSet
      val kept = t.indices.filterNot(covered).map(t)
      docId -> ((kept.mkString(" "), t.size.toLong, covered.size.toLong))
    }.toMap
    val got = Dedup.stripDuplicateSpans(docs.toDF("id", "text"),
        col("id"), col("text"), n = n)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    spark.catalog.clearCache()
  }

  test("noveltyScores property: matches brute-force membership on random corpora") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val rnd = new scala.util.Random(17)
    val n = 3
    val vocab = Vector("a", "b", "c", "d")
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, Vector.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val ref = mkDocs(100 to 115)
    val inc = mkDocs(1 to 25)
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1).toVector
      if (t.size >= n) (0 to t.size - n).map(p => t.slice(p, p + n).mkString(" ")).toSet
      else Set.empty
    }
    val refSet = ref.flatMap(d => shingles(d._2)).toSet
    val expected = inc.map { case (id, text) =>
      val sh = shingles(text)
      val known = sh.count(refSet)
      id -> ((sh.size.toLong, known.toLong))
    }.toMap
    val got = Dedup.noveltyScores(inc.toDF("id", "text"), ref.toDF("id", "text"),
        col("id"), col("text"), n = n)
      .select("doc_id", "n_sh", "n_known")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
    spark.catalog.clearCache()
  }

  test("stripDuplicateSpans: removes exactly the covered tokens, keeps clean docs verbatim") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $span"),
      (2L, s"$span nine ten"),
      (3L, "completely unrelated words here that never repeat anywhere at all"),
      (4L, s"$span $span"), // fully covered -> empty clean_text
      (5L, "tiny doc")
    ).toDF("id", "text")
    val got = Dedup.stripDuplicateSpans(docs, col("id"), col("text"), n = 8)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("one two three", 11L, 8L)))
    assert(got(2L) == (("nine ten", 10L, 8L)))
    assert(got(3L) == (("completely unrelated words here that never repeat anywhere at all", 10L, 0L)))
    assert(got(4L) == (("", 16L, 16L)))
    assert(got(5L) == (("tiny doc", 2L, 0L)))
    // consistency: n_removed == duplicateSpanStats.dup_tokens everywhere
    val stats = Dedup.duplicateSpanStats(docs, col("id"), col("text"), n = 8)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    got.foreach { case (id, (_, _, removed)) =>
      assert(removed == stats(id), s"doc $id: $removed vs ${stats(id)}")
    }
    spark.catalog.clearCache()
  }

  test("minhashVerifiedPairs == ngramJaccardPairs (exact values, exact set)") {
    // the oracle-equivalence claim behind the minhash_pairs registration:
    // LSH only generates candidates; the exact shingle-Jaccard verify
    // makes the output coincide with the exact pair operator whenever
    // recall is 1 (2 rows x 32 bands here: miss prob (1-j^2)^32 ~ 1e-4
    // at j=0.3, and the fixture's true pairs sit far above the floor)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val verified = asMap(Dedup.minhashVerifiedPairs(docs, col("id"), col("text"),
      numHashes = 64, shingleSize = 3, bands = 32, minJaccard = 0.3))
    val exact = asMap(Dedup.ngramJaccardPairs(docs, col("id"), col("text"),
      n = 3, minJaccard = 0.3, hashShingles = false))
    assert(verified == exact, s"verified=$verified exact=$exact")
    assert(verified.contains((1L, 2L)) && verified((1L, 2L)) == 1.0)
  }

  test("identical docs get identical simhash; near dups stay close") {
    val codes = Dedup.simhash64(docs.filter(col("text") =!= ""), col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes(1L) == codes(2L))
    val hamming13 = java.lang.Long.bitCount(codes(1L) ^ codes(3L))
    val hamming14 = java.lang.Long.bitCount(codes(1L) ^ codes(4L))
    assert(hamming13 < hamming14, s"near=$hamming13 far=$hamming14")
  }

  test("simhashPairs finds the exact-dup pair at hamming 0") {
    val pairs = Dedup.simhashPairs(docs.filter(col("text") =!= ""),
      col("id"), col("text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("portable simhash matches an independent md5 witness and keeps the pair contract") {
    // witness recomputes the code from scratch (JDK md5, big-endian
    // first-8-bytes, ±1 votes, sign) — independent of the kernel's loop
    def witness(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](64)
      for (t <- text.split(" ", -1)) {
        val d = md.digest(t.getBytes("UTF-8"))
        val h = (0 until 8).foldLeft(0L)((acc, k) => (acc << 8) | (d(k) & 0xffL))
        for (b <- 0 until 64)
          if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
      }
      (0 until 64).foldLeft(0L)((c, b) => if (votes(b) > 0) c | (1L << b) else c)
    }
    val in = docs.filter(col("text") =!= "")
    val got = Dedup.simhash64(in, col("id"), col("text"), SigHash.Md5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = in.select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- texts)
      assert(got(id) == witness(text), s"doc $id")
    // pigeonhole pairs over portable codes equal brute-force hamming<=3
    val pairs = Dedup.simhashPairs(in, col("id"), col("text"),
      maxHamming = 3, SigHash.Md5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (a, _) <- texts; (b, _) <- texts if a < b
      h = java.lang.Long.bitCount(got(a) ^ got(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(pairs == brute, s"pairs=$pairs brute=$brute")
  }

  test("sourceJaccardExact: hand-computed sets, both hash modes, zero-pair emission") {
    import graft.TestSpark.spark.implicits._
    val docs = Seq(
      ("s1", "a b c d"),      // 3-grams: {a b c, b c d}
      ("s1", "a b c"),        // adds nothing new to s1
      ("s2", "a b c x"),      // {a b c, b c x} -> shares 1 of 3 with s1
      ("s3", "p q r s"),      // disjoint from everything
      ("s4", "xy")            // too short: EMPTY set
    ).toDF("source", "text")
    for (hashed <- Seq(true, false)) {
      val got = Dedup.sourceJaccardExact(docs, col("source"), col("text"),
          n = 3, hashShingles = hashed)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(got.size == 6, s"hashed=$hashed: all 4C2 pairs emitted: $got")
      assert(got(("s1", "s2")) == ((1L, 3L, 1.0 / 3.0)), s"hashed=$hashed")
      assert(got(("s1", "s3")) == ((0L, 4L, 0.0)), s"hashed=$hashed")
      // empty-set source pairs: union may be one side only, or 0/0 -> 0.0
      assert(got(("s1", "s4")) == ((0L, 2L, 0.0)), s"hashed=$hashed")
      assert(got(("s3", "s4")) == ((0L, 2L, 0.0)), s"hashed=$hashed")
    }
    spark.catalog.clearCache()
  }

  test("group MinHash-union sketch tracks the exact source Jaccard") {
    // the calibration claim behind running the sketch daily and the
    // exact twin at audit cadence: 64 retained hashes -> std error
    // sqrt(j(1-j)/64) <= 0.0625, so 0.25 absolute is a >3-sigma bound
    import graft.functions.MinHashUnionAgg
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val exact = Dedup.sourceJaccardExact(docs, col("source"), col("text"),
        n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"),
        numHashes = 64, shingleSize = 3)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val grouped = sigs.groupBy(col("source"))
      .agg(MinHashUnionAgg.minhashUnion(col("sig"), 64).as("gsig"))
    val est = grouped.as("a").join(grouped.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source"), col("b.source"),
        (graft.functions.Kernels.agreeCountCol(col("a.gsig"), col("b.gsig"))
          .cast("double") / lit(64.0)).as("est"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(est.keySet == exact.keySet)
    for (k <- exact.keySet)
      assert(math.abs(est(k) - exact(k)) <= 0.25,
        s"$k: est=${est(k)} exact=${exact(k)}")
    spark.catalog.clearCache()
  }

  test("embeddingNearDupPairs with bits=0 is exact all-pairs") {
    import graft.TestSpark.spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f, 0.0f)), // near dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("id", "v")
    val pairs = Dedup.embeddingNearDupPairs(vecs, col("id"), col("v"),
      minCosine = 0.95, dim = 3, bits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("connectedComponents: empty pair list yields empty labels") {
    import graft.TestSpark.spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("connectedComponents: refuses to return non-converged labels") {
    import graft.TestSpark.spark.implicits._
    // a 6-vertex chain has diameter 5: maxIter=2 cannot reach fixpoint
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2, driverEdgeLimit = 0)
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain collapses to component 0
    val ok = Dedup.connectedComponents(chain, maxIter = 10,
      driverEdgeLimit = 0)
    assert(ok.collect().map(_.getLong(1)).toSet == Set(0L))
    ok.unpersist()
  }

  test("connectedComponents: leaves a caller-owned cache in place") {
    import graft.TestSpark.spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.connectedComponents(pairs).unpersist()
    assert(pairs.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE) // not evicted by the callee
    pairs.unpersist()
  }

  test("connectedComponents: checkpointEvery truncates lineage on a deep chain") {
    import graft.TestSpark.spark.implicits._
    // 200-vertex chain (diameter 199): pointer jumping needs 10+ rounds,
    // so every checkpoint interval fires several times
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, maxIter = 40,
      checkpointEvery = 3, driverEdgeLimit = 0)
    val rows = cc.collect()
    assert(rows.length == 200, rows.length)
    assert(rows.map(_.getLong(1)).toSet == Set(0L))
    // lineage proof: the returned frame's plan bottoms out at a
    // checkpointed RDD leaf, not the 10+-round join chain
    assert(cc.queryExecution.optimizedPlan.toString.contains("ExistingRDD"),
      cc.queryExecution.optimizedPlan.toString)
    cc.unpersist()
  }

  test("connectedComponents: DEFAULT call truncates lineage (plan stays bounded)") {
    import graft.TestSpark.spark.implicits._
    // the r9 bench timeout was the DEFAULT path: checkpointEvery used to
    // be 0, so a many-round graph quadrupled its plan per round and each
    // convergence action stringified a multi-GiB plan. The default is
    // now 4 — pin that a deep chain run on the DISTRIBUTED path with the
    // default checkpoint cadence still bottoms out at a checkpoint leaf
    // with a small plan string (driverEdgeLimit = 0 forces the loop —
    // the size gate would otherwise take this small fixture driver-side)
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, maxIter = 40,
      driverEdgeLimit = 0)
    assert(cc.collect().map(_.getLong(1)).toSet == Set(0L))
    val plan = cc.queryExecution.optimizedPlan.toString
    assert(plan.contains("ExistingRDD"), plan)
    // ~41k chars: checkpoint leaf + at most (checkpointEvery-1) rounds
    // of propagation/jump unions — CONSTANT in chain depth. The broken
    // default grew ~4x per round (2 GiB strings by round ~15), so an
    // order-of-magnitude ceiling separates bounded from unbounded.
    assert(plan.length < 150000,
      s"default-path CC plan is ${plan.length} chars — lineage unbounded")
    cc.unpersist()
  }

  test("connectedComponents: transitive min-id labels beyond greedy pairs") {
    import graft.TestSpark.spark.implicits._
    // chain 1~5~3 (1,3 never paired directly), pair 7~9, plus 2~1
    val pairs = Seq((1L, 5L), (5L, 3L), (7L, 9L), (1L, 2L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      7L -> 7L, 9L -> 7L))
    // greedy applyPairDedup would keep 3 (only GREATER pair members drop,
    // and 3 is smaller than its direct partner 5) — clustering is the
    // view that sees the whole chain
  }

  test("connectedComponents: driver union-find fast path == the " +
    "distributed loop on random graphs (exact label sets)") {
    import graft.TestSpark.spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      // random sparse graph over a scattered id space: chains, smalls,
      // singleton-free by construction (every id appears in a pair)
      val n = 60 + trial * 40
      val pairs = (0 until n).map { _ =>
        val a = rnd.nextInt(50) * 7L + rnd.nextInt(3)
        val b = rnd.nextInt(50) * 7L + rnd.nextInt(3)
        if (a <= b) (a, b + 1) else (b, a)
      }.toDF("id_a", "id_b")
      val fast = Dedup.connectedComponents(pairs)
      val slow = Dedup.connectedComponents(pairs, driverEdgeLimit = 0)
      val f = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val s = slow.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(f == s, s"trial $trial: driver and distributed labels differ")
      fast.unpersist(); slow.unpersist()
    }
  }

  test("applyClusterDedupByRank: keeps the best-ranked member per " +
    "component, ties to min id, singletons untouched") {
    import graft.TestSpark.spark.implicits._
    // component {1,2,3,5} (chain), component {7,9}, singletons 4, 8
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.4), (5L, 0.9), // 2 and 5 tie on rank
      (7L, 0.1), (9L, 0.8),
      (4L, 0.0), (8L, 0.5)).toDF("id", "rank")
    val pairs = Seq((1L, 5L), (5L, 3L), (7L, 9L), (1L, 2L))
      .toDF("id_a", "id_b")
    val kept = Dedup.applyClusterDedupByRank(docs, col("id"), pairs,
        col("rank"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // chain: max rank 0.9 shared by 2 and 5 → min id 2 survives;
    // pair: 9 outranks 7; singletons always survive
    assert(kept == Set(2L, 9L, 4L, 8L))
  }

  test("applyClusterDedupByRank: constant rank degrades to min-id (the " +
    "dedup_clusters survivor) and schema passes through") {
    import graft.TestSpark.spark.implicits._
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "payload")
    val pairs = Seq((2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.applyClusterDedupByRank(docs, col("id"), pairs, lit(1.0))
    assert(out.columns.toSeq == Seq("id", "payload"))
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
  }

  test("SRP LSH-OR near-dup recovers every exact pair (recall vs bits=0)") {
    import graft.TestSpark.spark.implicits._
    // 40 base directions in R^16, each with a jittered near-duplicate —
    // deterministic LCG noise so the test never flakes
    val rnd = new scala.util.Random(7L)
    val dim = 16
    val rows = (0 until 40).flatMap { i =>
      val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val dup = base.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      Seq((i * 2L, base), (i * 2L + 1L, dup))
    }
    val vecs = rows.toDF("id", "v")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(Dedup.embeddingNearDupPairs(vecs, col("id"), col("v"),
      minCosine = 0.99, dim = dim, bits = 0, bands = 1))
    val srp = pairsOf(Dedup.embeddingNearDupPairs(vecs, col("id"), col("v"),
      minCosine = 0.99, dim = dim, bits = 8, bands = 8))
    assert(exact.size >= 30, s"fixture should make many near-dup pairs, got ${exact.size}")
    // LSH-OR is a candidate filter + exact verify: no false positives ever,
    // and with 8 bands of 8 bits the miss probability per true pair is
    // (1-(1-θ/π)^8)^8 ≈ 1e-6 at cos≥0.99 — full recall on this fixture
    assert(srp.subsetOf(exact), "verification must kill false candidates")
    assert(srp == exact, s"missed pairs: ${(exact -- srp).take(5)}")
  }

  test("srpOperatingPoint: occupancy-scaled bits, recall-derived bands, " +
    "floors/caps/monotonicity hold") {
    // sf-sized corpora (the scaled gate's actual inputs): bits tracks
    // log2(n/32), bands = ceil(ln(1-R)/ln(1-(1-θ/π)^bits)) at cos=0.5
    assert(Dedup.srpOperatingPoint(500L, 0.5) ==
      Dedup.SrpOperatingPoint(4, 11, 11)) // sf0.01 — floor bits
    assert(Dedup.srpOperatingPoint(2000L, 0.5) ==
      Dedup.SrpOperatingPoint(6, 26, 26)) // sf0.1
    assert(Dedup.srpOperatingPoint(20000L, 0.5) ==
      Dedup.SrpOperatingPoint(9, 88, 88)) // 10x fixture
    // a TIGHTER threshold needs far fewer bands at the same bits —
    // the cos 0.9 regime the embeddingNearDupPairs scaladoc describes
    assert(Dedup.srpOperatingPoint(20000L, 0.9) ==
      Dedup.SrpOperatingPoint(9, 9, 9))
    // bits monotone in n; extreme n hits both caps instead of wrapping
    val pts = Seq(1L, 1000L, 100000L, 10000000L, Long.MaxValue)
      .map(Dedup.srpOperatingPoint(_, 0.5))
    assert(pts.sliding(2).forall { case Seq(a, b) => a.bits <= b.bits },
      pts.toString)
    val extreme = Dedup.srpOperatingPoint(Long.MaxValue, 0.5)
    assert(extreme.bits == 30 && extreme.bands == 512 &&
      extreme.capped && extreme.bandsDemanded > 512L, extreme.toString)
    intercept[IllegalArgumentException](Dedup.srpOperatingPoint(0L, 0.5))
    intercept[IllegalArgumentException](Dedup.srpOperatingPoint(10L, 1.0))
    intercept[IllegalArgumentException](
      Dedup.srpOperatingPoint(10L, 0.5, pairRecall = 1.0))
  }

  test("srpOperatingPoint band cap is LOUD (capped flag, strict throw) " +
    "and nearDupArm switches to IVF exactly at the clamp") {
    // the r16 audit's two regimes at 100x (n = 200k): cos >= 0.5
    // demands 447 bands — one step inside the cap, still SRP; cos >=
    // 0.3 demands 1,882 — past the cap, where a silent clamp would
    // quietly deliver ~27% of the asked per-pair recall
    val inside = Dedup.srpOperatingPoint(200000L, 0.5)
    assert(inside == Dedup.SrpOperatingPoint(13, 447, 447) &&
      !inside.capped, inside.toString)
    val outside = Dedup.srpOperatingPoint(200000L, 0.3)
    assert(outside == Dedup.SrpOperatingPoint(13, 512, 1882) &&
      outside.capped, outside.toString)
    // strict mode refuses to degrade silently — and names the way out
    Dedup.srpOperatingPoint(200000L, 0.5, strict = true)
    val e = intercept[IllegalArgumentException](
      Dedup.srpOperatingPoint(200000L, 0.3, strict = true))
    assert(e.getMessage.contains("IVF"), e.getMessage)
    assert(e.getMessage.contains("1882"), e.getMessage)
    // the (n, θ) decision table embed_near_dup_auto_arm routes through:
    // small corpus takes SRP at any threshold it can reach; the 100x
    // corpus splits by threshold exactly at the clamp
    assert(Dedup.nearDupArm(2000L, 0.3).isInstanceOf[Dedup.SrpArm])
    assert(Dedup.nearDupArm(200000L, 0.5).isInstanceOf[Dedup.SrpArm])
    Dedup.nearDupArm(200000L, 0.3) match {
      case Dedup.IvfArm(p) =>
        assert(p == graft.operators.Ivf.operatingPoint(200000L), p.toString)
      case other => fail(s"expected IvfArm at (200k, 0.3), got $other")
    }
  }

  test("srpOperatingPoint-driven LSH holds the recall model on a " +
    "borderline-pair fixture") {
    import graft.TestSpark.spark.implicits._
    // pairs NEAR the threshold (cos in [0.5, 0.65] — the fixture
    // regime of embed_near_dup_srp_scaled, not easy 0.99 dups): the
    // derived point promises per-pair recall >= 0.9 AT the threshold,
    // so macro recall over ~40 borderline pairs must clear the gate's
    // 0.6 floor with room (deterministic seed — measured, not flaky)
    val rnd = new scala.util.Random(11L)
    val dim = 16
    val rows = (0 until 40).flatMap { i =>
      val base = Array.fill(dim)(rnd.nextGaussian())
      val noise = Array.fill(dim)(rnd.nextGaussian())
      // mix for cos ≈ 0.55–0.65: unit(base)·0.6 + unit(noise)·0.8 has
      // cosine 0.6 with base in expectation
      val nb = math.sqrt(base.map(x => x * x).sum)
      val nn = math.sqrt(noise.map(x => x * x).sum)
      val near = base.indices.map(j =>
        (0.6 * base(j) / nb + 0.8 * noise(j) / nn).toFloat).toArray
      Seq((i * 2L, base.map(_.toFloat)), (i * 2L + 1L, near))
    }
    val vecs = rows.toDF("id", "v")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(Dedup.embeddingNearDupPairs(vecs, col("id"),
      col("v"), minCosine = 0.5, dim = dim, bits = 0, bands = 1))
    assert(exact.size >= 25, s"fixture thin: ${exact.size} exact pairs")
    val op = Dedup.srpOperatingPoint(rows.size.toLong, 0.5)
    val srp = pairsOf(Dedup.embeddingNearDupPairs(vecs, col("id"),
      col("v"), minCosine = 0.5, dim = dim,
      bits = op.bits, bands = op.bands))
    assert(srp.subsetOf(exact), "verification must kill false candidates")
    val recall = srp.size.toDouble / exact.size
    assert(recall >= 0.8,
      s"derived point recalled ${srp.size}/${exact.size} = $recall")
  }

  test("bloom contamination == exact contamination (no false negatives survive)") {
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val eval = docs.filter(col("source") === "src0")
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = scores(Dedup.shingleContamination(corpus, eval,
      col("doc_id"), col("text"), n = 3))
    val bloom = Dedup.bloomShingleContamination(corpus, eval,
      col("doc_id"), col("text"), n = 3, expectedItems = 1L << 14)
    assert(scores(bloom) == exact)
    // the sketch rides the plan as a literal probe in codegen — and the
    // verify join is NOT a broadcast (this variant models the eval side
    // that does not fit an executor)
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    spark.catalog.clearCache()
  }

  test("bloom contamination: an undersized filter still returns exact results") {
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val eval = docs.filter(col("source") === "src0")
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 64 expected items vs thousands of real shingles: the bloom
    // saturates (high false-positive rate), which only weakens the
    // pre-filter — the exact join keeps correctness
    val tiny = scores(Dedup.bloomShingleContamination(corpus, eval,
      col("doc_id"), col("text"), n = 3, expectedItems = 64))
    val exact = scores(Dedup.shingleContamination(corpus, eval,
      col("doc_id"), col("text"), n = 3))
    assert(tiny == exact)
    spark.catalog.clearCache()
  }

  test("boilerplateScores: shared template scores high, unique prose scores zero") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val template = "subscribe to our newsletter and accept the cookie policy today"
    val docs = Seq(
      (1L, template),                                       // pure template
      (2L, template + " plus one extra appended clause xq"), // mostly template
      (3L, template),                                        // pure template again
      (4L, "wholly original musings regarding catalyst optimizer rules zz")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateScores(docs, col("doc_id"), col("text"))
      .select("doc_id", "boilerplate_frac")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0, s"pure template: ${got(1L)}")
    assert(got(3L) == 1.0)
    assert(got(2L) > 0.5 && got(2L) < 1.0, s"mostly template: ${got(2L)}")
    assert(got(4L) == 0.0, s"original doc: ${got(4L)}")
    spark.catalog.clearCache()
  }

  test("boilerplateScores: fingerprint-less short docs surface with n_fp=0") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val template = "subscribe to our newsletter and accept the cookie policy"
    val docs = Seq(
      (1L, template), (2L, template),
      (3L, "tiny"), // < k+w-1 chars: zero winnowed fingerprints
      (4L, ""),     // empty text
      (5L, "also short")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateScores(docs, col("doc_id"), col("text"))
      .select("doc_id", "n_fp", "n_shared", "boilerplate_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // r7 advice: plain explode silently DROPPED these rows
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), s"missing docs: $got")
    for (id <- Seq(3L, 4L)) assert(got(id) == ((0L, 0L, 0.0)), s"$id: ${got(id)}")
    assert(got(1L)._3 == 1.0 && got(2L)._3 == 1.0)
    // and the null-fp rows never form a shared-fingerprint group: the
    // fingerprint-less docs must not count each other as boilerplate
    assert(got(3L)._2 == 0L && got(4L)._2 == 0L && got(5L)._2 == 0L)
    spark.catalog.clearCache()
  }

  test("boilerplateScores: minDocs raises the sharing bar") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val passage = "this exact passage appears in precisely two documents"
    val docs = Seq(
      (1L, passage), (2L, passage),
      (3L, "unrelated text about catalyst optimizer rules")
    ).toDF("doc_id", "text")
    def fracs(minDocs: Int): Map[Long, Double] =
      Dedup.boilerplateScores(docs, col("doc_id"), col("text"),
          minDocs = minDocs)
        .select("doc_id", "boilerplate_frac")
        .as[(Long, Double)].collect().toMap
    val atTwo = fracs(2)
    assert(atTwo(1L) == 1.0 && atTwo(2L) == 1.0)
    // a passage in 2 docs no longer counts when 3 are required
    val atThree = fracs(3)
    assert(atThree(1L) == 0.0 && atThree(2L) == 0.0)
    spark.catalog.clearCache()
  }

  test("boilerplateScores portable mode keeps the template/short-doc/minDocs contracts") {
    import graft.TestSpark.spark.implicits._
    spark.catalog.clearCache()
    val template = "subscribe to our newsletter and accept the cookie policy today"
    val docs = Seq(
      (1L, template), (2L, template),
      (3L, "wholly original musings regarding catalyst optimizer rules zz"),
      (4L, "tiny"), (5L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateScores(docs, col("doc_id"), col("text"),
        hash = SigHash.Md5)
      .select("doc_id", "n_fp", "n_shared", "boilerplate_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L)._3 == 1.0 && got(2L)._3 == 1.0, s"template: $got")
    assert(got(3L) == ((got(3L)._1, 0L, 0.0)) && got(3L)._1 > 0L)
    for (id <- Seq(4L, 5L)) assert(got(id) == ((0L, 0L, 0.0)), s"$id: ${got(id)}")
    // minDocs still raises the bar in portable mode
    val atThree = Dedup.boilerplateScores(docs, col("doc_id"), col("text"),
        minDocs = 3, hash = SigHash.Md5)
      .select("doc_id", "boilerplate_frac").as[(Long, Double)].collect().toMap
    assert(atThree(1L) == 0.0 && atThree(2L) == 0.0)
    spark.catalog.clearCache()
  }

  test("decontaminationGate: every exactly-contaminated doc is dropped") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val eval = docs.filter(col("source") === "src0")
    val contaminated = Dedup.shingleContamination(corpus, eval,
      col("doc_id"), col("text"), n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Dedup.buildShingleBloom(eval, col("text"), n = 3,
      expectedItems = 1L << 14)
    val kept = Dedup.decontaminationGate(corpus, bloom, col("text"), n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // no false negatives: nothing contaminated survives the gate; false
    // positives may drop extra clean docs, never admit dirty ones
    assert(kept.intersect(contaminated).isEmpty)
    assert(kept.nonEmpty, "gate must not drop the whole corpus at 10 bits/item")
  }

  test("ngramContainmentPairs: embedded doc scores 1.0 toward its superset, " +
    "which symmetric Jaccard misses") {
    import graft.TestSpark.spark.implicits._
    val small = "a b c d e f"
    val big = small + " g h i j k l m n o p q r s t u v w x y z a1 b1 c1"
    val d = Seq((1L, small), (2L, big), (3L, "zz yy xx ww vv"))
      .toDF("id", "text")
    val pairs = Dedup.ngramContainmentPairs(d, col("id"), col("text"),
      n = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // only the small->big direction: all 4 of small's shingles appear in
    // big, while big's 27 shingles are mostly absent from small
    assert(pairs == Seq((1L, 2L, 1.0)), s"got $pairs")
    assert(Dedup.ngramJaccardPairs(d, col("id"), col("text"),
      n = 3, minJaccard = 0.5).count() == 0) // jaccard = 4/27, invisible
  }

  test("applyContainmentPrune: contained doc drops, superset stays, " +
    "mutual twins keep min id") {
    import graft.TestSpark.spark.implicits._
    val small = "a b c d e f"
    val big = small + " g h i j k l m n o p q r s t u v w x y z a1 b1 c1"
    val twin = "t1 t2 t3 t4 t5 t6 t7"
    val d = Seq((1L, small), (2L, big), (3L, twin), (4L, twin),
      (5L, "zz yy xx ww vv")).toDF("id", "text")
    val pairs = Dedup.ngramContainmentPairs(d, col("id"), col("text"),
      n = 3, minContainment = 0.9)
    val kept = Dedup.applyContainmentPrune(d, col("id"), pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    // 1 ⊂ 2 one-way: 1 drops; 3 ≡ 4 mutual: min id 3 survives; 5 untouched
    assert(kept == Set(2L, 3L, 5L), s"kept $kept")
  }

  test("ngramContainmentPairs: hashed and exact-text shingle modes agree") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1L, "p q r s t u"), (2L, "p q r s t u v w"), (3L, "p q r s"),
      (4L, "m n o p q r"), (5L, "completely different text here now"))
      .toDF("id", "text")
    def run(h: Boolean) =
      Dedup.ngramContainmentPairs(d, col("id"), col("text"), n = 3,
        minContainment = 0.5, hashShingles = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(true) == run(false))
    assert(run(true).nonEmpty)
  }
}
