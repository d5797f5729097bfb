package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class FingerprintSpec extends SparkTestBase {

  private def one(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).head().get(0)

  test("Fnv64 expression matches the JVM reference implementation") {
    // FNV-1a published test vector: fnv1a_64("") = offset basis
    assert(Fnv64.hash("") == 0xcbf29ce484222325L)
    Seq("a", "hello", "the quick brown fox", "é中").foreach { s =>
      assert(one(Fnv64.fnv64(lit(s))) == Fnv64.hash(s), s"fnv64($s)")
    }
  }

  test("Fnv64 runs inside whole-stage codegen (plan check)") {
    val df = spark.range(100).select(Fnv64.fnv64(col("id").cast("string")).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // * prefix = WholeStageCodegen span
    assert(df.distinct().count() == 100)
  }

  test("winnow: windows of w kgram hashes, distinct sorted mins") {
    val text = "abcdefgh" // 4 kgrams of k=5 -> windows of 2 -> 3 mins
    val fp = one(Fingerprint.winnow(lit(text), 5, 2)).asInstanceOf[scala.collection.Seq[Long]]
    assert(fp.nonEmpty && fp == fp.sorted && fp.distinct == fp)
    val hashes = (0 to 3).map(i => Fnv64.hash(text.substring(i, i + 5)))
    val expected = (0 to 2).map(i => Seq(hashes(i), hashes(i + 1)).min)
      .distinct.sorted
    assert(fp.toSeq == expected)
  }

  test("winnow of short text keeps the single min hash") {
    val fp = one(Fingerprint.winnow(lit("abcdef"), 5, 4)).asInstanceOf[scala.collection.Seq[Long]]
    val hashes = Seq(Fnv64.hash("abcde"), Fnv64.hash("bcdef"))
    assert(fp.toSeq == Seq(hashes.min))
  }

  test("identical texts share fingerprints, disjoint texts do not") {
    val a = one(Fingerprint.winnow(lit("the quick brown fox jumps"), 4, 3))
      .asInstanceOf[scala.collection.Seq[Long]]
    val b = one(Fingerprint.winnow(lit("the quick brown fox jumps"), 4, 3))
      .asInstanceOf[scala.collection.Seq[Long]]
    val c = one(Fingerprint.winnow(lit("zzzz yyyy xxxx wwww vvvv"), 4, 3))
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(a.toSeq == b.toSeq)
    assert(a.toSet.intersect(c.toSet).isEmpty)
  }

  // the md5-hex-16 gram hash SigHash.Md5 winnows over — the value the
  // oracle's DuckDB substr(md5(g),1,16) also computes
  private def md5Hex16(g: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(g.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  test("winnow matches a naive witness per SigHash (short, astral, long)") {
    // independent O(n·w) witness: per-code-point-k-gram hash, plain min
    // per window (min-of-all when 1..w-1 grams); validates the deque
    // kernel AND that its per-gram hash is the reference one
    def witness[T: Ordering](h: String => T, text: String, k: Int, w: Int): Seq[T] = {
      val cps = text.codePoints().toArray
      val grams = (0 to cps.length - k).map(i => new String(cps, i, k))
      if (grams.isEmpty) Seq.empty
      else if (grams.length < w) Seq(grams.map(h).min)
      else grams.map(h).sliding(w).map(_.min).toSeq.distinct.sorted
    }
    val texts = Seq("abcdefghijklmnop", "abcdef", "", "ab",
      "a😀b😀c😀d😀e😀f",
      "the quick brown fox jumps over the lazy dog")
    for (hash <- SigHash.values; t <- texts; (k, w) <- Seq((5, 3), (3, 4))) {
      val got = one(hash.winnow(lit(t), k, w))
        .asInstanceOf[scala.collection.Seq[Any]].toSeq
      val want = hash match {
        case SigHash.Engine => witness((g: String) => Fnv64.hash(g), t, k, w)
        case SigHash.Md5 => witness(md5Hex16, t, k, w)
      }
      assert(got == want, s"hash=$hash text=$t k=$k w=$w")
    }
  }

  test("SigHash winnow's per-gram hash equals the engine's own expression") {
    // the oracle depends on kernel md5 == SQL md5 (and the engine kernel
    // on fnv64 == the Fnv64 expression): check a handful of grams
    // including non-ASCII, against both the SQL form and the JVM one
    for (hash <- SigHash.values; g <- Seq("abcde", "é中xyz", " spac")) {
      val (sql, jvm) = hash match {
        case SigHash.Engine => (Fnv64.fnv64(lit(g)), Fnv64.hash(g))
        case SigHash.Md5 => (substring(md5(lit(g)), 1, 16), md5Hex16(g))
      }
      val got = one(hash.winnow(lit(g), g.length, 1))
        .asInstanceOf[scala.collection.Seq[Any]].toSeq
      assert(got == Seq(one(sql)), s"hash=$hash gram=$g")
      assert(got == Seq(jvm), s"hash=$hash gram=$g")
    }
  }

  test("kernels are null-safe: null input yields null, empties yield empties") {
    import graft.TestSpark.spark.implicits._
    val df = Seq[(Option[String], Option[Seq[String]])](
      (None, None), (Some(""), Some(Seq.empty[String]))).toDF("t", "arr")
    val r = df.select(
      Fingerprint.winnow(org.apache.spark.sql.functions.col("t"), 5, 4).as("w"),
      Kernels.simhash64(org.apache.spark.sql.functions.col("arr")).as("sh"),
      Kernels.minhashSig(org.apache.spark.sql.functions.col("arr"), 8).as("mh"))
      .collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1) && r(0).isNullAt(2))
    assert(r(1).getAs[scala.collection.Seq[Long]]("w").isEmpty)
    assert(r(1).getAs[scala.collection.Seq[Long]]("mh").isEmpty)
    assert(r(1).getLong(1) == 0L) // simhash of no tokens: all votes negative
  }
}
