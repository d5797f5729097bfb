package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The hash family behind the MinHash / SimHash / winnowing operators —
  * the one place that decides which per-row kernels and key expressions
  * an operator plans. Every operator in [[graft.operators.Dedup]] that
  * hashes takes a `hash: SigHash = SigHash.Engine` parameter, and
  * [[graft.pipelines.CorpusPipeline.Config]] carries one for the whole
  * funnel; join and shuffle shapes are identical under both values, only
  * the expressions below differ.
  */
sealed trait SigHash {
  /** MinHash signature of a distinct-shingle array (empty for none). */
  def minhash(shingles: Column, numHashes: Int): Column
  /** Equi-join key of LSH band `b`: signature positions b*rows+1 .. (b+1)*rows. */
  def bandKey(sig: Column, b: Int, rows: Int): Column
  /** Number of positions at which two equal-length signatures agree. */
  def agreeCount(a: Column, b: Column): Column
  /** 64-bit SimHash of a token array. */
  def simhash(tokens: Column): Column
  /** Distinct ascending minima of each window of `w` code-point `k`-gram hashes. */
  def winnow(text: Column, k: Int, w: Int): Column
}

object SigHash {

  /** Production hashes: xxhash64-remix MinHash (array<bigint>), a
    * band-seeded Murmur3 band key (4 bytes), FNV-1a SimHash votes and
    * FNV-1a winnowing — all codegen kernels.
    */
  case object Engine extends SigHash {
    def minhash(shingles: Column, numHashes: Int): Column =
      Kernels.minhashSig(shingles, numHashes)
    def bandKey(sig: Column, b: Int, rows: Int): Column =
      hash(slice(sig, lit(b * rows + 1), lit(rows)), lit(b))
    def agreeCount(a: Column, b: Column): Column = Kernels.agreeCountCol(a, b)
    def simhash(tokens: Column): Column = Kernels.simhash64(tokens)
    def winnow(text: Column, k: Int, w: Int): Column = Kernels.winnowFp(text, k, w)
  }

  /** Portable hashes: md5-hex MinHash elements (array<string>), the raw
    * comma-joined signature slice as band key, an agree count over
    * `zip_with`, md5-derived SimHash votes and `substr(md5(gram), 1, 16)`
    * winnowing. Any SQL engine with md5 recomputes every value
    * bit-for-bit, so queries run under this value answer an exact DuckDB
    * oracle; the kernels cost ~5-10x the engine hashes per element.
    */
  case object Md5 extends SigHash {
    def minhash(shingles: Column, numHashes: Int): Column =
      Kernels.minhashMd5SigCol(shingles, numHashes)
    def bandKey(sig: Column, b: Int, rows: Int): Column =
      concat_ws(",", slice(sig, b * rows + 1, rows))
    def agreeCount(a: Column, b: Column): Column =
      size(filter(zip_with(a, b, (x, y) => x === y), p => p))
    def simhash(tokens: Column): Column = Kernels.simhashMd5Col(tokens)
    def winnow(text: Column, k: Int, w: Int): Column = Kernels.winnowMd5Fp(text, k, w)
  }

  val values: Seq[SigHash] = Seq(Engine, Md5)
}
