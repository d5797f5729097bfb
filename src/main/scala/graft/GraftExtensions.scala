package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{Fnv64, Kernels, MinHashUnionAgg, TopKAgg, VectorSumAgg}

/** SparkSessionExtensions hook: exposes the engine's custom expressions to
  * SQL users. Activate with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `GraftExtensions.register(spark)` on a live session) and use:
  *
  *   SELECT graft_fnv64(text),
  *          graft_simhash64(split(text, ' ')),
  *          graft_minhash(shingles, 128, 42),
  *          graft_winnow(text, 5, 4),
  *          graft_cosine(a, b),
  *          graft_srp_code(vec, 64, 8, 42)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, (info, builder)) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${args.length}")

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  val builders: Seq[(String, (ExpressionInfo, Seq[Expression] => Expression))] = Seq(
    "graft_fnv64" -> ((info("graft_fnv64",
      "graft_fnv64(str) - FNV-1a 64-bit hash of the UTF-8 bytes"),
      (args: Seq[Expression]) => { arity("graft_fnv64", args, 1); Fnv64(args.head) })),
    "graft_simhash64" -> ((info("graft_simhash64",
      "graft_simhash64(tokens) - 64-bit SimHash of a string array"),
      (args: Seq[Expression]) => { arity("graft_simhash64", args, 1); Kernels.SimHash64(args.head) })),
    "graft_deflate_ratio" -> ((info("graft_deflate_ratio",
      "graft_deflate_ratio(str) - deflate compressed/raw byte ratio (low = repetitive text)"),
      (args: Seq[Expression]) => { arity("graft_deflate_ratio", args, 1); Kernels.DeflateRatio(args.head) })),
    "graft_minhash" -> ((info("graft_minhash",
      "graft_minhash(shingles, numHashes, seed) - MinHash signature"),
      (args: Seq[Expression]) => { arity("graft_minhash", args, 3)
        Kernels.MinHashSig(args.head,
          intArg(args(1), "numHashes"), longArg(args(2), "seed")) })),
    "graft_winnow" -> ((info("graft_winnow",
      "graft_winnow(text, k, w) - winnowed k-gram fingerprints"),
      (args: Seq[Expression]) => { arity("graft_winnow", args, 3)
        Kernels.Winnow(args.head, intArg(args(1), "k"), intArg(args(2), "w")) })),
    "graft_cosine" -> ((info("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two numeric arrays"),
      (args: Seq[Expression]) => { arity("graft_cosine", args, 2)
        Kernels.CosineSim(args.head, args(1)) })),
    "graft_agree_count" -> ((info("graft_agree_count",
      "graft_agree_count(a, b) - positions where two bigint arrays agree (MinHash estimate numerator)"),
      (args: Seq[Expression]) => { arity("graft_agree_count", args, 2)
        Kernels.AgreeCount(args.head, args(1)) })),
    "graft_long_dot" -> ((info("graft_long_dot",
      "graft_long_dot(a, b) - exact bigint dot product of two bigint arrays (quantized cosine verdicts)"),
      (args: Seq[Expression]) => { arity("graft_long_dot", args, 2)
        Kernels.LongDot(args.head, args(1)) })),
    "graft_alpha_token_count" -> ((info("graft_alpha_token_count",
      "graft_alpha_token_count(str) - tokens containing an ASCII letter (Gopher alpha-word rule numerator)"),
      (args: Seq[Expression]) => { arity("graft_alpha_token_count", args, 1)
        Kernels.AlphaTokenCount(args.head) })),
    "graft_srp_code" -> ((info("graft_srp_code",
      "graft_srp_code(vec, dim, bits, seed) - signed-random-projection bucket"),
      (args: Seq[Expression]) => { arity("graft_srp_code", args, 4)
        Kernels.SrpCode(args.head, intArg(args(1), "dim"),
          intArg(args(2), "bits"), longArg(args(3), "seed")) })),
    // aggregates: the analyzer wraps a returned AggregateFunction in an
    // AggregateExpression automatically
    "graft_minhash_union" -> ((info("graft_minhash_union",
      "graft_minhash_union(sig, numHashes) - element-wise min of MinHash signatures"),
      (args: Seq[Expression]) => { arity("graft_minhash_union", args, 2)
        MinHashUnionAgg(args.head, intArg(args(1), "numHashes")) })),
    "graft_topk" -> ((info("graft_topk",
      "graft_topk(score, id, k) - bounded top-k (score DESC, id ASC) as array<struct>"),
      (args: Seq[Expression]) => { arity("graft_topk", args, 3)
        TopKAgg(args.head, args(1), intArg(args(2), "k")) })),
    "graft_vector_sum" -> ((info("graft_vector_sum",
      "graft_vector_sum(vec, dim) - element-wise vector sum"),
      (args: Seq[Expression]) => { arity("graft_vector_sum", args, 2)
        VectorSumAgg(args.head, intArg(args(1), "dim")) })))

  /** Imperative registration for an already-built session (tests, REPL):
    * adds the functions the session's registry lacks, so a session that
    * `spark.sql.extensions` already equipped keeps its registrations
    * (and logs no "replaced a previously registered function" warning
    * per name).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, (_, builder)) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
