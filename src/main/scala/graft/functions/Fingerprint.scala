package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** FNV-1a 64-bit hash of a string's UTF-8 bytes as a native Catalyst
  * expression with whole-stage codegen (`doGenCode`) — the primitive under
  * document fingerprinting. A custom Expression (not a Scala UDF) keeps
  * the hot dedup path inside WholeStageCodegen with zero boxing or
  * serialization per row.
  */
case class Fnv64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fnv64 requires a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"

  override protected def nullSafeEval(input: Any): Any =
    Fnv64.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv64.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Fnv64 =
    copy(child = newChild)
}

object Fnv64 {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  /** Static hot-path entry shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }

  /** Reference JVM-side twin for tests. */
  def hash(s: String): Long = hash(UTF8String.fromString(s))

  def fnv64(c: Column): Column =
    ColumnBridge.column(Fnv64(ColumnBridge.expression(c)))
}

/** Document fingerprinting (winnowing, per Schleimer et al. 2003): hash
  * character k-grams, then keep the minimum hash of each sliding window of
  * `w` consecutive k-gram hashes. The resulting distinct-set is a compact,
  * position-robust document signature.
  */
object Fingerprint {

  /** Array of k-gram FNV-1a hashes for a text column. */
  def kgramHashes(c: Column, k: Int): Column =
    transform(TextFunctions.charShingles(c, k), g => Fnv64.fnv64(g))

  /** Distinct winnowed fingerprints (sorted ascending for determinism).
    * Backed by the codegen kernel — the HOF form re-slices the hash array
    * per window (O(n·w) interpreted evals with per-window allocation).
    */
  def winnow(c: Column, k: Int, w: Int): Column =
    Kernels.winnowFp(c, k, w)
}
