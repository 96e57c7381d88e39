package graft.functions

import graft.textkit.TextKit
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for the minhash signature — the corpus-scale
 * hot path of `Dedup.minhashLshPairs` (one signature per document at
 * 10^10 docs). As a ScalaUDF the call pays the catalyst↔scala converter
 * boundary per row (UTF8String→String→Array[Long]→ArrayData through
 * reflection-based converters); as an expression the kernel call writes
 * an `UnsafeArrayData` directly and stays inside whole-stage codegen's
 * generated projection. The k/numPerms parameters are plan-time
 * constants baked into the generated code.
 *
 * Measured honestly: ~6% end-to-end on the signature projection at 200k
 * docs (local[8], best-of-3) — the shingle+permute KERNEL dominates, so
 * the converter boundary was never the bottleneck here; the expression
 * removes it anyway and follows the repo's native-where-hot doctrine
 * (same pattern as UrlExpressions, where the kernels are tiny and the
 * boundary was the cost).
 *
 * Same kernel either way (`TextKit.shingleHashes` → `TextKit.minhash`),
 * so the DuckDB minhash oracle and every recall gate are unaffected —
 * asserted by a spec comparing the expression to the kernel output.
 */
case class MinhashSig(child: Expression, k: Int, numPerms: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // analysis-time type check: a non-string child is an ANALYSIS error,
  // not a per-row ClassCastException inside codegen
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig_native requires a STRING column, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      TextKit.minhash(TextKit.shingleHashes(input.asInstanceOf[UTF8String].toString, k), numPerms))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kit = TextKit.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($kit.minhash($kit.shingleHashes($c.toString(), $k), $numPerms));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig_native"
}

object TextExpressions {

  /** Register the native expression (see `NativeFunctions.register`:
    * a name already registered is skipped). */
  def registerAll(spark: SparkSession): Unit =
    NativeFunctions.register(spark, "minhash_sig_native", { exprs =>
      require(exprs.length == 3,
        s"minhash_sig_native(text, k, numPerms) takes 3 arguments, got ${exprs.length}")
      require(exprs(1).foldable && exprs(2).foldable,
        "minhash_sig_native: k and numPerms must be literals (plan-time constants)")
      def intArg(e: Expression, name: String): Int = e.eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"minhash_sig_native: $name must be an integer literal, got $other")
      }
      MinhashSig(exprs.head, intArg(exprs(1), "k"), intArg(exprs(2), "numPerms"))
    })

  def minhash_sig_native(c: Column, k: Int, numPerms: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig_native", c,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(numPerms))
}
