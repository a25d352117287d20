package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-shingle 60-bit hashes of a token array in ONE codegen'd
  * kernel — the hot head of every MinHash pipeline. Value-identical to
  * the builtin chain
  * `transform(array_distinct(shinglesFromTokens(toks, n)), h64)`, whose
  * higher-order lambdas are interpreted and re-evaluated per consumer;
  * here each row is a single tight loop with one MD5 instance.
  *
  * The shingles are cut by the same builder as the [[Shingles]] kernel
  * behind [[TextFunctions.shinglesFromTokens]] ([[Shingles.build]]):
  * max(size-n+1, 1) shingles of up to n tokens joined by a space
  * (null tokens skipped like concat_ws), so texts shorter than n yield
  * one shingle and empty token arrays yield the empty-string shingle.
  * A null token array still yields null here (the default for a unary
  * kernel), where [[Shingles]] yields `[""]`.
  * With `distinct = true` (the MinHash head) distinctness is over the
  * shingle STRINGS (first occurrence kept), matching `array_distinct`
  * before hashing; with `distinct = false` the output keeps positional
  * order and duplicates — the form winnowing's sliding window needs.
  */
case class ShingleHash64(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash64 requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash64"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHash64.compute(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHash64.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash64 =
    copy(child = newChild)
}

object ShingleHash64 {

  /** Runtime kernel shared by interpreted eval and generated code. The
    * shingle strings come from the shared [[Shingles.build]]. */
  def compute(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val all = Shingles.build(tokens, n)
    // LinkedHashSet both dedupes and preserves first-occurrence order
    val shingles = if (!distinct) all else {
      val seen = new java.util.LinkedHashSet[UTF8String](all.length * 2)
      all.foreach(seen.add)
      seen.toArray(new Array[UTF8String](seen.size))
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](shingles.length)
    var k = 0
    while (k < out.length) {
      out(k) = SimHash60.hash60(md, shingles(k))
      k += 1
    }
    new GenericArrayData(out)
  }
}
