package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a token array in ONE codegen'd kernel — the
  * body of [[TextFunctions.shinglesFromTokens]]. Value-identical to the
  * builtin chain
  * `transform(sequence(0, greatest(size(t) - (n-1), 1) - 1),
  *   i -> concat_ws(' ', slice(t, i + 1, n)))`,
  * whose lambda is interpreted and re-evaluates its captured token
  * child once per shingle — so a tokenizer passed in as the child ran
  * once per shingle of every row. Here the child is evaluated once and
  * each row is one loop.
  *
  * Semantics of the builtin chain, kept exactly: max(size-n+1, 1)
  * shingles of up to n tokens joined by a space, null tokens skipped
  * (concat_ws), so a text shorter than n yields one shingle and the
  * empty array yields `[""]`. A NULL array also yields `[""]` (the
  * builtin's `greatest` skips the null size and `concat_ws` of a null
  * slice is `""`), so unlike most unary kernels the result is never
  * null.
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingles requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingles"

  override def eval(input: InternalRow): Any =
    Shingles.compute(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.Shingles.compute(${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  private val space = UTF8String.fromString(" ")

  /** The one shingle builder: every shingle kernel (this one and
    * [[ShingleHash64]]) cuts its strings here. A null array builds like
    * the empty array. */
  def build(tokens: ArrayData, n: Int): Array[UTF8String] = {
    val size = if (tokens == null) 0 else tokens.numElements()
    val out = new Array[UTF8String](math.max(size - (n - 1), 1))
    val window = new Array[UTF8String](n) // null slots are skipped
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < n) {
        val k = i + j
        window(j) = if (k < size && !tokens.isNullAt(k)) tokens.getUTF8String(k) else null
        j += 1
      }
      out(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    out
  }

  /** Runtime kernel shared by interpreted eval and generated code. */
  def compute(tokens: ArrayData, n: Int): ArrayData =
    new GenericArrayData(build(tokens, n).asInstanceOf[Array[Any]])
}
