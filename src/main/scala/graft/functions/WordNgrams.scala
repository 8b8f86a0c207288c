package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All word n-grams of a token array, space-joined, in order, NON-distinct:
  * the one window loop behind `Text.shinglesOfTokens`, the text-family
  * LM/diversity/repetition operators, [[ShingleHashSet]] and
  * [[NgramHashSetOverlap]]. It replaces
  * the `transform(sequence(1, size-…), i => concat_ws(" ", element_at×n))`
  * form, whose `CodegenFallback` lambdas cost every document
  * (|toks|−n+1)·n interpreted `element_at` calls plus a boxed sequence
  * array. Gram bytes are identical by construction: the same
  * `UTF8String.concatWs` the SQL `concat_ws` uses, over the same token
  * slices (`WordNgramsSpec` pins element-wise equality against the
  * higher-order-function form). Arrays shorter than `n` yield an empty
  * array.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires array<string> tokens, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    WordNgrams.grams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.WordNgrams.grams($c, $n);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  private val Space = UTF8String.fromString(" ")

  def grams(toks: ArrayData, n: Int): GenericArrayData = {
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val win = new Array[UTF8String](n)
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i + n <= sz) {
      var j = 0
      while (j < n) { win(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def of(toksCol: Column, n: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(toksCol), n))
}
