package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** xxhash64 values of a string's deletion-neighborhood signatures
  * (FastSS / SymSpell): the string itself plus every variant reachable by
  * ≤ `maxDist` character deletions, DISTINCT at the string level, hashed
  * with the same `XXH64`/seed-42 the SQL `xxhash64` uses — byte-identical
  * to the former `array_union(array(s), del1(s)) (∪ flatten(del1∘del1))`
  * + `xxhash64` pipeline in [[graft.operators.FuzzyJoin]].
  *
  * Why fused (round-15 optimization pass, the `MinHashRowExprs`
  * discipline): the HOF formulation evaluated |s|+1 interpreted lambda
  * dispatches per row at d=1 and O(|s|²) at d=2, each allocating two
  * substring slices and a concat per variant, then union/distinct array
  * machinery on top — `transform`/`flatten`/`array_distinct` are all
  * `CodegenFallback`. This expression builds each variant with one
  * UTF8String concat in plain JVM code behind a single codegen call and
  * hashes it in place. Candidate-set parity is spec-pinned
  * (`FuzzyExprsSpec`); the join's output is additionally protected by the
  * exact `levenshtein` verification downstream.
  */
case class DeletionSignatureHashes(child: Expression, maxDist: Int)
  extends UnaryExpression {
  require(maxDist >= 1 && maxDist <= 2, "deletion signatures support d in {1, 2}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"deletion_signature_hashes requires string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "deletion_signature_hashes"

  override protected def nullSafeEval(input: Any): Any =
    DeletionSignatureHashes.signatures(input.asInstanceOf[UTF8String], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.DeletionSignatureHashes.signatures($c, $maxDist);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): DeletionSignatureHashes =
    copy(child = newChild)
}

object DeletionSignatureHashes {

  private def xx(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  /** All single-character-deletion variants of `s`, appended to `out`
    * when unseen (CHARACTER deletions, matching the SQL `substr` paths).
    */
  private def addDel1(s: UTF8String,
      seen: java.util.LinkedHashSet[UTF8String]): Unit = {
    val n = s.numChars()
    var i = 0
    while (i < n) {
      seen.add(UTF8String.concat(s.substring(0, i), s.substring(i + 1, n)))
      i += 1
    }
  }

  def signatures(s: UTF8String, maxDist: Int): GenericArrayData = {
    // distinct at the string level, first-seen order: s, del1(s), del2(s)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    seen.add(s)
    addDel1(s, seen)
    if (maxDist == 2) {
      // iterate over a snapshot of the d<=1 layer (self + del1)
      val layer1 = seen.toArray(new Array[UTF8String](seen.size()))
      var i = 1 // skip s itself — del1 of s is already present
      while (i < layer1.length) {
        addDel1(layer1(i), seen)
        i += 1
      }
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = xx(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  def of(strCol: Column, maxDist: Int): Column =
    ColumnBridge.column(DeletionSignatureHashes(
      ColumnBridge.expression(strCol), maxDist))
}
