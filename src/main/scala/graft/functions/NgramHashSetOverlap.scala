package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** TRUE iff any word `n`-gram of a TOKEN ARRAY column xxhash64-hashes
  * into a CONSTANT sorted long set — the whole stateless streaming
  * decontamination check (`StreamingCuration.curateDecontaminated`)
  * fused into one expression.
  *
  * Why one expression instead of
  * `transform(shinglesOfTokens(toks), s -> xxhash64(s))` + a membership
  * probe: a FILTER predicate gets its input aliases inlined by
  * predicate pushdown (`PushPredicateThroughNonJoin` substitutes
  * regardless of cost — the CollapseProject cheapness guard that
  * protects projection chains does not exist for filters), so the
  * shingle lambda's per-element `element_at(toks, i)` references each
  * re-run the whole tokenizer: O(#grams) regex splits PER ROW. Measured
  * on the tuned 100k-doc ingest trio: 417–503 docs/s vs the duo's
  * 4495 — the decontamination stage, which should be a near-free
  * stateless filter, dominated 9×. This expression references the token
  * array EXACTLY ONCE, so even fully inlined into a pushed-down filter
  * the tokenizer runs once per row; grams come from
  * [[WordNgrams.grams]] and are hashed with the same `XXH64` (seed 42)
  * the SQL `xxhash64` uses, so the hash space is identical to the batch
  * operator's
  * (`TextAnalysis.contaminationFlags` joins on `xxhash64(shingle)`) —
  * `StreamingCurationSpec` pins the composed trio equal to the batch
  * composition end-to-end. The set ships as a SORTED `long[]` plan
  * reference probed by binary search: |grams| · log₂|set| primitive
  * compares per row, no per-row allocation beyond the grams.
  *
  * N-gram semantics replicate `Text.shinglesOfTokens` exactly: `n`
  * consecutive tokens joined by single spaces when the doc has ≥ n
  * tokens, otherwise ONE gram of all tokens joined (including the empty
  * gram for an empty doc) — distinctness is irrelevant for an ANY
  * probe.
  */
/** Sorted long-set expression parameter with STRUCTURAL equality and a
  * compact render (round-14 advice #3): a raw `Array[Long]` case-class
  * parameter compares by reference, so two semantically identical
  * expressions never canonicalize equal — defeating subexpression
  * elimination and exchange reuse — and the default toString prints an
  * identity hash into every plan dump.
  */
final class SortedLongSet(val values: Array[Long]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case s: SortedLongSet => java.util.Arrays.equals(values, s.values)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(values)
  override def toString: String = s"sorted_long_set(size=${values.length})"
}

case class NgramHashSetOverlap(child: Expression, n: Int, sorted: SortedLongSet)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ngram_hash_set_overlap requires array<string> tokens, got ${t.catalogString}")
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "ngram_hash_set_overlap"

  override protected def nullSafeEval(input: Any): Any =
    NgramHashSetOverlap.overlaps(input.asInstanceOf[ArrayData], n, sorted.values)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("sortedHashSet", sorted.values, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.NgramHashSetOverlap.overlaps($c, $n, $setRef);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramHashSetOverlap =
    copy(child = newChild)
}

object NgramHashSetOverlap {
  private def hashInSet(s: UTF8String, sorted: Array[Long]): Boolean = {
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    java.util.Arrays.binarySearch(sorted, h) >= 0
  }

  /** Shared by interpreted eval and generated code (the generated loop
    * is one static call per row — the JIT inlines it).
    */
  def overlaps(toks: ArrayData, n: Int, sorted: Array[Long]): Boolean =
    WordNgrams.grams(toks, math.min(n, toks.numElements())).array
      .exists(g => hashInSet(g.asInstanceOf[UTF8String], sorted))

  /** `set` need not be sorted or distinct — normalized here, once. */
  def overlapsAny(toksCol: Column, n: Int, set: Array[Long]): Column =
    ColumnBridge.column(NgramHashSetOverlap(
      ColumnBridge.expression(toksCol), n, new SortedLongSet(set.distinct.sorted)))
}
