package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-ROW MinHash fingerprinting as native expressions — the fused
  * replacements for the `transform`/`array_min` higher-order-function
  * pipeline `Dedup.withRowBandCols` first shipped with. The HOF
  * formulation is semantically right but interpreter-bound: the k=128
  * permutation minima alone are k·|set| lambda invocations per row
  * (measured 3.9 ms/doc at sf0.1 — 39 s for a 10k-doc micro-batch,
  * dominating streaming-admission throughput), and a pushed-down
  * filter/projection can inline the token alias into per-element
  * references (the `NgramHashSetOverlap` trap). Each expression here
  * references its child exactly once and runs the loops in plain JVM
  * code behind a single codegen call, with hash parity to the batch
  * operators pinned by `StreamingAdmissionSpec`:
  *
  *  - [[ShingleHashSet]]: token array → DISTINCT word-`n`-gram xxhash64
  *    values (`Text.shinglesOfTokens` semantics incl. the short-doc
  *    single-gram branch; grams from [[WordNgrams.grams]], hashed with
  *    the same `XXH64`/seed-42 the SQL `xxhash64` uses; distinctness at
  *    the string level, exactly like `array_distinct` before the hash).
  *  - [[MinHashBandHashes]]: hash array → the `bands` LSH band hashes of
  *    the k-permutation signature (the `MinHashAgg.coefficients`
  *    sequence, same Carter–Wegman prime; band hash = xxhash64 of the
  *    comma-joined decimal signature slice — byte-identical to the
  *    batch `bandRows`' `xxhash64(concat_ws(",", …))`).
  */
case class ShingleHashSet(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash_set requires array<string> tokens, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashSet.hashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.ShingleHashSet.hashes($c, $n);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

object ShingleHashSet {
  private def xx(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  def hashes(toks: ArrayData, n: Int): GenericArrayData = {
    // a doc shorter than n is its one gram of all tokens; distinct at the
    // STRING level (array_distinct-before-hash parity), first-seen order
    val grams = WordNgrams.grams(toks, math.min(n, toks.numElements())).array
    val seen = new java.util.LinkedHashSet[UTF8String]()
    grams.foreach(g => seen.add(g.asInstanceOf[UTF8String]))
    // hash the distinct grams; dedup hash values too (collect_set-of-
    // hashes parity for the one-in-2^64 string-collision case)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val it = seen.iterator()
    while (it.hasNext) out.add(xx(it.next()))
    val arr = new Array[Any](out.size())
    var i = 0
    val oit = out.iterator()
    while (oit.hasNext) { arr(i) = oit.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  def shingleHashSet(toksCol: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashSet(ColumnBridge.expression(toksCol), n))
}

case class MinHashBandHashes(child: Expression, k: Int, bands: Int, seed: Long)
  extends UnaryExpression {
  require(k % bands == 0, s"k=$k must divide into $bands bands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_band_hashes requires array<bigint>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_hashes"

  @transient private lazy val coeffs = MinHashAgg.coefficients(k, seed)

  override protected def nullSafeEval(input: Any): Any =
    MinHashBandHashes.bandHashes(input.asInstanceOf[ArrayData], k, bands,
      coeffs._1, coeffs._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (pa, pb) = coeffs
    val aRef = ctx.addReferenceObj("permA", pa, "long[]")
    val bRef = ctx.addReferenceObj("permB", pb, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MinHashBandHashes.bandHashes($c, $k, $bands, $aRef, $bRef);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandHashes =
    copy(child = newChild)
}

object MinHashBandHashes {
  def bandHashes(hashes: ArrayData, k: Int, bands: Int,
      pa: Array[Long], pb: Array[Long]): GenericArrayData = {
    val p = MinHashAgg.P
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = hashes.numElements()
    var e = 0
    while (e < n) {
      if (!hashes.isNullAt(e)) {
        val m = hashes.getLong(e) % p
        val hp = if (m < 0) m + p else m
        var i = 0
        while (i < k) {
          val v = (pa(i) * hp + pb(i)) % p
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      e += 1
    }
    val rowsPerBand = k / bands
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rowsPerBand * 12)
    var j = 0
    while (j < bands) {
      sb.setLength(0)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(sig(j * rowsPerBand + r))
        r += 1
      }
      val u = UTF8String.fromString(sb.toString)
      out(j) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      j += 1
    }
    new GenericArrayData(out)
  }

  def minhashBandHashes(hashCol: Column, k: Int, bands: Int, seed: Long): Column =
    ColumnBridge.column(MinHashBandHashes(
      ColumnBridge.expression(hashCol), k, bands, seed))
}
