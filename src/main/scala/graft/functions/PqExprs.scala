package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Fused PQ/IVF encode expressions — the round-15 optimization pass's
  * native replacements for the higher-order-function formulations in
  * [[graft.operators.Similarity]]'s corpus-side encode paths:
  *
  *  - `PqCoder.codes` was `array(m × array_position(zip_with(cb_j,
  *    bias_j, (c, b) -> round(dot(c, slice(vec)) − b, 6)), array_max(…)))`
  *    — `zip_with`/`transform` are `CodegenFallback` higher-order
  *    functions, so every corpus vector paid m·ksub interpreted lambda
  *    dispatches plus per-subspace array allocations (the exact disease
  *    `MinHashRowExprs` fixed for the MinHash path in round 14);
  *  - `assignCells`' best-cell argmax had the same shape over `nlist`
  *    centroids.
  *
  * Each expression here references its child exactly once and runs the
  * m·ksub·d0 (or nlist·dim) loop in plain JVM code behind a single
  * codegen call. Semantics are bit-identical to the HOF forms on
  * well-formed vectors and spec-pinned (`PqExprsSpec`): the dot is the
  * same sequential fold as [[DotProduct]], the 6-dp round is
  * [[Round6.round]] (provably equal to Catalyst `round(x, 6)` — see its
  * scaladoc), and the argmax is first-max 1-based, exactly
  * `array_position(scores, array_max(scores))`. A vector whose length
  * is not the trained dim yields NULL (the HOF form degenerates into
  * null-poisoned partial scores there; no registered corpus carries
  * mis-dimensioned vectors — `DotProduct` nulls them for the same
  * reason).
  */
object Round6 {
  /** Catalyst `round(x, 6)` (HALF_UP on the shortest-decimal value of
    * x), with the BigDecimal round trip paid only inside a guard band
    * around the tie: y = x·1e6 carries < 2.4e-7 of multiply error plus
    * < 1.2e-7 of shortest-decimal displacement for |y| < 1e9, so when
    * frac(y) sits more than 1e-6 from 0.5 the cheap floor comparison
    * provably agrees with the decimal HALF_UP result; inside the band
    * (and for |y| ≥ 1e9, where ulp(y) alone can cross a grid cell) the
    * exact BigDecimal path runs. NaN/±Inf pass through, as Catalyst's
    * Round does.
    */
  def round(x: Double): Double = {
    if (!java.lang.Double.isFinite(x)) return x
    val y = x * 1e6
    if (!java.lang.Double.isFinite(y) || math.abs(y) >= 1e9)
      return BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val f = math.floor(y)
    val frac = y - f
    if (math.abs(frac - 0.5) <= 1e-6)
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else (f + (if (frac > 0.5) 1.0 else 0.0)) / 1e6
  }
}

/** Structural-equality holder for codebook/centroid literals embedded in
  * expressions (the `SortedLongSet` lesson: a bare Array param defeats
  * canonicalization and renders as an identity hash in plan dumps).
  */
final class DoubleTensor(val data: Array[Double]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case t: DoubleTensor => java.util.Arrays.equals(data, t.data)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(data)
  override def toString: String = s"double_tensor(n=${data.length})"
}

private[functions] object PqExprs {
  /** Read element i of a float/double ArrayData as double. */
  def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def checkVec(e: Expression, name: String): TypeCheckResult = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float|double>, got ${t.catalogString}")
  }

  def isFloat(e: Expression): Boolean =
    e.dataType == ArrayType(FloatType, containsNull = false) ||
      e.dataType == ArrayType(FloatType, containsNull = true)
}

/** `m` 1-based PQ codes for a vector: per subspace `j`, the first-max
  * argmax over `ksub` centroids of `round(dot(c, vec[j·d0 … )) − bias, 6)`.
  * `cb` is the flattened (m × ksub × d0) codebook, `bias` the flattened
  * (m × ksub) half-squared-norm table — exactly the literals the HOF
  * form embedded via `typedlit`.
  */
case class PqEncodeCodes(child: Expression, cb: DoubleTensor,
    bias: DoubleTensor, m: Int, ksub: Int, d0: Int) extends UnaryExpression {
  require(cb.data.length == m * ksub * d0 && bias.data.length == m * ksub,
    "codebook/bias shape mismatch")

  override def checkInputDataTypes(): TypeCheckResult =
    PqExprs.checkVec(child, prettyName)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_codes"
  override def nullable: Boolean = true

  @transient private lazy val childIsFloat = PqExprs.isFloat(child)

  override protected def nullSafeEval(input: Any): Any =
    PqEncodeCodes.encode(input.asInstanceOf[ArrayData], childIsFloat,
      cb.data, bias.data, m, ksub, d0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cb.data, "double[]")
    val biasRef = ctx.addReferenceObj("pqBias", bias.data, "double[]")
    val fl = if (childIsFloat) "true" else "false"
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.PqEncodeCodes.encode($c, $fl, $cbRef, $biasRef, $m, $ksub, $d0);
       |if (${ev.value} == null) ${ev.isNull} = true;
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

object PqEncodeCodes {
  def encode(vec: ArrayData, isFloat: Boolean, cb: Array[Double],
      bias: Array[Double], m: Int, ksub: Int, d0: Int): GenericArrayData = {
    if (vec.numElements() != m * d0) return null
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      var best = Double.NegativeInfinity
      var bestC = 0
      var c = 0
      while (c < ksub) {
        val cOff = (j * ksub + c) * d0
        var acc = 0.0
        var i = 0
        while (i < d0) {
          acc += cb(cOff + i) * PqExprs.elem(vec, j * d0 + i, isFloat)
          i += 1
        }
        val s = Round6.round(acc - bias(j * ksub + c))
        if (s > best) { best = s; bestC = c }
        c += 1
      }
      out(j) = bestC + 1 // 1-based, array_position parity
      j += 1
    }
    new GenericArrayData(out)
  }

  def codes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val ksub = codebooks.head.size
    val d0 = codebooks.head.head.size
    val flat = new Array[Double](m * ksub * d0)
    val bias = new Array[Double](m * ksub)
    for (j <- 0 until m; c <- 0 until ksub) {
      val cent = codebooks(j)(c)
      System.arraycopy(cent.toArray, 0, flat, (j * ksub + c) * d0, d0)
      bias(j * ksub + c) = 0.5 * cent.map(x => x * x).sum
    }
    ColumnBridge.column(PqEncodeCodes(ColumnBridge.expression(vec),
      new DoubleTensor(flat), new DoubleTensor(bias), m, ksub, d0))
  }
}

/** 1-based first-max argmax cell id over `nlist` centroids of
  * `round(dot(cent, vec), 6)` — `assignCells`' best-cell column as one
  * fused loop. LongType, matching `array_position`'s return type so the
  * assigned frame's schema is unchanged.
  */
case class ArgMaxDotCell(child: Expression, cents: DoubleTensor,
    nlist: Int, dim: Int) extends UnaryExpression {
  require(cents.data.length == nlist * dim, "centroid shape mismatch")

  override def checkInputDataTypes(): TypeCheckResult =
    PqExprs.checkVec(child, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "argmax_dot_cell"
  override def nullable: Boolean = true

  @transient private lazy val childIsFloat = PqExprs.isFloat(child)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) null
    else ArgMaxDotCell.argmax(v, childIsFloat, cents.data, nlist, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cellCents", cents.data, "double[]")
    val fl = if (childIsFloat) "true" else "false"
    nullSafeCodeGen(ctx, ev, c => s"""
       |if ($c.numElements() != $dim) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.ArgMaxDotCell.argmax($c, $fl, $cRef, $nlist, $dim);
       |}
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ArgMaxDotCell =
    copy(child = newChild)
}

object ArgMaxDotCell {
  def argmax(vec: ArrayData, isFloat: Boolean, cents: Array[Double],
      nlist: Int, dim: Int): Long = {
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < nlist) {
      val off = c * dim
      var acc = 0.0
      var i = 0
      while (i < dim) {
        acc += cents(off + i) * PqExprs.elem(vec, i, isFloat)
        i += 1
      }
      val s = Round6.round(acc)
      if (s > best) { best = s; bestC = c }
      c += 1
    }
    bestC + 1L // 1-based, array_position parity
  }

  def cell(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val nlist = centroids.size
    val dim = centroids.head.size
    val flat = new Array[Double](nlist * dim)
    for (c <- 0 until nlist)
      System.arraycopy(centroids(c).toArray, 0, flat, c * dim, dim)
    ColumnBridge.column(ArgMaxDotCell(ColumnBridge.expression(vec),
      new DoubleTensor(flat), nlist, dim))
  }
}
