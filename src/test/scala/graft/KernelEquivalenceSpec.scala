package graft

import graft.functions.{NgramHashSetOverlap, ShingleHashSet, Text, VectorOps}
import graft.operators.{LogReg, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Each text and vector primitive has one kernel. The forms those kernels
  * replaced stay here, and only here, as references: the higher-order-
  * function dot product, LogReg margin and shingles, and the old
  * `ShingleHashSet` window loop (also the reference for
  * `NgramHashSetOverlap`). Doubles compare as raw bits, and nulls
  * must be null on both sides.
  */
class KernelEquivalenceSpec extends SparkTestBase {
  import spark.implicits._

  /** The interpreted dot product; elements are widened to double before
    * the multiply, as `DotProduct` does (a float × float `zip_with` would
    * multiply in float).
    */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), _ + _)

  private def hofProbability(x: Column, w: Array[Double]): Column = {
    val wLit = array(w.map(lit): _*)
    val z = round(aggregate(
      zip_with(x, wLit, (xi, wi) => xi * wi), lit(0.0), _ + _), 6)
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  private def hofShingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    array_distinct(
      when(size(toks) >= n, grams).otherwise(array(array_join(toks, " "))))
  }

  /** `ShingleHashSet.hashes` as it was before it took its grams from
    * `WordNgrams.grams`.
    */
  private def oldShingleHashes(toks: ArrayData, n: Int): GenericArrayData = {
    val space = UTF8String.fromString(" ")
    def xx(s: UTF8String): Long =
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    val sz = toks.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (sz < n) {
      seen.add(UTF8String.concatWs(space, (0 until sz).map(toks.getUTF8String): _*))
    } else {
      var i = 0
      while (i + n <= sz) {
        seen.add(UTF8String.concatWs(space, (0 until n).map(j => toks.getUTF8String(i + j)): _*))
        i += 1
      }
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    seen.forEach(g => out.add(xx(g)))
    new GenericArrayData(out.toArray.map(_.asInstanceOf[java.lang.Long].longValue(): Any))
  }

  /** `out` and `ref` over an RDD-backed copy of `input` (so the projection
    * is planned and code-generated, not folded on the driver), by id.
    */
  private def pairs(input: DataFrame, out: Column, ref: Column): Seq[Row] =
    spark.createDataFrame(input.rdd, input.schema)
      .select(col("id"), out.as("out"), ref.as("ref"))
      .collect().sortBy(_.getLong(0)).toSeq

  private def assertSameDoubles(rows: Seq[Row]): Unit = {
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.isNullAt(1) == r.isNullAt(2), s"id=$id: null on one side only")
      if (!r.isNullAt(1)) assert(
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"id=$id: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }

  private val rnd = new scala.util.Random(13)

  private type Vec = Option[Seq[Option[Double]]]

  private val vectorRows: Seq[(Long, Vec, Vec)] = {
    def vec(d: Int) = Seq.fill(d)(Option(rnd.nextGaussian() * 10))
    (1L to 40L).map { i =>
      val d = 1 + rnd.nextInt(24)
      (i, Option(vec(d)), Option(vec(d)))
    } ++ Seq(
      (41L, Some(vec(3)), Some(vec(4))), // mismatched lengths
      (42L, Some(vec(5)), Some(vec(1))),
      (43L, None, Some(vec(3))), // null arrays
      (44L, Some(vec(3)), None),
      (45L, Some(vec(3).updated(1, None)), Some(vec(3))), // null elements
      (46L, Some(vec(3)), Some(vec(3).updated(2, None))),
      (47L, Some(Seq(None)), Some(Seq(None))),
      (48L, Some(Seq.empty), Some(Seq.empty)))
  }

  test("DotProduct equals aggregate(zip_with) bit for bit on double, float and mixed arrays") {
    val doubles = vectorRows.toDF("id", "a", "b")
    val floats = doubles.select(col("id"), col("a").cast("array<float>").as("a"),
      col("b").cast("array<float>").as("b"))
    val mixed = doubles.select(col("id"), col("a")).join(floats.select(col("id"), col("b")), "id")
    for (df <- Seq(doubles, floats, mixed))
      assertSameDoubles(pairs(df, VectorOps.dot(col("a"), col("b")), hofDot(col("a"), col("b"))))
    val nulls = pairs(doubles, VectorOps.dot(col("a"), col("b")), hofDot(col("a"), col("b")))
      .filter(r => r.getLong(0) >= 41 && r.getLong(0) <= 47)
    assert(nulls.size == 7 && nulls.forall(r => r.isNullAt(1) && r.isNullAt(2)),
      s"mismatched, null-array and null-element rows must read NULL: $nulls")
    // arrays whose type admits no null elements take the unchecked loop
    val dense = (1L to 20L).map { i =>
      val d = 1 + rnd.nextInt(16)
      (i, Seq.fill(d)(rnd.nextGaussian()), Seq.fill(d)(rnd.nextGaussian()))
    }.toDF("id", "a", "b")
    assertSameDoubles(pairs(dense, VectorOps.dot(col("a"), col("b")), hofDot(col("a"), col("b"))))
  }

  test("LogReg.probability equals the aggregate(zip_with) margin on qualityFeatures rows") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001").select(col("doc_id"), col("text"))
    val extra = Seq[(Long, Option[String])](
      -1L -> Some("!!! ??? ..."), // no tokens
      -2L -> None).toDF("doc_id", "text")
    val feats = corpus.union(extra)
      .select(col("doc_id").as("id"), col("text"), Text.tokens(col("text")).as("_toks"))
      .select(col("id"), TextAnalysis.qualityFeatures(col("text"), col("_toks")).as("x"))
    val weights = Seq(Array(-0.35, 1.2, -2.5, 0.8, 0.4)) ++
      Seq.fill(3)(Array.fill(5)(rnd.nextGaussian() * 3))
    for (w <- weights) {
      val rows = pairs(feats, LogReg.probability(col("x"), w), hofProbability(col("x"), w))
      assertSameDoubles(rows)
      val byId = rows.map(r => r.getLong(0) -> r).toMap
      assert(!byId(-1L).isNullAt(1), "an empty-token document is scored")
      assert(byId(-2L).isNullAt(1) && byId(-2L).isNullAt(2), "a null-text document reads NULL")
    }
  }

  private val tokenArrays = Seq[(Long, Option[Seq[String]])](
    1L -> Some(Seq("the", "quick", "brown", "fox", "jumps", "over")),
    2L -> Some(Seq("one")),
    3L -> Some(Seq("one", "two")),
    4L -> Some(Seq.empty),
    5L -> None,
    6L -> Some(Seq("a", "b", "a", "b", "a", "b", "a", "b")), // repeated grams
    7L -> Some(Seq("x", "x", "x", "x", "x")),
    8L -> Some(Seq("héllo", "wörld", "ααββ", "héllo", "wörld")),
    9L -> Some((1 to 30).map(i => s"t${i % 7}")))

  for (n <- Seq(1, 2, 3, 5)) {
    test(s"shinglesOfTokens equals the transform(sequence) form at n=$n; ShingleHashSet and NgramHashSetOverlap are unchanged") {
      val df = tokenArrays.toDF("id", "toks")
      val rows = pairs(df, Text.shinglesOfTokens(col("toks"), n), hofShingles(col("toks"), n))
      rows.foreach { r =>
        assert(Option(r.getSeq[String](1)) == Option(r.getSeq[String](2)), s"id=${r.getLong(0)}")
      }
      tokenArrays.foreach {
        case (id, Some(t)) =>
          val ad = new GenericArrayData(t.map(UTF8String.fromString).toArray[Any])
          val old = oldShingleHashes(ad, n).array.toSeq.map(_.asInstanceOf[Long])
          assert(ShingleHashSet.hashes(ad, n).array.toSeq == old, s"id=$id")
          // an ANY-probe of the same grams: a set holding one of them,
          // one holding none, and the empty set
          for (set <- Seq(Array(old.last, 7L), Array(7L, 11L), Array.empty[Long]))
            assert(NgramHashSetOverlap.overlaps(ad, n, set.sorted) == old.exists(set.contains),
              s"id=$id set=${set.toSeq}")
        case _ =>
      }
      val viaColumn = spark.createDataFrame(df.rdd, df.schema)
        .select(col("id"), ShingleHashSet.shingleHashSet(col("toks"), n))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
      tokenArrays.foreach { case (id, t) =>
        val expected = t.map(s => oldShingleHashes(
          new GenericArrayData(s.map(UTF8String.fromString).toArray[Any]), n).array.toSeq)
        assert(viaColumn(id) == expected, s"id=$id")
      }
    }
  }
}
