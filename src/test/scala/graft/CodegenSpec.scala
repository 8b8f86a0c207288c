package graft

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

/** Every hand-written `doGenCode` must compile to Java and agree with its
  * interpreted `eval`. Spark hides a failed compile: it logs
  * `Failed to compile` and falls back to the interpreted path, and local
  * test frames are folded on the driver without ever generating code. So
  * each expression here runs over an RDD-backed frame twice — once with
  * codegen forced (`factoryMode=CODEGEN_ONLY`, `fallback=false`, so a
  * compile error throws) and once fully interpreted — and the two
  * outputs must be equal, nulls included.
  */
class CodegenSpec extends SparkTestBase {
  import spark.implicits._

  private val compiled = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** `out` over `input` (which has an `id` column), rows ordered by id. */
  private def project(input: DataFrame, out: Column, conf: Seq[(String, String)]) =
    withConf(conf.map { case (k, v) => k -> Option(v) }: _*) {
      // an RDD-backed frame: the projection is planned and executed, not
      // folded into a local relation on the driver
      val df = spark.createDataFrame(input.rdd, input.schema)
        .select(col("id"), out.as("out"))
      val rows = df.collect().sortBy(_.getLong(0)).toSeq
      (rows, df.queryExecution.executedPlan)
    }

  private def assertCompilesAndMatches(input: DataFrame, out: Column): Unit = {
    val (gen, plan) = project(input, out, compiled)
    val fused = plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.exists(_.isInstanceOf[ProjectExec]))
    assert(fused, s"projection is not whole-stage generated:\n$plan")
    val (interp, _) = project(input, out, interpreted)
    assert(gen.nonEmpty && gen == interp)
  }

  private val toks = Seq[(Long, Option[Seq[String]])](
    1L -> Some(Seq("the", "quick", "brown", "fox", "jumps")),
    2L -> Some(Seq("one")),
    3L -> Some(Seq.empty),
    4L -> Some(Seq("héllo", "wörld", "héllo", "wörld")),
    5L -> None).toDF("id", "toks")

  private val strings = Seq[(Long, Option[String])](
    1L -> Some("kitten"), 2L -> Some("a"), 3L -> Some(""),
    4L -> Some("naïve café ☕"), 5L -> None).toDF("id", "s")

  private val rnd = new scala.util.Random(7)
  private val dim = 8
  private def vectors[T](mk: Double => T): Seq[(Long, Option[Seq[T]])] =
    (1L to 6L).map(i => i -> Some(Seq.fill(dim)(mk(rnd.nextGaussian())))) ++
      Seq(7L -> Some(Seq(mk(1.0))), 8L -> None) // wrong length, null
  private val doubleVecs = vectors[Double](x => x).toDF("id", "v")
  private val floatVecs = vectors(_.toFloat).toDF("id", "v")

  test("WordNgrams compiles and matches eval") {
    assertCompilesAndMatches(toks, WordNgrams.of(col("toks"), 2))
  }

  test("ShingleHashSet compiles and matches eval") {
    assertCompilesAndMatches(toks, ShingleHashSet.shingleHashSet(col("toks"), 3))
  }

  test("MinHashBandHashes compiles and matches eval") {
    val hashes = Seq[(Long, Option[Seq[Long]])](
      1L -> Some(Seq(11L, -5L, 1L << 40)), 2L -> Some(Seq.empty), 3L -> None)
      .toDF("id", "hs")
    assertCompilesAndMatches(hashes,
      MinHashBandHashes.minhashBandHashes(col("hs"), 8, 2, 7L))
  }

  test("DeletionSignatureHashes compiles and matches eval") {
    assertCompilesAndMatches(strings, DeletionSignatureHashes.of(col("s"), 2))
  }

  test("PqEncodeCodes compiles and matches eval over float and double vectors") {
    val books = Seq.fill(2, 4, dim / 2)(rnd.nextGaussian())
    for (vecs <- Seq(floatVecs, doubleVecs)) {
      assertCompilesAndMatches(vecs, PqEncodeCodes.codes(col("v"), books))
    }
  }

  test("ArgMaxDotCell compiles and matches eval over float and double vectors") {
    val cents = Seq.fill(5, dim)(rnd.nextGaussian())
    for (vecs <- Seq(floatVecs, doubleVecs)) {
      assertCompilesAndMatches(vecs, ArgMaxDotCell.cell(col("v"), cents))
    }
  }

  test("NgramHashSetOverlap compiles and matches eval") {
    // the 2-gram hashes of doc 1: doc 1 overlaps, the others do not
    val (grams, _) = project(toks.filter(col("id") === 1L),
      ShingleHashSet.shingleHashSet(col("toks"), 2), interpreted)
    val set = grams.head.getSeq[Long](1).toArray
    val overlap = NgramHashSetOverlap.overlapsAny(col("toks"), 2, set)
    assertCompilesAndMatches(toks, overlap)
    val (flags, _) = project(toks, overlap, compiled)
    assert(flags.map(_.get(1)) == Seq(true, false, false, false, null))
  }

  test("AvroOrderEncode and AvroOrderDecode compile and match eval") {
    val orders = Seq(
      (1L, "o1", "e1", "u1", 9.5, 1000L), (2L, "o2", "é2", "u2", -0.25, 0L))
      .toDF("id", "order_id", "electronic_id", "user_id", "price", "time")
      .select(col("id"), struct("order_id", "electronic_id", "user_id", "price", "time").as("o"))
    for (framed <- Seq(true, false)) {
      val wire = AvroOrderWire.encode(col("o"), framed)
      assertCompilesAndMatches(orders, wire)
      // a corrupt payload decodes to null on both paths
      val payload = when(col("id") === 2L, lit(Array[Byte](1, 2, 3))).otherwise(wire)
      assertCompilesAndMatches(orders, AvroOrderWire.decode(payload, framed))
    }
  }

  test("MinGramMd5 and PolyHash compile and match eval") {
    assertCompilesAndMatches(strings, MinGramMd5.minGramMd5(col("s"), 3))
    assertCompilesAndMatches(strings, PolyHash.polyHash(col("s")))
  }

  test("DotProduct compiles and matches eval, null on a length mismatch") {
    // doc 7's one-element vector meets doc 6's eight-element one
    val pairs = doubleVecs.join(floatVecs.select((col("id") + 1).as("id"), col("v").as("w")), "id")
    assertCompilesAndMatches(pairs, VectorOps.dot(col("v"), col("w")))
  }

  test("DotProduct compiles and matches eval over arrays with null elements") {
    val withNulls = Seq[(Long, Seq[Option[Double]], Seq[Option[Float]])](
      (1L, Seq(Some(1.5), Some(-2.0)), Seq(Some(0.5f), Some(4.0f))),
      (2L, Seq(Some(1.5), None), Seq(Some(0.5f), Some(4.0f))),
      (3L, Seq(Some(1.5), Some(-2.0)), Seq(None, Some(4.0f))),
      (4L, Seq.empty, Seq.empty)).toDF("id", "v", "w")
    assertCompilesAndMatches(withNulls, VectorOps.dot(col("v"), col("w")))
  }
}
