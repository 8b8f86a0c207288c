package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** SQL surface of the native expressions via GraftExtensions.register. */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("poly_hash / dot_product / topk_by are callable from SQL") {
    GraftExtensions.register(spark)

    val ph = spark.sql("SELECT poly_hash('hello world') AS h").as[Long].head()
    assert(ph == 1835087470L)

    val dp = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .as[Double].head()
    assert(dp == 32.0)

    val mg = spark.sql(
      "SELECT min_gram_md5('hello world', 8) = " +
        "array_min(transform(sequence(1, greatest(length('hello world') - 7, 1)), " +
        "i -> md5(substring('hello world', i, 8)))) AS ok").as[Boolean].head()
    assert(mg, "min_gram_md5 must equal its composable definition")

    Seq((1L, 1.0, 10L), (1L, 3.0, 11L), (1L, 2.0, 12L), (2L, 9.0, 13L))
      .toDF("g", "s", "id").createOrReplaceTempView("tk")
    val top = spark.sql(
      """SELECT g, topk_by(s, id, 2) AS t FROM tk GROUP BY g ORDER BY g""")
      .selectExpr("g", "transform(t, e -> e.id) AS ids")
      .as[(Long, Seq[Long])].collect().toSeq
    assert(top == Seq((1L, Seq(11L, 12L)), (2L, Seq(13L))))
  }

  test("no extension function shadows a Spark built-in") {
    // a builder registered under a built-in's name silently replaces that
    // built-in in every session that loads the extensions
    val shadowed = GraftExtensions.builders.map(_._1)
      .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowed.isEmpty, s"extension functions shadow built-ins: ${shadowed.mkString(", ")}")
  }

  test("the sketch family (kll / theta / freq_items) is callable from SQL") {
    GraftExtensions.register(spark)

    // KLL and theta are Spark built-ins (README maps the former extension
    // names onto them); freq_items comes from GraftExtensions
    spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS v",
      "CAST(id % 4 AS LONG) AS g").createOrReplaceTempView("vals")
    // 1..1000 < k: KLL is exact-capacity here, p50 must be the median band
    val p50 = spark.sql(
      """SELECT kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5D) AS p50 FROM (
        |  SELECT g, kll_sketch_agg_double(v) AS sk FROM vals GROUP BY g)""".stripMargin)
      .as[Double].head()
    assert(p50 >= 450 && p50 <= 550, s"p50 from SQL drifted: $p50")

    // two exact-regime theta sets: 1..600 and 401..1000 overlap in 200
    val inter = spark.sql(
      """SELECT theta_sketch_estimate(theta_intersection(a.sk, b.sk)) AS x FROM
        |  (SELECT theta_sketch_agg(id) AS sk FROM range(1, 601)) a,
        |  (SELECT theta_sketch_agg(id) AS sk FROM range(401, 1001)) b""".stripMargin)
      .as[Long].head()
    assert(inter == 200L, s"theta intersection from SQL drifted: $inter")
    val jaccard = spark.sql(
      """SELECT try_divide(theta_sketch_estimate(theta_intersection(a.sk, b.sk)),
        |                  theta_sketch_estimate(theta_union(a.sk, b.sk))) AS j FROM
        |  (SELECT theta_sketch_agg(id) AS sk FROM range(1, 601)) a,
        |  (SELECT theta_sketch_agg(id) AS sk FROM range(401, 1001)) b""".stripMargin)
      .as[Double].head()
    assert(jaccard == 0.2, s"theta jaccard from SQL drifted: $jaccard")

    val hot = spark.sql(
      """SELECT map_keys(freq_items_above(freq_items_agg(t), 0.4D)) AS ks
        |FROM (SELECT CASE WHEN id % 2 = 0 THEN 'a' ELSE concat('x', id) END AS t
        |      FROM range(0, 200))""".stripMargin)
      .as[Seq[String]].head()
    assert(hot == Seq("a"), s"freq_items from SQL drifted: $hot")
  }
}
