package graft

import org.apache.datasketches.theta.SetOperation
import org.apache.spark.sql.functions._

/** Gates for theta sketch set algebra through Spark's built-in
  * `theta_*` functions: exact below k retained entries (the regime the
  * DuckDB oracle checks for `sketch_overlap`), bounded relative error
  * above it, the union rollup identity, and summary tables whose blobs
  * were written in the byte format of the engine's former hand-written
  * theta aggregates.
  */
class ThetaSketchSpec extends SparkTestBase {
  import spark.implicits._

  test("exact regime: intersection and difference equal exact set ops below k") {
    // two planted sets of 2000 longs (< k = 4096) overlapping in 500
    val rows = ((1L to 2000L).map(("a", _)) ++
      (1501L to 3500L).map(("b", _))).toDF("g", "v")
    val sk = rows.groupBy("g").agg(theta_sketch_agg(col("v")).as("sk"))
    val Seq(ska) = sk.filter(col("g") === "a").select("sk").as[Array[Byte]].collect().toSeq
    val Seq(skb) = sk.filter(col("g") === "b").select("sk").as[Array[Byte]].collect().toSeq
    val one = spark.range(1).select(lit(ska).as("ska"), lit(skb).as("skb"))
    val (inter, diff) = one.select(
      theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
      theta_sketch_estimate(theta_difference(col("ska"), col("skb"))))
      .as[(Long, Long)].head()
    assert(inter == 500L, s"exact-mode intersection drifted: $inter")
    assert(diff == 1500L, s"exact-mode difference drifted: $diff")
  }

  test("estimation regime: 100k-element sets stay within 5x the 1/sqrt(k) bound") {
    // 100k >> k=4096: sampling active; rse ~ 1/sqrt(4096) ~ 1.6%
    val n = 100000L
    val overlap = 40000L
    val rows = ((1L to n).map(("a", _)) ++
      ((n - overlap + 1L) to (2 * n - overlap)).map(("b", _))).toDF("g", "v")
    val sk = rows.groupBy("g").agg(theta_sketch_agg(col("v")).as("sk"))
    val pair = sk.filter(col("g") === "a").select(col("sk").as("ska"))
      .crossJoin(sk.filter(col("g") === "b").select(col("sk").as("skb")))
    val inter = pair.select(
      theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))))
      .as[Long].head()
    assert(math.abs(inter - overlap) <= overlap * 0.08,
      s"intersection estimate $inter vs exact $overlap drifted past 8%")
  }

  test("union rollup of per-group sketches matches exact distinct of the union") {
    val rows = ((1L to 1000L).map(("a", _)) ++ (501L to 1500L).map(("b", _)) ++
      (1L to 300L).map(("c", _))).toDF("g", "v")
    val sk = rows.groupBy("g").agg(theta_sketch_agg(col("v")).as("sk"))
    val est = sk.agg(theta_sketch_estimate(theta_union_agg(col("sk"))))
      .as[Long].head()
    assert(est == 1500L, s"union rollup drifted in exact mode: $est")
  }

  /** A blob in the byte format the engine's former theta aggregate wrote
    * to summary tables: a lgK-12 union of the values, compacted. */
  private def legacyThetaBlob(vs: Seq[Long]): Array[Byte] = {
    val u = SetOperation.builder().setLogNominalEntries(12).buildUnion()
    vs.foreach(v => u.update(v))
    u.getResult().toByteArray
  }

  test("summary-table blobs in the former theta aggregate's format read through the built-ins") {
    val legacy = Seq(
      ("a", legacyThetaBlob(1L to 2000L)),
      ("b", legacyThetaBlob(1501L to 3500L))).toDF("g", "sk")
    val pair = legacy.filter(col("g") === "a").select(col("sk").as("ska"))
      .crossJoin(legacy.filter(col("g") === "b").select(col("sk").as("skb")))
    val (inter, diff) = pair.select(
      theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
      theta_sketch_estimate(theta_difference(col("ska"), col("skb"))))
      .as[(Long, Long)].head()
    assert(inter == 500L, s"legacy-blob intersection drifted: $inter")
    assert(diff == 1500L, s"legacy-blob difference drifted: $diff")
    val union = legacy.agg(theta_sketch_estimate(theta_union_agg(col("sk"))))
      .as[Long].head()
    assert(union == 3500L, s"legacy-blob union drifted: $union")

    // an old row and a row the built-in writes today roll up together:
    // both hash a long the same way
    val fresh = (1501L to 3500L).toDF("v")
      .agg(lit("b").as("g"), theta_sketch_agg(col("v")).as("sk"))
    val mixed = legacy.filter(col("g") === "a").unionByName(fresh)
      .agg(theta_sketch_estimate(theta_union_agg(col("sk"))))
      .as[Long].head()
    assert(mixed == 3500L, s"legacy + built-in union drifted: $mixed")
  }

  test("sketch_overlap matches the exact pairwise overlap on events at sf0.001") {
    val got = queries.PipelineQueries.sketchOverlap(spark, "/root/testdata/sf0.001")
      .as[(String, String, Long, Long)].collect().toSeq
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "user_id").distinct()
      .as[(String, Long)].collect()
    val byType = ev.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      a <- byType.keys; b <- byType.keys if a < b
    } yield (a, b, (byType(a) & byType(b)).size.toLong,
        (byType(a) -- byType(b)).size.toLong)).toSeq.sorted
    assert(got.sorted == want)
  }
}
