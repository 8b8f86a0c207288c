package graft

import graft.operators.SketchRollup
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.spark.sql.functions._

/** Accuracy and roll-up-identity gates for the mergeable HLL and KLL
  * rollups.
  * Like the other sketch ops (`q_approx_distinct`, `text_cms`), there is
  * no SQL oracle — the gates compare against exact answers computed on
  * the same data.
  */
class SketchRollupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.01")

  test("per-group estimates stay within the HLL bound of exact distincts") {
    val sk = SketchRollup.sketchBy(events, "event_type", "user_id")
    val est = SketchRollup.estimates(sk, "event_type")
      .as[(String, Long)].collect().toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("d"))
      .as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (g, d) =>
      val e = est(g)
      assert(math.abs(e - d) <= math.max(3, (d * 0.05).toLong),
        s"$g: estimate $e vs exact $d drifted past 5%")
    }
  }

  test("union of per-group sketches matches the global sketch and the exact global count") {
    val sk = SketchRollup.sketchBy(events, "event_type", "user_id")
    val rolled = SketchRollup.unionEstimate(sk).as[Long].head()
    val direct = events.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))))
      .as[Long].head()
    val exact = events.select(countDistinct("user_id")).as[Long].head()
    assert(rolled == direct,
      s"roll-up identity broke: union-of-parts $rolled != whole $direct")
    assert(math.abs(rolled - exact) <= math.max(3, (exact * 0.05).toLong),
      s"rolled estimate $rolled vs exact $exact drifted past 5%")
  }

  /** Exact values at ranks (q−ε)n … (q+ε)n bound a KLL estimate: the
    * sketch guarantees |est_rank − true_rank| ≤ ε·n (ε ≈ 1.65% at k=200,
    * 99% conf; we allow 3% for the union path's doubled constant).
    */
  private def assertWithinRankError(est: Double, sorted: Array[Double],
      q: Double, label: String): Unit = {
    val n = sorted.length
    val lo = sorted(math.max(0, (n * (q - 0.03)).floor.toInt))
    val hi = sorted(math.min(n - 1, (n * (q + 0.03)).ceil.toInt))
    assert(est >= lo && est <= hi,
      s"$label: p${(q * 100).round} estimate $est outside exact rank band [$lo, $hi]")
  }

  test("per-group KLL quantiles stay within the rank-error band of exact order statistics") {
    val sk = SketchRollup.quantileSketchBy(events, "event_type", "value")
    val est = SketchRollup.quantileEstimates(sk, "event_type", Seq(0.5, 0.95))
      .as[(String, Double, Double)].collect()
    assert(est.nonEmpty)
    est.foreach { case (g, p50, p95) =>
      val sorted = events.filter(col("event_type") === g)
        .select("value").as[Double].collect().sorted
      assertWithinRankError(p50, sorted, 0.5, g)
      assertWithinRankError(p95, sorted, 0.95, g)
    }
  }

  test("union of per-group KLL sketches answers global percentiles within the band") {
    val sk = SketchRollup.quantileSketchBy(events, "event_type", "value")
    val (p50, p95) = SketchRollup.unionQuantiles(sk, Seq(0.5, 0.95))
      .as[(Double, Double)].head()
    val sorted = events.select("value").as[Double].collect().sorted
    assertWithinRankError(p50, sorted, 0.5, "union")
    assertWithinRankError(p95, sorted, 0.95, "union")
  }

  test("sketch summary tables survive a parquet round trip and still roll up") {
    val dir = tempDir("sk")
    try {
      SketchRollup.sketchBy(events, "event_type", "user_id")
        .write.mode("overwrite").parquet(s"$dir/hll")
      SketchRollup.quantileSketchBy(events, "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/kll")
      val hll = spark.read.parquet(s"$dir/hll")
      val kll = spark.read.parquet(s"$dir/kll")
      val rolled = SketchRollup.unionEstimate(hll).as[Long].head()
      val exact = events.select(countDistinct("user_id")).as[Long].head()
      assert(math.abs(rolled - exact) <= math.max(3, (exact * 0.05).toLong))
      val (p50, p95) = SketchRollup.unionQuantiles(kll, Seq(0.5, 0.95))
        .as[(Double, Double)].head()
      val sorted = events.select("value").as[Double].collect().sorted
      assertWithinRankError(p50, sorted, 0.5, "reloaded")
      assertWithinRankError(p95, sorted, 0.95, "reloaded")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("KLL summary-table blobs in the former aggregate's format still roll up") {
    // the byte format the engine's former KLL aggregate wrote: a k = 200
    // heap sketch of each group's values, serialized
    val legacy = events.select("event_type", "value").as[(String, Double)]
      .collect().groupBy(_._1).toSeq.map { case (g, rows) =>
        val sk = KllDoublesSketch.newHeapInstance(200)
        rows.foreach { case (_, v) => sk.update(v) }
        (g, sk.toByteArray)
      }.toDF("event_type", "qsketch")
    val (p50, p95) = SketchRollup.unionQuantiles(legacy, Seq(0.5, 0.95))
      .as[(Double, Double)].head()
    val sorted = events.select("value").as[Double].collect().sorted
    assertWithinRankError(p50, sorted, 0.5, "legacy")
    assertWithinRankError(p95, sorted, 0.95, "legacy")
  }

  test("subset rollup: filtering sketch rows answers a cohort query without raw data") {
    val sk = SketchRollup.sketchBy(events, "event_type", "user_id").cache()
    val types = sk.select("event_type").as[String].collect().sorted.take(2)
    val subset = SketchRollup.unionEstimate(
      sk.filter(col("event_type").isin(types: _*))).as[Long].head()
    val exact = events.filter(col("event_type").isin(types: _*))
      .select(countDistinct("user_id")).as[Long].head()
    assert(math.abs(subset - exact) <= math.max(3, (exact * 0.05).toLong),
      s"subset estimate $subset vs exact $exact drifted past 5%")
    sk.unpersist()
  }
}
