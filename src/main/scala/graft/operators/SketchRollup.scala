package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable-sketch rollup — the pre-aggregation pattern that makes
  * distinct-count dashboards possible at 100 TB: sketch each fine-grained
  * group ONCE at ingest (one linear scan), persist the kilobyte-sized
  * sketches, and answer every later rollup (per-group, cross-group,
  * arbitrary group subsets) by MERGING sketches instead of rescanning
  * raw data. Exact distinct counts cannot roll up (distincts don't add);
  * HLL sketches do, which is why warehouse summary tables store sketch
  * BLOBs, not numbers.
  *
  * Built on Spark's own DataSketches aggregates: HLL
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`) and KLL
  * (`kll_sketch_agg_double` / `kll_merge_agg_double` /
  * `kll_sketch_get_quantile_double`), all map-side combined. The HLL
  * estimate error is the standard HLL bound (~1.6% at lgK=12);
  * `SketchRollupSpec` gates it against exact counts, the KLL estimates
  * against exact order statistics, and pins the roll-up identity (union
  * of per-group sketches ≈ direct sketch of the whole).
  */
object SketchRollup {

  /** One sketch row per group: (groupCol, sketch BINARY). The only scan
    * of the raw data — everything downstream works on sketch bytes.
    */
  def sketchBy(df: DataFrame, groupCol: String, keyCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("sketch"))

  /** Per-group distinct estimates from materialized sketches — no
    * raw-data access.
    */
  def estimates(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.select(col(groupCol),
      hll_sketch_estimate(col("sketch")).as("distinct_est"))
      .orderBy(col(groupCol))

  /** Roll all (or any filtered subset of) the per-group sketches up to
    * one distinct estimate — the query a dashboard issues, served from
    * kilobytes.
    */
  def unionEstimate(sketches: DataFrame): DataFrame =
    sketches.agg(hll_sketch_estimate(
      hll_union_agg(col("sketch"), lit(false))).as("distinct_est"))

  // ---- quantile leg (KLL) — same pattern, for percentiles -------------

  /** One KLL quantile sketch per group over a double column: (groupCol,
    * qsketch BINARY). Exact percentiles can't roll up (order statistics
    * don't add); KLL sketches merge with a proven rank-error bound, so
    * this one scan serves every later percentile rollup. Spark's
    * `kll_sketch_agg_double` at its default k = 200 (~1.65% normalized
    * rank error at 99% confidence).
    */
  def quantileSketchBy(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(kll_sketch_agg_double(col(valueCol)).as("qsketch"))

  /** Per-group quantile estimates from materialized sketches — no
    * raw-data access. One output column per requested rank, named
    * `p<100·rank>`.
    */
  def quantileEstimates(sketches: DataFrame, groupCol: String,
      ranks: Seq[Double]): DataFrame =
    sketches.select(col(groupCol) +: ranks.map(r =>
      kll_sketch_get_quantile_double(col("qsketch"), lit(r))
        .as(s"p${(r * 100).round}")): _*)
      .orderBy(col(groupCol))

  /** Merge per-group quantile sketches (or any filtered subset) into one
    * and read the requested ranks off it.
    */
  def unionQuantiles(sketches: DataFrame, ranks: Seq[Double]): DataFrame = {
    val merged = sketches.agg(kll_merge_agg_double(col("qsketch")).as("_m"))
    merged.select(ranks.map(r =>
      kll_sketch_get_quantile_double(col("_m"), lit(r))
        .as(s"p${(r * 100).round}")): _*)
  }
}
