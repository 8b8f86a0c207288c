package graft.queries

import graft.Tables
import graft.operators.{BloomPrune, Percentiles}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage: aggregations, joins (broadcast / semi /
  * anti / outer), window functions, rollup/cube/grouping sets, set ops,
  * sorts/top-k, scalar & date functions — the standard categories
  * SURVEY.md §2.3 maps out.
  *
  * Every query but the two approximate sketches is registered with a
  * DuckDB oracle with matching column names and deterministic output:
  *  - double aggregates are `round`ed on BOTH sides so float
  *    summation-order differences between engines cannot flip a hash;
  *  - every ORDER BY ends in a unique key so ties cannot reorder rows;
  *  - engine-specific integer widths (Spark INT vs DuckDB BIGINT for
  *    rank/length/year...) are normalized to BIGINT on both sides.
  *
  * Scale notes are per-query; the common theme: dimension tables
  * (region/nation/supplier/customer/part) are broadcast so the only
  * shuffles left are the aggregations on the fact table, which all do
  * map-side partial aggregation.
  */
object Relational {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** TPC-H Q1-style scan→filter→hash-aggregate; 4-row key space so the
    * shuffle after map-side partial agg is negligible at any scale.
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Skew-resistant salted aggregation registered as a first-class query:
    * [[graft.operators.SkewAgg.saltedSumCount]] splits each group key
    * into 16 content-salted sub-keys, partially aggregates, then combines
    * — the plan a 100 TB job needs when one hot key would stall the
    * post-partial reducer (collect-heavy or high-cardinality-input aggs,
    * where map-side combine can't shrink the hot key). The oracle is the
    * PLAIN single-phase GROUP BY: for decomposable aggregates the salted
    * two-phase result is exactly equal, and quantities are integer-valued
    * so the BIGINT sums are order-independent.
    */
  def qSkewAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.SkewAgg.saltedSumCount(
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
          col("l_orderkey")),
      "l_returnflag", "qty", "l_orderkey", buckets = 16)
      .orderBy(col("l_returnflag"))

  /** Fuzzy (edit-distance) self-join over customer names at maxDist 1 —
    * the entity-resolution primitive ([[graft.operators.FuzzyJoin]]):
    * FastSS deletion-neighborhood signature candidates (round 6 — q-gram
    * prefix postings degenerate on these zero-padded names) + exact
    * codegen levenshtein verify. The oracle is the all-pairs levenshtein
    * (feasible at the sf0.01 gate); the registered plan never goes
    * all-pairs.
    */
  def qFuzzyJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.selfJoin(
      Tables.customer(s, dir), "c_custkey", "c_name", maxDist = 1)

  /** Salted skewed join as a first-class query: lineitem (probe, salted
    * 16 ways on its unique line id) joins orders (build, replicated per
    * salt) on the order key, then aggregates — checked exactly equal to
    * the plain-join oracle. See [[graft.operators.SkewJoin]] for when
    * this beats AQE's runtime skew splitting.
    */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"),
        col("l_quantity").cast("long").as("qty"), col("l_linenumber"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedInnerJoin(li, ord, "okey", "l_linenumber")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Ranking-distribution window functions (ntile / percent_rank /
    * cume_dist) per brand in (retailprice desc, partkey) order — the
    * tie-broken ordering plus exact small-integer divisions make the
    * doubles bit-identical cross-engine (rounded anyway for safety).
    */
  def qWindowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, dir)
      .select(col("p_brand"), col("p_partkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("p_brand"), col("p_partkey"))
  }

  /** TPC-H Q3-style join + top-k. Customer is filtered then broadcast;
    * orders↔lineitem is the one real shuffle join (AQE may still convert
    * it when the filtered side is small). Top-k orders by ROUNDED revenue
    * with a key tiebreak so both engines pick identical rows.
    */
  def q3TopkJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir).filter(col("o_orderdate") < ts("1998-01-01"))
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > ts("1997-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style 6-table join: all five dimension sides broadcast, so
    * the plan is a single pass over lineitem with broadcast hash joins —
    * no fact-table shuffle before the final tiny aggregation.
    */
  def q5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1997-01-01"))
    val asia = broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA"))
    val nat = broadcast(Tables.nation(s, dir)
      .join(asia, col("n_regionkey") === col("r_regionkey")))
    Tables.lineitem(s, dir)
      .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q4-style EXISTS → left-semi join with a non-equi conjunct. */
  def q4SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts("1996-07-01") &&
        col("o_orderdate") < ts("1996-10-01"))
    ord.join(Tables.lineitem(s, dir),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bloom-pruned semi join ([[graft.operators.BloomPrune]]): the fact
    * scan is pre-filtered by `might_contain(xxhash64(l_orderkey))` against
    * a one-job bloom sketch of the urgent orders' keys — Spark's own
    * runtime-filter expression pair, stated explicitly as an operator —
    * then the exact left-semi join removes false positives. Bit-identical
    * to the plain semi join (the oracle), but the fact side's shuffle
    * reads only `selectivity + fpp` of the table: at 100 TB the bloom is
    * the difference between shuffling the full fact table and shuffling
    * the ~20% that can match. `BloomPruneSpec` pins the codegen probe and
    * the false-positive kill.
    */
  def qBloomPrune(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    BloomPrune.semiJoin(Tables.lineitem(s, dir), urgent,
        "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** SCD2 (slowly-changing-dimension type 2) interval construction: each
    * order is a new version of its customer's state; `valid_from` is the
    * order date and `valid_to` the NEXT version's start (`lead` over the
    * per-customer event sequence; NULL = current). One window shuffle on
    * the dimension key — the warehouse-standard snapshot builder, linear
    * at any scale, deterministic via the (date, orderkey) tie-break.
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey").as("version_key"),
        col("o_totalprice"), col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"),
        (lead(col("o_orderdate"), 1).over(w).isNull).as("is_current"))
      .orderBy(col("o_custkey"), col("version_key"))
  }

  /** Grouped top-k WITHOUT a window sort: each customer's 3 highest-value
    * orders via the native bounded-heap aggregate
    * ([[graft.functions.TopKByScore]], the ANN scan's partial top-k) on
    * relational data. `row_number() ≤ k` sorts every row of every group;
    * the aggregate shuffles at most k rows per group per map task — the
    * difference between sorting 100 TB of history and shuffling 3 rows
    * per customer. The oracle IS the window formulation, so the query
    * pins the two plans equal row-for-row (ties: price desc, orderkey).
    */
  def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScore
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(TopKByScore.topkBy(col("o_totalprice"), col("o_orderkey"), 3).as("_top"))
      .select(col("o_custkey"), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(col("o_custkey"), (col("_pos") + 1).cast("long").as("rk"),
        col("_e.id").as("o_orderkey"), col("_e.score").as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Per-group EXACT median absolute deviation — the robust outlier
    * scale estimate (|x − median| is immune to the extreme values that
    * inflate 3σ variance): median and MAD are both value-at-rank ⌈n/2⌉
    * order statistics (low median, actual data values, nothing to round
    * — quantities are integer-valued so the deviations are exact
    * doubles). Both stages resolve through
    * [[graft.operators.Percentiles.ranksCore]]'s bounded-memory rank
    * kernel; stage 2 derives its stats from stage 1, so the whole query
    * is three light aggregation scans and zero group sorts.
    */
  def qMad(s: SparkSession, dir: String): DataFrame = {
    // two-stage exact low-median order statistics WITHOUT per-group sort
    // windows (round-9 scan fusion — the row_number formulation sorted
    // each group inside one task, twice): stage 1 resolves each group's
    // median through the bounded-memory rank kernel; stage 2 reuses
    // stage 1's stats — the deviation count is unchanged and
    // [0, max(mx−med, med−mn)] brackets |v − med| exactly — so its
    // stats scan is FREE, and the deviations reach the scan as one
    // codegen'd CASE projection instead of a broadcast-join column.
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_quantity"))
    val med = Percentiles.ranksCore(li, "l_returnflag", "l_quantity",
      n => Seq("m" -> (n + 1) / 2))
    val medExpr = med.foldLeft(lit(null).cast("double")) { case (acc, g) =>
      when(col("l_returnflag") === lit(g.group), lit(g.values("m"))).otherwise(acc)
    }
    val dev = li.withColumn("_dev", abs(col("l_quantity") - medExpr))
    val devStats = med.map { g =>
      val m = g.values("m")
      Percentiles.GroupStats(g.group, g.n, 0.0,
        math.max(g.mx - m, m - g.mn), 0L)
    }
    val mad = Percentiles.ranksCoreGivenStats(dev, "l_returnflag", "_dev",
        devStats, n => Seq("mad" -> (n + 1) / 2))
      .map(g => g.group -> g.values("mad")).toMap
    val rows = med.map { g =>
      org.apache.spark.sql.Row(g.group, g.n, g.values("m"), mad(g.group))
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("l_returnflag", li.schema("l_returnflag").dataType)
      .add("n", "long").add("median_qty", "double").add("mad_qty", "double")
    s.createDataFrame(s.sparkContext.parallelize(rows.toList, 1), schema)
      .orderBy(col("l_returnflag"))
  }

  /** NOT EXISTS → left-anti join: customers with no orders in 1996 H1
    * (the window keeps the result set non-trivial at every scale).
    */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1996-07-01"))
    Tables.customer(s, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-outer join keeping parts with zero lineitems. The aggregation is
    * pushed below the join (aggregate-then-join), so the join carries one
    * row per part key instead of one per lineitem.
    */
  def qOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val liAgg = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    Tables.part(s, dir)
      .join(liAgg, col("p_partkey") === col("l_partkey"), "left")
      .select(col("p_partkey"), coalesce(col("cnt"), lit(0L)).as("n_li"))
      .orderBy(col("p_partkey"))
  }

  /** Ranking window: top-3 parts by retail price within each brand. */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, dir)
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rnk"))
      .orderBy(col("p_brand"), col("rnk"), col("p_partkey"))
  }

  /** Analytic window with a running frame: cumulative revenue per supplier
    * in (shipdate, orderkey, linenumber) order — the frame ordering is a
    * total order, so double accumulation order is identical cross-engine.
    */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .filter(col("l_suppkey") <= 10)
      .withColumn("running_rev", round(sum(col("l_extendedprice")).over(w), 2))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("running_rev"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** lag()-based gap sessionization over the events stream table (30-min
    * inactivity gap), microsecond-exact via unix_micros on both engines.
    */
  def qEventsSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > lit(1800000000L), 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Ordered-step funnel over the events stream (view → click →
    * purchase) — see [[graft.operators.Funnel]] for the one-shuffle
    * chained-window shape and the integer-µs exactness contract.
    */
  def qFunnelSteps(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.conversion(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type",
      Seq("view", "click", "purchase"))

  /** Session-scoped first/last-touch conversion attribution over the
    * events stream — see [[graft.operators.Funnel.attribution]] for the
    * one-user-shuffle window shape and the `(none)` channel contract.
    */
  def qFunnelAttrib(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.attribution(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type",
      Seq("view", "click"), "purchase")

  /** Finite-window EWMA + spike flags over the events stream, one series
    * per event type — see [[graft.operators.TimeSeries]] for the numeric
    * contract that lets unrounded doubles carry a full hash oracle.
    */
  def qTsEwma(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.ewmaAnomaly(Tables.events(s, dir),
      "event_type", "ts", "event_id", "value")
      .orderBy(col("event_type"), col("event_id"))

  /** Gaps-and-islands over each user's event sequence: maximal streaks
    * of the same event type ([[graft.operators.TimeSeries.islands]]) —
    * value-change grouping, complementing time-gap sessionization.
    */
  def qGapIslands(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.islands(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type")
      .orderBy(col("user_id"), col("start_id"))

  /** Sweep-line peak concurrency: each event opens a 30-minute activity
    * interval; the answer is the per-type maximum number of
    * simultaneously-open intervals and when it is first reached — see
    * [[graft.operators.TimeSeries.peakConcurrency]] for the tie
    * discipline that keeps the hash oracle exact.
    */
  def qPeakConcurrency(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.peakConcurrency(Tables.events(s, dir),
      "event_type", unix_micros(col("ts")),
      unix_micros(col("ts")) + lit(1800000000L))
      .orderBy(col("event_type"))

  /** ROLLUP hierarchy totals; NULL group markers normalized via coalesce so
    * null-ordering differences between engines cannot matter.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_price"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** CUBE over two order dimensions. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n"), col("sum_total"))
      .orderBy(col("orderstatus"), col("orderpriority"))

  /** GROUPING SETS via the Dataset API (Spark 4 groupingSets). */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n"))
      .orderBy(col("orderstatus"), col("orderpriority"))

  /** Multiple exact distinct aggregates in one pass. */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Statistical aggregates (stddev/variance population+sample, min/max). */
  def qStatsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        round(var_samp(col("l_extendedprice")), 0).as("var_price"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"))
      .orderBy(col("l_returnflag"))

  /** Exact interpolated percentiles (PERCENTILE_CONT family) + median via
    * [[graft.operators.Percentiles.exact]] — iterative range refinement
    * with bounded executor AND driver memory, unlike Spark's built-in
    * exact `percentile` aggregate (unbounded per-group value→count map —
    * an OOM risk on 100 TB of high-cardinality doubles; the built-in
    * stays pinned equal in `PercentilesSpec` as the semantics oracle).
    * The interpolation arithmetic (`vk + (vk1 − vk)·frac`) is written
    * identically in the DuckDB oracle SQL and the result is emitted
    * UNROUNDED: both sides pick the same parquet doubles at ranks
    * k/k+1 and apply the same IEEE op sequence, so the outputs are
    * bit-identical — whereas `round(·, 2)` is NOT portable here (cent
    * data interpolated at frac = 1/2 lands structurally on .xx5
    * half-cent boundaries, where Spark's BigDecimal HALF_UP and
    * DuckDB's double rounding disagree — observed at sf0.001), and
    * `quantile_cont`'s internal lerp differs in the last ulp besides.
    */
  def qPercentile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // one FUSED call (round-9 scan fusion): price and quantity ranks
    // share the stats scan, every histogram pass, and the resolve scan —
    // 3 scans total where the round-8 pair of calls paid 6
    Percentiles.exactMulti(li, "l_returnflag", Seq(
        "l_extendedprice" -> Seq(0.5 -> "p50_price", 0.9 -> "p90_price",
          0.99 -> "p99_price"),
        "l_quantity" -> Seq(0.5 -> "med_qty")))
      .select(col("l_returnflag"), col("p50_price"), col("p90_price"),
        col("p99_price"), col("med_qty"))
      .orderBy(col("l_returnflag"))
  }

  private def custIn(s: SparkSession, dir: String, y0: String, y1: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts(y0) && col("o_orderdate") < ts(y1))
      .select(col("o_custkey").as("custkey"))

  /** INTERSECT (set semantics): customers active in both 1996 and 1997. */
  def qIntersect(s: SparkSession, dir: String): DataFrame =
    custIn(s, dir, "1996-01-01", "1997-01-01")
      .intersect(custIn(s, dir, "1997-01-01", "1998-01-01"))
      .orderBy(col("custkey"))

  /** EXCEPT (set semantics): active in 1996 but not 1997. */
  def qExcept(s: SparkSession, dir: String): DataFrame =
    custIn(s, dir, "1996-01-01", "1997-01-01")
      .except(custIn(s, dir, "1997-01-01", "1998-01-01"))
      .orderBy(col("custkey"))

  /** UNION ALL + distinct-union composition. */
  def qUnion(s: SparkSession, dir: String): DataFrame =
    custIn(s, dir, "1996-01-01", "1996-07-01")
      .union(custIn(s, dir, "1996-07-01", "1997-01-01"))
      .distinct()
      .orderBy(col("custkey"))

  /** Scalar-function projection playground (string/math/conditional). */
  def qScalarFn(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws(":", col("p_brand"), col("p_type")).as("brand_type"),
        abs(col("p_size") - lit(25)).cast("long").as("size_dev"),
        (col("p_size") % 7).cast("long").as("size_mod"),
        round(col("p_retailprice") * 1.1, 2).as("price_up"),
        when(col("p_size") < 10, "small")
          .when(col("p_size") < 30, "medium")
          .otherwise("large").as("size_class"))
      .orderBy(col("p_partkey"))

  /** Date/time functions (year/month/trunc/datediff on midnight-aligned
    * timestamps so day-difference semantics agree cross-engine).
    */
  def qDateFn(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2000-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2000"))
      .orderBy(col("o_orderkey"))

  /** RANGE-frame window: peer-inclusive value-based frames (a sliding
    * balance band per market segment) — the frame kind `rangeBetween`
    * with non-integral offsets only reaches via SQL window syntax, which
    * both engines share verbatim.
    */
  def qWindowRangeFrame(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .selectExpr("c_custkey", "c_mktsegment", "c_acctbal",
        """round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
          |RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW), 2) AS band_sum""".stripMargin,
        """cast(count(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
          |RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING) AS BIGINT) AS band_n""".stripMargin)
      .orderBy(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))

  /** Window value functions (first/last/nth) over an explicit full frame
    * — the default frame stops at CURRENT ROW, which makes `last_value`
    * a no-op and is the classic cross-engine divergence trap, so the
    * frame is spelled out.
    */
  def qFirstLast(s: SparkSession, dir: String): DataFrame = {
    val frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    val w = s"PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey $frame"
    Tables.customer(s, dir)
      .selectExpr("c_custkey", "c_mktsegment", "c_acctbal",
        s"first_value(c_custkey) OVER ($w) AS poorest",
        s"last_value(c_custkey) OVER ($w) AS richest",
        s"nth_value(c_custkey, 3) OVER ($w) AS third")
      .orderBy(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
  }

  /** Regex functions: extract / replace-all / match test. DuckDB's
    * `regexp_replace` replaces only the FIRST match unless passed the 'g'
    * option — the oracle says so explicitly to stay in lockstep with
    * Spark's replace-all semantics.
    */
  def qRegexFn(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        col("p_name").rlike("widget$").as("is_widget"))
      .orderBy(col("p_partkey"))

  /** NULL-handling scalars: nullif/coalesce/greatest/least and a
    * null-aware comparison.
    */
  def qNullFn(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        round(coalesce(nullif(col("c_acctbal"), lit(0.0)), lit(-1.0)), 2)
          .as("bal_or_sentinel"),
        round(greatest(col("c_acctbal"), lit(0.0)), 2).as("bal_floor0"),
        round(least(col("c_acctbal"), lit(1000.0)), 2).as("bal_cap1k"),
        col("c_acctbal").isNull.as("bal_missing"))
      .orderBy(col("c_custkey"))

  /** Lateral explode: one output row per word of `p_name` (the
    * UNNEST/LATERAL VIEW shape — Spark `explode` generator, DuckDB
    * `unnest`).
    */
  def qExplode(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("word"))
      .orderBy(col("p_partkey"), col("word"))

  /** Map functions: literal construction, key lookup, cardinality, key
    * listing — emitted as flattened scalars because a raw map column's
    * serialized form is not comparable across engines.
    */
  def qMapFn(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"),
        map(lit("brand"), col("p_brand"), lit("type"), col("p_type")).as("_m"))
      .select(
        col("p_partkey"),
        element_at(col("_m"), "brand").as("brand_val"),
        size(col("_m")).cast("long").as("m_size"),
        array_join(map_keys(col("_m")), ",").as("m_keys"))
      .orderBy(col("p_partkey"))

  /** Math functions restricted to the BIT-PORTABLE set: sqrt is
    * IEEE-754 correctly rounded (identical bits on every conforming
    * engine, unlike libm's exp/ln/pow), x·x is one exact multiply, and
    * floor/ceil/sign are integral. No rounding needed anywhere.
    */
  def qMathFn(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .select(
        col("s_suppkey"),
        sqrt(abs(col("s_acctbal"))).as("sqrt_bal"),
        floor(col("s_acctbal")).cast("long").as("floor_bal"),
        ceil(col("s_acctbal")).cast("long").as("ceil_bal"),
        signum(col("s_acctbal")).cast("long").as("sign_bal"),
        (col("s_acctbal") * col("s_acctbal")).as("sq_bal"))
      .orderBy(col("s_suppkey"))

  /** Conditional aggregates: filtered counts/sums and boolean
    * aggregation, expressed as portable CASE forms (count_if / FILTER
    * clauses lower to exactly these).
    */
  def qCondAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(when(col("o_totalprice") > 150000.0, 1)).as("n_big"),
        round(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(0.0)), 2).as("filled_total"),
        bool_and(col("o_totalprice") > 0.0).as("all_positive"),
        bool_or(col("o_orderstatus") === "P").as("any_pending"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** Tumbling event-time window aggregation (batch form of the streaming
    * `window()` group — 1-day windows are epoch-aligned, so the oracle is
    * a date_trunc).
    */
  def qWindowTumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding (hopping) event-time windows: 2-hour windows every 30
    * minutes — each event lands in exactly 4 windows; the oracle explodes
    * the 4 epoch-aligned starts per event (start = ⌊ts/slide⌋·slide −
    * j·slide always contains ts for j < window/slide, so no containment
    * filter is needed).
    */
  def qWindowSliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** Correlated EXISTS (SQL surface — the semi join's declarative form). */
  def qExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, c_name FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Gap-based session windows via the native session_window function
    * (30-minute inactivity gap, same sessionization the streaming path
    * uses); oracle reconstructs sessions with a lag + running-sum.
    */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** Sketch aggregates (HyperLogLog++); no SQL oracle — DuckDB's sketch
    * differs — so the driver records a rows-only check, and the exact
    * q_distinct_agg covers correctness of the distinct domain.
    */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"))
      .orderBy(col("l_returnflag"))

  /** Sketch percentiles (`percentile_approx`, GK-style): the single-pass
    * percentile that scales to 100 TB — the bounded-memory exact
    * [[graft.operators.Percentiles]] costs 3–4 scans, the sketch one.
    * Engine-specific sketch ⇒ rows-only driver check; the hard accuracy
    * gate vs the exact per-group percentiles lives in
    * `DriverContractSpec` (same pattern as `q_approx_distinct`).
    */
  def qApproxPercentile(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("p95"))
      .orderBy(col("l_returnflag"))

  /** Column profiling — the stats-collection pass every pipeline runs
    * before planning (pruning bounds, join-size estimates, partition
    * sizing): per column min/max/null count/exact NDV in ONE scan via
    * conditional aggregates (NDV is the only shuffle-bearing term; the
    * rest map-side combine). Exact NDV here because the profile IS the
    * oracle surface; at 100 TB swap count(DISTINCT) for
    * approx_count_distinct and keep the plan shape.
    */
  def qTableProfile(s: SparkSession, dir: String): DataFrame = {
    def prof(c: String) = Seq(
      min(col(c)).cast("long").as(s"${c}_min"),
      max(col(c)).cast("long").as(s"${c}_max"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_ndv"))
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_linenumber")
      .flatMap(prof)
    Tables.lineitem(s, dir).agg(cols.head, cols.tail: _*)
  }

  /** JSON scalar functions over the events.props JSON column. */
  def qJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("first_event"))
      .orderBy(col("k"))

  /** Correlated scalar subquery (SQL surface): parts priced well above
    * their brand's average.
    */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part_v")
    s.sql(
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM part_v p
        |WHERE p_retailprice > (SELECT avg(p2.p_retailprice) + 50
        |                       FROM part_v p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin)
  }

  /** Pivot: event counts per user pivoted to one column per event type
    * (explicit value list — at scale an implicit pivot scans twice to
    * discover values).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Unpivot (melt): wide per-part numeric columns back to long form. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "measure", "value")
      .orderBy(col("p_partkey"), col("measure"))

  /** Fixed-width histogram over a measure (exact integer binning on both
    * engines — no data-dependent bounds discovery).
    */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("bin_min"),
        round(max(col("l_extendedprice")), 2).as("bin_max"))
      .orderBy(col("bin"))

  /** Bivariate statistics: correlation and covariance per group. */
  def qCorr(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"))
      .orderBy(col("l_returnflag"))

  /** Analytic window functions beyond rank: ntile, lag/lead, percent_rank,
    * cume_dist — all exact rationals/integers, so cross-engine safe.
    */
  def qWindowAnalytics(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("c_custkey"), 1).over(w).as("prev_cust"),
        lead(col("c_custkey"), 1).over(w).as("next_cust"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
  }

  /** Array/collection functions over the embedding column. */
  def qArrayFn(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
        round(array_max(transform(col("embedding"), x => x.cast("double"))), 6)
          .as("max_val"),
        round(array_min(transform(col("embedding"), x => x.cast("double"))), 6)
          .as("min_val"),
        size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"))
      .orderBy(col("vec_id"))

  /** Ordered string aggregation (listagg equivalent, sorted for
    * determinism).
    */
  def qStringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .groupBy(col("n_regionkey").cast("long").as("regionkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("regionkey"))

  /** Column-level lineage of [[q3TopkJoin]] as a governance artifact
    * ([[graft.plans.Lineage.report]]): one row per (output column, source
    * table, source column). The traced query is fixed, so its lineage is
    * a deterministic schema-sized relation and the oracle pins it as a
    * golden VALUES table — the same driver-checkable bar as data queries.
    * Driver-side plan walk; identical output at any data scale.
    */
  def qLineageReport(s: SparkSession, dir: String): DataFrame =
    graft.plans.Lineage.report(q3TopkJoin(s, dir))
      .orderBy(col("output_col"), col("source_table"), col("source_col"))

  val registry: Seq[Q] = Seq(
    Q("q_lineage_report", qLineageReport, Oracle(
      """SELECT * FROM (VALUES
        |  ('o_orderdate', 'orders', 'o_orderdate'),
        |  ('o_orderkey', 'orders', 'o_orderkey'),
        |  ('o_orderpriority', 'orders', 'o_orderpriority'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice')
        |) AS t(output_col, source_table, source_col)
        |ORDER BY output_col, source_table, source_col""".stripMargin)),
    Q("q_window_range", qWindowRangeFrame, Oracle(
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
        |    RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW), 2) AS band_sum,
        |  CAST(count(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
        |    RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING) AS BIGINT) AS band_n
        |FROM customer ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin)),
    Q("q_first_last", qFirstLast, Oracle(
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  first_value(c_custkey) OVER w AS poorest,
        |  last_value(c_custkey) OVER w AS richest,
        |  nth_value(c_custkey, 3) OVER w AS third
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin)),
    // 'g' option: DuckDB regexp_replace is first-match-only by default,
    // Spark's is replace-all
    Q("q_regex_fn", qRegexFn, Oracle(
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  regexp_matches(p_name, 'widget$') AS is_widget
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Q("q_null_fn", qNullFn, Oracle(
      """SELECT c_custkey,
        |  round(coalesce(nullif(c_acctbal, 0.0), -1.0), 2) AS bal_or_sentinel,
        |  round(greatest(c_acctbal, 0.0), 2) AS bal_floor0,
        |  round(least(c_acctbal, 1000.0), 2) AS bal_cap1k,
        |  c_acctbal IS NULL AS bal_missing
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Q("q_explode", qExplode, Oracle(
      """SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
        |FROM part ORDER BY p_partkey, word""".stripMargin)),
    // each event belongs to window/slide = 4 hops; start alignment is
    // epoch µs (events.ts nanos truncate to µs on both sides)
    Q("q_window_sliding", qWindowSliding, Oracle(
      """WITH x AS (
        |  SELECT event_type,
        |    make_timestamp(((epoch_us(ts) // 1800000000) - j.j) * 1800000000)
        |      AS window_start
        |  FROM events CROSS JOIN (SELECT unnest(range(4)) AS j) j)
        |SELECT window_start, event_type, count(*) AS n
        |FROM x GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin)),
    Q("q_exists_subquery", qExistsSubquery, Oracle(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)),
    // DuckDB map subscript returns a LIST — [1] unwraps to the scalar
    Q("q_map_fn", qMapFn, Oracle(
      """SELECT p_partkey,
        |  m['brand'][1] AS brand_val,
        |  CAST(cardinality(m) AS BIGINT) AS m_size,
        |  array_to_string(map_keys(m), ',') AS m_keys
        |FROM (SELECT p_partkey, MAP {'brand': p_brand, 'type': p_type} AS m FROM part)
        |ORDER BY p_partkey""".stripMargin)),
    // sqrt is IEEE correctly rounded and x*x one exact multiply: raw
    // doubles compare bit-for-bit, no rounding required
    Q("q_math_fn", qMathFn, Oracle(
      """SELECT s_suppkey,
        |  sqrt(abs(s_acctbal)) AS sqrt_bal,
        |  CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
        |  CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
        |  CAST(sign(s_acctbal) AS BIGINT) AS sign_bal,
        |  s_acctbal * s_acctbal AS sq_bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin)),
    Q("q_cond_agg", qCondAgg, Oracle(
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_totalprice > 150000.0 THEN 1 END) AS n_big,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END), 2)
        |    AS filled_total,
        |  bool_and(o_totalprice > 0.0) AS all_positive,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // manual type-7 interpolation, NOT quantile_cont, and NO rounding:
    // vk + (vk1 - vk) * f with f = CAST(n-1 AS DOUBLE)*p - floor(...) is
    // the exact IEEE op order the Spark side uses, so the doubles match
    // bit-for-bit. All p literals are written `0.5e0`-style: a bare 0.5
    // parses as DECIMAL in DuckDB and silently changes the arithmetic.
    Q("q_percentile", qPercentile, Oracle(
      """WITH sp AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |sq AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - 1 AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |pp AS (
        |  SELECT g,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.5e0) AS BIGINT) THEN v END) AS lo50,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.5e0) AS BIGINT) + 1 THEN v END) AS hi50,
        |    max(CAST(n-1 AS DOUBLE) * 0.5e0 - floor(CAST(n-1 AS DOUBLE) * 0.5e0)) AS f50,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.9e0) AS BIGINT) THEN v END) AS lo90,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.9e0) AS BIGINT) + 1 THEN v END) AS hi90,
        |    max(CAST(n-1 AS DOUBLE) * 0.9e0 - floor(CAST(n-1 AS DOUBLE) * 0.9e0)) AS f90,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.99e0) AS BIGINT) THEN v END) AS lo99,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.99e0) AS BIGINT) + 1 THEN v END) AS hi99,
        |    max(CAST(n-1 AS DOUBLE) * 0.99e0 - floor(CAST(n-1 AS DOUBLE) * 0.99e0)) AS f99
        |  FROM sp GROUP BY g),
        |pq AS (
        |  SELECT g,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.5e0) AS BIGINT) THEN v END) AS loq,
        |    max(CASE WHEN rn = CAST(floor(CAST(n-1 AS DOUBLE) * 0.5e0) AS BIGINT) + 1 THEN v END) AS hiq,
        |    max(CAST(n-1 AS DOUBLE) * 0.5e0 - floor(CAST(n-1 AS DOUBLE) * 0.5e0)) AS fq
        |  FROM sq GROUP BY g)
        |SELECT pp.g AS l_returnflag,
        |  CASE WHEN f50 = 0 THEN lo50 ELSE lo50 + (hi50 - lo50) * f50 END AS p50_price,
        |  CASE WHEN f90 = 0 THEN lo90 ELSE lo90 + (hi90 - lo90) * f90 END AS p90_price,
        |  CASE WHEN f99 = 0 THEN lo99 ELSE lo99 + (hi99 - lo99) * f99 END AS p99_price,
        |  CASE WHEN fq = 0 THEN loq ELSE loq + (hiq - loq) * fq END AS med_qty
        |FROM pp JOIN pq ON pp.g = pq.g ORDER BY l_returnflag""".stripMargin)),
    Q("q_window_analytics", qWindowAnalytics, Oracle(
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  lag(c_custkey, 1) OVER w AS prev_cust,
        |  lead(c_custkey, 1) OVER w AS next_cust,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin)),
    Q("q_array_fn", qArrayFn, Oracle(
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        |  round(list_max(CAST(embedding AS DOUBLE[])), 6) AS max_val,
        |  round(list_min(CAST(embedding AS DOUBLE[])), 6) AS min_val,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    Q("q_string_agg", qStringAgg, Oracle(
      """SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM nation GROUP BY 1 ORDER BY regionkey""".stripMargin)),
    Q("q_histogram", qHistogram, Oracle(
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  round(min(l_extendedprice), 2) AS bin_min,
        |  round(max(l_extendedprice), 2) AS bin_max
        |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)),
    Q("q_corr", qCorr, Oracle(
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Q("q_pivot", qPivot, Oracle(
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Q("q_unpivot", qUnpivot, Oracle(
      """SELECT p_partkey, measure, value FROM (
        |  SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS value FROM part
        |) t ORDER BY p_partkey, measure""".stripMargin)),
    Q("q_json", qJson, Oracle(
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n, min(event_id) AS first_event
        |FROM events GROUP BY 1 ORDER BY k NULLS FIRST""".stripMargin)),
    Q("q_scalar_subquery", qScalarSubquery, Oracle(
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM part p
        |WHERE p_retailprice > (SELECT avg(p2.p_retailprice) + 50
        |                       FROM part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin)),
    Q("q_window_tumbling", qWindowTumbling, Oracle(
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),
    Q("q_session_window", qSessionWindow, Oracle(
      """WITH g AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, event_id, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),
    Q("q1_agg", q1Agg, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Q("q_fuzzy_join", qFuzzyJoin, Oracle(
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a, customer b
        |WHERE a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |  AND len(a.c_name) >= 6 AND len(b.c_name) >= 6
        |ORDER BY id_a, id_b""".stripMargin)),
    Q("q_skew_join", qSkewJoin, Oracle(
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    Q("q_table_profile", qTableProfile, Oracle(
      """SELECT
        |  CAST(min(l_orderkey) AS BIGINT) AS l_orderkey_min,
        |  CAST(max(l_orderkey) AS BIGINT) AS l_orderkey_max,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_orderkey_nulls,
        |  count(DISTINCT l_orderkey) AS l_orderkey_ndv,
        |  CAST(min(l_partkey) AS BIGINT) AS l_partkey_min,
        |  CAST(max(l_partkey) AS BIGINT) AS l_partkey_max,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_partkey_nulls,
        |  count(DISTINCT l_partkey) AS l_partkey_ndv,
        |  CAST(min(l_quantity) AS BIGINT) AS l_quantity_min,
        |  CAST(max(l_quantity) AS BIGINT) AS l_quantity_max,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_nulls,
        |  count(DISTINCT l_quantity) AS l_quantity_ndv,
        |  CAST(min(l_linenumber) AS BIGINT) AS l_linenumber_min,
        |  CAST(max(l_linenumber) AS BIGINT) AS l_linenumber_max,
        |  CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_linenumber_nulls,
        |  count(DISTINCT l_linenumber) AS l_linenumber_ndv
        |FROM lineitem""".stripMargin)),
    Q("q_window_ntile", qWindowNtile, Oracle(
      """SELECT p_brand, p_partkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
        |ORDER BY p_brand, p_partkey""".stripMargin)),
    Q("q_skew_agg", qSkewAgg, Oracle(
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_value,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    Q("q3_topk_join", q3TopkJoin, Oracle(
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)),
    Q("q5_multi_join", q5MultiJoin, Oracle(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),
    Q("q4_semi_join", q4SemiJoin, Oracle(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    // the bloom pre-filter is exact-after-verification, so the oracle is
    // the plain IN-subquery semi join
    Q("q_bloom_prune", qBloomPrune, Oracle(
      """SELECT l_returnflag, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    // o_totalprice is a stored value (no arithmetic), so the doubles are
    // bit-identical on both engines; (date, orderkey) tie-break makes
    // lead() deterministic
    Q("q_scd2", qScd2, Oracle(
      """SELECT o_custkey, o_orderkey AS version_key, o_totalprice,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate, 1) OVER w AS valid_to,
        |  lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version_key""".stripMargin)),
    // the oracle is the window formulation the aggregate replaces;
    // o_totalprice is a stored double (no arithmetic) so ranks and
    // values hash identically
    Q("q_topk_per_group", qTopkPerGroup, Oracle(
      """SELECT o_custkey, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin)),
    // low-median order statistics at rank ceil(n/2) for both the median
    // and the deviations: actual stored values, no interpolation or
    // rounding anywhere
    Q("q_mad", qMad, Oracle(
      """WITH v AS (SELECT l_returnflag, l_quantity FROM lineitem),
        |m AS (SELECT l_returnflag, l_quantity AS median_qty FROM (
        |    SELECT l_returnflag, l_quantity,
        |      row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |      count(*) OVER (PARTITION BY l_returnflag) AS n
        |    FROM v) WHERE rn = (n + 1) // 2),
        |d AS (SELECT v.l_returnflag, m.median_qty,
        |        abs(v.l_quantity - m.median_qty) AS dev
        |      FROM v JOIN m USING (l_returnflag)),
        |r AS (SELECT l_returnflag, median_qty, dev,
        |        row_number() OVER (PARTITION BY l_returnflag ORDER BY dev) AS rn,
        |        count(*) OVER (PARTITION BY l_returnflag) AS n
        |      FROM d)
        |SELECT l_returnflag, n, median_qty, dev AS mad_qty
        |FROM r WHERE rn = (n + 1) // 2
        |ORDER BY l_returnflag""".stripMargin)),
    Q("q_anti_join", qAntiJoin, Oracle(
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |                    AND o_orderdate < TIMESTAMP '1996-07-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),
    Q("q_outer_join", qOuterJoin, Oracle(
      """SELECT p_partkey, coalesce(cnt, 0) AS n_li
        |FROM part
        |LEFT JOIN (SELECT l_partkey, count(*) AS cnt
        |           FROM lineitem GROUP BY l_partkey) li
        |  ON p_partkey = l_partkey
        |ORDER BY p_partkey""".stripMargin)),
    Q("q_window_rank", qWindowRank, Oracle(
      """SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(rank() OVER (PARTITION BY p_brand
        |                      ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rnk
        |  FROM part) t
        |WHERE rnk <= 3
        |ORDER BY p_brand, rnk, p_partkey""".stripMargin)),
    Q("q_window_running", qWindowRunning, Oracle(
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  round(sum(l_extendedprice) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev
        |FROM lineitem
        |WHERE l_suppkey <= 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),
    Q("q_events_sessions", qEventsSessions, Oracle(
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Q("q_funnel_steps", qFunnelSteps, Oracle(
      graft.operators.Funnel.conversionSql("events",
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase")))),
    Q("q_funnel_attrib", qFunnelAttrib, Oracle(
      graft.operators.Funnel.attributionSql("events",
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click"), "purchase"))),
    Q("q_gap_islands", qGapIslands, Oracle(
      """WITH g AS (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) AS grp
        |  FROM events)
        |SELECT user_id, event_type, count(*) AS island_len,
        |  min(event_id) AS start_id, max(event_id) AS end_id
        |FROM g GROUP BY user_id, event_type, grp
        |ORDER BY user_id, start_id""".stripMargin)),
    Q("q_peak_concurrency", qPeakConcurrency, Oracle(
      """WITH pts AS (
        |  SELECT event_type, epoch_us(ts) AS us, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, epoch_us(ts) + 1800000000, -1 FROM events),
        |sw AS (
        |  SELECT event_type, us,
        |    CAST(sum(delta) OVER (PARTITION BY event_type
        |      ORDER BY us, delta) AS BIGINT) AS run
        |  FROM pts),
        |pk AS (
        |  SELECT event_type, us, run,
        |    max(run) OVER (PARTITION BY event_type) AS peak
        |  FROM sw)
        |SELECT event_type, max(run) AS peak, min(us) AS peak_at_us
        |FROM pk WHERE run = peak
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Q("q_ts_ewma", qTsEwma, Oracle(
      graft.operators.TimeSeries.ewmaAnomalySql("events",
        "event_type", "ts", "event_id", "value") +
        "\nORDER BY event_type, event_id")),
    Q("q_rollup", qRollup, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),
    Q("q_cube", qCube, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |  count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY orderstatus, orderpriority""".stripMargin)),
    Q("q_grouping_sets", qGroupingSets, Oracle(
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY orderstatus, orderpriority""".stripMargin)),
    Q("q_distinct_agg", qDistinctAgg, Oracle(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Q("q_stats_agg", qStatsAgg, Oracle(
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  round(var_samp(l_extendedprice), 0) AS var_price,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Q("q_intersect", qIntersect, Oracle(
      """SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY custkey""".stripMargin)),
    Q("q_except", qExcept, Oracle(
      """SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY custkey""".stripMargin)),
    Q("q_union", qUnion, Oracle(
      """SELECT DISTINCT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  UNION ALL
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |) t ORDER BY custkey""".stripMargin)),
    Q("q_scalar_fn", qScalarFn, Oracle(
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  substring(p_name, 1, 8) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat_ws(':', p_brand, p_type) AS brand_type,
        |  CAST(abs(p_size - 25) AS BIGINT) AS size_dev,
        |  CAST(p_size % 7 AS BIGINT) AS size_mod,
        |  round(p_retailprice * 1.1, 2) AS price_up,
        |  CASE WHEN p_size < 10 THEN 'small'
        |       WHEN p_size < 30 THEN 'medium'
        |       ELSE 'large' END AS size_class
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Q("q_date_fn", qDateFn, Oracle(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_2000
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Q("q_approx_distinct", qApproxDistinct, RowsOnly("HyperLogLog++ estimator internals are " +
      "engine-specific (DuckDB's approx_count_distinct differs by " +
      "construction); error band hash-enforced via sketch_error_report")),
    Q("q_approx_percentile", qApproxPercentile, RowsOnly("Greenwald-Khanna sketch internals are " +
      "engine-specific; rank-guarantee band hash-enforced via " +
      "sketch_error_report"))
  )
}
