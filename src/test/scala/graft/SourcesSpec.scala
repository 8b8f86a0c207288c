package graft

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond the driver's parquet: CSV and JSON
  * round-trips (schema-explicit, the 100 TB-safe mode — inference scans
  * data twice), partitioned parquet writes with partition pruning, and a
  * bucketed co-located join that plans without a shuffle exchange on the
  * join keys.
  */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("csv and json round-trip with explicit schemas") {
    val df = Tables.nation(spark, "/root/testdata/sf0.001")
    val csvDir = tempDir("graft-csv")
    val jsonDir = tempDir("graft-json")
    df.write.mode("overwrite").option("header", "true").csv(csvDir)
    df.write.mode("overwrite").json(jsonDir)
    val csvBack = spark.read.schema(df.schema).option("header", "true").csv(csvDir)
    val jsonBack = spark.read.schema(df.schema).json(jsonDir)
    assert(csvBack.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
    assert(jsonBack.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tempDir("graft-part")
    Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-scan Filter
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"),
      s"expected partition pruning in plan:\n$plan")
    assert(pruned.count() ==
      Tables.orders(spark, "/root/testdata/sf0.001")
        .filter(year(col("o_orderdate")) === 1996).count())
  }

  test("schema evolution: mergeSchema unifies batches written with added columns") {
    // the 100 TB reality: a table written over months gains columns; old
    // files must keep reading with nulls, new columns must surface
    val dir = tempDir("graft-evolve")
    Seq((1L, "a")).toDF("id", "v1")
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    Seq((2L, "b", 99L)).toDF("id", "v1", "v2")
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "batch"))
    val rows = merged.select("id", "v1", "v2")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", Some(99L))),
      "old files read with null for the added column, new files carry it")
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, "/root/testdata/sf0.001")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")
    // force a sort-merge plan so the bucketing (not a broadcast) carries it
    val joined = spark.table("li_b").hint("merge")
      .join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // the aggregation may shuffle on o_orderpriority; the JOIN keys must not
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle either side on the join key:\n$plan")
    val expected = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .join(Tables.orders(spark, "/root/testdata/sf0.001"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(joined.orderBy("o_orderpriority").collect().toSeq ==
      expected.orderBy("o_orderpriority").collect().toSeq)
  }
}
