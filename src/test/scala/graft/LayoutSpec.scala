package graft

import graft.operators.{Dedup, Layout, TextAnalysis}
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("zOrderKey interleaves bits: known Morton values") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L), (7L, 7L))
      .toDF("x", "y")
    val got = rows.select(col("x"), col("y"),
      Layout.zOrderKey(col("x"), col("y"), 16).as("z"))
      .as[(Long, Long, Long)].collect()
      .map { case (x, y, z) => (x, y) -> z }.toMap
    // interleave(x=5=101, y=3=011): x bits at even positions 0,2,4; y at
    // odd 1,3,5 -> z = x0 + 2*y0 + 8*y1 + 16*x2 = 1 + 2 + 8 + 16 = 27
    assert(got((0L, 0L)) == 0L && got((1L, 0L)) == 1L && got((0L, 1L)) == 2L)
    assert(got((1L, 1L)) == 3L)
    assert(got((5L, 3L)) == 27L)
    assert(got((7L, 7L)) == 63L)
  }

  test("zOrderStats buckets are contiguous z-ranges with per-column min/max") {
    val rel = (0L until 64L).flatMap(x => (0L until 4L).map(y => (x, y)))
      .toDF("px", "py")
    val out = Layout.zOrderStats(rel, "px", "py", bits = 8, bucketShift = 4)
      .collect()
    assert(out.map(_.getLong(1)).sum == 256, "every row lands in a bucket")
    // buckets partition the z-range; x-ranges must be narrow (locality)
    out.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 16,
        s"bucket ${r.getLong(0)} x-range too wide for z-local data")
    }
  }

  test("hive-partitioned write prunes partitions at the scan (PartitionFilters, not post-filter)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-part")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/docs")
    val langs = docs.select("lang").distinct().count()
    assert(langs > 1, "fixture needs multiple partitions for pruning to mean anything")

    val one = spark.read.parquet(s"$dir/docs").filter(col("lang") === "en")
    val expected = docs.filter(col("lang") === "en").count()
    assert(one.count() == expected && expected > 0)

    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: inner.flatMap(flatten)
    }
    one.collect()
    val scans = flatten(one.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // the lang predicate must land in PartitionFilters — a directory-level
    // skip before any file is opened (the 100 TB shape: a partition-pruned
    // scan reads 1/N of the table, a post-scan filter reads all of it)
    assert(scans.exists(_.partitionFilters.exists(_.toString.contains("lang"))),
      s"lang filter not pushed to partition pruning:\n${scans.map(_.partitionFilters)}")
    // and exactly one of the lang partitions survives pruning
    assert(scans.map(_.relation.location.inputFiles.length).sum > 0)
    val prunedRows = scans.map(_.metrics.get("numPartitions").map(_.value).getOrElse(-1L))
    assert(prunedRows.exists(v => v == 1L || v == -1L),
      s"expected a single surviving hive partition, got $prunedRows")
  }

  test("containmentPairs finds a short doc quoted inside a long one") {
    val short_ = "alpha beta gamma delta epsilon zeta"
    val long_ = s"intro words here $short_ closing remark tail words appended now"
    val docs = Seq((1L, short_), (2L, long_), (3L, "totally different content entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.7)
      .as[(Long, Long, Double)].collect().toSeq
    // doc 1's shingles all appear in doc 2 -> containment 1.0 (1 in 2);
    // the reverse direction is far below tau; symmetric Jaccard here is
    // ~0.3 — the case this operator exists for
    assert(out.map(t => (t._1, t._2)) == Seq((1L, 2L)), s"got $out")
    assert(out.head._3 == 1.0)
  }

  test("bm25TopK ranks the term-stuffed doc first and is deterministic") {
    val docs = Seq(
      (1L, "apple banana cherry apple banana apple xx yy zz qq ww ee"),
      (2L, "apple banana unrelated words spread through longer text body here now"),
      (3L, "no relevant terms at all just filler tokens everywhere around"),
      (4L, "apple apple apple apple banana banana cherry cherry cherry apple"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text", 3, 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(out.head._1 == 4L, s"term-stuffed doc must rank first: $out")
    assert(out.map(_._3) == (1L to out.length).toSeq, "ranks are 1..n")
    val again = TextAnalysis.bm25TopK(docs.repartition(7), "doc_id", "text", 3, 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(out == again, "partitioning must not change scores or ranks")
  }
}
