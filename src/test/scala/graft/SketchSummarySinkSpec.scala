package graft

import java.sql.Timestamp

import graft.streaming.SketchSummarySink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SketchSummarySinkSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, user: Long, tpe: String) =
    Ev(id, Timestamp.valueOf("2024-01-01 10:00:00"), user, tpe, 1.0)

  private def est(path: String): Map[String, Long] =
    SketchSummarySink.summary(spark, path, "event_type")
      .as[(String, Long)].collect().toMap

  test("streamed summary equals the batch rollup over everything streamed") {
    implicit val sqlCtx = spark.sqlContext
    val path = tempDir("sketchsink") + "/s"
    val input = MemoryStream[Ev]
    val q = input.toDF().writeStream
      .foreachBatch(SketchSummarySink.appendPartials("event_type", "user_id", path))
      .start()
    try {
      val b1 = (0L until 40L).map(u => ev(u, u, if (u % 2 == 0) "click" else "view"))
      val b2 = (0L until 60L).map(u => ev(100 + u, u, "click")) // 20 new click users
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      // two generations of partials on disk (one per non-empty batch)
      val gens = spark.read.parquet(path).select("batch_id").distinct().count()
      assert(gens == 2, s"expected 2 partial generations, got $gens")
      // distinct users: click = 20 (b1 evens) + 40 odd newcomers in b2's
      // 0..59 range = 60; view = 20. Cardinalities this small sit in the
      // sketch's exact (sparse) regime, so estimates are exact.
      assert(est(path) == Map("click" -> 60L, "view" -> 20L))
      // and the streamed summary equals the batch rollup of the same rows
      val batchDirect = graft.operators.SketchRollup.estimates(
        graft.operators.SketchRollup.sketchBy((b1 ++ b2).toDF(),
          "event_type", "user_id"), "event_type")
        .as[(String, Long)].collect().toMap
      assert(est(path) == batchDirect)
    } finally q.stop()
  }

  test("compaction squashes generations without changing the summary") {
    implicit val sqlCtx = spark.sqlContext
    val path = tempDir("sketchsink") + "/s"
    val input = MemoryStream[Ev]
    val q = input.toDF().writeStream
      .foreachBatch(SketchSummarySink.appendPartials("event_type", "user_id", path))
      .start()
    try {
      (0 until 3).foreach { b =>
        input.addData((0L until 30L).map(u => ev(b * 100L + u, u + b * 10L, "click")))
        q.processAllAvailable()
      }
      val before = est(path)
      SketchSummarySink.compact(spark, path, "event_type")
      val gens = spark.read.parquet(path).select("batch_id").distinct().collect()
      assert(gens.map(_.getLong(0)).toSeq == Seq(-1L), "one compacted generation")
      assert(est(path) == before, "compaction must not change estimates")
      // the stream keeps appending on top of the compacted generation
      input.addData(Seq(ev(999, 9999L, "view")))
      q.processAllAvailable()
      assert(est(path) == before + ("view" -> 1L))
    } finally q.stop()
  }

  test("re-delivered batch ids are deduplicated, append stays idempotent") {
    val path = tempDir("sketchsink") + "/s"
    val rows = (0L until 25L).map(u => ev(u, u, "click"))
    val hook = SketchSummarySink.appendPartials("event_type", "user_id", path)
    hook(rows.toDF(), 7L)
    hook(rows.toDF(), 7L) // foreachBatch retry: same batch id delivered twice
    assert(spark.read.parquet(path).count() == 2, "both copies physically land")
    assert(est(path) == Map("click" -> 25L),
      "reader must drop the duplicate generation")
  }
}
