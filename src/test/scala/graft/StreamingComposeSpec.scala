package graft

import graft.model.ElectronicOrder
import graft.streaming.StreamingReorder
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Chained stateful operators in ONE streaming query: the reorder buffer
  * ([[StreamingReorder.faithfulV2]], which declares its output
  * event-time column, `event_time` = `flush_time`, via
  * `transformWithState`'s `eventTimeColumnName` overload) feeding a
  * tumbling-window aggregation downstream — the pipeline shape a real
  * deployment wants (reorder, then aggregate) without a topic/sink hop in
  * between. The v1 API rejects this chain (no way to re-derive the
  * downstream watermark); v2 makes it legal. Windows group by flush
  * time, the stream time each record is forwarded at (S5).
  */
class StreamingComposeSpec extends SparkTestBase {
  import spark.implicits._

  private def t(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  /** (window start s, count, price sum) of 1-hour tumbling windows. */
  private def hourly(rows: Dataset[_], clock: String): DataFrame =
    rows.groupBy(window(col(clock), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .select(col("w.start").cast("long").as("w_start"), col("n"), col("sum_price"))

  /** Streams `batches` through reorder → hourly windows in one query. */
  private def chained(batches: Seq[Seq[ElectronicOrder]], graceMs: Long,
      name: String): Set[(Long, Long, Double)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ElectronicOrder]
    val q = hourly(StreamingReorder.faithfulV2(input.toDS(), graceMs), "event_time")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).as[(Long, Long, Double)].collect().toSet
    } finally q.stop()
  }

  test("reorder chains into a tumbling aggregation in the same streaming query") {
    withConf(RocksDbStateStore) {
      // out-of-order records over two 1-hour windows, 10-minute grace
      val graceMs = 10L * 60 * 1000
      val data = Seq(
        ElectronicOrder("1", "one", "a", 10.0, t("2021-11-04T01:05:00Z")),
        ElectronicOrder("2", "one", "b", 20.0, t("2021-11-04T01:02:00Z")), // late vs 1
        ElectronicOrder("3", "one", "c", 30.0, t("2021-11-04T01:55:00Z")),
        ElectronicOrder("4", "one", "d", 40.0, t("2021-11-04T02:10:00Z")),
        ElectronicOrder("5", "one", "e", 50.0, t("2021-11-04T02:05:00Z"))) // late vs 4
      // sentinels march the watermark far enough to flush the reorder
      // buffers AND close the aggregation windows; each advance needs
      // its own micro-batch for the timers to fire and propagate
      val sentinels = Seq("05", "09", "13").map(h =>
        Seq(ElectronicOrder("s", "one", "z", 0.0, t(s"2021-11-04T$h:00:00Z"))))
      val got = chained(data +: sentinels, graceMs, "compose")
      // the first sentinel's batch has watermark 02:10 − 10 min = 02:00,
      // past 01:02 + grace: all five records flush together at 02:00
      val expected = Set((t("2021-11-04T02:00:00Z") / 1000, 5L, 150.0))
      assert(got.intersect(expected) == expected,
        s"chained reorder->window must reproduce the batch windows, got $got")
    }
  }

  test("a stream that flushes repeatedly, buffers held across watermark advances, chains") {
    withConf(RocksDbStateStore) {
      implicit val sqlCtx = spark.sqlContext
      // one record every 10 minutes for 4 hours, displaced up to 25
      // minutes, 30-minute grace, six records per micro-batch: each
      // batch moves the watermark by an hour while part of the buffer
      // waits for the next one
      val graceMs = 30L * 60 * 1000
      val rnd = new scala.util.Random(7)
      val base = t("2021-11-04T00:00:00Z")
      val records = (0 until 24).map { i =>
        val time = base + i * 10L * 60 * 1000 - rnd.nextInt(25 * 60 * 1000)
        ElectronicOrder(s"o$i", if (i % 3 == 0) "two" else "one", s"u$i", i.toDouble, time)
      }
      val sentinels = (1 to 3).map(i => Seq(
        ElectronicOrder(s"s$i", "one", "z", 0.0, base + (4 + 3 * i) * 3600L * 1000)))
      val batches = records.grouped(6).toSeq ++ sentinels

      // the same stream through the reorder alone: its flushes, in batch
      val input = MemoryStream[ElectronicOrder]
      val q = StreamingReorder.faithfulV2(input.toDS(), graceMs)
        .writeStream.format("memory").queryName("compose_flushes")
        .outputMode(OutputMode.Append).start()
      val flushed = try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("compose_flushes").as[StreamingReorder.Reordered].collect().toSeq
      } finally q.stop()
      val flushTimes = flushed.map(_.flush_time).distinct
      assert(flushTimes.size >= 3, "at least three flushes")
      // a record older than an earlier flush's watermark: declaring its
      // own event time would fail the query
      assert(flushed.exists(r => flushTimes.exists(f => f < r.flush_time && r.time < f)),
        "some record waited in its buffer across a watermark advance")

      // a window is emitted once the final watermark reaches its end
      val finalWatermark = batches.flatten.map(_.time).max - graceMs
      val expected: Set[(Long, Long, Double)] = hourly(
        flushed.toDF().withColumn("flush_ts", timestamp_millis(col("flush_time"))), "flush_ts")
        .as[(Long, Long, Double)].collect().toSet
        .filter { case (start, _, _) => start * 1000 + 3600L * 1000 <= finalWatermark }
      assert(expected.toSeq.map(_._2).sum > records.size, "every record in a closed window")
      val got = chained(batches, graceMs, "compose_multi")
      assert(got == expected, s"chained windows $got, batch windows over flush_time $expected")
    }
  }
}
