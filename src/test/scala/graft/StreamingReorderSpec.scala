package graft

import java.lang.Double.doubleToRawLongBits
import java.nio.file.{Files, Paths}

import graft.io.AvroCodec
import graft.model.ElectronicOrder
import graft.streaming.StreamingReorder
import graft.streaming.StreamingReorder.{BufferState, LateState, Reordered}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryException, Trigger}

/** Port of the reference's golden topology test
  * (ApplicationTest.java:28-128) onto MemoryStream + memory sink, plus the
  * dedup/late-data behaviors the reference leaves untested (SURVEY §5).
  */
class StreamingReorderSpec extends SparkTestBase {
  import spark.implicits._

  private val GraceMs = 10L * 3600 * 1000 // 10 hours, Application.java:144

  private def t(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  private val fixture = Seq(
    ElectronicOrder("1", "one", "vandeley", 5.0, t("2021-11-03T23:00:00Z")),
    ElectronicOrder("2", "one", "penny-packer", 15.0, t("2021-11-04T01:05:00Z")),
    ElectronicOrder("3", "one", "romanov", 25.0, t("2021-11-04T01:10:00Z")),
    ElectronicOrder("4", "one", "david", 35.0, t("2021-11-04T01:40:00Z")),
    ElectronicOrder("5", "one", "jerry", 45.0, t("2021-11-04T02:25:00Z")),
    ElectronicOrder("6", "one", "natalie", 55.0, t("2021-11-04T01:20:00Z")),
    ElectronicOrder("7", "one", "lisa", 65.0, t("2021-11-04T02:45:00Z")),
    ElectronicOrder("8", "one", "gavin", 75.0, t("2021-11-04T02:00:00Z")),
    ElectronicOrder("9", "one", "paul", 85.0, t("2021-11-04T03:00:00Z")),
    ElectronicOrder("10", "one", "martin", 95.0, t("2021-11-04T02:40:00Z")),
    ElectronicOrder("11", "one", "rebecca", 105.0, t("2021-11-04T02:20:00Z")),
    ElectronicOrder("12", "one", "jessica", 115.0, t("2021-11-05T00:00:00Z")))

  private val goldenOrder = Seq("1", "2", "3", "6", "4", "8", "11", "5", "10", "7", "9", "12")

  /** Run the faithful operator over batches of input; returns emitted
    * order_ids in emission order.
    */
  private def runFaithful(batches: Seq[Seq[ElectronicOrder]],
      name: String): Seq[StreamingReorder.Reordered] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ElectronicOrder]
    val q = StreamingReorder.faithful(input.toDS(), GraceMs)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      // extra empty pass lets event-time timeouts fire on the final watermark
      q.processAllAvailable()
      spark.table(name).as[StreamingReorder.Reordered].collect().toSeq
    } finally q.stop()
  }

  test("faithful operator reproduces the reference golden output (values + order)") {
    val out = runFaithful(Seq(fixture), "golden")
    assert(out.map(_.order_id) == goldenOrder)
    // S4: output keys are the synthetic store keys
    assert(out.map(_.key) == fixture.map(_.time).sorted.map(ti => s"key-$ti"))
  }

  test("faithful operator drops an intra-epoch duplicate timestamp, first wins (S3)") {
    val dup = ElectronicOrder("13", "one", "late-dup", 999.0, t("2021-11-04T01:05:00Z"))
    val out = runFaithful(Seq(fixture.take(6) :+ dup, fixture.drop(6)), "dedup")
    assert(out.map(_.order_id) == goldenOrder, "duplicate of order 2's timestamp must be dropped")
  }

  test("multi-batch input still yields chronological output per flush epoch") {
    val out = runFaithful(Seq(fixture.take(4), fixture.slice(4, 8), fixture.drop(8)), "multibatch")
    assert(out.map(_.order_id).sorted == goldenOrder.sorted, "all records emitted")
    // within each flush epoch emission is time-ordered; verify global
    // monotonicity here because disorder in the fixture is < grace
    assert(out.map(_.time) == out.map(_.time).sorted)
  }

  test("idiomatic variant: dedup-within-watermark + sink-side sort matches golden") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ElectronicOrder]
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamingReorder.idiomatic(input.toDS(), GraceMs)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= batch.orderBy(col("time")).select("order_id").as[String](
          org.apache.spark.sql.Encoders.STRING).collect()
        ()
      }.start()
    try {
      input.addData(fixture :+
        ElectronicOrder("13", "one", "dup", 1.0, t("2021-11-04T01:05:00Z")))
      q.processAllAvailable()
    } finally q.stop()
    assert(collected.toSeq == goldenOrder)
  }

  test("reorder state survives a query stop/restart from the checkpoint") {
    // the exactly-once story at production scale: buffer records, kill
    // the query BEFORE any flush, restart from the checkpoint, then
    // advance the watermark — every record must emit exactly once, in
    // order, from the RESTORED state
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft-ckpt")
    val input = MemoryStream[ElectronicOrder]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    // foreachBatch, not the memory sink: only fault-tolerant sinks may
    // recover from a checkpoint
    def start() = StreamingReorder.faithful(input.toDS(), GraceMs)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingReorder.Reordered], _: Long) =>
          emitted.synchronized {
            emitted ++= batch.orderBy(col("time")).select("order_id")
              .as[String](org.apache.spark.sql.Encoders.STRING).collect()
          }
          ()
      }.start()

    val q1 = start()
    try {
      input.addData(fixture.take(8)) // all within grace — nothing flushes
      q1.processAllAvailable()
      assert(emitted.isEmpty, "no flush before the watermark moves")
    } finally q1.stop()

    val q2 = start()
    try {
      input.addData(fixture.drop(8)) // includes order 12, a day later -> flush
      q2.processAllAvailable()
      q2.processAllAvailable() // extra pass fires the event-time timeout
      // the full golden output, exactly once, in order — identical to the
      // never-restarted run (the extra pass fires 12's epoch too)
      assert(emitted.toSeq == goldenOrder,
        s"restored buffer must flush the golden output, got ${emitted.toSeq}")
    } finally q2.stop()
  }

  test("README demo fixture (B2) reorders to the documented consumer output") {
    // README.md:45-56 input order; key HDTV-2333; expected = ascending time
    // (README.md:77-88). FIXTURES.md §B2.
    val times = Seq(
      1635980400000L, 1635987600000L, 1635984000000L, 1635998400000L,
      1635991200000L, 1636002000000L, 1635994800000L, 1636005600000L,
      1636009200000L, 1636012800000L, 1636016400000L, 1636070400000L)
    val input = times.zipWithIndex.map { case (tm, i) =>
      ElectronicOrder("instore-1", "HDTV-2333", s"u$i", 2000.0 + i, tm)
    }
    val out = runFaithful(Seq(input), "readme_golden")
    assert(out.map(_.time) == times.sorted)
    assert(out.map(_.key) == times.sorted.map(tm => s"key-$tm"))
    assert(out.forall(_.electronic_id == "HDTV-2333"))
  }

  test("faithful operator runs on the RocksDB state store provider") {
    withConf(RocksDbStateStore) {
      val out = runFaithful(Seq(fixture), "rocksdb_golden")
      assert(out.map(_.order_id) == goldenOrder,
        "same golden output when state lives in RocksDB (the reference's store engine)")
    }
  }

  test("faithfulV2 (transformWithState) reproduces the golden output on RocksDB") {
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[ElectronicOrder]
      val q = StreamingReorder.faithfulV2(input.toDS(), GraceMs)
        .writeStream.format("memory").queryName("v2_golden")
        .outputMode(OutputMode.Append).start()
      try {
        // split input + a duplicate timestamp: multi-batch timers + S3
        val dup = ElectronicOrder("13", "one", "late-dup", 999.0, t("2021-11-04T01:05:00Z"))
        Seq(fixture.take(6) :+ dup, fixture.drop(6)).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        q.processAllAvailable() // let the event-time timer fire
        val out = spark.table("v2_golden").as[StreamingReorder.Reordered].collect().toSeq
        assert(out.map(_.order_id) == goldenOrder, "golden values + order, dup dropped")
        assert(out.map(_.key) == fixture.map(_.time).sorted.map(ti => s"key-$ti"), "S4 keys")
        assert(out.map(_.flush_time).distinct.forall(_ > 0), "S5 stamps present")
      } finally q.stop()
    }
  }

  /** Runs `op` over `batches` (one micro-batch each) and returns the
    * emitted rows by batch id, each batch's rows sorted. */
  private def rowsByBatch(op: Dataset[ElectronicOrder] => DataFrame,
      batches: Seq[Seq[ElectronicOrder]],
      noDataBatches: Boolean): Map[Long, Seq[StreamingReorder.Reordered]] = {
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> Some(noDataBatches.toString)) {
      val input = MemoryStream[ElectronicOrder]
      val out = scala.collection.concurrent.TrieMap.empty[Long, Seq[StreamingReorder.Reordered]]
      val q = op(input.toDS())
        .select("key", "order_id", "electronic_id", "user_id", "price", "time", "flush_time")
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val rows = batch.as[StreamingReorder.Reordered].collect().toSeq
          if (rows.nonEmpty) out(id) = rows.sortBy(r => (r.electronic_id, r.time))
          ()
        }.start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        out.toMap
      } finally q.stop()
    }
  }

  private val HotGraceMs = 2L * 3600 * 1000
  private val v1 = (ds: Dataset[ElectronicOrder]) =>
    StreamingReorder.faithful(ds, HotGraceMs).toDF()
  private val v2 = (ds: Dataset[ElectronicOrder]) =>
    StreamingReorder.faithfulV2(ds, HotGraceMs).toDF()

  test("faithful flushes a key that has data in every micro-batch") {
    // Spark fires a timeout only for a key WITHOUT data in the batch, so a
    // hot key must flush from its data call once the watermark is past
    // oldest + grace. One record per hour, one batch each, grace 2 h: the
    // watermark in batch b is (b - 3) h, past 0 h + 2 h first in batch 6.
    val base = t("2021-11-04T00:00:00Z")
    val batches = (0 until 12).map(i =>
      Seq(ElectronicOrder(s"o$i", "hot", s"u$i", i.toDouble, base + i * 3600L * 1000)))
    val expected = Map(6L -> (0 to 6).map { i =>
      StreamingReorder.Reordered(s"key-${base + i * 3600L * 1000}", s"o$i", "hot", s"u$i",
        i.toDouble, base + i * 3600L * 1000, base + 3 * 3600L * 1000)
    })
    assert(rowsByBatch(v1, batches, noDataBatches = false) == expected)
    assert(rowsByBatch(v2, batches, noDataBatches = false) == expected)
  }

  test("documented divergence (SURVEY S1/7.4): disorder beyond grace is dropped, not re-buffered") {
    // record 13 arrives in a later batch with event time > grace older than
    // the watermark; Kafka Streams would re-buffer and emit it late, Spark's
    // stateful operator drops it — encode the divergence so it stays a
    // conscious decision.
    val tooLate = ElectronicOrder("13", "one", "straggler", 1.0, t("2021-11-03T20:00:00Z"))
    val out = runFaithful(Seq(fixture, Seq(tooLate)), "latedrop")
    assert(!out.map(_.order_id).contains("13"), "beyond-grace record is dropped by design")
    assert(out.map(_.order_id) == goldenOrder)
  }

  /** Run the late-output variant over batches; returns rows in emission order. */
  private def runLate(batches: Seq[Seq[ElectronicOrder]],
      name: String): Seq[StreamingReorder.Reordered] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ElectronicOrder]
    val q = StreamingReorder.withLateOutput(input.toDS(), GraceMs)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).as[StreamingReorder.Reordered].collect().toSeq
    } finally q.stop()
  }

  test("withLateOutput matches the golden output on the reference fixture") {
    val out = runLate(Seq(fixture), "late_golden")
    assert(out.map(_.order_id) == goldenOrder)
    assert(out.map(_.key) == fixture.map(_.time).sorted.map(ti => s"key-$ti"))
  }

  test("withLateOutput: beyond-grace straggler IS emitted — late, locally sorted (S1 fidelity)") {
    // the sibling of `latedrop`: same input, opposite (reference-faithful)
    // behavior — Kafka Streams re-buffers beyond-grace records and emits
    // them at the NEXT stream-time punctuation (Application.java:73-82).
    // Punctuation is a fixed stream-time interval, so the straggler alone
    // cannot fire it (its time is behind stream time); a successor record
    // advancing stream time past the next deadline flushes both.
    val tooLate = ElectronicOrder("13", "one", "straggler", 1.0, t("2021-11-03T20:00:00Z"))
    val advancer = ElectronicOrder("14", "one", "late-epoch", 2.0, t("2021-11-05T11:00:00Z"))
    val out = runLate(Seq(fixture, Seq(tooLate), Seq(advancer)), "late_emit")
    assert(out.map(_.order_id) == goldenOrder ++ Seq("13", "14"),
      "straggler must flush in the next punctuation epoch, after the golden prefix")
    assert(out.map(_.order_id).take(12) == goldenOrder)
    // the straggler-only batch must NOT flush (stream time did not advance
    // past the deadline): S5 stamps prove 13 and 14 share one flush epoch
    assert(out.drop(12).map(_.flush_time).distinct.size == 1)
    assert(out(12).key == s"key-${tooLate.time}")
  }

  test("withLateOutput: a buffer younger than grace stays buffered (stream-time punctuation, S6)") {
    // disorder window < grace and no successor data: the reference's
    // STREAM_TIME punctuation cannot fire, so nothing may be emitted
    val out = runLate(Seq(fixture.take(4)), "late_hold")
    assert(out.isEmpty, "no flush before stream time passes oldest + grace")
  }

  test("withLateOutput idle-key TTL drops empty state rows, keeps buffered tails, output unchanged") {
    // NOTE: with ProcessingTimeTimeout, FlatMapGroupsWithStateExec reports
    // shouldRunAnotherBatch = true on every trigger, so the engine runs
    // timeout-sweep batches continuously and processAllAvailable() never
    // sees the noNewData latch — this test must POLL sink/state metrics,
    // never call processAllAvailable (learned the hard way: it hangs).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ElectronicOrder]
    val ttlMs = 1000L
    // one batch per 500 ms tick, so the query can be stopped between
    // sweep batches instead of in the middle of a state commit
    val q = StreamingReorder.withLateOutput(input.toDS(), GraceMs, idleStateTtlMs = ttlMs)
      .writeStream.format("memory").queryName("late_ttl")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .outputMode(OutputMode.Append).start()
    /** Stops `q` right after a batch has ended, while it waits for the
      * next tick. */
    def stopBetweenBatches(): Unit = {
      val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = System.currentTimeMillis() + 30000
      def ended = Option(q.lastProgress).exists(_.batchId > last) && !q.status.isTriggerActive
      while (q.isActive && !ended && System.currentTimeMillis() < deadline) Thread.sleep(5)
      q.stop()
    }
    try {
      def stateRows: Long = q.recentProgress.reverse.iterator
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
        .nextOption().getOrElse(-1L)
      def waitFor(cond: => Boolean, what: String): Unit = {
        val deadline = System.currentTimeMillis() + 30000
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(cond, s"timed out waiting for: $what (stateRows=$stateRows)")
      }
      // three keys: "idle" and "one" flush fully (empty buffers) then go
      // quiet; "hold" keeps a sub-grace buffered tail and goes quiet
      // (S6: must NOT flush, and the TTL must NOT expire it)
      val idleKey = fixture.map(o => o.copy(order_id = "i" + o.order_id, electronic_id = "idle"))
      val holdKey = fixture.take(4).map(o => o.copy(order_id = "h" + o.order_id, electronic_id = "hold"))
      input.addData(fixture ++ idleKey ++ holdKey)
      waitFor(spark.table("late_ttl").count() == 24, "both flushed keys emit the golden 12")
      // TTL sweep: both empty-buffer keys expire; the buffered tail survives
      waitFor(stateRows == 1, "'one' and 'idle' expire; 'hold' (buffered tail) survives")
      // a record for the expired "one" revives it as a brand-new key: it
      // re-anchors at its own time + grace, so it buffers without flushing
      input.addData(ElectronicOrder("13", "one", "quiet", 1.0, t("2021-11-05T01:00:00Z")))
      waitFor(stateRows == 2, "revived 'one' holds fresh state next to surviving 'hold'")
      // fidelity: the TTL changed nothing observable — both flushed keys
      // emitted exactly the golden sequence, the buffered tail emitted
      // nothing (S6), the post-TTL record is still buffered
      val out = spark.table("late_ttl").as[StreamingReorder.Reordered].collect().toSeq
      val byKey = out.groupBy(_.electronic_id)
      assert(byKey("one").map(_.order_id) == goldenOrder)
      assert(byKey("idle").map(_.order_id) == goldenOrder.map("i" + _))
      assert(!byKey.contains("hold"), "sub-grace tail must stay buffered through the TTL sweep")
    } finally stopBetweenBatches()
  }

  test("randomized streams: faithful output equals batch reorder+dedup per key") {
    // seeded random multi-key streams with disorder bounded by grace,
    // random batch splits — streaming must agree with the batch operator
    (0 until 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val base = t("2021-11-03T00:00:00Z")
      val events = (0 until 60).map { i =>
        val key = s"k${rnd.nextInt(2)}"
        // monotone base + bounded jitter < grace keeps disorder within grace
        val time = base + i * 3600L * 1000 + rnd.nextInt(3600 * 1000)
        ElectronicOrder(s"o$i", key, s"u$i", i.toDouble, time)
      }
      // step(1h) > jitter range ⇒ times are strictly increasing: no dedup
      // collisions, and batch splits preserve arrival order (a shuffled
      // sequence would create unbounded disorder → legitimate late drops)
      val distinct = events
      val nBatches = 1 + rnd.nextInt(4)
      val batches = distinct.grouped(math.max(distinct.size / nBatches, 1)).toSeq
      val out = runFaithful(batches, s"prop$seed")
      val gotByKey = out.groupBy(_.electronic_id)
        .map { case (k, v) => k -> v.map(_.time).toSeq }
      val expByKey = distinct.groupBy(_.electronic_id)
        .map { case (k, v) => k -> v.map(_.time).sorted }
      assert(gotByKey.keySet == expByKey.keySet, s"seed=$seed keys differ")
      gotByKey.foreach { case (k, times) =>
        assert(times.sorted == expByKey(k), s"seed=$seed key=$k lost/added records")
        // per flush epoch emission is chronological; with bounded disorder
        // the concatenation of epochs must also be per-key monotone
        assert(times == times.sorted, s"seed=$seed key=$k out of order: $times")
      }
    }
  }

  test("randomized streams: faithfulV2 emits faithful's rows batch for batch") {
    // seeded streams with disorder within grace, duplicate timestamps, a
    // hot key with data in every batch, records later than grace, and an
    // event-time jump of three graces after which stragglers arrive
    // already past their flush mark; v1 is the oracle, every field
    // compared, flush_time included, with no-data micro-batches off (the
    // benchmark's setting) and on. Times fall on 10-minute steps, so the
    // watermark often lands exactly on a buffer's oldest + grace.
    val hourMs = 3600L * 1000
    val stepMs = 10L * 60 * 1000
    (0 until 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val base = t("2021-11-03T00:00:00Z")
      val sent = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var n = 0
      def order(key: String, time: Long): ElectronicOrder = {
        n += 1
        sent += key -> time
        ElectronicOrder(s"o$seed-$n", key, s"u$n", n.toDouble, time)
      }
      val batches = (0 until 14).map { b =>
        val now = base + b * hourMs + (if (b >= 8) 3 * HotGraceMs else 0L)
        def recent(key: String) = order(key, now - rnd.nextInt(11) * stepMs)
        val hot = Seq.fill(1 + rnd.nextInt(3))(recent("hot"))
        val cold = Seq.fill(rnd.nextInt(2))(recent(s"k${rnd.nextInt(3)}"))
        val dup = if (sent.nonEmpty && rnd.nextInt(3) == 0) {
          val (k, tm) = sent(rnd.nextInt(sent.size))
          Seq(order(k, tm))
        } else Nil
        val late = if (b >= 4 && (b == 9 || rnd.nextInt(4) == 0))
          Seq(order(s"k${rnd.nextInt(3)}", now - 3 * HotGraceMs - rnd.nextInt(6) * stepMs))
        else Nil
        rnd.shuffle(hot ++ cold ++ dup ++ late)
      }
      val arrival = batches.zipWithIndex
        .flatMap { case (b, i) => b.map(_.order_id -> i.toLong) }.toMap
      Seq(false, true).foreach { noData =>
        val want = rowsByBatch(v1, batches, noData)
        val got = rowsByBatch(v2, batches, noData)
        assert(want.values.map(_.size).sum > 0, s"seed=$seed noData=$noData: nothing flushed")
        assert(want.values.exists(_.exists(_.electronic_id == "hot")),
          s"seed=$seed noData=$noData: the hot key never flushed")
        if (!noData)
          assert(want.exists { case (id, rows) => rows.exists(r => arrival(r.order_id) == id) },
            s"seed=$seed: no record flushed in the batch it arrived")
        assert(got == want, s"seed=$seed noData=$noData: v1 $want\nv2 $got")
      }
    }
  }

  test("avro codec round-trips raw and explicitly-framed payloads") {
    val o = fixture.head
    val raw = AvroCodec.encode(o)
    assert(AvroCodec.decode(raw) == o)
    val framed = Array[Byte](0, 0, 0, 0, 42) ++ raw
    assert(AvroCodec.decode(framed, confluentFramed = true) == o)
    // the case that killed the old sniffing heuristic: a raw payload whose
    // first field is an empty string also starts with 0x00
    val empty = ElectronicOrder("", "HDTV", "u1", 9.99, 1000L)
    assert(AvroCodec.decode(AvroCodec.encode(empty)) == empty)
  }

  // ---- the buffer's state layout ----------------------------------------

  test("the reorder state rows hold only binary and primitive fields") {
    // a Map, Seq or primitive-array field deserializes through a lambda
    // whose id lands in the generated code's names: a new id, and so a
    // new Janino compile, in every micro-batch
    def lambda(enc: ExpressionEncoder[_]) =
      enc.resolveAndBind().objDeserializer.find(_.isInstanceOf[LambdaVariable])
    assert(lambda(ExpressionEncoder[BufferState]()).isEmpty)
    assert(lambda(ExpressionEncoder[LateState]()).isEmpty)
    assert(lambda(ExpressionEncoder[Tuple1[Array[Long]]]()).nonEmpty,
      "the guard must see the lambda of an Array[Long] field")
  }

  test("faithful compiles no code in batches that leave the watermark unchanged") {
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[ElectronicOrder]
      val q = StreamingReorder.faithful(input.toDS(), GraceMs)
        .writeStream.format("memory").queryName("no_recompile")
        .outputMode(OutputMode.Append).start()
      try {
        val top = t("2021-11-04T12:00:00Z")
        // batch 0 sets the watermark; every later record is older than
        // `top` but within grace, so it buffers and the watermark stays
        def batch(b: Int) = (0 until 30).map { i =>
          val time = if (b == 0 && i == 0) top else top - (b * 30 + i + 1) * 60000L
          ElectronicOrder(s"$b-$i", s"k${i % 3}", s"u$i", i.toDouble, time)
        }
        def run(b: Int): Unit = { input.addData(batch(b)); q.processAllAvailable() }
        (0 until 4).foreach(run)
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        (4 until 10).foreach(run)
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
          "a micro-batch that leaves the watermark unchanged must reuse the compiled code")
        assert(q.recentProgress.last.stateOperators.head.numRowsTotal == 3)
      } finally q.stop()
    }
  }

  /** Records whose strings, prices and times stress the buffer's codec,
    * over keys ("" among them) of which "hot" has data in every batch.
    * Key "edge" gets event time `lo` in batch 0 and `hi` in the last
    * batch, which moves every key's stream time, and the watermark, to
    * `hi`. Per-key duplicates of a time lose to the first arrival: within
    * batch 0, and across the state boundary in batch 1.
    */
  private def codecBatches(lo: Long, hi: Long): Seq[Seq[ElectronicOrder]] = {
    val base = t("2021-11-04T00:00:00Z")
    val min = 60000L
    val b0 = Seq(
      ElectronicOrder("", "", "", 0.0, base + 3 * min),
      ElectronicOrder("ü-1", "", "用户", Double.NaN, base + 1 * min),
      ElectronicOrder("dup-in-batch", "", "x", 1.0, base + 3 * min),
      ElectronicOrder("𝄞", "ключ-🔑", "", -0.0, base + 2 * min),
      ElectronicOrder("h0", "hot", "", Double.PositiveInfinity, base),
      ElectronicOrder("e-lo", "edge", "é", Double.NegativeInfinity, lo))
    val b1 = Seq(
      ElectronicOrder("dup-across", "ключ-🔑", "x", 2.0, base + 2 * min),
      ElectronicOrder("", "ключ-🔑", "", Double.MinPositiveValue, base + 5 * min),
      ElectronicOrder("h1", "hot", "🔑", -1.5, base + 4 * min))
    val b2 = Seq(ElectronicOrder("h2", "hot", "", 3.0, base + 2 * min))
    val last = Seq("", "ключ-🔑", "hot", "edge")
      .map(k => ElectronicOrder(s"end-$k", k, "", Double.MaxValue, hi))
    Seq(b0, b1, b2, last)
  }

  /** Each key's flushed rows in batch order, prices as raw bits. */
  private def emittedByKey(byBatch: Map[Long, Seq[Reordered]]) =
    byBatch.toSeq.sortBy(_._1).flatMap(_._2).groupBy(_.electronic_id).map { case (k, rs) =>
      k -> rs.map(r => (r.key, r.order_id, r.user_id, doubleToRawLongBits(r.price), r.time))
    }

  /** What a reorder must emit for `batches`, as [[emittedByKey]] gives
    * it: each key's first arrival per event time, in event-time order. */
  private def expectedByKey(batches: Seq[Seq[ElectronicOrder]]) =
    batches.flatten.groupBy(_.electronic_id).map { case (k, os) =>
      k -> os.groupBy(_.time).values.map(_.head).toSeq.sortBy(_.time)
        .map(o => (s"key-${o.time}", o.order_id, o.user_id, doubleToRawLongBits(o.price), o.time))
    }

  test("faithful's buffer keeps strings, price bits, extreme times and first arrivals") {
    // faithful's range: the first batch's watermark is 0, which drops
    // event times at or before it, and the watermark column holds event
    // time in microseconds
    val batches = codecBatches(1L, Long.MaxValue / 1000)
    val got = emittedByKey(rowsByBatch(v1, batches, noDataBatches = true))
    val want = expectedByKey(batches)
    // "edge" flushes its record at 1 ms alone once the watermark passes
    // it; its record at `hi` then waits for a later watermark
    assert(got == want.updated("edge", want("edge").take(1)))
  }

  test("withLateOutput's buffer keeps strings, price bits, extreme times and first arrivals") {
    val late = (ds: Dataset[ElectronicOrder]) => StreamingReorder.withLateOutput(ds, GraceMs).toDF()
    val batches = codecBatches(Long.MinValue + 1, Long.MaxValue - GraceMs)
    val got = emittedByKey(rowsByBatch(late, batches, noDataBatches = true))
    assert(got == expectedByKey(batches))
  }

  test("a checkpoint of the Map-state buffer fails to resume, and emits nothing") {
    // the buffer's state layout before it held Avro bytes, and the
    // operator that wrote it, as they were
    val dir = tempDir("graft-old-layout")
    val src = Paths.get(dir, "in")
    val ckpt = Paths.get(dir, "ckpt").toString
    Files.createDirectories(src)
    def write(name: String, os: Seq[ElectronicOrder]): Unit = {
      val lines = os.map(o => f"""{"order_id":"${o.order_id}","electronic_id":"${o.electronic_id}",""" +
        f""""user_id":"${o.user_id}","price":${o.price}%.1f,"time":${o.time}}""")
      Files.write(src.resolve(s"$name.json"), lines.mkString("\n").getBytes("UTF-8"))
    }
    val orders = spark.readStream.schema(ElectronicOrder.schema).json(src.toString)
      .as[ElectronicOrder]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Reordered]()
    def runOnce(ds: Dataset[Reordered]): Unit = {
      val q = ds.writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Reordered], _: Long) =>
          b.collect().foreach(emitted.add); ()
        }.start()
      q.awaitTermination()
    }
    withConf(RocksDbStateStore) {
      write("a", fixture.take(8)) // within grace: buffers, emits nothing
      val grace = GraceMs // a local, so the function does not capture the spec
      runOnce(orders
        .withColumn("event_time", timestamp_millis(col("time")))
        .withWatermark("event_time", s"$GraceMs milliseconds")
        .as[ElectronicOrder]
        .groupByKey(_.electronic_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          StreamingReorderSpec.mapStateReorder(grace)))
      assert(emitted.isEmpty)
      write("b", fixture.drop(8)) // would flush the golden output
      val err = intercept[StreamingQueryException] {
        runOnce(StreamingReorder.faithful(orders, GraceMs))
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
      assert(causes.exists(_.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE")),
        causes.mkString(" <- "))
      assert(emitted.isEmpty, "no row may be emitted from state that was not read")
    }
  }
}

object StreamingReorderSpec {
  final case class MapBufferState(buffer: Map[Long, ElectronicOrder])

  /** The reorder function over a `Map` buffer, as [[StreamingReorder.faithful]]
    * held it before its state became Avro bytes. */
  def mapStateReorder(graceMs: Long)(key: String, rows: Iterator[ElectronicOrder],
      state: GroupState[MapBufferState]): Iterator[Reordered] = {
    var buf = state.getOption.map(_.buffer).getOrElse(Map.empty)
    rows.foreach(o => if (!buf.contains(o.time)) buf += o.time -> o)
    val flushMark = buf.keys.min + graceMs
    val watermark = state.getCurrentWatermarkMs()
    if (flushMark < watermark) {
      state.remove()
      buf.toSeq.sortBy(_._1).iterator.map { case (t, o) =>
        Reordered(s"key-$t", o.order_id, o.electronic_id, o.user_id, o.price, t, watermark)
      }
    } else {
      state.update(MapBufferState(buf))
      state.setTimeoutTimestamp(flushMark)
      Iterator.empty
    }
  }
}
