package graft.streaming

import java.nio.ByteBuffer

import scala.collection.mutable

import graft.functions.AvroOrderWire
import graft.model.ElectronicOrder
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming re-expression of the reference's core operator:
  * the stateful event-time reorder buffer with first-wins timestamp dedup
  * and grace-period flush (Application.java:37-97; semantics S1–S7 in
  * SURVEY.md §2.2).
  *
  * Four entry points:
  *  - [[faithful]]: `flatMapGroupsWithState` with an event-time timeout;
  *    a per-key buffer of Avro bytes ([[BufferState]], first-wins insert,
  *    S3) flushed whole and in ascending event time in the first
  *    micro-batch whose watermark has passed the oldest buffered event
  *    time + grace, whether or not the key has data in that batch.
  *  - [[withLateOutput]]: no watermark; fixed stream-time punctuation, so
  *    records beyond the grace period are re-buffered, never dropped (S1).
  *  - [[faithfulV2]]: [[faithful]]'s output, batch for batch, on
  *    `transformWithState`, with a per-entry `MapState` buffer and an
  *    event-time flush timer. It declares `event_time` = `flush_time` as
  *    its output clock, so stateful operators can follow in one query.
  *  - [[idiomatic]]: `withWatermark` + `dropDuplicatesWithinWatermark`,
  *    ordered per micro-batch at the sink; Spark's state store buffers.
  *
  * The watermark replaces stream-time punctuation (S6): both only advance
  * when data arrives.
  *
  * Documented divergence (SURVEY §7.4): in every entry point but
  * [[withLateOutput]], records later than the watermark (disorder >
  * grace) are DROPPED by Spark's stateful operators, while
  * Kafka Streams re-buffers them into the next flush. Within the bounded
  * disorder the reference guarantees (README.md:5-7), outputs agree.
  *
  * Scale: state is per-key and proportional to one grace window of data;
  * the shuffle into the stateful operator is the only wide exchange, and
  * the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass`) gives the same
  * spill-to-disk behavior as the reference's store.
  */
object StreamingReorder extends Serializable {

  /** Flushed output row; `key` replicates the reference's synthetic store
    * key `key-<time>` (Application.java:145, S4). `flush_time` is S5: the
    * reference overwrites every forwarded record's timestamp with the
    * punctuation's stream time (`new Record<>(kv.key, kv.value, timestamp)`,
    * Application.java:77) — here it rides as an explicit column that
    * [[graft.io.KafkaAvroIO.encodeValues]] can surface as the sink
    * `timestamp`.
    */
  final case class Reordered(key: String, order_id: String, electronic_id: String,
      user_id: String, price: Double, time: Long, flush_time: Long)

  /** [[faithful]]'s per-key reorder buffer, in arrival order: `times`
    * holds the buffered event times as 8-byte big-endian longs, `orders`
    * the records as concatenated Avro binary bodies of
    * electronic_order.avsc without a Confluent header (the reference's
    * store holds `SpecificAvroSerde` bytes, Application.java:132-138). A
    * batch decodes only `times`; `orders` is decoded when the buffer
    * flushes.
    *
    * Every field of a state row is binary or primitive. Spark converts a
    * `Map`, `Seq` or primitive-array field through a lambda whose id
    * lands in the generated converter's names; each micro-batch re-plans
    * the operator with new ids, so the converter would be recompiled every
    * batch (`StreamingReorderSpec` guards this). Public because Spark's
    * generated encoder code must reach the accessors.
    */
  final case class BufferState(times: Array[Byte], orders: Array[Byte])

  /** [[withLateOutput]]'s state: the buffer (as in [[BufferState]]), this
    * key's stream time (max event time seen — replacing the engine
    * watermark so nothing is ever dropped as late), and the next
    * stream-time punctuation deadline (Kafka Streams'
    * `context.schedule(grace, STREAM_TIME, …)` fires on a fixed stream-time
    * interval, not relative to the oldest buffered record).
    */
  final case class LateState(times: Array[Byte], orders: Array[Byte],
      streamTime: Long, nextPunctuate: Long)

  /** A buffer after a batch's insert; `oldest` is its oldest event time,
    * `Long.MaxValue` when it is empty. */
  private final case class Buffer(times: Array[Byte], orders: Array[Byte], oldest: Long) {
    def decode: Array[ElectronicOrder] = AvroOrderWire.readOrders(orders, times.length / 8)
  }

  /** S3 first-wins insert: appends, in arrival order, each row whose
    * event time is neither buffered nor taken by an earlier row of
    * `rows`. Reads `times`, never `orders`.
    */
  private def insert(times: Array[Byte], orders: Array[Byte],
      rows: Seq[ElectronicOrder]): Buffer = {
    val taken = mutable.HashSet.empty[Long]
    val fresh = rows.filter(o => taken.add(o.time))
    val freshTimes = fresh.map(_.time).toArray
    java.util.Arrays.sort(freshTimes)
    val held = new Array[Boolean](freshTimes.length)
    val in = ByteBuffer.wrap(times)
    var oldest = Long.MaxValue
    var i = 0
    while (i < times.length) {
      val t = in.getLong(i)
      if (t < oldest) oldest = t
      val j = java.util.Arrays.binarySearch(freshTimes, t)
      if (j >= 0) held(j) = true
      i += 8
    }
    val kept = fresh.filterNot(o => held(java.util.Arrays.binarySearch(freshTimes, o.time)))
    if (kept.isEmpty) Buffer(times, orders, oldest)
    else {
      val grown = ByteBuffer.allocate(times.length + 8 * kept.size).put(times)
      kept.foreach { o => grown.putLong(o.time); if (o.time < oldest) oldest = o.time }
      Buffer(grown.array, AvroOrderWire.appendOrders(orders, kept), oldest)
    }
  }

  /** S1/S2 whole-buffer flush in ascending event time, re-keyed (S4),
    * stamped with the punctuation stream time (S5). Event times are
    * unique within a buffer (S3).
    */
  private def flushBuffer(orders: Array[ElectronicOrder],
      flushTime: Long): Iterator[Reordered] =
    orders.sortBy(_.time).iterator.map { o =>
      Reordered(s"key-${o.time}", o.order_id, o.electronic_id, o.user_id, o.price, o.time,
        flushTime)
    }

  /** The faithful operator. `orders` must be a streaming Dataset. */
  def faithful(orders: Dataset[ElectronicOrder], graceMs: Long): Dataset[Reordered] = {
    val spark = orders.sparkSession
    import spark.implicits._

    // Called for a key with data and for a key whose timeout fired (no
    // rows). Spark fires a timeout only for a key WITHOUT data in the
    // batch, so a key with data in every batch must be flushed here too.
    def fn(key: String, rows: Iterator[ElectronicOrder],
        state: GroupState[BufferState]): Iterator[Reordered] = {
      val held = state.getOption.getOrElse(BufferState(Array.emptyByteArray, Array.emptyByteArray))
      val buf = insert(held.times, held.orders, rows.toSeq)
      // the stream-time punctuation mark for this epoch: the oldest
      // buffered event + grace
      val flushMark = buf.oldest + graceMs
      val watermark = state.getCurrentWatermarkMs()
      if (flushMark < watermark) {
        // punctuation analog: whole-store ordered flush (Application.java:72-83).
        // REMOVE the state rather than storing an empty buffer — otherwise
        // every key ever seen keeps store space; new data re-creates the
        // state (stream-time punctuation is only meaningful with data, S6).
        // S5: stamp with the engine's stream-time clock, the watermark,
        // playing the punctuation timestamp's role (Application.java:77)
        state.remove()
        flushBuffer(buf.decode, watermark)
      } else {
        state.update(BufferState(buf.times, buf.orders))
        // fires in the first batch without data for this key whose
        // watermark is past the mark
        state.setTimeoutTimestamp(flushMark)
        Iterator.empty
      }
    }

    orders
      .withColumn("event_time", timestamp_millis(col("time")))
      .withWatermark("event_time", s"$graceMs milliseconds")
      .as[ElectronicOrder]
      .groupByKey(_.electronic_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Late-data fidelity variant (SURVEY §7.4): replicates the reference's
    * S1 exactly — records arriving with disorder BEYOND the grace period
    * are re-buffered and emitted at the next flush (late, locally sorted),
    * never dropped, closing [[faithful]]'s one documented divergence from
    * Application.java:73-82.
    *
    * How: no `withWatermark` at all, so Spark's stateful operator never
    * filters late input; punctuation is re-created at Kafka Streams'
    * semantics (Application.java:64-69): a FIXED stream-time interval. The
    * state tracks this key's stream time (max event time seen) and the
    * next punctuation deadline — anchored at first-observed stream time +
    * grace (Kafka Streams defers an unknown-stream-time schedule to the
    * first record), firing when stream time crosses it, then re-armed at
    * `deadline + grace`, realigned to `streamTime + grace` after a gap
    * (`PunctuationSchedule.next`'s catch-up rule). Flushes only fire when
    * records arrive (S6): a buffered tail with no successor data stays
    * buffered, as in the reference — even a beyond-grace straggler waits
    * for stream time to advance past the next deadline.
    *
    * Cost of fidelity, stated plainly: without a watermark Spark cannot
    * expire state on its own, so each key holds its (usually empty) state
    * row forever — the same lifecycle as the reference's persistent store.
    * Use [[faithful]] when bounded-disorder drops are acceptable and
    * watermark-driven state cleanup matters more.
    *
    * `idleStateTtlMs` (0 = off, the faithful default) bounds that state
    * growth for 100 TB keyspaces: a key that receives no records for the
    * TTL (processing time) has its state row dropped — but ONLY when its
    * reorder buffer is empty, so nothing buffered is ever lost (a
    * buffered tail idles armed until data returns, per S6). What expiry
    * forgets is the key's punctuation anchor: a record arriving after
    * expiry re-anchors at first-observed stream time + grace, exactly as
    * a never-seen key — so output is unchanged for any key active within
    * the TTL, and a revived key's flushes may only shift to a later
    * punctuation epoch, never drop or reorder differently within one.
    */
  def withLateOutput(orders: Dataset[ElectronicOrder], graceMs: Long,
      idleStateTtlMs: Long = 0L): Dataset[Reordered] = {
    val spark = orders.sparkSession
    import spark.implicits._
    val ttlOn = idleStateTtlMs > 0

    def fn(key: String, rows: Iterator[ElectronicOrder],
        state: GroupState[LateState]): Iterator[Reordered] = {
      if (ttlOn && state.hasTimedOut) {
        // idle past TTL: drop the state row only if nothing is buffered;
        // a buffered tail must keep waiting for successor data (S6)
        if (state.get.times.isEmpty) state.remove()
        else state.setTimeoutDuration(idleStateTtlMs)
        return Iterator.empty
      }
      val st = state.getOption.getOrElse(
        LateState(Array.emptyByteArray, Array.emptyByteArray, Long.MinValue, Long.MinValue))
      val batch = rows.toSeq
      val buf = insert(st.times, st.orders, batch)
      val streamTime = batch.foldLeft(st.streamTime)((m, o) => math.max(m, o.time))
      // arm the first punctuation at first-observed stream time + grace
      // (the batch's min event time, so the anchor does not depend on
      // row order within the micro-batch)
      val armed =
        if (st.nextPunctuate != Long.MinValue) st.nextPunctuate
        else if (buf.times.nonEmpty) buf.oldest + graceMs
        else Long.MinValue
      if (armed != Long.MinValue && streamTime >= armed) {
        // stream-time punctuation: whole-store ordered flush (S1/S2),
        // stamped with the firing stream time (S5 — mayPunctuate passes
        // current stream time, Application.java:72,77); re-arm one
        // interval ahead, realigning after a multi-interval gap
        val next =
          if (armed + graceMs > streamTime) armed + graceMs
          else streamTime + graceMs
        state.update(LateState(Array.emptyByteArray, Array.emptyByteArray, streamTime, next))
        if (ttlOn) state.setTimeoutDuration(idleStateTtlMs)
        flushBuffer(buf.decode, streamTime)
      } else {
        state.update(LateState(buf.times, buf.orders, streamTime, armed))
        if (ttlOn) state.setTimeoutDuration(idleStateTtlMs)
        Iterator.empty
      }
    }

    orders
      .groupByKey(_.electronic_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (ttlOn) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(fn)
  }

  /** [[faithful]] on Spark 4's `transformWithState` arbitrary-state v2
    * API — the same rows in the same micro-batches (`StreamingReorderSpec`
    * pins this, `flush_time` included), different state mechanics:
    *  - the reorder buffer is a [[MapState]] keyed by event time, so a
    *    batch's inserts are per-entry RocksDB puts, where v1 rewrites
    *    each key's one buffer row (its bytes copied, not re-encoded) on
    *    every `GroupState.update`;
    *  - the flush is an explicit event-time TIMER at `oldest + grace + 1`
    *    (a timer fires once the watermark reaches it, a v1 timeout once
    *    the watermark passes it), lowered when an older record arrives
    *    and cleared on flush, rather than a timeout rewritten each batch.
    *
    * The output declares `event_time` (`transformWithState`'s
    * `eventTimeColumnName` overload), set to the row's `flush_time`: the
    * watermark that fired the flush, S5's stream time. That is the one
    * output clock a grace buffer may declare — a buffered record's own
    * event time is older than the watermark by up to the grace once the
    * buffer outlives a watermark advance, and Spark fails the query with
    * `EMITTING_ROWS_OLDER_THAN_WATERMARK_NOT_ALLOWED`. With it, stateful
    * operators (windowed aggregations, stream-stream joins, dedup) can
    * follow the reorder in the same query, grouping by flush time;
    * `StreamingComposeSpec` pins reorder → tumbling count.
    *
    * Measured on perfbench (4 vCPU, 4 alternating pairs per workload),
    * v2 is SLOWER than [[faithful]] with its buffer held as Avro bytes.
    * On `reorder_replay` (1,500 Zipf keys, 500-record batches) v2's
    * `batch_ms_p50` read 78% above (median 204 → 365 ms, slower in 4 of
    * 4) and `pass_s` 74% above; per traced round it does about 3.9× the
    * RocksDB puts and gets. On `reorder_deep` (8 keys, ~10k buffered
    * entries per key, 1,000-record batches) it read 48% above (239 →
    * 354 ms, 4 of 4) and `pass_s` 61% above. v1 still rewrites each
    * key's buffer row every batch, but as a byte copy, with no per-entry
    * serde and no per-batch compile. With much deeper buffers (4 keys ×
    * 200k records, SCALE.md's deep-buffer table, measured while v1 held
    * a `Map`) v2 was 24% faster end to end. v1 holds each key's buffer
    * as ONE state row, which is what stalls when a single key buffers a
    * whole grace window.
    *
    * The buffer's layout is not the gap. A v2 that held [[faithful]]'s
    * `BufferState` in one `ValueState` per key (a scratch swap of
    * `ReorderApp.topology`, 3 rounds per workload, 4 vCPU) read 230–243
    * ms `batch_ms_p50` on `reorder_replay` against 240–268 ms for this
    * `MapState` layout and 149–177 ms for v1, and 3.0–3.7k against
    * 2.45–2.82k and 4.08–4.67k `records_per_s` on `reorder_deep`; it
    * still did 48k RocksDB puts and 92k gets per traced `reorder_replay`
    * round (v1: 13k and 23k): the extra operations sit outside the
    * buffer, in the timer rows, the flush-time value and the operator's
    * per-key bookkeeping. So on Spark 4.1 [[faithful]] stays the reorder
    * and this operator stays for in-query chaining. Requires the RocksDB
    * state store provider (the v2 API's native store).
    */
  def faithfulV2(orders: Dataset[ElectronicOrder], graceMs: Long): Dataset[ReorderedEt] = {
    val spark = orders.sparkSession
    import spark.implicits._
    orders
      .withColumn("event_time", timestamp_millis(col("time")))
      .withWatermark("event_time", s"$graceMs milliseconds")
      .as[ElectronicOrder]
      .groupByKey(_.electronic_id)
      .transformWithState(new ReorderProcessor(graceMs), "event_time", OutputMode.Append)
  }

  /** [[Reordered]] plus the declared TIMESTAMP event-time column
    * (`event_time` = `flush_time`).
    */
  final case class ReorderedEt(key: String, order_id: String, electronic_id: String,
      user_id: String, price: Double, time: Long, flush_time: Long,
      event_time: java.sql.Timestamp)

  /** The stateful processor behind [[faithfulV2]]. */
  private class ReorderProcessor(graceMs: Long)
    extends StatefulProcessor[String, ElectronicOrder, ReorderedEt] {

    @transient private var buffer: MapState[Long, ElectronicOrder] = _
    @transient private var flushAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffer = getHandle.getMapState[Long, ElectronicOrder]("buffer",
        Encoders.scalaLong, Encoders.product[ElectronicOrder], TTLConfig.NONE)
      flushAt = getHandle.getValueState[Long]("flush_at",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[ElectronicOrder],
        timers: TimerValues): Iterator[ReorderedEt] = {
      var minNew = Long.MaxValue
      rows.foreach { o =>
        // S3: first-wins per event time — a per-entry containsKey probe,
        // not a whole-buffer read
        if (!buffer.containsKey(o.time)) {
          buffer.updateValue(o.time, o)
          if (o.time < minNew) minNew = o.time
        }
      }
      if (minNew != Long.MaxValue) {
        // the timer fires in the first batch whose watermark is past
        // oldest + grace — this one too, after its rows, if the
        // watermark already is
        val target = minNew + graceMs + 1
        val pending = if (flushAt.exists()) flushAt.get() else Long.MaxValue
        if (target < pending) {
          if (pending != Long.MaxValue) getHandle.deleteTimer(pending)
          getHandle.registerTimer(target)
          flushAt.update(target)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[ReorderedEt] = {
      // punctuation analog: whole-store ordered flush (S1/S2), stamped
      // with the engine's stream-time clock (S5); state fully cleared so
      // idle keys hold no store space
      val buf = buffer.values().toArray
      buffer.clear()
      flushAt.clear()
      val flushTime = timers.getCurrentWatermarkInMs()
      val clock = new java.sql.Timestamp(flushTime)
      flushBuffer(buf, flushTime).map(r => ReorderedEt(r.key, r.order_id,
        r.electronic_id, r.user_id, r.price, r.time, r.flush_time, clock))
    }
  }

  /** The idiomatic variant: watermark + first-wins dedup within the
    * watermark window; callers order each emitted micro-batch at the sink
    * (a streaming global sort is not meaningful in append mode).
    */
  def idiomatic(orders: Dataset[ElectronicOrder], graceMs: Long): DataFrame =
    orders
      .withColumn("event_time", timestamp_millis(col("time")))
      .withWatermark("event_time", s"$graceMs milliseconds")
      .dropDuplicatesWithinWatermark("time")
}
