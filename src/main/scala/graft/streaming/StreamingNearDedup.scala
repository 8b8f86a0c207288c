package graft.streaming

import graft.functions.{SimHashAgg, Text}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming NEAR-duplicate dedup: the streaming counterpart of the batch
  * `dedup_simhash` / `dedup_near_keep` family — first-wins keep over
  * SimHash Hamming distance ≤ `maxDist`, decided inside the stream with
  * bounded per-key state.
  *
  * This is the 100 TB/day ingestion story the batch operators cannot
  * tell: a crawl stream deduplicates against its own recent history at
  * ingest time instead of re-running an all-corpus batch join per day.
  *
  * Pipeline (one streaming query, two stateful stages chained via the
  * v2 `transformWithState` event-time-column declaration, exactly like
  * [[StreamingReorder.faithfulV2]]):
  *
  *  1. Stateless per-row SimHash — a JVM twin of the batch fingerprint
  *     ([[graft.operators.Dedup.simhash]]: md5-halves token hash,
  *     Charikar ±1 votes, bit set iff vote > 0). `StreamingNearDedupSpec`
  *     pins the two implementations bit-equal on real corpus text, so
  *     streamed and batch decisions agree exactly.
  *  2. Band the 64-bit fingerprint into 4 × 16-bit chunks (the batch
  *     operator's banding: by pigeonhole, recall 1 for distance ≤ 3) and
  *     route each (band, chunk) row to a bucket-keyed
  *     [[NearDupProcessor]]: a reorder-style buffer (flush in (ts,
  *     doc_id) order when the watermark passes oldest + grace) over a
  *     RETAINED list of previously flushed fingerprints, pruned to the
  *     `retainMs` event-time horizon. Each flushed doc reports the
  *     EARLIEST retained doc within `maxDist` as its band-level dup.
  *  3. Combine band verdicts per doc in a second, doc-keyed
  *     `transformWithState` that counts to four: the doc's true earliest
  *     near-neighbor shares at least one band (pigeonhole again), so the
  *     min over band verdicts IS the global first-wins answer, and
  *     keying by doc makes the combine immune to a doc's buckets
  *     flushing in different micro-batches.
  *     Output: (doc_id, ts, keep, dup_of).
  *
  * Scale shape: the only wide exchanges are the bucket shuffle (keys =
  * 4 × 2^16 at full occupancy, each carrying one grace window of docs
  * plus the retained horizon as individually-addressable RocksDB rows —
  * the `faithfulV2` layout) and the doc-sized verdict combine. Raw text
  * never shuffles: stage 1 reduces each doc to one 64-bit fingerprint
  * before anything wide happens.
  *
  * Documented bounds (same honesty as the reorder op's SURVEY §7.4
  * notes): docs are only compared against history within `retainMs`
  * (unbounded retention is a batch job, not a stream), and — like the
  * reference's punctuation model — a pair split across two flushes with
  * the LATER-timestamped member flushed FIRST resolves in arrival order,
  * not timestamp order. Within one grace window, order is exact.
  *
  * == Production sizing (measured, SCALE.md round-10 profile) ==
  * The dominant stateful cost is RocksDB '''commit''', which scales with
  * `#state stores × #micro-batches` — NOT with row volume (per-operator
  * progress metrics attribute 14.3 s of a 20 s run to bucket-stage
  * commits at 20k-doc batches; list appends and Hamming compares are
  * secondary). Two sizing rules follow:
  *
  *  1. '''Make micro-batches as large as the latency budget allows.'''
  *     Size the trigger (`Trigger.ProcessingTime`) so each micro-batch
  *     carries ≥ ~100k docs at the expected ingest rate: going from
  *     20k-doc to 100k-doc batches cut summed commits 14.3 → 5.8 s and
  *     lifted end-to-end throughput 5.0k → 7.3k docs/s (+46%), with the
  *     identical plan and state layout. Dedup latency is bounded by
  *     `graceMs` anyway, so a trigger interval well below the grace
  *     window buys nothing.
  *  2. '''Keep state partitions at the minimum that holds per-partition
  *     state.''' Each shuffle partition is a separate store committing
  *     every micro-batch: doubling 8 → 16 partitions TRIPLED summed
  *     commit time (14.3 → 42.6 s) on the same workload. Scale
  *     partitions with aggregate state size (RocksDB memory per
  *     executor), never with core count.
  *
  * `StreamBench`'s `SPARK_GRAFT_NEARDEDUP_TUNED=1` mode runs exactly
  * this configuration (single maximal micro-batch, 8 state partitions)
  * and records the tuned docs/s in SCALE.md.
  */
object StreamingNearDedup extends Serializable {

  /** Input row: a document with an event-time in epoch millis. */
  final case class NearDupDoc(doc_id: Long, text: String, ts: Long)

  /** Stage-2 input: one row per (band, chunk) bucket. */
  final case class BandRow(bucket: Long, doc_id: Long, ts: Long, simhash: Long,
      event_time: java.sql.Timestamp)

  /** Stage-2 output: band-level verdict. `dup_ts`/`dup_id` are
    * Long.MaxValue when the band saw no near-neighbor (the combine stage
    * turns the sentinel back into NULL). `event_time` is the flush-time
    * watermark clamp, NOT the doc time: rows emitted from a declared
    * event-time column must be no older than the previous batch's
    * watermark (`UpdateEventTimeColumnExec`'s emission check), and a
    * grace buffer legitimately holds rows across several watermark
    * advances. The combine stage aligns a doc's four band verdicts by
    * KEY, so the clamped column only has to exist, not to mean anything.
    */
  final case class BandVerdict(doc_id: Long, ts: Long, dup_ts: Long,
      dup_id: Long, event_time: java.sql.Timestamp)

  /** Final per-doc verdict. */
  final case class DedupVerdict(doc_id: Long, ts: Long, keep: Boolean,
      dup_of: Option[Long])

  /** Per-bucket state row (public: encoder-generated deserializers need
    * constructor access).
    */
  final case class Sig(ts: Long, doc_id: Long, simhash: Long)

  /** JVM twin of the batch SimHash pipeline (`Dedup.simhash` +
    * `SimHashAgg`): distinct [[graft.functions.Text.tokenize]] tokens,
    * token hash = (first 8 md5 hex chars << 32) | next 8, and
    * `SimHashAgg`'s own vote and fingerprint kernels. Bit-equality with
    * the batch expression is spec-pinned, under any default locale.
    */
  def simhash64(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Long](64)
    Text.tokenize(text).distinct.foreach { tok =>
      val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.reset()
      val hi = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      val lo = ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
        ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
      SimHashAgg.vote(votes, (hi << 32) | lo)
    }
    SimHashAgg.fingerprint(votes)
  }

  /** Stage 1 alone (stateless): per-doc SimHash + 4-way banding. Exposed
    * so `StreamBench` can meter the fingerprint/fan-out cost in isolation
    * from the stateful stages.
    */
  def banded(docs: Dataset[NearDupDoc]): Dataset[BandRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      val fp = simhash64(d.text)
      (0 until 4).map { band =>
        val chunk = (fp >>> (16 * band)) & 0xFFFFL
        BandRow((band.toLong << 16) | chunk, d.doc_id, d.ts, fp,
          new java.sql.Timestamp(d.ts))
      }
    }
  }

  /** Stages 1–2: banding plus the bucket-keyed grace-buffer/retained-
    * horizon compare, without the final doc-keyed combine. Exposed for
    * stage-isolated throughput metering.
    */
  def bandVerdicts(docs: Dataset[NearDupDoc], graceMs: Long, retainMs: Long,
      maxDist: Int = 3): Dataset[BandVerdict] = {
    require(maxDist <= 3, "4x16-bit banding guarantees recall only for distance <= 3")
    val spark = docs.sparkSession
    import spark.implicits._
    banded(docs)
      .withWatermark("event_time", s"$graceMs milliseconds")
      .groupByKey(_.bucket)
      .transformWithState(
        new NearDupProcessor(graceMs, retainMs, maxDist),
        "event_time", OutputMode.Append)
  }

  /** The full streaming dedup: docs in, (doc_id, ts, keep, dup_of) out.
    * `graceMs` is the reorder window (disorder bound), `retainMs` the
    * dedup history horizon.
    */
  def nearDedup(docs: Dataset[NearDupDoc], graceMs: Long, retainMs: Long,
      maxDist: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandVerdicts(docs, graceMs, retainMs, maxDist)
      // combine the four band verdicts by KEY, not by window: a doc's
      // buckets flush on independent timers, possibly in different
      // micro-batches, so a timestamp-window join would split them —
      // counting to four in doc-keyed state is batch-boundary-proof
      .groupByKey(_.doc_id)
      .transformWithState(new CombineProcessor(),
        TimeMode.None(), OutputMode.Append)
      .toDF()
      .select(col("doc_id"), col("ts"), col("keep"), col("dup_of"))
  }

  /** Doc-keyed band-verdict combiner: buffers verdicts until all four
    * bands have reported, then emits the global first-wins answer (the
    * min (ts, id) match across bands — the true earliest near-neighbor
    * shares at least one band by pigeonhole). State is ≤ 4 tiny rows per
    * in-flight doc and clears on emission.
    */
  private class CombineProcessor
    extends StatefulProcessor[Long, BandVerdict, DedupVerdict] {

    @transient private var pending: ListState[BandVerdict] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getListState[BandVerdict]("pending",
        Encoders.product[BandVerdict], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[BandVerdict],
        timers: TimerValues): Iterator[DedupVerdict] = {
      val all = pending.get().toBuffer ++= rows
      if (all.size < 4) {
        pending.clear()
        pending.appendList(all.toArray)
        Iterator.empty
      } else {
        pending.clear()
        val best = all.filter(_.dup_ts != Long.MaxValue)
          .sortBy(v => (v.dup_ts, v.dup_id)).headOption
        Iterator.single(DedupVerdict(key, all.head.ts,
          best.isEmpty, best.map(_.dup_id)))
      }
    }
  }

  /** Per-bucket processor: reorder-style grace buffer + retained
    * fingerprint horizon. State is list-shaped (one RocksDB row per
    * entry — the `faithfulV2` layout, not a monolithic Map), sized by one
    * grace window + `retainMs` of bucket occupancy.
    */
  private class NearDupProcessor(graceMs: Long, retainMs: Long, maxDist: Int)
    extends StatefulProcessor[Long, BandRow, BandVerdict] {

    @transient private var buffer: ListState[Sig] = _
    @transient private var retained: ListState[Sig] = _
    @transient private var flushAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffer = getHandle.getListState[Sig]("buffer",
        Encoders.product[Sig], TTLConfig.NONE)
      retained = getHandle.getListState[Sig]("retained",
        Encoders.product[Sig], TTLConfig.NONE)
      flushAt = getHandle.getValueState[Long]("flush_at",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[BandRow],
        timers: TimerValues): Iterator[BandVerdict] = {
      var minNew = Long.MaxValue
      val fresh = rows.map(r => Sig(r.ts, r.doc_id, r.simhash)).toArray
      if (fresh.nonEmpty) {
        buffer.appendList(fresh)
        fresh.foreach(s => if (s.ts < minNew) minNew = s.ts)
        val target = math.max(minNew + graceMs, timers.getCurrentWatermarkInMs() + 1)
        val pending = if (flushAt.exists()) flushAt.get() else Long.MinValue
        if (pending == Long.MinValue || target < pending) {
          if (pending != Long.MinValue) getHandle.deleteTimer(pending)
          getHandle.registerTimer(target)
          flushAt.update(target)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[BandVerdict] = {
      val wm = timers.getCurrentWatermarkInMs()
      val horizon = wm - retainMs
      val old = retained.get().filter(_.ts >= horizon).toBuffer
      val flush = buffer.get().toArray.sortBy(s => (s.ts, s.doc_id))
      buffer.clear()
      flushAt.clear()
      // emitted event_time must clear the PREVIOUS batch's watermark
      // (UpdateEventTimeColumnExec's emission check); a grace buffer held
      // across several watermark advances has rows older than that, so
      // clamp to the current (eviction) watermark — always ≥ the
      // late-events one. Doc identity travels in the row, not the clock.
      val emitTs = new java.sql.Timestamp(math.max(wm, 0L))
      val out = flush.iterator.map { s =>
        // earliest retained-or-earlier-flushed doc within maxDist; the
        // retained list is in insertion = flush order, which is NOT
        // globally (ts, id)-sorted across flushes — min-reduce explicitly
        var best: Sig = null
        old.foreach { r =>
          if (java.lang.Long.bitCount(r.simhash ^ s.simhash) <= maxDist &&
            (best == null || r.ts < best.ts ||
              (r.ts == best.ts && r.doc_id < best.doc_id)))
            best = r
        }
        old += s
        if (best == null)
          BandVerdict(s.doc_id, s.ts, Long.MaxValue, Long.MaxValue, emitTs)
        else BandVerdict(s.doc_id, s.ts, best.ts, best.doc_id, emitTs)
      }.toArray
      retained.clear()
      if (old.nonEmpty) retained.appendList(old.toArray)
      out.iterator
    }
  }
}
