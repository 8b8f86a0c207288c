package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ReorderApp
import graft.io.KafkaAvroIO
import graft.streaming.StreamingReorder.Reordered
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Confluent-framed Avro `ElectronicOrder` frames, written and read here
  * without the program's codec so that the check does not trust it. */
object Wire {
  final case class Order(orderId: String, key: String, userId: String, price: Double, time: Long)

  private def varLong(out: ByteArrayOutputStream, n: Long): Unit = {
    var z = (n << 1) ^ (n >> 63)
    while ((z & ~0x7fL) != 0) { out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
    out.write(z.toInt)
  }

  private def string(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    varLong(out, b.length.toLong)
    out.write(b)
  }

  def encode(o: Order, schemaId: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    out.write(0)
    out.write(ByteBuffer.allocate(4).putInt(schemaId).array())
    string(out, o.orderId)
    string(out, o.key)
    string(out, o.userId)
    out.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(o.price).array())
    varLong(out, o.time)
    out.toByteArray
  }

  /** Decodes a framed payload; throws on anything malformed. */
  def decode(bytes: Array[Byte]): Order = {
    require(bytes.length >= 5 && bytes(0) == 0, "bad Confluent header")
    val in = ByteBuffer.wrap(bytes)
    in.position(5)
    def vl(): Long = {
      var shift = 0
      var z = 0L
      var b = 0
      do { b = in.get() & 0xff; z |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      (z >>> 1) ^ -(z & 1)
    }
    def s(): String = { val a = new Array[Byte](vl().toInt); in.get(a); new String(a, UTF_8) }
    val o = Order(s(), s(), s(), in.order(ByteOrder.LITTLE_ENDIAN).getDouble, vl())
    require(!in.hasRemaining, "trailing bytes")
    o
  }
}

/** The two streaming workloads: a seeded disordered order stream pushed
  * through `KafkaAvroIO.decodeValues` → `ReorderApp.topology` →
  * `KafkaAvroIO.encodeValues` by one closed-loop client, and its check.
  */
object ReorderWorkload {

  final val Normal = 0
  final val Resend = 1
  final val Late = 2
  final val Poison = 3
  final val Sentinel = 4

  final case class Frame(seq: Int, batch: Int, kind: Int, order: Wire.Order, bytes: Array[Byte])

  /** Stream shape. A round is one complete stream: a first batch of
    * `firstBatch` records, `batches - 1` micro-batches of `batchSize`,
    * then one batch of per-key far-future sentinels, then
    * one empty batch in which the timers fire and every buffer flushes
    * (a whole-buffer flush takes the key's sentinel along when the key
    * still held records; the other sentinels stay buffered). */
  final case class Shape(keys: Int, zipfS: Double, firstBatch: Int, batchSize: Int,
      batches: Int, stepMs: Long, graceMs: Long, lateShare: Double) {
    def batchSpanMs: Long = batchSize * stepMs
    def records: Long = firstBatch + (batches - 1L) * batchSize
  }

  private val HourMs = 3600L * 1000L
  private val PoisonShare = 0.001
  private val ResendShare = 0.02
  private val DisplacedShare = 0.3
  private val SchemaId = 1
  /** Hand-overs at the start of each round that are not timed: the first
    * starts the stream, the next two absorb JIT warm-up. */
  private val WarmBatches = 3

  def shape(workload: String): Shape = workload match {
    // shallow buffers, frequent flushes: 10 h grace, 30 grace windows of
    // event time per round, ~1,500 Zipf-skewed keys; 500-record batches,
    // so the fixed cost of each engine batch dominates
    case "reorder_replay" =>
      val grace = ReorderApp.DefaultGraceMs
      val s = Shape(keys = 1500, zipfS = 0.5, firstBatch = 500, batchSize = 500, batches = 24,
        stepMs = 0, graceMs = grace, lateShare = 0.005)
      s.copy(stepMs = 30 * grace / s.records)
    // deep buffers: 8 keys, grace longer than the whole round, so nothing
    // flushes before the sentinels; the untimed first batch fills each
    // key's buffer with ~10,000 entries, which the timed batches extend
    case "reorder_deep" =>
      val s = Shape(keys = 8, zipfS = 0.5, firstBatch = 80000, batchSize = 1000, batches = 15,
        stepMs = 1000L, graceMs = 0, lateShare = 0.0)
      s.copy(graceMs = 2 * s.records * s.stepMs + HourMs)
  }

  /** Seeded frames of one round, batch by batch. */
  def generate(s: Shape, seed: Long): IndexedSeq[IndexedSeq[Frame]] = {
    val rnd = new java.util.SplittableRandom(seed)
    val cdf = {
      val w = (1 to s.keys).map(r => 1.0 / math.pow(r, s.zipfS))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    val names = Array.tabulate(s.keys)(i => f"e-$i%04d")
    def key(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      names(if (i >= 0) i else math.min(-i - 1, s.keys - 1))
    }
    val t0 = 1600000000000L
    val recent = new Array[(String, Long)](256)
    var nRecent = 0
    val seen = mutable.LinkedHashSet.empty[String]
    var maxTime = Long.MinValue
    var seq = 0
    def order(k: String, t: Long, tag: String): Wire.Order =
      Wire.Order(s"$tag-$seed-$seq", k, s"u${rnd.nextInt(5000)}", rnd.nextInt(100000) / 100.0, t)
    def frame(b: Int, kind: Int, o: Wire.Order, bytes: Array[Byte]): Frame = {
      val f = Frame(seq, b, kind, o, bytes)
      seq += 1
      if (kind != Poison) { seen += o.key; maxTime = math.max(maxTime, o.time) }
      f
    }
    // a late record sits behind the watermark the operator filters with
    // (the previous batch's) by more than one batch's event-time span
    val lateMinMs = 2 * s.batchSpanMs + s.graceMs + s.stepMs
    // displaced records and re-sends stay within this distance behind
    // their nominal time, so the watermark never drops them
    val maxBackMs = (0.9 * s.graceMs).toLong
    val data = (0 until s.batches).map { b =>
      val first = if (b == 0) 0L else s.firstBatch + (b - 1L) * s.batchSize
      (0 until (if (b == 0) s.firstBatch else s.batchSize)).map { j =>
        val nominal = t0 + (first + j) * s.stepMs
        val u = rnd.nextDouble()
        lazy val resend = Some(recent(rnd.nextInt(math.min(nRecent, recent.length))))
          .filter(_._2 >= nominal - maxBackMs)
        if (u < PoisonShare) {
          val good = Wire.encode(order(key(), nominal, "p"), SchemaId)
          val bytes = if (rnd.nextBoolean()) { good(0) = 1; good } else good.take(good.length / 2)
          frame(b, Poison, null, bytes)
        } else if (u < PoisonShare + ResendShare && nRecent > 0 && resend.isDefined) {
          val (k, t) = resend.get
          val o = order(k, t, "r")
          frame(b, Resend, o, Wire.encode(o, SchemaId))
        } else if (u >= PoisonShare + ResendShare && u < PoisonShare + ResendShare + s.lateShare &&
            b >= 3) {
          val o = order(key(), nominal - lateMinMs - (rnd.nextDouble() * s.graceMs).toLong, "l")
          frame(b, Late, o, Wire.encode(o, SchemaId))
        } else {
          val k = key()
          val displaced = rnd.nextDouble() < DisplacedShare
          val t = if (displaced) nominal - (rnd.nextDouble() * maxBackMs).toLong else nominal
          if (!displaced) { recent(nRecent % recent.length) = (k, t); nRecent += 1 }
          val o = order(k, t, "o")
          frame(b, Normal, o, Wire.encode(o, SchemaId))
        }
      }
    }
    val sentinelTime = maxTime + 3 * s.graceMs
    val sentinels = seen.toIndexedSeq.map { k =>
      val o = order(k, sentinelTime, "s")
      frame(s.batches, Sentinel, o, Wire.encode(o, SchemaId))
    }
    data :+ sentinels :+ IndexedSeq.empty[Frame]
  }

  final case class Check(problems: Seq[String], emitted: Long, deduped: Long,
      late: Long, poison: Long, bufferedEnd: Long, rowsIn: Long)

  /** The Spark-independent check of one round's output.
    *
    *  - every emitted record was sent, unchanged, once, under its
    *    `key-<time>` store key;
    *  - records ascend strictly in time within each (key, flush) group;
    *  - first wins: walking each (key, time) in arrival order, a record
    *    that arrives while an earlier one is still buffered is deduped,
    *    and any other non-late record is emitted;
    *  - rows_in = emitted + deduped + late_dropped + poison + buffered_end,
    *    where only the sentinels remain buffered.
    */
  def check(frames: IndexedSeq[IndexedSeq[Frame]], out: Seq[(Long, Array[Row])],
      lateDropped: Long): Check = {
    val problems = mutable.ArrayBuffer.empty[String]
    def problem(p: String): Unit = if (problems.size < 10) problems += p
    val all = frames.flatten
    val byId = all.filter(_.kind != Poison).map(f => f.order.orderId -> f).toMap
    val flushedIn = mutable.HashMap.empty[String, Long]
    var emitted = 0L
    out.sortBy(_._1).foreach { case (batchId, rows) =>
      var last: (String, Long) = null
      var lastTime = Long.MinValue
      rows.foreach { r =>
        emitted += 1
        val o = try Wire.decode(r.getAs[Array[Byte]]("value"))
          catch { case e: Exception => problem(s"undecodable output: $e"); null }
        if (o != null) {
          val flush = r.getAs[java.sql.Timestamp]("timestamp").getTime
          byId.get(o.orderId) match {
            case None => problem(s"emitted record was never sent: $o")
            case Some(f) =>
              if (f.order != o) problem(s"emitted record differs from sent: $o vs ${f.order}")
              if (f.kind == Late) problem(s"emitted a record the watermark should drop: $o")
              if (flushedIn.put(o.orderId, batchId).isDefined) problem(s"emitted twice: $o")
          }
          if (r.getAs[String]("key") != s"key-${o.time}") problem(s"bad store key ${r.getAs[String]("key")}")
          val group = (o.key, flush)
          if (group == last && o.time <= lastTime)
            problem(s"not ascending within flush of ${o.key} at $flush")
          last = group
          lastTime = o.time
        }
      }
    }
    var deduped = 0L
    var late = 0L
    all.filter(f => f.kind != Poison && f.kind != Sentinel)
      .groupBy(f => (f.order.key, f.order.time)).values.foreach { group =>
        var buffered = Option.empty[Long] // flush batch of the entry that won
        group.sortBy(_.seq).foreach { f =>
          val out = flushedIn.get(f.order.orderId)
          if (f.kind == Late) late += 1
          else if (buffered.exists(_ > f.batch) || (buffered.contains(f.batch.toLong) && out.isEmpty)) {
            if (out.isDefined) problem(s"a later duplicate won: ${f.order}")
            deduped += 1
          } else if (out.isEmpty) problem(s"record neither emitted, deduped nor late: ${f.order}")
          else buffered = out
        }
      }
    val poison = all.count(_.kind == Poison).toLong
    val sentinels = all.count(f => f.kind == Sentinel && !flushedIn.contains(f.order.orderId)).toLong
    if (late != lateDropped) problem(s"late records sent $late, dropped by watermark $lateDropped")
    val rowsIn = all.size.toLong
    if (rowsIn != emitted + deduped + lateDropped + poison + sentinels)
      problem(s"rows_in $rowsIn != emitted $emitted + deduped $deduped + late $lateDropped " +
        s"+ poison $poison + buffered_end $sentinels")
    Check(problems.toSeq, emitted, deduped, lateDropped, poison, sentinels, rowsIn)
  }

  final case class Round(batchNs: Seq[Long], records: Long, ok: Boolean,
      failedBatches: Int, problems: Seq[String])

  /** Runs as many rounds as fit `seconds` of timed micro-batches, judged
    * by the first round's time (at least one). */
  def run(spark: SparkSession, workload: String, seed: Long, seconds: Int, work: File,
      tr: Option[Collectors], rootSpan: Int, firstTimedOp: () => Unit): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val s = shape(workload)
    val rounds = mutable.ArrayBuffer.empty[Round]
    val spans = tr.map(_.spans)
    var timedNs = 0L
    var planned = 1
    while (rounds.size < planned) {
      val r = rounds.size
      val frames = generate(s, seed * 1000 + r)
      val input = MemoryStream[Array[Byte]]
      val sink = new ConcurrentLinkedQueue[(Long, Array[Row])]()
      val orders = KafkaAvroIO.decodeValues(input.toDF(), confluentFramed = true)
      val query = KafkaAvroIO.encodeValues(ReorderApp.topology(orders, s.graceMs),
          confluentFramed = true, schemaId = SchemaId, withTimestamp = true)
        .writeStream
        .option("checkpointLocation", new File(work, s"checkpoint-$r").getPath)
        .foreachBatch { (df: DataFrame, id: Long) => sink.add(id -> df.collect()); () }
        .start()
      val batchNs = mutable.ArrayBuffer.empty[Long]
      var error = Option.empty[String]
      def span[T](parent: Int, name: String)(body: Int => T): T =
        spans.map(_.span(parent, name, "round" -> r)(body)).getOrElse(body(0))
      // a hand-over that throws is charged `seconds` on top of its time,
      // and so is every hand-over skipped after it, so a failure never
      // shortens the round
      val failNs = seconds * 1000000000L
      span(rootSpan, "round") { roundSpan =>
        frames.zipWithIndex.foreach { case (b, j) =>
          if (j == WarmBatches && r == 0) firstTimedOp()
          if (error.nonEmpty) {
            if (j >= WarmBatches) batchNs += failNs
          } else {
            val opStart = tr.map(_.begin(roundSpan))
            val t0 = System.nanoTime()
            span(roundSpan, "micro_batch") { _ =>
              try {
                input.addData(b.map(_.bytes))
                query.processAllAvailable()
              } catch { case e: Exception => error = Some(e.toString) }
            }
            val t1 = System.nanoTime()
            if (j >= WarmBatches) batchNs += t1 - t0 + (if (error.nonEmpty) failNs else 0L)
            tr.foreach { c =>
              c.end(opStart.get)
              if (j >= WarmBatches && b.nonEmpty && error.isEmpty) ioLayer(spark, b, c, roundSpan)
            }
          }
        }
      }
      query.stop()
      val progress: Seq[StreamingQueryProgress] =
        tr.map(_.takeProgress()).getOrElse(query.recentProgress.toSeq)
      val lateDropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      val chk = check(frames, sink.asScala.toSeq, lateDropped)
      tr.map(_.counters).foreach { c =>
        progress.filter(_.batchId >= WarmBatches).foreach(Progress.record(_, c))
        // the whole round's record accounting, so that the identity
        // rows_in = emitted + deduped + late_dropped + poison + buffered_end
        // reads off the per-layer table
        c.add("reorder.rows_in", chk.rowsIn.toDouble)
        c.add("reorder.emitted", chk.emitted.toDouble)
        c.add("reorder.deduped", chk.deduped.toDouble)
        c.add("reorder.late_dropped", chk.late.toDouble)
        c.add("reorder.poison", chk.poison.toDouble)
        c.max("reorder.buffered_end", chk.bufferedEnd.toDouble)
      }
      val problems = error.toSeq ++ chk.problems
      val timedRecords = frames.drop(WarmBatches).map(_.size).sum.toLong
      // a round that throws or fails its check fails all its timed batches
      rounds += Round(batchNs.toSeq, timedRecords, problems.isEmpty,
        if (problems.isEmpty) 0 else frames.size - WarmBatches, problems)
      timedNs += batchNs.sum
      if (r == 0) planned = math.max(1, math.round(seconds * 1e9 / batchNs.sum).toInt)
    }
    val lat = rounds.flatMap(_.batchNs).map(_ / 1e6).sorted.toSeq
    val okRecords = rounds.filter(_.ok).map(_.records).sum
    // every round hands over its data batches, the sentinels and the
    // timer batch; all but the first WarmBatches are timed operations
    val attempted = rounds.size * (s.batches + 2 - WarmBatches)
    val failed = rounds.map(_.failedBatches).sum
    Result(
      ok = rounds.forall(_.ok),
      attempted = attempted,
      failed = failed,
      metrics = Map(
        "records_per_s" -> (if (timedNs > 0) okRecords / (timedNs / 1e9) else 0.0),
        "batch_ms_p50" -> Stats.quantile(lat, 0.5),
        "batch_ms_p90" -> Stats.quantile(lat, 0.9),
        "pass_s" -> Stats.median(rounds.map(_.batchNs.sum / 1e9).toSeq)),
      perUnit = rounds.size,
      problems = rounds.flatMap(_.problems).toSeq,
      notes = Map("rounds" -> rounds.size, "batches" -> lat.size,
        "samples_beyond_p90" -> lat.count(_ > Stats.quantile(lat, 0.9))))
  }

  /** The `io` layer timed from outside: `decodeValues` and `encodeValues`
    * called standalone on the same batch, each into the `noop` sink. */
  private def ioLayer(spark: SparkSession, b: IndexedSeq[Frame], c: Collectors,
      parent: Int): Unit = {
    import spark.implicits._
    val wire = b.map(_.bytes).toDF("value")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val decoded = KafkaAvroIO.decodeValues(wire, confluentFramed = true)
    val d0 = System.nanoTime()
    c.spans.span(parent, "io.decode") { _ => noop(decoded.toDF()) }
    c.counters.add("io.decode_ms", (System.nanoTime() - d0) / 1e6)
    c.counters.add("io.poison_rows", (b.size - decoded.count()).toDouble)
    val reordered = decoded.select(concat(lit("key-"), col("time")).as("key"), col("order_id"),
      col("electronic_id"), col("user_id"), col("price"), col("time"),
      col("time").as("flush_time")).as[Reordered]
    val e0 = System.nanoTime()
    c.spans.span(parent, "io.encode") { _ =>
      noop(KafkaAvroIO.encodeValues(reordered, confluentFramed = true, schemaId = SchemaId,
        withTimestamp = true))
    }
    c.counters.add("io.encode_ms", (System.nanoTime() - e0) / 1e6)
  }
}
