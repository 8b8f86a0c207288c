package graft

import java.nio.file.Files

import graft.io.{AvroCodec, KafkaAvroIO}
import graft.model.ElectronicOrder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** One Kafka wire record for MemoryStream (top-level: Spark's product
  * encoder cannot instantiate inner classes).
  */
final case class WireRecord(value: Array[Byte])

/** Recording [[KafkaAvroIO.RecordProducer]] factory for the
  * `sinkWithTimestamp` spec. A top-level object: local-mode executors run
  * in this JVM, so the static queue observes executor-side sends; the
  * factory itself captures no state and serializes as a module ref.
  */
object RecordingProducerFactory
    extends (KafkaAvroIO.KafkaConf => KafkaAvroIO.RecordProducer) with Serializable {
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Array[Byte], Long)]
  val closes = new java.util.concurrent.atomic.AtomicInteger
  def apply(conf: KafkaAvroIO.KafkaConf): KafkaAvroIO.RecordProducer =
    new KafkaAvroIO.RecordProducer {
      def send(topic: String, key: String, value: Array[Byte], timestampMs: Long): Unit = {
        sent.add((topic, key, value, timestampMs)); ()
      }
      def close(): Unit = { closes.incrementAndGet(); () }
    }
}

/** The production entry point ([[ReorderApp]]) minus the broker: property
  * parsing parity with the reference's loader (StreamsUtils.java:16-27)
  * and the full wire-in → reorder → wire-out assembly on MemoryStream.
  */
class ReorderAppSpec extends SparkTestBase {
  import spark.implicits._

  private def t(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  // the reference's golden fixture (ApplicationTest.java:32-44) — it spans
  // more than the 10 h grace window, so the event-time flush actually fires
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

  test("loadProps parses a .properties file with the reference's keys") {
    val f = java.nio.file.Paths.get(tempDir("graft-app"), "dev.properties")
    // dev.properties:1-10 keys, verbatim format (= separated, blank lines)
    Files.writeString(f,
      """application.id=reorder-api-application
        |bootstrap.servers=localhost:9094
        |schema.registry.url=http://localhost:8081
        |enable.idempotence=true
        |acks=all
        |
        |input.topic.name=reorder-input-topic
        |output.topic.name=reorder-output-topic
        |
        |replication.factor=1""".stripMargin)
    val props = ReorderApp.loadProps(f.toString)
    assert(props("application.id") == "reorder-api-application")
    assert(props("acks") == "all" && props.size == 8)
    val conf = KafkaAvroIO.loadConf(props)
    assert(conf.bootstrap == "localhost:9094")
    assert(conf.inputTopic == "reorder-input-topic")
    assert(conf.outputTopic == "reorder-output-topic")
    assert(conf.confluentFramed, "reference produces Confluent-framed Avro")
  }

  test("native Avro expressions agree with the codec oracle (raw + framed)") {
    val orders = fixture :+ ElectronicOrder("", "HDTV", "u1", 9.99, 1000L)
    for (framed <- Seq(false, true)) {
      val wire = orders.map { o =>
        val raw = AvroCodec.encode(o)
        WireRecord(if (framed) Array[Byte](0, 0, 0, 0, 42) ++ raw else raw)
      }
      val decoded = KafkaAvroIO.decodeValues(wire.toDF(), framed)
        .collect().toSeq
      assert(decoded == orders, s"native decode (framed=$framed) != codec oracle")
    }
    // encode side: the native expression's raw payload must be byte-exact
    // with the codec's, and its framed payload must carry the 5-byte header
    val ds = fixture.map(o => graft.streaming.StreamingReorder.Reordered(
      s"key-${o.time}", o.order_id, o.electronic_id, o.user_id, o.price, o.time,
      flush_time = 0L)).toDS()
    val raw = KafkaAvroIO.encodeValues(ds, confluentFramed = false)
      .as[(String, Array[Byte])].collect().toMap
    fixture.foreach { o =>
      assert(java.util.Arrays.equals(raw(s"key-${o.time}"), AvroCodec.encode(o)))
    }
    val framedOut = KafkaAvroIO.encodeValues(ds, confluentFramed = true)
      .as[(String, Array[Byte])].collect().toMap
    fixture.foreach { o =>
      val b = framedOut(s"key-${o.time}")
      assert(b(0) == 0 && java.util.Arrays.equals(b.drop(5), AvroCodec.encode(o)))
    }
  }

  test("schema.id flows from properties to the Confluent frame header end to end") {
    val props = Map("schema.id" -> "42")
    val conf = KafkaAvroIO.loadConf(props)
    assert(conf.schemaId == 42)
    val ds = Seq(graft.streaming.StreamingReorder.Reordered(
      "key-1000", "1", "HDTV", "u1", 9.99, 1000L, flush_time = 2000L)).toDS()
    val out = KafkaAvroIO.encodeValues(ds, confluentFramed = true,
      schemaId = conf.schemaId).as[(String, Array[Byte])].head()
    val b = out._2
    assert(b(0) == 0, "Confluent magic byte")
    val headerId = ((b(1) & 0xFF) << 24) | ((b(2) & 0xFF) << 16) |
      ((b(3) & 0xFF) << 8) | (b(4) & 0xFF)
    assert(headerId == 42, "frame must carry the configured registry id, not 0")
    assert(java.util.Arrays.equals(b.drop(5),
      AvroCodec.encode(ElectronicOrder("1", "HDTV", "u1", 9.99, 1000L))))
  }

  test("encodeValues withTimestamp surfaces the S5 flush time as a sink timestamp column") {
    val ds = Seq(graft.streaming.StreamingReorder.Reordered(
      "key-1000", "1", "HDTV", "u1", 9.99, 1000L, flush_time = 5000L)).toDS()
    val out = KafkaAvroIO.encodeValues(ds, confluentFramed = true, withTimestamp = true)
    assert(out.columns.toSeq == Seq("key", "value", "timestamp"))
    val ts = out.select(col("timestamp")).head().getTimestamp(0)
    assert(ts.toInstant.toEpochMilli == 5000L,
      "timestamp = punctuation stream time (Application.java:77)")
  }

  test("sinkWithTimestamp produces (key, value, flush-time) triples to the broker SPI") {
    // the S5 observable format("kafka") cannot express: the produced
    // record's timestamp is the punctuation stream time
    // (Application.java:75-78), not broker append time
    implicit val sqlCtx = spark.sqlContext
    RecordingProducerFactory.sent.clear()
    RecordingProducerFactory.closes.set(0)
    val conf = KafkaAvroIO.KafkaConf("unused:9092", "in", "orders-out",
      tempDir("graft-s5-ckpt"),
      confluentFramed = true, schemaId = 7)
    val input = MemoryStream[graft.streaming.StreamingReorder.Reordered]
    val q = KafkaAvroIO.sinkWithTimestamp(input.toDS(), conf, RecordingProducerFactory)
      .start()
    try {
      input.addData(
        graft.streaming.StreamingReorder.Reordered("key-1000", "1", "HDTV", "u1", 9.99, 1000L, 5000L),
        graft.streaming.StreamingReorder.Reordered("key-2000", "2", "SPEAKER", "u2", 19.99, 2000L, 7000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = scala.jdk.CollectionConverters.CollectionHasAsScala(
      RecordingProducerFactory.sent).asScala.toSeq.sortBy(_._2)
    assert(got.map(t => (t._1, t._2, t._4)) == Seq(
      ("orders-out", "key-1000", 5000L), ("orders-out", "key-2000", 7000L)),
      "record timestamp must be flush_time, topic from conf, key the S4 store key")
    assert(AvroCodec.decode(got(0)._3, confluentFramed = true) ==
      ElectronicOrder("1", "HDTV", "u1", 9.99, 1000L))
    assert(AvroCodec.decode(got(1)._3, confluentFramed = true) ==
      ElectronicOrder("2", "SPEAKER", "u2", 19.99, 2000L))
    assert(got(0)._3(0) == 0 && got(0)._3(4) == 7,
      "value carries the Confluent frame with the configured schema id")
    assert(RecordingProducerFactory.closes.get >= 1,
      "every opened producer must be closed after its partition drains")
  }

  test("corrupt payloads decode to null and are filtered, not fatal (poison rows)") {
    val good = fixture.head
    val wire = Seq(
      WireRecord(Array[Byte](0, 0, 0, 0, 7) ++ AvroCodec.encode(good)),
      WireRecord(Array[Byte](0, 0, 0)),            // shorter than the header
      WireRecord(Array[Byte](1, 0, 0, 0, 7, 9)),   // wrong magic byte
      WireRecord(Array[Byte](0, 0, 0, 0, 7, -1))   // truncated Avro body
    )
    val decoded = KafkaAvroIO.decodeValues(wire.toDF(), confluentFramed = true)
      .collect().toSeq
    assert(decoded == Seq(good), "only the valid record survives")
  }

  test("wire-in -> topology -> wire-out assembly reproduces the golden reorder") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireRecord]
    // the exact stages main() wires: decodeValues ∘ topology ∘ encodeValues,
    // with only format("kafka") swapped for MemoryStream + memory sink
    val reordered = ReorderApp.topology(
      KafkaAvroIO.decodeValues(input.toDF(), confluentFramed = true))
    val q = KafkaAvroIO.encodeValues(reordered, confluentFramed = true)
      .writeStream.format("memory").queryName("app_smoke")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(fixture.map(o =>
        WireRecord(Array[Byte](0, 0, 0, 0, 7) ++ AvroCodec.encode(o))))
      q.processAllAvailable()
      q.processAllAvailable() // let the event-time timeout flush fire
      val out = spark.table("app_smoke").as[(String, Array[Byte])].collect().toSeq
        .map { case (k, v) => (k, AvroCodec.decode(v, confluentFramed = true)) }
      val expected = fixture.sortBy(_.time)
      assert(out.map(_._2) == expected, "values, ascending event time")
      assert(out.map(_._1) == expected.map(o => s"key-${o.time}"), "S4 store keys")
    } finally q.stop()
  }
}
