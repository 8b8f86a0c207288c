package graft.functions

import java.io.ByteArrayOutputStream
import java.util.Locale

import graft.model.ElectronicOrder
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Avro wire path for the reference's `ElectronicOrder` record.
  *
  * The obvious mapping (SURVEY §1.3) is spark-avro's `from_avro`/`to_avro`,
  * but that external module is not on this environment's classpath, so the
  * same plan shape is provided as custom Catalyst expressions with real
  * `doGenCode`: the Kafka `value` column decodes to a struct INSIDE
  * whole-stage codegen — no typed lambda, no per-row
  * deserialize→JVM-object→re-encode round trip (the round-1 source path's
  * weakness). The avro-core codec ([[graft.io.AvroCodec]]) stays as the
  * test oracle; an equivalence spec pins the two together.
  *
  * Threading: Avro readers/decoders are not thread-safe and allocation is
  * per-record cost, so both sides reuse them via [[ThreadLocal]]s.
  *
  * Confluent framing (magic byte + 4-byte schema id, the reference's
  * SpecificAvroSerde wire format per StreamsUtils.java:29-33) is explicit:
  * decode skips 5 bytes when `framed`, encode prepends the header with the
  * caller's `schemaId` (a registry-assigned value in real deployments).
  */
object AvroOrderWire {

  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(ElectronicOrder.avroSchemaJson)

  private val readerTL = new ThreadLocal[GenericDatumReader[GenericRecord]] {
    override def initialValue() = new GenericDatumReader[GenericRecord](schema)
  }
  private val decoderTL = new ThreadLocal[Array[BinaryDecoder]] {
    override def initialValue() = new Array[BinaryDecoder](1)
  }
  private val writerTL = new ThreadLocal[GenericDatumWriter[GenericRecord]] {
    override def initialValue() = new GenericDatumWriter[GenericRecord](schema)
  }
  private val encOutTL = new ThreadLocal[ByteArrayOutputStream] {
    override def initialValue() = new ByteArrayOutputStream(64)
  }
  private val encoderTL = new ThreadLocal[Array[BinaryEncoder]] {
    override def initialValue() = new Array[BinaryEncoder](1)
  }

  /** Decode one wire payload to an InternalRow in ElectronicOrder.schema
    * field order, or NULL for a corrupt payload (framed shorter than the
    * 5-byte header, wrong magic byte, or malformed Avro body) — the
    * poison-row contract: one bad record must yield a filterable null,
    * not kill the streaming query (see
    * [[graft.io.KafkaAvroIO.decodeValues]]). Strings pass through as raw
    * UTF-8 bytes (Avro `Utf8` → `UTF8String`) with no intermediate
    * `java.lang.String`.
    */
  def decodeRow(bytes: Array[Byte], framed: Boolean): InternalRow = {
    if (framed && (bytes.length < 5 || bytes(0) != 0)) return null
    val offset = if (framed) 5 else 0
    try {
      val slot = decoderTL.get()
      val dec = DecoderFactory.get()
        .binaryDecoder(bytes, offset, bytes.length - offset, slot(0))
      slot(0) = dec
      val rec = readerTL.get().read(null, dec)
      def str(i: Int): UTF8String = rec.get(i) match {
        case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
        case other => UTF8String.fromString(other.toString)
      }
      new GenericInternalRow(Array[Any](str(0), str(1), str(2),
        rec.get(3).asInstanceOf[Double], rec.get(4).asInstanceOf[Long]))
    } catch {
      // Avro surfaces truncation/corruption as IOException (EOFException)
      // or AvroRuntimeException subclasses
      case _: java.io.IOException | _: org.apache.avro.AvroRuntimeException =>
        null
    }
  }

  /** Encode one struct row (ElectronicOrder.schema field order) to the
    * wire payload.
    */
  def encodeRow(row: InternalRow, framed: Boolean, schemaId: Int): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    def utf8(i: Int): Utf8 = new Utf8(row.getUTF8String(i).getBytes)
    rec.put(0, utf8(0)); rec.put(1, utf8(1)); rec.put(2, utf8(2))
    rec.put(3, row.getDouble(3)); rec.put(4, row.getLong(4))
    val out = encOutTL.get()
    out.reset()
    if (framed) {
      out.write(0) // Confluent magic byte
      out.write((schemaId >>> 24) & 0xFF); out.write((schemaId >>> 16) & 0xFF)
      out.write((schemaId >>> 8) & 0xFF); out.write(schemaId & 0xFF)
    }
    val slot = encoderTL.get()
    val enc = EncoderFactory.get().directBinaryEncoder(out, slot(0))
    slot(0) = enc
    writerTL.get().write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** `prefix` followed by each order's Avro binary body
    * (electronic_order.avsc, no Confluent header), in iteration order.
    * A null string field is rejected, as the schema rejects it.
    */
  def appendOrders(prefix: Array[Byte], orders: Iterable[ElectronicOrder]): Array[Byte] = {
    val out = encOutTL.get()
    out.reset()
    val slot = encoderTL.get()
    val enc = EncoderFactory.get().directBinaryEncoder(out, slot(0))
    slot(0) = enc
    val writer = writerTL.get()
    val rec = new GenericData.Record(schema)
    orders.foreach { o =>
      rec.put(0, o.order_id); rec.put(1, o.electronic_id); rec.put(2, o.user_id)
      rec.put(3, o.price); rec.put(4, o.time)
      writer.write(rec, enc)
    }
    enc.flush()
    val tail = out.toByteArray
    val all = java.util.Arrays.copyOf(prefix, prefix.length + tail.length)
    System.arraycopy(tail, 0, all, prefix.length, tail.length)
    all
  }

  /** The `n` orders of `bytes`, a concatenation of exactly `n` Avro
    * binary bodies as [[appendOrders]] writes them.
    */
  def readOrders(bytes: Array[Byte], n: Int): Array[ElectronicOrder] = {
    val slot = decoderTL.get()
    val dec = DecoderFactory.get().binaryDecoder(bytes, 0, bytes.length, slot(0))
    slot(0) = dec
    val reader = readerTL.get()
    var rec: GenericRecord = null
    val orders = Array.fill(n) {
      rec = reader.read(rec, dec)
      ElectronicOrder(rec.get(0).toString, rec.get(1).toString, rec.get(2).toString,
        rec.get(3).asInstanceOf[Double], rec.get(4).asInstanceOf[Long])
    }
    if (!dec.isEnd) throw new IllegalStateException(
      s"${bytes.length} bytes hold more than $n ElectronicOrder bodies")
    orders
  }

  def decode(value: Column, framed: Boolean): Column =
    ColumnBridge.column(AvroOrderDecode(ColumnBridge.expression(value), framed))

  def encode(order: Column, framed: Boolean, schemaId: Int = 0): Column =
    ColumnBridge.column(
      AvroOrderEncode(ColumnBridge.expression(order), framed, schemaId))
}

/** `binary` → `struct<order_id,electronic_id,user_id,price,time>`, staying
  * inside whole-stage codegen (the generated code is a single call into
  * [[AvroOrderWire.decodeRow]]).
  */
case class AvroOrderDecode(child: Expression, framed: Boolean)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"avro_order_decode requires binary input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ElectronicOrder.schema
  // nullable even over non-null input: corrupt payloads decode to null
  override def nullable: Boolean = true
  override def prettyName: String = "avro_order_decode"

  override protected def nullSafeEval(input: Any): Any =
    AvroOrderWire.decodeRow(input.asInstanceOf[Array[Byte]], framed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.AvroOrderWire.decodeRow($c, $framed);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): AvroOrderDecode =
    copy(child = newChild)
}

/** `struct<order_id,electronic_id,user_id,price,time>` → `binary` wire
  * payload (optionally Confluent-framed).
  */
case class AvroOrderEncode(child: Expression, framed: Boolean, schemaId: Int)
  extends UnaryExpression {

  // names are checked too (case-insensitively): the record's strings are
  // type-interchangeable, so a reordered struct would otherwise encode
  // values into the wrong Avro fields without any analysis error
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if s.length == ElectronicOrder.schema.length &&
        s.fields.map(_.dataType).sameElements(ElectronicOrder.schema.fields.map(_.dataType)) &&
        s.fields.map(_.name.toLowerCase(Locale.ROOT)).sameElements(
          ElectronicOrder.schema.fields.map(_.name.toLowerCase(Locale.ROOT))) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"avro_order_encode requires an ElectronicOrder-shaped struct " +
        s"(matching field names and types), got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def prettyName: String = "avro_order_encode"

  override protected def nullSafeEval(input: Any): Any =
    AvroOrderWire.encodeRow(input.asInstanceOf[InternalRow], framed, schemaId)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AvroOrderWire.encodeRow($c, $framed, $schemaId);")

  override protected def withNewChildInternal(newChild: Expression): AvroOrderEncode =
    copy(child = newChild)
}
