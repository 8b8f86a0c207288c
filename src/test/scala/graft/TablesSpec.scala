package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins `Tables.events` against upstream parquet logical-type drift.
  *
  * The driver regenerated `/root/testdata` mid-round-7 and `events.ts`
  * changed from TIMESTAMP(NANOS) to plain `timestamp[us]` (TIMESTAMP_NTZ
  * to Spark); the loader hard-coded the nanos decoding and 25 queries
  * died at analysis time. This spec writes the SAME logical rows in every
  * encoding an upstream producer has shipped (or could ship) and asserts
  * the loader yields identical, TimestampType-normalized rows for all of
  * them:
  *   - int64 nanoseconds (what TIMESTAMP(NANOS) parquet looks like to
  *     Spark under `spark.sql.legacy.parquet.nanosAsLong` — rounds 1–6)
  *   - TIMESTAMP_NTZ micros (pandas/pyarrow default — round 7+)
  *   - TIMESTAMP (LTZ) micros (Spark's own default timestamp writes)
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  // micros since epoch, deliberately including a non-millisecond tail so
  // ns→µs and µs→µs paths must agree at full precision
  private val micros = Seq(
    1704067200000001L, 1704067200123456L, 1704153599999999L, 1704240000500000L)

  private def base: DataFrame =
    micros.zipWithIndex.map { case (us, i) =>
      (i.toLong, us, i.toLong % 2, s"type_$i", i * 1.5, s"""{"k":$i}""")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")

  private def writeEncoding(encode: DataFrame => DataFrame): String = {
    val dir = tempDir("graft-events-enc")
    encode(base).select(
      $"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def canon(df: DataFrame): Seq[Row] = {
    assert(df.schema("ts").dataType === TimestampType,
      "loader must normalize every encoding to TimestampType")
    df.select($"event_id", unix_micros($"ts").as("us"))
      .collect().toSeq.sortBy(_.getLong(0))
  }

  test("events loader normalizes int64-nanos, NTZ-micros, and LTZ-micros encodings identically") {
    val asNanosLong = writeEncoding(_.withColumn("ts", $"us" * 1000L))
    val asNtz = writeEncoding(
      _.withColumn("ts", timestamp_micros($"us").cast(TimestampNTZType)))
    val asLtz = writeEncoding(_.withColumn("ts", timestamp_micros($"us")))

    val fromNanos = canon(Tables.events(spark, asNanosLong))
    val fromNtz = canon(Tables.events(spark, asNtz))
    val fromLtz = canon(Tables.events(spark, asLtz))

    assert(fromNanos === fromNtz)
    assert(fromNtz === fromLtz)
    val expected = micros.sorted
    assert(fromLtz.map(_.getLong(1)) === expected)
  }

  test("embeddings loader normalizes float and double element encodings identically") {
    val vals = Seq((0L, Array(0.5f, -1.25f, 3.75f)), (1L, Array(2.5f, 0.125f, -0.625f)))
    def writeEnc(asDouble: Boolean): String = {
      val dir = tempDir("graft-emb-enc")
      val base = vals.toDF("vec_id", "embedding")
      val df = if (asDouble)
        base.withColumn("embedding", $"embedding".cast(ArrayType(DoubleType)))
      else base
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    def canonEmb(dir: String): Seq[(Long, Seq[Float])] = {
      val df = Tables.embeddings(spark, dir)
      assert(df.schema("embedding").dataType === ArrayType(FloatType),
        "loader must normalize to array<float>")
      df.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    }
    // exactly-representable values -> the double round trip is lossless
    assert(canonEmb(writeEnc(asDouble = false)) === canonEmb(writeEnc(asDouble = true)))
  }

  test("documents loader normalizes UTF8-annotated and bare-BYTE_ARRAY string encodings identically") {
    // parquet strings are BYTE_ARRAY + UTF8 annotation; a producer that
    // drops the annotation ships bytes Spark reads as BinaryType and the
    // whole text family dies at analysis time — same drift class as
    // events.ts. (Encodings Spark CANNOT see differ — arrow
    // string/large_string, dict vs DELTA_BYTE_ARRAY pages — need no pin:
    // they all land as this same annotated BYTE_ARRAY logical type.)
    val rows = Seq(
      (0L, "plain ascii", "en", "web", 11L),
      (1L, "unicode é中文 text", "zh", "books", 15L))
    def writeEnc(asBinary: Boolean): String = {
      val dir = tempDir("graft-docs-enc")
      val base = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      val df = if (asBinary)
        base.withColumn("text", $"text".cast(BinaryType))
          .withColumn("lang", $"lang".cast(BinaryType))
          .withColumn("source", $"source".cast(BinaryType))
      else base
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def canonDocs(dir: String): Seq[(Long, String, String, String)] = {
      val df = Tables.documents(spark, dir)
      Seq("text", "lang", "source").foreach(c =>
        assert(df.schema(c).dataType === StringType,
          s"loader must normalize documents.$c to string"))
      df.select($"doc_id", $"text", $"lang", $"source")
        .as[(Long, String, String, String)].collect().toSeq.sortBy(_._1)
    }
    assert(canonDocs(writeEnc(asBinary = false)) === canonDocs(writeEnc(asBinary = true)))
  }

  test("events loader normalizes bare-BYTE_ARRAY event_type/props to string") {
    val asBinary = writeEncoding(
      _.withColumn("ts", timestamp_micros($"us"))
        .withColumn("event_type", $"event_type".cast(BinaryType))
        .withColumn("props", $"props".cast(BinaryType)))
    val ev = Tables.events(spark, asBinary)
    assert(ev.schema("event_type").dataType === StringType)
    assert(ev.schema("props").dataType === StringType)
    val got = ev.select($"event_id", $"event_type", $"props")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    assert(got === micros.indices.map(i => (i.toLong, s"type_$i", s"""{"k":$i}""")))
  }

  test("events loader against the driver's current testdata analyzes and preserves micros") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists())
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType === TimestampType)
    // must survive analysis + execution, not just schema inspection
    assert(ev.count() > 0)
  }
}
