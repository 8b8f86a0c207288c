package graft

import graft.io.{KafkaAvroIO, LocalCheckpointFileManager}
import graft.model.ElectronicOrder
import graft.streaming.StreamingReorder
import org.apache.spark.sql.{Dataset, SparkSession}

/** Production entry point — the Spark re-expression of the reference's
  * `Application.main` (Application.java:110-171):
  *
  *  1. one CLI argument: the path to a `.properties` file
  *     (StreamsUtils.java:16-22 semantics, same keys as
  *     configuration/dev.properties);
  *  2. Kafka/Avro source → stateful event-time reorder with a 10-hour
  *     grace window (`Duration.of(10, HOURS)`, Application.java:144) →
  *     Kafka/Avro sink re-keyed `key-<millis>` (Application.java:145);
  *  3. a shutdown hook that stops the query cleanly (the analog of
  *     `kafkaStreams.close` inside the reference's hook,
  *     Application.java:155-158).
  *
  * Kafka Streams' `cleanUp()` (wipe local state before start) has no
  * Spark analog and none is needed: Structured Streaming state lives in
  * the checkpoint, and a fresh run is selected by pointing
  * `checkpoint.location` at a fresh directory.
  *
  * Cluster notes: submit with the spark-sql-kafka connector on the
  * classpath; state scales per reorder key × one grace window of data, so
  * for long grace windows configure the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass`) exactly as the tests
  * do (StreamingReorderSpec's RocksDB run). `topology` sets
  * `spark.sql.streaming.checkpointFileManagerClass` to
  * [[graft.io.LocalCheckpointFileManager]] when that key is unset: a
  * `file:` checkpoint is then written through `java.nio` instead of
  * forking `chmod`/`readlink` per checkpoint file, and a checkpoint on
  * any other scheme goes through Spark's default manager unchanged. To
  * use another manager, set the key before calling `topology`.
  */
object ReorderApp {

  /** Duration.of(10, HOURS) — Application.java:144. */
  val DefaultGraceMs: Long = 10L * 3600 * 1000

  /** `.properties` file → key/value map (StreamsUtils.loadProperties +
    * propertiesToMap, StreamsUtils.java:16-27).
    */
  def loadProps(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
  }

  /** The topology minus the Kafka edges, so the MemoryStream smoke test
    * drives the exact assembly `main` runs. Installs
    * [[LocalCheckpointFileManager]] on the session of `orders` unless a
    * checkpoint file manager is already configured there.
    */
  def topology(orders: Dataset[ElectronicOrder],
      graceMs: Long = DefaultGraceMs): Dataset[StreamingReorder.Reordered] = {
    LocalCheckpointFileManager.install(orders.sparkSession)
    StreamingReorder.faithful(orders, graceMs)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1,
      "This program takes one argument: the path to a configuration file.")
    val conf = KafkaAvroIO.loadConf(loadProps(args(0)))
    val spark = SparkSession.builder()
      .appName("reorder-api-application") // StreamsConfig.APPLICATION_ID_CONFIG
      .getOrCreate()
    val reordered = topology(KafkaAvroIO.source(spark, conf))
    val query = KafkaAvroIO.sink(reordered, conf).start()
    sys.addShutdownHook {
      query.stop()
      spark.stop()
    }
    query.awaitTermination()
  }
}
