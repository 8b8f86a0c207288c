package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.io.LocalCheckpointFileManager
import graft.model.ElectronicOrder
import graft.streaming.StreamingReorder.Reordered
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

/** The reorder query's checkpoint under [[LocalCheckpointFileManager]]:
  * it starts no process per checkpoint file, it resumes a checkpoint
  * written by Spark's default manager and the other way round, and a
  * corrupted state file still fails the restart.
  */
class ReorderCheckpointSpec extends SparkTestBase {

  private val GraceMs = 3600L * 1000
  private val Key = LocalCheckpointFileManager.ConfKey
  private val SparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)
  private val Ours = Option.empty[String] // unset: `topology` installs the manager

  /** RocksDB state with changelog checkpointing and no snapshot uploads in
    * these short runs, so a restart replays every changelog. */
  private val rocksDb = Seq(
    RocksDbStateStore,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> Some("true"),
    "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> Some("1000"))

  /** 12 seeded batches over 5 keys: event time advances ~40 min a batch,
    * a third of the records arrive up to 50 min out of order, 5% are
    * late beyond the grace period and 5% re-send a buffered timestamp. */
  private val batches: Seq[Seq[ElectronicOrder]] = {
    val rnd = new scala.util.Random(7)
    val base = 1700000000000L
    val sent = mutable.ArrayBuffer.empty[ElectronicOrder]
    (0 until 12).map { b =>
      (0 until 40).map { i =>
        val now = base + b * 40 * 60000L + i * 60000L
        val key = s"k${rnd.nextInt(5)}"
        val r = rnd.nextDouble()
        val o =
          if (r < 0.05 && sent.nonEmpty) sent(sent.size - 1 - rnd.nextInt(math.min(sent.size, 20)))
            .copy(order_id = s"dup-$b-$i", price = -1.0)
          else if (r < 0.10) ElectronicOrder(s"late-$b-$i", key, "u", 1.0, now - 3 * GraceMs)
          else if (r < 0.40) ElectronicOrder(s"$b-$i", key, "u", 1.0, now - rnd.nextInt(50) * 60000L)
          else ElectronicOrder(s"$b-$i", key, "u", 1.0, now)
        sent += o
        o
      }
    } :+ Seq(ElectronicOrder("end", "k0", "u", 0.0, base + 100 * GraceMs))
  }

  /** Runs the reorder over `feed` from checkpoint `ckpt`, one micro-batch
    * per element, under `manager` (None: the one `topology` installs);
    * returns each batch's rows by batch id. */
  private def run(input: MemoryStream[ElectronicOrder], ckpt: String, manager: Option[String],
      feed: Seq[Seq[ElectronicOrder]]): Map[Long, Seq[Reordered]] = withConf(Key -> manager) {
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Reordered]]()
    val q = ReorderApp.topology(input.toDS(), GraceMs)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: Dataset[Reordered], id: Long) =>
        out.put(id, ds.collect().toSeq.sortBy(r => (r.electronic_id, r.flush_time, r.time)))
        ()
      }.start()
    try feed.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    out.asScala.toMap
  }

  private def stream(): MemoryStream[ElectronicOrder] = {
    import spark.implicits._
    MemoryStream[ElectronicOrder](spark)
  }

  test("a RocksDB reorder through topology starts no process from a checkpoint file manager") {
    val jfr = Paths.get(tempDir("graft-jfr"), "process-start.jfr")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val emitted = try {
      val rows = withConf(rocksDb: _*) {
        run(stream(), tempDir("graft-ckpt"), Ours, batches)
      }
      // a control start from this spec, so an empty recording cannot pass
      new ProcessBuilder("true").start().waitFor()
      rows
    } finally {
      recording.stop()
      recording.dump(jfr)
      recording.close()
    }
    assert(emitted.size >= 10, s"only ${emitted.size} micro-batches ran")
    assert(emitted.values.map(_.size).sum > 100, "the reorder flushed its buffers")
    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
    def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    assert(starts.exists(frames(_).exists(_.contains("ReorderCheckpointSpec"))),
      "the control process start was recorded")
    val fromManagers = starts.filter(frames(_).exists(_.contains("CheckpointFileManager")))
    if (fromManagers.nonEmpty) fail(
      s"${fromManagers.size} processes started by a checkpoint file manager, e.g. " +
        fromManagers.take(3).map(e => s"${e.getString("command")} from " +
          frames(e).find(_.contains("CheckpointFileManager")).getOrElse("?")).mkString("; "))
  }

  test("a checkpoint resumes across Spark's default manager and this one, both ways") {
    val uninterrupted = withConf(rocksDb: _*) {
      run(stream(), tempDir("graft-ckpt"), Ours, batches)
    }
    val rows = uninterrupted.values.flatten.toSeq
    assert(rows.size > 100 && rows.map(_.order_id).distinct.size == rows.size)
    assert(batches.flatten.exists(_.order_id.startsWith("dup-")), "the feed re-sends timestamps")
    for ((first, second) <- Seq(SparkDefault -> Ours, Ours -> SparkDefault)) {
      val resumed = withConf(rocksDb: _*) {
        val input = stream()
        val ckpt = tempDir("graft-ckpt")
        run(input, ckpt, first, batches.take(6)) ++ run(input, ckpt, second, batches.drop(6))
      }
      assert(resumed == uninterrupted,
        s"written under ${first.getOrElse("this manager")}, resumed under " +
          s"${second.getOrElse("this manager")}: the rows, flush times and batches must match")
    }
  }

  /** Flips the middle byte of `f`. */
  private def flipByte(f: java.nio.file.Path): Unit = {
    val raf = new RandomAccessFile(f.toFile, "rw")
    try {
      val at = raf.length() / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xFF)
    } finally raf.close()
  }

  /** Rewrites the CRC32C that Spark's checksum file `<f>.crc` records for `f`. */
  private def alterChecksum(f: java.nio.file.Path): Unit = {
    val crc = f.resolveSibling(s"${f.getFileName}.crc")
    val json = Files.readString(crc)
    val m = """"value":(-?\d+)""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"no checksum value in $crc: $json"))
    val altered = json.patch(m.start(1), (m.group(1).toLong + 1).toString, m.group(1).length)
    Files.writeString(crc, altered)
  }

  test("a corrupted state changelog or checksum still fails the restart") {
    for {
      manager <- Seq(Ours, SparkDefault)
      (corruption, corrupt) <- Seq[(String, java.nio.file.Path => Unit)](
        "a flipped changelog byte" -> flipByte, "an altered checksum" -> alterChecksum)
    } {
      val input = stream()
      val ckpt = tempDir("graft-ckpt")
      val err = withConf(rocksDb: _*) {
        run(input, ckpt, manager, batches.take(6))
        val changelogs = Files.walk(Paths.get(ckpt, "state")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".changelog")).toSeq
        assert(changelogs.forall(f => Files.exists(f.resolveSibling(s"${f.getFileName}.crc"))),
          "Spark writes a checksum file next to every changelog")
        corrupt(changelogs.maxBy(f => (Files.size(f), f.toString)))
        intercept[StreamingQueryException](run(input, ckpt, manager, batches.drop(6)))
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => s"${e.getClass.getName}: ${e.getMessage.linesIterator.take(1).mkString}").toSeq
      val context = s"${manager.getOrElse("this manager")}, $corruption: ${causes.mkString(" <- ")}"
      assert(causes.exists(_.contains("CANNOT_LOAD_STATE_STORE")), context)
      if (corruption == "an altered checksum") {
        assert(causes.exists(_.toLowerCase.contains("checksum")), context)
      }
    }
  }
}
