package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.io.LocalCheckpointFileManager
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (lazy, UTC, small shuffle,
  * checkpoints through [[LocalCheckpointFileManager]]). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  private val tempDirs = ArrayBuffer.empty[Path]

  /** A fresh directory under the system temp dir, deleted with its
    * contents once this suite has run. */
  protected def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  /** The RocksDB state store provider, for [[withConf]]. */
  protected val RocksDbStateStore: (String, Option[String]) =
    "spark.sql.streaming.stateStore.providerClass" ->
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Runs `body` with each key set to its value (`None`: unset), then
    * restores the session's previous settings. */
  protected def withConf[T](kvs: (String, Option[String])*)(body: => T): T = {
    def set(kv: (String, Option[String])): Unit = kv match {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach(set)
    try body finally saved.foreach(set)
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(d => SparkTestBase.deleteRecursively(d.toFile)))
    finally super.afterAll()
}

object SparkTestBase {
  def deleteRecursively(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  lazy val session: SparkSession = {
    // the warehouse outlives any one suite (managed tables), so it goes
    // with the JVM instead
    val warehouse = Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(deleteRecursively(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    LocalCheckpointFileManager.install(s)
    s
  }
}
