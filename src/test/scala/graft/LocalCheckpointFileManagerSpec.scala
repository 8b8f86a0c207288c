package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import graft.io.LocalCheckpointFileManager
import graft.model.ElectronicOrder
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Hadoop's raw local file system under the `probe` scheme, counting the
  * write calls a checkpoint file manager makes on it. */
class ProbeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("probe:///")
  override def getScheme: String = "probe"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ProbeFileSystem.count("create")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    ProbeFileSystem.count("rename")
    super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ProbeFileSystem.count("mkdirs")
    super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ProbeFileSystem.count("delete")
    super.delete(f, recursive)
  }
}

object ProbeFileSystem {
  val calls = new ConcurrentHashMap[String, AtomicInteger]()
  def count(op: String): Unit = { calls.computeIfAbsent(op, _ => new AtomicInteger).incrementAndGet(); () }
  def of(op: String): Int = Option(calls.get(op)).map(_.get).getOrElse(0)
}

/** The write contract of [[LocalCheckpointFileManager]], which Spark's
  * offset/commit logs and state stores rely on, and its installation. */
class LocalCheckpointFileManagerSpec extends SparkTestBase {

  private val conf = new Configuration()

  /** A fresh local directory as a qualified `file:` path, and a manager on it. */
  private def fixture(): (Path, LocalCheckpointFileManager) = {
    val root = new Path(new File(tempDir("graft-cfm")).toURI)
    (root, new LocalCheckpointFileManager(root, conf))
  }

  private def names(root: Path): Set[String] =
    Option(new File(root.toUri).list).map(_.toSet).getOrElse(Set.empty)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Writes `p` through Hadoop's checksummed local file system, which
    * leaves a `.<name>.crc` sidecar next to it. */
  private def writeWithSidecar(p: Path, text: String): Unit = {
    val out = FileSystem.getLocal(conf).create(p, true)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("a file appears only on close, and close leaves no temp file") {
    val (root, fm) = fixture()
    val p = new Path(root, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    assert(!fm.exists(p), "nothing visible before close")
    assert(names(root).exists(n => n.startsWith(".0.") && n.endsWith(".tmp")),
      s"writes go to a hidden temp file, got ${names(root)}")
    out.close()
    assert(read(fm, p) == "v1")
    assert(names(root) == Set("0"))
  }

  test("cancel leaves neither the file nor the temp file") {
    val (root, fm) = fixture()
    val p = new Path(root, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(root).isEmpty, s"left behind: ${names(root)}")
  }

  test("without overwrite an existing destination fails with FileAlreadyExistsException and is kept") {
    val (root, fm) = fixture()
    val p = new Path(root, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) == "first")
    assert(names(root) == Set("0"), "the losing temp file is deleted")
  }

  test("concurrent writers without overwrite: exactly one wins, the rest are fenced") {
    val (root, fm) = fixture()
    val p = new Path(root, "7")
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val ready = new CountDownLatch(writers)
      val outcomes = Await.result(Future.sequence((0 until writers).map { i =>
        Future {
          val out = fm.createAtomic(p, overwriteIfPossible = false)
          out.write(s"writer-$i".getBytes(UTF_8))
          ready.countDown()
          ready.await(30, TimeUnit.SECONDS)
          Try(out.close()).map(_ => i)
        }
      }), 60.seconds)
      val winners = outcomes.flatMap(_.toOption)
      assert(winners.size == 1, s"outcomes: $outcomes")
      assert(outcomes.filter(_.isFailure).forall(_.failed.get.isInstanceOf[FileAlreadyExistsException]))
      assert(read(fm, p) == s"writer-${winners.head}")
      assert(names(root) == Set("7"))
    } finally pool.shutdown()
  }

  test("overwrite replaces the destination") {
    val (root, fm) = fixture()
    val p = new Path(root, "0")
    write(fm, p, "first", overwrite = false)
    write(fm, p, "second", overwrite = true)
    assert(read(fm, p) == "second")
    assert(names(root) == Set("0"))
  }

  test("a stale Hadoop .crc sidecar goes with a replaced or deleted file") {
    val (root, fm) = fixture()
    val p = new Path(root, "0")
    writeWithSidecar(p, "written by Hadoop")
    assert(names(root) == Set("0", ".0.crc"))
    // the checksummed read path would reject the new bytes against the old sidecar
    write(fm, p, "replaced", overwrite = true)
    assert(read(fm, p) == "replaced")
    assert(names(root) == Set("0"))

    writeWithSidecar(p, "written by Hadoop again")
    fm.delete(p)
    assert(names(root).isEmpty, s"left behind: ${names(root)}")

    // a sidecar whose file is gone must not shadow a new file of that name
    writeWithSidecar(p, "gone")
    Files.delete(new File(new Path(root, "0").toUri).toPath)
    write(fm, p, "new", overwrite = false)
    assert(read(fm, p) == "new")
    assert(names(root) == Set("0"))
  }

  test("mkdirs, createCheckpointDirectory and delete work on whole trees") {
    val (root, fm) = fixture()
    val nested = new Path(root, "state/0/3")
    fm.mkdirs(nested)
    write(fm, new Path(nested, "1.changelog"), "x", overwrite = false)
    fm.mkdirs(nested) // an existing directory is fine
    val sub = new Path(root, "ckpt")
    val created = new LocalCheckpointFileManager(sub, conf).createCheckpointDirectory()
    assert(created.toUri.getScheme == "file" && created.toUri.getPath == sub.toUri.getPath)
    assert(new File(sub.toUri).isDirectory)
    fm.delete(new Path(root, "state"))
    fm.delete(new Path(root, "missing")) // a missing path is not an error
    assert(names(root) == Set("ckpt"))
  }

  test("a non-file path never reaches java.nio: it takes the Hadoop file system route") {
    val probeConf = new Configuration()
    probeConf.set("fs.probe.impl", classOf[ProbeFileSystem].getName)
    probeConf.setBoolean("fs.probe.impl.disable.cache", true)
    val dir = tempDir("graft-cfm-probe")
    val root = new Path(s"probe://$dir")
    val fm = new LocalCheckpointFileManager(root, probeConf)
    ProbeFileSystem.calls.clear()
    val p = new Path(root, "offsets/0")
    fm.mkdirs(new Path(root, "offsets"))
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
    fm.delete(p)
    assert(!fm.exists(p))
    assert(ProbeFileSystem.of("mkdirs") >= 1, "mkdirs went through the probe")
    assert(ProbeFileSystem.of("create") >= 3, "every temp file was created by the probe")
    assert(ProbeFileSystem.of("rename") >= 2, "every rename went through the probe")
    assert(ProbeFileSystem.of("delete") >= 1, "delete went through the probe")
  }

  test("topology installs the manager unless the session names another one") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = LocalCheckpointFileManager.ConfKey
    val ours = classOf[LocalCheckpointFileManager].getName
    val theirs = classOf[FileContextBasedCheckpointFileManager].getName
    def topology(): Unit = { ReorderApp.topology(MemoryStream[ElectronicOrder].toDS()); () }
    withConf(key -> None) {
      topology()
      assert(spark.conf.get(key) == ours)
      // Spark reads the same key when it builds a checkpoint's manager
      val c = new Configuration()
      c.set(key, spark.conf.get(key))
      assert(CheckpointFileManager.create(new Path(tempDir("graft-cfm")), c)
        .isInstanceOf[LocalCheckpointFileManager])
      spark.conf.set(key, theirs)
      topology()
      assert(spark.conf.get(key) == theirs, "a manager the user chose is kept")
    }
  }
}
