package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Boundary, Sever}
import graft.streaming.StreamingAdmission

/** The compute-once artifact policy lives in [[Boundary]] alone: each
  * artifact is built once per JVM, keyed the way `LINEAGE.tsv` pins it,
  * and every per-JVM directory sits under the one root its shutdown
  * hook deletes.
  */
class BoundarySpec extends SparkTestBase {
  import spark.implicits._

  private def under(root: Path, f: String): Boolean =
    Paths.get(new java.net.URI(f).getPath).startsWith(root)

  test("once runs its body exactly once per path") {
    val runs = new AtomicInteger(0)
    val path = Boundary.root.resolve("boundary_spec_once").toString
    def build(): String = Boundary.once(path) { p =>
      runs.incrementAndGet(); Files.createDirectories(Paths.get(p))
    }
    assert(build() == path && build() == path)
    assert(runs.get == 1)
    assert(Files.isDirectory(Paths.get(path)))
  }

  test("two sf dirs give two distinct registry artifacts") {
    val runs = new AtomicInteger(0)
    val paths = Seq("spec/sfA", "spec/sfB").map { dir =>
      Boundary.once(Boundary.registryPath(dir, "spec_kind"))(_ => runs.incrementAndGet())
    }
    assert(paths.distinct.size == 2 && runs.get == 2)
    paths.foreach { p =>
      assert(Paths.get(p).getFileName.toString.matches("spec_kind_[0-9a-f]{32}"), p)
    }
    assert(Boundary.registryPath("spec/sfA", "spec_kind") == paths.head)
  }

  test("value returns the cached object without recomputing") {
    val runs = new AtomicInteger(0)
    def get(): Array[Double] =
      Boundary.value(("boundary_spec", "sfA")) { runs.incrementAndGet(); Array(1.0, 2.0) }
    val first = get()
    assert(get() eq first)
    assert(runs.get == 1)
  }

  test("registry, sever and admission directories sit under the one root") {
    val root = Boundary.root
    assert(Paths.get(Boundary.registryPath("spec/sfA", "model")).getParent == root)

    val severed = Sever.materialized(Seq(1L, 2L, 3L).toDF("id"))
    assert(severed.inputFiles.nonEmpty)
    assert(severed.inputFiles.forall(under(root, _)), severed.inputFiles.mkString(", "))

    // an intercept-only gate passes every doc; a local docs frame has no
    // files, so every input file of the result is an admission index file
    val base = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val docs = Seq((2L, "a quick brown fox jumps over a lazy dog", 0L))
      .toDF("doc_id", "text", "ts")
    val admitted = StreamingAdmission.admit(docs, base,
      Array(10.0, 0.0, 0.0, 0.0, 0.0), graceMs = 1000L)
    assert(admitted.inputFiles.nonEmpty)
    assert(admitted.inputFiles.forall(under(root, _)), admitted.inputFiles.mkString(", "))
  }

  test("no compute-once map or temp root outside Boundary") {
    val banned = Seq("computeIfAbsent", "newKeySet", "createTempDirectory")
    val offenders = Seq("queries", "operators", "streaming").flatMap { pkg =>
      val dir = Paths.get("src/main/scala/graft", pkg).toFile
      assert(dir.isDirectory, s"$dir not found")
      dir.listFiles.toSeq.filter(f => f.getName.endsWith(".scala") && f.getName != "Boundary.scala")
        .flatMap { f =>
          val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
          banned.filter(text.contains).map(b => s"${f.getPath}: $b")
        }
    }
    assert(offenders.isEmpty,
      s"route compute-once caches and temp roots through Boundary: ${offenders.mkString("; ")}")
  }
}
