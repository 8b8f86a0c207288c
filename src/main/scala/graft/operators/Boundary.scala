package graft.operators

/** The one owner of this repo's compute-once artifact policy: a result
  * is materialized at most once per JVM and every later consumer reads
  * the stored artifact instead of recomputing it (the lineage-cutting
  * checkpoint of Discretized Streams).
  *
  * Rules every boundary follows:
  *  - Corpus-scale artifacts are PARQUET under [[root]], not
  *    `localCheckpoint`. A checkpointed `LogicalRDD` keeps its
  *    creation-time partitioning and expression ids, which blocks
  *    ReuseExchange canonicalization and makes consumer plan shapes
  *    depend on which session state populated the artifact first; a
  *    parquet scan leaf canonicalizes structurally in any session, so
  *    serving plans (and the pinned `PLANSHAPE.tsv` rows) are the same
  *    everywhere, and consumers get real column pruning.
  *  - Driver-sized results (weights, merge lists, |queries|×k id sets)
  *    are kept as driver values via [[value]]; they carry no lineage.
  *  - An operator query never reads its own boundary: the registered
  *    query that computes a result re-runs it every invocation, so its
  *    bench cost stays honest. Only downstream CONSUMERS read the
  *    artifact.
  *  - Artifacts under [[root]] die with the JVM (one shutdown hook, one
  *    recursive delete) and are unique per launch, so a previous
  *    session's artifact built from other data is never served. Verify
  *    fixtures are the exception: they are written outside [[root]]
  *    because the oracle reads them after `Verify` exits.
  */
private[graft] object Boundary {

  /** The single per-JVM temp root for registry artifacts, sever
    * directories and admission indexes.
    */
  lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_boundary")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(p.toFile)))
    p
  }

  /** Recursive best-effort delete. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** Registry path for an artifact of `kind` keyed by sf dir: md5 of the
    * full dir string, not `String.hashCode`, so two dirs with colliding
    * 32-bit hashes can never overwrite each other's artifact. The
    * `<kind>_<md5>` basename is what `LINEAGE.tsv` names the scan by.
    */
  def registryPath(dir: String, kind: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val key = md.digest(dir.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    root.resolve(s"${kind}_$key").toString
  }

  /** Runs its body at most once; concurrent callers wait for the first.
    * A body that throws leaves the cell unset, so the next call retries.
    * The body is dropped after it runs so cached cells do not pin the
    * sessions their closures captured.
    */
  private final class Cell[T](private var body: () => T) {
    lazy val get: T = { val r = body(); body = null; r }
  }

  private def cached[K, T](cells: java.util.concurrent.ConcurrentHashMap[K, Cell[T]],
      key: K, compute: => T): T = {
    val fresh = new Cell(() => compute)
    val prior = cells.putIfAbsent(key, fresh)
    (if (prior == null) fresh else prior).get
  }

  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, Cell[String]]()
  private val values =
    new java.util.concurrent.ConcurrentHashMap[Any, Cell[Any]]()

  /** Runs `write(path)` at most once per artifact path per JVM and
    * returns `path`. Boundaries may nest (one artifact's write may read
    * another's).
    */
  def once(path: String)(write: String => Unit): String =
    cached(written, path, { write(path); path })

  /** A driver-state result computed at most once per `key` per JVM. */
  def value[T](key: Any)(compute: => T): T =
    cached(values, key, compute: Any).asInstanceOf[T]
}
