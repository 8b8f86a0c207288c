package graft.operators

import org.apache.spark.sql.DataFrame

/** Session temp-parquet SEVER boundary — the one blessed way in this repo
  * to eagerly materialize an intermediate and cut its plan lineage.
  *
  * Why parquet and not `localCheckpoint`: a checkpointed RDD stays pinned
  * in the block store until the context cleaner happens to collect the
  * frame, so every call leaks one cache entry (plus its shuffle files)
  * for an unbounded grace period. Round-14 isolated 9-rep evidence on the
  * graph family: with checkpoint severing the triangle reps CLIMB
  * 6.9 → 10.1 s across one bench invocation's own reps — accumulated
  * block/GC pressure from the query's own history — while the parquet
  * boundary leaves the block manager empty after every call. The same
  * disease was round 14's open flag on the Dedup CC loops
  * (`dedup_clusters` 7.39 s vs its ~2.5–4.3 s band), fixed in round 15 by
  * routing them through here. A parquet scan also carries NO plan
  * constraints, which additionally fixes the Spark 4.1
  * `InferFiltersFromConstraints` unbound-attribute crash that
  * `Similarity`'s old RDD-rebuild sever existed to dodge.
  *
  * Severed results are node-sized by contract (ranks, labels, encoded
  * codes — never a corpus), so the round trip costs one small local
  * write; at cluster scale the same boundary is a shared-storage
  * artifact, which is what a production rank/label/index table is anyway.
  *
  * Disk hygiene: sever dirs live under [[Boundary.root]] and rotate —
  * the oldest dirs beyond [[MaxDirs]] are deleted best-effort as new ones
  * are created, so a long-lived service calling severed operators
  * unboundedly many times holds at most MaxDirs node-sized directories
  * (the root's shutdown hook removes whatever remains). CONTRACT: a
  * severed frame must be consumed
  * before [[MaxDirs]] further sever calls happen — true by construction
  * for the registry queries, which write or collect each result before
  * the next query runs; a caller that parks severed frames indefinitely
  * should persist them to its own registry instead (the returned frame is
  * a plain scan, so `.write` forwards it without recompute).
  *
  * Lineage transparency: each sever records its input's column-level
  * sources ([[graft.plans.Lineage.columnSources]]) keyed by the dir
  * basename, so [[graft.plans.Lineage]] resolves a severed scan back to
  * the REAL upstream tables instead of ending the trace at an opaque
  * boundary (round-14 `(severed)` / `(unknown)` hygiene). The recorded
  * map is driver-sized (columns × sources) and kept even after the dir
  * rotates away.
  */
private[graft] object Sever {

  /** Max sever directories kept on disk before the oldest is deleted. */
  val MaxDirs = 128

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val live = new java.util.ArrayDeque[java.nio.file.Path]()
  private val lineageByBase = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Set[(String, String)]]]()

  /** Column-level sources recorded when the sever named `base` (the dir
    * basename, `graft_sever_N`) was written — [[graft.plans.Lineage]]
    * resolves severed scans through this.
    */
  def recordedLineage(base: String): Option[Map[String, Set[(String, String)]]] =
    Option(lineageByBase.get(base))

  /** Eagerly materialize `df` through a session temp parquet round trip
    * and return the severed scan. Blocking and synchronous: when this
    * returns, every upstream cache/shuffle of `df`'s plan is no longer
    * referenced by the result, so callers can `unpersist(blocking=true)`
    * their loop state immediately.
    */
  def materialized(df: DataFrame): DataFrame =
    materialized(df, graft.plans.Lineage.columnSources(df))

  /** [[materialized]] with the recorded lineage supplied by the caller —
    * for iterative operators whose final frame's plan roots at a
    * checkpointed RDD (the CC loops): the mechanical trace would dead-end
    * at an opaque `LogicalRDD` leaf, so the caller passes the sources of
    * a semantically equivalent PROBE plan over the loop's true inputs.
    */
  def materialized(df: DataFrame,
      lineage: Map[String, Set[(String, String)]]): DataFrame = {
    // stable "graft_sever_" basename prefix: the per-JVM sequence number
    // depends on call order; Lineage resolves it through the recorded
    // sources (or the order-independent "(severed)" fallback)
    val base = "graft_sever_" + seq.getAndIncrement()
    lineageByBase.put(base, lineage)
    val out = Boundary.root.resolve(base)
    df.write.mode("overwrite").parquet(out.toString)
    live.synchronized {
      live.addLast(out)
      while (live.size > MaxDirs) Boundary.rm(live.removeFirst().toFile)
    }
    df.sparkSession.read.parquet(out.toString)
  }
}
