package graft.streaming

import graft.operators.{Boundary, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ADMISSION against PERSISTED curated state — the streaming
  * twin of the batch incremental-curation chain
  * (`pipeline_curate_incremental`:
  * [[graft.operators.Dedup.nearDedupIncremental]] over the persisted
  * `incr_base` boundary), and the production daily-ops shape round 13's
  * batch side models: YESTERDAY's curated corpus is persisted state
  * that TODAY's live stream admits against — gate-pass, no exact twin
  * in the kept base, no near twin (word-`n`-gram Jaccard ≥ `tau`) in
  * the kept base. Increment-INTERNAL duplicates are deliberately
  * admitted (they dedup against each other when they become base — the
  * `dedup_incremental` contract), which is what makes the whole
  * operator STATELESS between documents: each verdict depends only on
  * (doc, base), so the plan is stream-static joins + one
  * watermark-finalized per-doc combine, with no cross-document state
  * store at all — the cheapest stateful footprint in this repo's
  * streaming family.
  *
  * Pipeline (one streaming query):
  *
  *  1. [[StreamingQuality.gate]] — stateless trained-classifier gate;
  *     rejected volume never costs a join or state.
  *  2. Per-row fingerprinting ([[Dedup.withRowBandCols]] — the
  *     aggregation-free twin of the batch MinHash banding, identical
  *     hash/coefficient math by construction) + `md5` digest.
  *  3. Stream-static LEFT joins against the base index: digest → exact
  *     twin flag; (band, band-hash) → LSH candidates → base shingle
  *     sets → exact Jaccard verify per candidate (the batch
  *     [[Dedup.nearDedupIncremental]] candidate-then-verify recall
  *     argument, unchanged).
  *  4. One append-mode aggregation keyed by (doc, event-time): a doc's
  *     verdict finalizes when the watermark passes its event time —
  *     the reorder operator's punctuation model applied to admission.
  *
  * Output: (doc_id, ts, admitted, exact_dup, near_dup) — one row per
  * GATED doc. `StreamingAdmissionSpec` pins the streamed admitted set
  * EQUAL to the batch admission
  * (`PipelineQueries.incrementAdmittedDocs`) on the same increment
  * replayed out of order.
  *
  * Scale shape (base = the 100 TB side, stream = increment-sized): the
  * base index is built ONCE per (re)start from the persisted boundary —
  * in production the digest/band/set relations ARE the persisted
  * admission index — and since round 15 it IS written as BUCKETED,
  * sort-ordered tables keyed by join key (`bucketBy(_band, _bh)` /
  * `bucketBy(_d)` / `bucketBy(_ida)`), so each micro-batch's
  * stream-static sort-merge join exchanges ONLY the increment-sized
  * batch side — the index never re-shuffles, per batch or ever. Raw text never survives the gate projection:
  * the wide exchanges carry (64-bit digest, band hashes, shingle-hash
  * arrays) only. The banding fan-out duplicates each doc's shingle-hash
  * array ×32 through the candidate join (the price of carrying the
  * verify set alongside the probe — a stream cannot re-join its own
  * rows to fetch it back); the array is doc-token-bounded, and gate +
  * fan-out both happen before anything stateful.
  */
object StreamingAdmission {

  /** Buckets of the materialized index tables. Sized to the sandbox
    * stream's shuffle width; at corpus scale pick ~(index size /
    * 128 MB) — the contract is structural, not the count: the static
    * side pre-partitioned+sorted by join key means each micro-batch's
    * stream-static sort-merge join exchanges ONLY the batch side.
    */
  private val IdxBuckets = 8

  /** Admit a streaming (or batch) frame of documents — required columns
    * `doc_id` (long), `text` (string), `ts` (long, event-time millis) —
    * against a STATIC `base` frame (`doc_id`, `text`: the persisted
    * curated corpus, e.g. the `incr_base` registry boundary). `w` is
    * the trained gate model ([[graft.operators.LogReg]] weights);
    * `graceMs` bounds event-time disorder: a doc's verdict emits once
    * the watermark passes its event time, and docs arriving more than
    * `graceMs` late are dropped by the watermark — the same bound the
    * reorder family documents.
    */
  def admit(docs: DataFrame, base: DataFrame, w: Array[Double],
      graceMs: Long, n: Int = 3, tau: Double = 0.7): DataFrame = {
    // ---- static base index, MATERIALIZED at construction as BUCKETED
    // session tables: a stream-static join
    // re-executes its static subplan every micro-batch, so (a) leaving
    // the index as a lazy agg re-pays the corpus MinHash aggregation
    // per batch (measured: ~8 s of a 15 s tuned admission run), and
    // (b) even materialized, an UNBUCKETED scan re-shuffles the full
    // index into the join exchange per batch. `bucketBy(join key) +
    // sortBy` pins the static side's partitioning in the table spec:
    // the per-batch plan scans pre-bucketed files with NO exchange on
    // the index side — the batch side (increment-sized) is the only
    // thing that moves. This IS the production shape: the
    // digest/band/set relations are the persisted admission index,
    // written once per base release.
    val spark = base.sparkSession
    // index tables under Boundary.root are keyed by the base frame's
    // semantic hash: re-admitting against the same base overwrites its
    // own index instead of accumulating copies
    val baseKey = java.lang.Integer.toHexString(base.semanticHash())
    def mat(df: DataFrame, name: String, bucketCols: Seq[String]): DataFrame = {
      val table = s"graft_admission_${name}_$baseKey"
      df.write.mode("overwrite")
        .bucketBy(IdxBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .option("path", Boundary.root.resolve(s"admission_${name}_$baseKey").toString)
        .saveAsTable(table)
      spark.table(table)
    }
    val baseDig = mat(base.select(md5(col("text")).as("_d")).distinct()
      .withColumn("_exact", lit(1L)), "dig", Seq("_d"))
    val shC = Dedup.shingleHashes(base, "doc_id", "text", n)
    val baseBands = mat(Dedup.bandRows(shC)
      .select(col("_id").as("_ida"), col("_band"), col("_bh")), "bands",
      Seq("_band", "_bh"))
    val baseSets = mat(shC.groupBy(col("_id"))
      .agg(collect_set(col("_h")).as("_seta"))
      .select(col("_id").as("_ida"), col("_seta")), "sets", Seq("_ida"))
    // NOTE: the shingle cache (`Dedup.shingleHashes`) is deliberately
    // NOT unpersisted here — the CacheManager dedupes cached plans by
    // canonical form, so evicting it would yank the session-shared
    // (id, hash) materialization out from under any concurrent or
    // later batch dedup query over the same base (round-14 advice #1).
    // It stays resident under shingleHashes' documented session-
    // lifetime contract; sweepers call spark.catalog.clearCache().

    // ---- stream side: gate, fingerprint, probe, combine
    val gated = StreamingQuality.gate(docs, "text", w)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("ts").cast("long").as("ts"))
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", s"$graceMs milliseconds")
    val feat = Dedup.withRowBandCols(gated, "text", n)
      .withColumn("_d", md5(col("text")))
      .select(col("doc_id"), col("ts"), col("event_time"), col("_d"),
        col("_set"), col("_bands"))
    val probes = feat
      .join(baseDig, Seq("_d"), "left")
      .select(col("doc_id"), col("ts"), col("event_time"), col("_exact"),
        col("_set").as("_setb"),
        posexplode(col("_bands")).as(Seq("_band", "_bh")))
    val cand = probes
      .join(baseBands, Seq("_band", "_bh"), "left")
      .join(baseSets, Seq("_ida"), "left")
    // exact-Jaccard verification per candidate — the identical rounded
    // expression the batch verify path filters on
    val inter = size(array_intersect(col("_seta"), col("_setb")))
    val isNear = col("_ida").isNotNull &&
      round(inter / (size(col("_seta")) + size(col("_setb")) - inter), 4) >= tau
    cand
      .withColumn("_near", when(isNear, 1L).otherwise(0L))
      .groupBy(col("doc_id"), col("event_time"), col("ts"))
      .agg(max(coalesce(col("_exact"), lit(0L))).as("_ex"),
        max(col("_near")).as("_nr"))
      .select(col("doc_id"), col("ts"),
        (col("_ex") === 0L && col("_nr") === 0L).as("admitted"),
        (col("_ex") === 1L).as("exact_dup"),
        (col("_nr") === 1L).as("near_dup"))
  }
}
