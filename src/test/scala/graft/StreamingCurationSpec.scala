package graft

import graft.operators.LogReg
import graft.streaming.{StreamingCuration, StreamingNearDedup, StreamingQuality}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The composed streaming INGEST pipeline equals the composed batch
  * curation twin — the round-13 flagship pin: one streaming query
  * chaining the trained quality gate into the SimHash near-dup dedup
  * over OUT-OF-ORDER input must reproduce, doc for doc, the registered
  * `pipeline_curate_ingest` batch composition (gate → first-wins
  * SimHash keep) with event time = doc_id. The per-stage twins are
  * pinned elsewhere (`LogRegSpec` for the gate, `StreamingNearDedupSpec`
  * for the dedup); THIS spec pins the composition — that chaining the
  * stages inside one streaming query (gate before banding, watermark
  * declared on the gated stream) introduces no drift.
  */
class StreamingCurationSpec extends SparkTestBase {
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"
  private val Grace = 10L * 60 * 1000
  private val Base = 1700000000000L

  test("composed stream (gate -> near-dedup) kept-set equals the batch ingest twin on out-of-order input", Slow) {
    // the spec trains its own copy of the gate weights from the same
    // deterministic construction the registry uses (LogReg training is a
    // pure function of (features, labels), spec-pinned), so the stream
    // runs exactly the session model without reaching into the
    // registry's private trajectory cache
    val docs = Tables.documents(spark, Dir)
    val st = graft.operators.TextAnalysis.stats(docs, "doc_id", "text")
    val feats = st.select(col("doc_id"),
      array(lit(1.0), col("punct_ratio"), col("stop_ratio"),
        least(col("n_tokens") / 100.0, lit(1.0)),
        col("mean_tok_len") / 10.0).as("x"),
      when(col("quality") >= 0.8, 1.0).otherwise(0.0).as("y"))
    val w = LogReg.train(feats, "x", "y", dim = 5, iters = 10, lr = 5.0)

    // batch truth: the registered twin's doc-granularity survivor set
    val batchKept = graft.queries.PipelineQueries.ingestKeptDocs(spark, Dir)
      .select(col("doc_id")).as[Long].collect().toSet
    val gatedIds = StreamingQuality.gate(docs, "text", w)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(batchKept.nonEmpty && batchKept.subsetOf(gatedIds))
    assert(gatedIds.size < docs.count(), "gate must actually filter")

    // out-of-order stream: event time = doc_id (so streaming first-wins
    // IS the batch lower-id-wins order), arrival order shuffled
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => (id, t, Base + id) }
    val shuffled = new scala.util.Random(13).shuffle(rows.toSeq)

    // watermark-marching sentinels must PASS the gate (a gate-rejected
    // sentinel never reaches the stateful stage and the buffers never
    // flush) and must near-match NO gated doc (verified before use, the
    // StreamingNearDedupSpec discipline): 120 unique no-punct gibberish
    // tokens -> heuristic quality 1.0 territory, far from corpus text
    val maxTs = rows.map(_._3).max
    val sentinels = Seq.tabulate(3) { i =>
      val text = (1 to 120).map(j => s"zqxv${i}w$j").mkString(" ")
      (900000L + i, text, maxTs + (i + 1) * (Grace + 60000L))
    }
    val sentinelGate = StreamingQuality.gate(
      sentinels.toDF("doc_id", "text", "ts"), "text", w)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(sentinelGate == sentinels.map(_._1).toSet,
      "sentinels must pass the trained gate")
    val gatedFps = rows.filter(r => gatedIds(r._1))
      .map(r => StreamingNearDedup.simhash64(r._2))
    sentinels.foreach { s =>
      val fp = StreamingNearDedup.simhash64(s._2)
      assert(gatedFps.forall(g => java.lang.Long.bitCount(g ^ fp) > 3),
        "sentinel text must not near-match any gated doc")
    }

    withConf(RocksDbStateStore) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val q = StreamingCuration.curate(
          input.toDF().toDF("doc_id", "text", "ts"), w, Grace,
          retainMs = 86400000L)
        .writeStream.format("memory").queryName("stream_curation")
        .outputMode(OutputMode.Append).start()
      try {
        (Seq(shuffled) ++ sentinels.map(Seq(_))).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        q.processAllAvailable()
        val verdicts = spark.table("stream_curation")
          .select(col("doc_id"), col("keep"))
          .as[(Long, Boolean)].collect()
        val corpusVerdicts = verdicts.filter(_._1 < 900000L)
        // every gated doc got exactly one verdict; rejected docs none
        assert(corpusVerdicts.map(_._1).toSet == gatedIds,
          "verdict set must be exactly the gate survivors")
        assert(corpusVerdicts.length == gatedIds.size,
          "one verdict per gated doc")
        val streamedKept = corpusVerdicts.filter(_._2).map(_._1).toSet
        assert(streamedKept == batchKept,
          s"stream-only: ${(streamedKept -- batchKept).take(5)}, " +
            s"batch-only: ${(batchKept -- streamedKept).take(5)}")
      } finally q.stop()
    }
  }

  test("full ingest trio (gate -> decontaminate -> near-dedup) equals the batch composition", Slow) {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Tables.documents(spark, Dir)
    val st = TextAnalysis.stats(docs, "doc_id", "text")
    val feats = st.select(col("doc_id"),
      array(lit(1.0), col("punct_ratio"), col("stop_ratio"),
        least(col("n_tokens") / 100.0, lit(1.0)),
        col("mean_tok_len") / 10.0).as("x"),
      when(col("quality") >= 0.8, 1.0).otherwise(0.0).as("y"))
    val w = LogReg.train(feats, "x", "y", dim = 5, iters = 10, lr = 5.0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val shingleSet = StreamingCuration.benchShingleHashes(bench, "text")
    assert(shingleSet.nonEmpty)

    // batch composition: gate -> drop docs sharing a 3-gram with the
    // benchmark (bench members flag themselves: every doc overlaps its
    // own shingles) -> SimHash first-wins keep among the survivors
    val gated = StreamingQuality.gate(docs, "text", w)
    val flaggedIds = TextAnalysis.contaminationFlags(gated, bench,
      "doc_id", "text", 3).select(col("doc_id"))
    val clean = gated.join(flaggedIds, Seq("doc_id"), "left_anti")
    val dupIds = Dedup.simhashPairs(clean, "doc_id", "text")
      .select(col("doc_b").as("doc_id")).distinct()
    val batchKept = clean.join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).as[Long].collect().toSet
    val cleanIds = clean.select(col("doc_id")).as[Long].collect().toSet
    assert(batchKept.nonEmpty && cleanIds.size <
      gated.count(), "decontamination must actually drop docs")

    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => (id, t, Base + id) }
    val shuffled = new scala.util.Random(29).shuffle(rows.toSeq)
    val maxTs = rows.map(_._3).max
    val sentinels = Seq.tabulate(3) { i =>
      val text = (1 to 120).map(j => s"wvqk${i}z$j").mkString(" ")
      (900000L + i, text, maxTs + (i + 1) * (Grace + 60000L))
    }
    // sentinels must survive BOTH stateless stages to march the watermark
    val sdf = sentinels.toDF("doc_id", "text", "ts")
    val sentinelSurvive = StreamingQuality.gate(sdf, "text", w)
      .filter(!graft.functions.NgramHashSetOverlap.overlapsAny(
        graft.functions.Text.tokens(col("text")), 3, shingleSet))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(sentinelSurvive == sentinels.map(_._1).toSet,
      "sentinels must pass the gate AND the decontamination filter")

    withConf(RocksDbStateStore) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val q = StreamingCuration.curateDecontaminated(
          input.toDF().toDF("doc_id", "text", "ts"), w, shingleSet, Grace,
          retainMs = 86400000L)
        .writeStream.format("memory").queryName("stream_curation_trio")
        .outputMode(OutputMode.Append).start()
      try {
        (Seq(shuffled) ++ sentinels.map(Seq(_))).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        q.processAllAvailable()
        val verdicts = spark.table("stream_curation_trio")
          .select(col("doc_id"), col("keep"))
          .as[(Long, Boolean)].collect().filter(_._1 < 900000L)
        assert(verdicts.map(_._1).toSet == cleanIds,
          "verdict set must be exactly the gate+decontamination survivors")
        val streamedKept = verdicts.filter(_._2).map(_._1).toSet
        assert(streamedKept == batchKept,
          s"stream-only: ${(streamedKept -- batchKept).take(5)}, " +
            s"batch-only: ${(batchKept -- streamedKept).take(5)}")
      } finally q.stop()
    }
  }

  test("composed curation state survives a query stop/restart from the checkpoint", Slow) {
    // the ingest pipeline's fault-tolerance story (the StreamingReorderSpec
    // recovery pin, lifted to the COMPOSED query): kill the query
    // mid-corpus, restart from the checkpoint, stream the rest — the
    // dedup fingerprint history and the reorder grace buffer must be
    // RESTORED, so post-restart near-dups of pre-restart docs are still
    // rejected, every gated doc gets exactly ONE verdict across both
    // incarnations, and the final kept-set still equals the batch twin.
    val docs = Tables.documents(spark, Dir)
    val st = graft.operators.TextAnalysis.stats(docs, "doc_id", "text")
    val feats = st.select(col("doc_id"),
      array(lit(1.0), col("punct_ratio"), col("stop_ratio"),
        least(col("n_tokens") / 100.0, lit(1.0)),
        col("mean_tok_len") / 10.0).as("x"),
      when(col("quality") >= 0.8, 1.0).otherwise(0.0).as("y"))
    val w = LogReg.train(feats, "x", "y", dim = 5, iters = 10, lr = 5.0)

    val batchKept = graft.queries.PipelineQueries.ingestKeptDocs(spark, Dir)
      .select(col("doc_id")).as[Long].collect().toSet
    val gatedIds = StreamingQuality.gate(docs, "text", w)
      .select(col("doc_id")).as[Long].collect().toSet

    // same fixture as the composed-equality test (whose run also verifies
    // the sentinel construction passes the gate and near-matches nothing)
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => (id, t, Base + id) }
    val shuffled = new scala.util.Random(13).shuffle(rows.toSeq)
    val (firstHalf, secondHalf) = shuffled.splitAt(shuffled.size / 2)
    val maxTs = rows.map(_._3).max
    val sentinels = Seq.tabulate(3) { i =>
      val text = (1 to 120).map(j => s"zqxv${i}w$j").mkString(" ")
      (900000L + i, text, maxTs + (i + 1) * (Grace + 60000L))
    }

    // transformWithState needs column families — RocksDB provider only
    withConf(RocksDbStateStore) {
      implicit val sqlCtx = spark.sqlContext
      val ckpt = tempDir("graft-curate-ckpt")
      val input = MemoryStream[(Long, String, Long)]
      val verdicts = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      // foreachBatch, not the memory sink: only fault-tolerant sinks may
      // recover from a checkpoint
      def start() = StreamingCuration.curate(
          input.toDF().toDF("doc_id", "text", "ts"), w, Grace,
          retainMs = 86400000L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = batch.select(col("doc_id"), col("keep"))
            .as[(Long, Boolean)].collect()
          verdicts.synchronized { verdicts ++= got }
          ()
        }.start()

      val q1 = start()
      try {
        input.addData(firstHalf)
        q1.processAllAvailable()
      } finally q1.stop()

      val q2 = start()
      try {
        input.addData(secondHalf)
        q2.processAllAvailable()
        sentinels.foreach { s => input.addData(Seq(s)); q2.processAllAvailable() }
        q2.processAllAvailable()
        val corpusVerdicts = verdicts.synchronized {
          verdicts.filter(_._1 < 900000L).toSeq
        }
        assert(corpusVerdicts.map(_._1).toSet == gatedIds,
          "verdict set must be exactly the gate survivors")
        assert(corpusVerdicts.length == gatedIds.size,
          "exactly one verdict per gated doc across the restart")
        val streamedKept = corpusVerdicts.filter(_._2).map(_._1).toSet
        assert(streamedKept == batchKept,
          s"stream-only: ${(streamedKept -- batchKept).take(5)}, " +
            s"batch-only: ${(batchKept -- streamedKept).take(5)}")
      } finally q2.stop()
    }
  }
}
