package graft

import graft.operators.{Dedup, LogReg}
import graft.queries.PipelineQueries
import graft.streaming.{StreamingAdmission, StreamingNearDedup, StreamingQuality}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming admission against persisted state equals the batch
  * incremental-curation admission — the round-14 flagship pin: a live
  * stream admitting against YESTERDAY's persisted curated corpus (the
  * `incr_base` registry boundary) must take, doc for doc, the decisions
  * the registered batch chain (`pipeline_curate_incremental`'s
  * [[PipelineQueries.incrementAdmittedDocs]]) takes on the same
  * increment — with the stream replayed OUT OF ORDER. Also pins the
  * aggregation-free fingerprint twin ([[Dedup.withRowBandCols]]) equal
  * to the batch MinHash banding on real corpus text, the layer the
  * stream's candidate generation stands on.
  */
class StreamingAdmissionSpec extends SparkTestBase {
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"
  private val Grace = 10L * 60 * 1000
  private val Base = 1700000000000L

  test("withRowBandCols equals the aggregate MinHash banding and shingle sets") {
    val docs = Tables.documents(spark, Dir).select(col("doc_id"), col("text"))
    val sh = Dedup.shingleHashes(docs, "doc_id", "text", 3)
    val aggBands = Dedup.bandRows(sh)
      .select(col("_id"), col("_band"), col("_bh"))
      .as[(Long, Int, Long)].collect().toSet
    val aggSets = sh.groupBy(col("_id"))
      .agg(collect_set(col("_h")).as("_set"))
      .as[(Long, Seq[Long])].collect()
      .map { case (id, s) => id -> s.toSet }.toMap
    val rows = Dedup.withRowBandCols(docs, "text", 3)
    val rowBands = rows
      .select(col("doc_id"), posexplode(col("_bands")).as(Seq("_band", "_bh")))
      .as[(Long, Int, Long)].collect().toSet
    assert(rowBands == aggBands, "band rows must be identical to the agg path")
    val rowSets = rows.select(col("doc_id"), col("_set"))
      .as[(Long, Seq[Long])].collect()
      .map { case (id, s) => id -> s.toSet }.toMap
    assert(rowSets == aggSets, "shingle-hash sets must be identical to collect_set")
  }

  test("streamed admitted set equals batch incremental admission on out-of-order input", Slow) {
    // spec-local copy of the trained gate (LogReg training is a pure
    // function of (features, labels) — the StreamingCurationSpec
    // discipline), so the stream runs exactly the session model
    val docs = Tables.documents(spark, Dir)
    val st = graft.operators.TextAnalysis.stats(docs, "doc_id", "text")
    val feats = st.select(col("doc_id"),
      array(lit(1.0), col("punct_ratio"), col("stop_ratio"),
        least(col("n_tokens") / 100.0, lit(1.0)),
        col("mean_tok_len") / 10.0).as("x"),
      when(col("quality") >= 0.8, 1.0).otherwise(0.0).as("y"))
    val w = LogReg.train(feats, "x", "y", dim = 5, iters = 10, lr = 5.0)

    // batch truth: the registered chain's admitted docs + the persisted
    // base the stream must admit against (the SAME boundary the batch
    // admission reads — that identity is the point of the operator)
    val batchAdmitted = PipelineQueries.incrementAdmittedDocs(spark, Dir)
      .select(col("doc_id")).as[Long].collect().toSet
    val base = PipelineQueries.incrementBaseOnce(spark, Dir)

    val incr = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val gatedIds = StreamingQuality.gate(incr, "text", w)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(batchAdmitted.nonEmpty && batchAdmitted.subsetOf(gatedIds))
    assert(gatedIds.size > batchAdmitted.size,
      "some gated increment docs must be rejected by dedup for the pin to bite")

    val rows = incr.as[(Long, String)].collect()
      .map { case (id, t) => (id, t, Base + id) }
    val shuffled = new scala.util.Random(29).shuffle(rows.toSeq)

    // watermark-marching sentinels: must pass the gate (the watermark is
    // declared on the gated stream) — near-matching the BASE is
    // irrelevant to corpus verdicts (admission has no cross-doc state),
    // sentinel verdicts are filtered out by id
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

    withConf(RocksDbStateStore) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val q = StreamingAdmission.admit(
          input.toDF().toDF("doc_id", "text", "ts"), base, w, Grace)
        .writeStream.format("memory").queryName("stream_admission")
        .outputMode(OutputMode.Append).start()
      try {
        (Seq(shuffled) ++ sentinels.map(Seq(_))).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        q.processAllAvailable()
        val verdicts = spark.table("stream_admission")
          .select(col("doc_id"), col("admitted"), col("exact_dup"), col("near_dup"))
          .as[(Long, Boolean, Boolean, Boolean)].collect()
          .filter(_._1 < 900000L)
        assert(verdicts.map(_._1).toSet == gatedIds,
          "verdict set must be exactly the gate survivors")
        assert(verdicts.length == gatedIds.size, "one verdict per gated doc")
        val streamedAdmitted = verdicts.filter(_._2).map(_._1).toSet
        assert(streamedAdmitted == batchAdmitted,
          s"stream-only: ${(streamedAdmitted -- batchAdmitted).take(5)}, " +
            s"batch-only: ${(batchAdmitted -- streamedAdmitted).take(5)}")
        // a rejected doc must carry the reason; an admitted one must not
        verdicts.foreach { case (id, adm, ex, nr) =>
          assert(adm == (!ex && !nr), s"verdict inconsistency for $id")
        }
        // per-doc REASON equality with the batch flag relation (the
        // pipeline_admission_reasons input): not just the same admitted
        // set — the same exact-vs-near attribution, doc for doc
        val batchFlags = PipelineQueries.incrementAdmissionFlags(spark, Dir)
          .as[(Long, Boolean, Boolean)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(verdicts.map(_._1).toSet == batchFlags.keySet)
        verdicts.foreach { case (id, _, ex, nr) =>
          assert(batchFlags(id) == ((ex, nr)),
            s"reason mismatch for $id: streamed ($ex,$nr) vs batch ${batchFlags(id)}")
        }
      } finally q.stop()
    }
  }
}
