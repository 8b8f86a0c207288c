package graft

import java.util.Locale

import graft.functions.Text
import graft.operators.Dedup
import graft.streaming.StreamingNearDedup
import graft.streaming.StreamingNearDedup.NearDupDoc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming near-dup dedup: (1) the per-row JVM SimHash is bit-equal to
  * the batch `Dedup.simhash` fingerprint on real corpus text and on
  * case-mapping edge cases under a Turkish default locale, so the two
  * pipelines take identical decisions on any JVM; (2) the streamed first-wins
  * verdicts equal a brute-force batch reference on out-of-order input;
  * (3) the retained-horizon contract works across flushes — history
  * within `retainMs` still catches dups, history beyond it is forgotten.
  */
class StreamingNearDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val Grace = 10L * 60 * 1000
  private val Base = 1700000000000L

  test("simhash64 is bit-equal to the batch Dedup.simhash fingerprint on sf0.001 documents") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      assert(StreamingNearDedup.simhash64(text) == batch(id),
        s"doc $id: JVM simhash diverged from the batch aggregate")
    }
  }

  private def withDefaultLocale[T](l: Locale)(body: => T): T = {
    val saved = (Locale.getDefault, Locale.getDefault(Locale.Category.DISPLAY),
      Locale.getDefault(Locale.Category.FORMAT))
    Locale.setDefault(l)
    try body
    finally {
      Locale.setDefault(saved._1)
      Locale.setDefault(Locale.Category.DISPLAY, saved._2)
      Locale.setDefault(Locale.Category.FORMAT, saved._3)
    }
  }

  // capital I lowercases to a dotless ı under a Turkish default locale;
  // İ, ı, final sigma and ß take Spark's non-ASCII lowercasing path
  private val caseTexts = Seq(
    "TITLE INDEX IS BIG", "Title Case In Istanbul", "IIII iiii 1I2i",
    "İSTANBUL İNDEX in ıstanbul", "ΣΟΦΟΣ ΟΔΟΣ alpha beta", "STRAẞE ß STRASSE Ok")

  test("simhash64 equals the batch Dedup.simhash fingerprint under a tr_TR default locale") {
    withDefaultLocale(new Locale("tr", "TR")) {
      val docs = caseTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batch = Dedup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
      caseTexts.zipWithIndex.foreach { case (t, i) =>
        assert(StreamingNearDedup.simhash64(t) == batch(i.toLong),
          s"'$t': JVM simhash diverged from the batch aggregate")
      }
    }
  }

  for (tag <- Seq("en-US", "tr-TR")) {
    test(s"Text.tokenize equals Text.tokens row for row under the $tag default locale") {
      withDefaultLocale(Locale.forLanguageTag(tag)) {
        val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
          .select($"text").as[String].collect().toSeq.filter(_ != null)
        val texts = (caseTexts ++ Seq("", "   ", "a", "--x--") ++ corpus).zipWithIndex
        val batch = texts.toDF("text", "i")
          .select($"i", Text.tokens($"text")).as[(Int, Seq[String])].collect().toMap
        texts.foreach { case (t, i) =>
          assert(Text.tokenize(t).toSeq == batch(i), s"text '$t'")
        }
      }
    }
  }

  private def runStream(batches: Seq[Seq[NearDupDoc]], retainMs: Long,
      name: String): Map[Long, (Boolean, Option[Long])] = {
    withConf(RocksDbStateStore) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[NearDupDoc]
      val q = StreamingNearDedup.nearDedup(input.toDS(), Grace, retainMs)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        q.processAllAvailable()
        spark.table(name)
          .select($"doc_id", $"keep", $"dup_of")
          .collect().map(r => r.getLong(0) ->
            (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
          .toMap
      } finally q.stop()
    }
  }

  /** Far-future watermark-marching docs with text nowhere near the corpus
    * (verified against every doc fingerprint before use).
    */
  private def sentinels(from: Long): Seq[NearDupDoc] =
    Seq.tabulate(3)(i => NearDupDoc(9000L + i,
      s"qqxyzzy$i wvutsrq$i ponmlkj$i ihgfedc$i",
      from + (i + 1) * (Grace + 60000L)))

  test("streamed first-wins verdicts equal the brute-force batch reference on out-of-order input") {
    val texts = Tables.documents(spark, "/root/testdata/sf0.001")
      .orderBy($"doc_id").limit(20)
      .select($"text").as[String].collect()
    // 20 corpus docs one minute apart, plus three planted near-dups
    // (exact copies => hamming 0) out of timestamp order
    val docs = texts.zipWithIndex.map { case (t, i) =>
      NearDupDoc(i.toLong, t, Base + i * 60000L)
    } ++ Seq(
      NearDupDoc(101L, texts(0), Base + 25 * 60000L),
      NearDupDoc(102L, texts(0), Base + 26 * 60000L),
      NearDupDoc(103L, texts(5), Base + 27 * 60000L))
    val shuffled = new scala.util.Random(7).shuffle(docs.toSeq)
    val sen = sentinels(docs.map(_.ts).max)
    val fps = docs.map(d => d.doc_id -> StreamingNearDedup.simhash64(d.text)).toMap
    sen.foreach(s => docs.foreach(d => assert(
      java.lang.Long.bitCount(StreamingNearDedup.simhash64(s.text) ^ fps(d.doc_id)) > 3,
      "sentinel text must not near-match any doc")))

    val got = runStream(Seq(shuffled) ++ sen.map(Seq(_)), retainMs = 86400000L,
      "neardedup_ref")

    docs.foreach { d =>
      val expected = docs
        .filter(o => (o.ts < d.ts || (o.ts == d.ts && o.doc_id < d.doc_id)) &&
          java.lang.Long.bitCount(fps(o.doc_id) ^ fps(d.doc_id)) <= 3)
        .sortBy(o => (o.ts, o.doc_id)).headOption.map(_.doc_id)
      assert(got.contains(d.doc_id), s"doc ${d.doc_id} missing from stream output")
      assert(got(d.doc_id) == (expected.isEmpty, expected),
        s"doc ${d.doc_id}: got ${got(d.doc_id)}, batch reference says $expected")
    }
    // the planted copies must have resolved to the cluster head
    assert(got(101L) == (false, Some(0L)) && got(102L) == (false, Some(0L)))
  }

  test("streamed kept-set equals the registered dedup_simhash_keep batch query on sf0.001", Slow) {
    // event time = doc_id => the streaming first-wins order IS the batch
    // query's lower-id-wins order; grace covers the whole corpus, so the
    // two paths must take identical decisions on every doc
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => NearDupDoc(id, t, Base + id) }
    val got = runStream(Seq(docs.toSeq) ++ sentinels(docs.map(_.ts).max).map(Seq(_)),
      retainMs = 86400000L, "neardedup_batchtwin")
    val streamedKept = docs.map(_.doc_id).filter(id => got(id)._1).toSet
    val batchKept = graft.queries.PipelineQueries
      .dedupSimhashKeep(spark, "/root/testdata/sf0.001")
      .select($"doc_id").as[Long].collect().toSet
    assert(streamedKept == batchKept,
      s"streamed-only: ${(streamedKept -- batchKept).take(5)}, " +
        s"batch-only: ${(batchKept -- streamedKept).take(5)}")
  }

  test("cross-flush history within retainMs catches dups; beyond it is forgotten") {
    val text = Tables.documents(spark, "/root/testdata/sf0.001")
      .orderBy($"doc_id").limit(1).select($"text").as[String].head()
    val gap = 2L * 60 * 60 * 1000 // two hours between original and copy
    // timers fire against the PREVIOUS batch's committed watermark, so
    // flushing A before the copy arrives takes two marching batches: one
    // to move the watermark past A's (oldest + grace) target, one whose
    // processing actually expires the timer
    val batches = {
      val a = NearDupDoc(1L, text, Base)
      val marchA = NearDupDoc(9100L, "qqxyzzy wvutsrq ponmlkj", Base + 2 * Grace + 60000L)
      val marchB = NearDupDoc(9101L, "aabbcc ddeeff gghhii jjkkll", Base + 2 * Grace + 120000L)
      val aCopy = NearDupDoc(2L, text, Base + gap)
      Seq(Seq(a), Seq(marchA), Seq(marchB), Seq(aCopy)) ++ sentinels(Base + gap).map(Seq(_))
    }
    // horizon one day: the two-hour-old original is still retained
    val remembered = runStream(batches, retainMs = 86400000L, "neardedup_keep")
    assert(remembered(1L) == (true, None))
    assert(remembered(2L) == (false, Some(1L)),
      "copy within retainMs must dedup against the flushed original")
    // horizon one minute: the original has been pruned before the copy flushes
    val forgotten = runStream(batches, retainMs = 60000L, "neardedup_forget")
    assert(forgotten(1L) == (true, None))
    assert(forgotten(2L) == (true, None),
      "copy beyond retainMs must NOT see the pruned original")
  }
}
