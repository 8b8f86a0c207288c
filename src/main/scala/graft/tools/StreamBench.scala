package graft.tools

import graft.io.LocalCheckpointFileManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Throughput of the streaming pipelines other than the reorder: each
  * mode replays an sf table through MemoryStream and prints one JSON
  * line with records/second end to end. The reorder itself is timed by
  * perfbench (`reorder_replay`, `reorder_deep`), through
  * `ReorderApp.topology`, with a checked output and per-phase traces.
  *
  * Run: runMain graft.tools.StreamBench <mode> [batch size, default 20000]
  * with `<mode>` one of `asof`, `sketch-sink`,
  * `neardedup[:full|:bands|:stage1]`, `ingest[:trio]` or `admission`.
  * Environment: `SPARK_GRAFT_SF_DIR` (the sf table directory),
  * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_STATE_PARTS`, and for the
  * near-dedup, ingest and admission modes `SPARK_GRAFT_DEDUP_COPIES` and
  * `SPARK_GRAFT_NEARDEDUP_TUNED`.
  */
object StreamBench {

  /** Fact row for the as-of throughput bench (events-table shape). */
  final case class AFact(k: String, ts: Long, tb: Long, v: Double)
  /** Dimension-version row: every 16th event becomes a version update. */
  final case class ADim(k: String, ts: Long, tb: Long, tag: String)
  /** Event row for the sketch-summary-sink throughput bench. */
  final case class SEv(event_type: String, user_id: Long, ts: Long)

  /** Stream-stream as-of join throughput: events as facts, every 16th
    * event reissued as a dimension-version update for its key, both fed
    * in event-time order through [[graft.streaming.StreamingAsOf.join]]
    * (10 s watermark delay). Reports end-to-end records/second.
    *
    * Run: runMain graft.tools.StreamBench asof
    */
  private def asofBench(spark: SparkSession, sfDir: String,
      batchSize: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val facts = graft.Tables.events(spark, sfDir)
      .selectExpr("cast(user_id as string) AS k",
        "unix_micros(ts) div 1000 AS ts", "event_id AS tb", "value AS v")
      .orderBy("ts").as[AFact].collect()
    val fin = MemoryStream[AFact]
    val din = MemoryStream[ADim]
    val q = graft.streaming.StreamingAsOf.join[AFact, ADim](
        fin.toDS(), _.k, _.ts, _.tb,
        din.toDS(), _.k, _.ts, _.tb, "10 seconds")
      .toDF()
      .writeStream.format("memory").queryName("sb_asof")
      .outputMode(OutputMode.Append).start()
    val t0 = System.nanoTime()
    facts.grouped(batchSize).foreach { b =>
      din.addData(b.filter(_.tb % 16 == 0)
        .map(f => ADim(f.k, f.ts, f.tb, s"v${f.tb}")))
      fin.addData(b)
      q.processAllAvailable()
    }
    q.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    val emitted = spark.table("sb_asof").count()
    q.stop()
    val n = facts.length + facts.count(_.tb % 16 == 0)
    println(f"""{"metric":"stream_asof_throughput","batch":$batchSize,""" +
      f""""records_in":$n,"facts_out":$emitted,"sec":$secs%.2f,""" +
      f""""records_per_sec":${(n / secs).toLong}}""")
  }

  /** Sketch-summary-sink throughput: events streamed through
    * `foreachBatch(appendPartials)` into a parquet partials directory,
    * then one [[graft.streaming.SketchSummarySink.compact]] +
    * [[graft.streaming.SketchSummarySink.summary]] read. Reports ingest
    * records/second (the write path a 100 TB/day stream must sustain —
    * per batch one map-side-combined sketch agg, groups-sized append).
    *
    * Run: runMain graft.tools.StreamBench sketch-sink
    */
  private def sketchSinkBench(spark: SparkSession, sfDir: String,
      batchSize: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SketchSummarySink
    val events = graft.Tables.events(spark, sfDir)
      .selectExpr("event_type", "user_id", "unix_micros(ts) div 1000 AS ts")
      .as[SEv].collect()
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_sketch_sink")
    val path = tmpRoot.toString + "/partials"
    val input = MemoryStream[SEv]
    val q = input.toDS().toDF()
      .writeStream
      .foreachBatch(SketchSummarySink.appendPartials("event_type", "user_id", path))
      .start()
    val t0 = System.nanoTime()
    events.grouped(batchSize).foreach { b => input.addData(b); q.processAllAvailable() }
    q.processAllAvailable()
    val ingestSecs = (System.nanoTime() - t0) / 1e9
    q.stop()
    val t1 = System.nanoTime()
    SketchSummarySink.compact(spark, path, "event_type")
    val rows = SketchSummarySink.summary(spark, path, "event_type").count()
    val readSecs = (System.nanoTime() - t1) / 1e9
    println(f"""{"metric":"stream_sketch_sink_throughput","batch":$batchSize,""" +
      f""""records_in":${events.length},"ingest_sec":$ingestSecs%.2f,""" +
      f""""records_per_sec":${(events.length / ingestSecs).toLong},""" +
      f""""compact_plus_summary_sec":$readSecs%.2f,"summary_rows":$rows}""")
    // repeated bench runs must not accumulate parquet partials on disk
    // (round-8 advice): the summary has been read, drop the temp tree
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(tmpRoot).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  /** Streaming near-dup dedup throughput
    * ([[graft.streaming.StreamingNearDedup]]): the sf corpus replayed
    * `SPARK_GRAFT_DEDUP_COPIES` times (default 20 → 10k docs at sf0.1) —
    * each replay a near-identical copy (one appended generation token),
    * ascending event times, far-future sentinel flush. Reports ingest →
    * final-verdict records/second on the RocksDB provider, plus how many
    * docs deduped. The replay construction makes the stream dup-HEAVY
    * (every bucket hot), which is the expensive regime: retained-list
    * compares grow with bucket occupancy.
    *
    * Run: runMain graft.tools.StreamBench neardedup[:<stage>]
    *
    * The stage isolates pipeline stages so the bottleneck can be NAMED
    * rather than guessed:
    *  - `full` (default): the production two-stage pipeline;
    *  - `bands`: stop after the bucket-keyed compare (no doc combine);
    *  - `stage1`: the stateless SimHash+banding flatMap only.
    * `full`/`bands` also report per-stateful-operator time sums from the
    * streaming progress (updates/removals/commit ms), which attribute
    * wall time to a STAGE directly instead of by subtraction.
    *
    * SPARK_GRAFT_NEARDEDUP_TUNED=1 runs the PRODUCTION-TUNED
    * configuration from the operator's sizing rules (one maximal
    * micro-batch — the ≥100k-doc trigger recommendation — on the default
    * 8 state partitions): RocksDB commit cost scales with #stores ×
    * #micro-batches, so this is the measured-best shape, worth +46%
    * docs/s over 20k-doc batches in the round-10 profile.
    */
  private def nearDedupBench(spark: SparkSession, sfDir: String,
      batchSizeArg: Int, mode: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingNearDedup
    import graft.streaming.StreamingNearDedup.NearDupDoc
    val copies = sys.env.getOrElse("SPARK_GRAFT_DEDUP_COPIES", "20").toInt
    val texts = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val base = 1700000000000L
    val docs = (0 until copies).flatMap { c =>
      texts.map { case (id, t) =>
        NearDupDoc(c.toLong * 1000000L + id, s"$t gen$c", base + c * 60000L + id)
      }
    }
    // tuned mode: one maximal micro-batch (commit cost ∝ #micro-batches)
    val tuned = sys.env.get("SPARK_GRAFT_NEARDEDUP_TUNED").contains("1")
    val batchSize = if (tuned) docs.length else batchSizeArg
    val graceMs = 10L * 60 * 1000
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[NearDupDoc]
    val pipeline = mode match {
      case "stage1" => StreamingNearDedup.banded(input.toDS()).toDF()
      case "bands" => StreamingNearDedup.bandVerdicts(input.toDS(), graceMs,
        retainMs = 86400000L).toDF()
      case _ => StreamingNearDedup.nearDedup(input.toDS(), graceMs,
        retainMs = 86400000L)
    }
    val q = pipeline
      .writeStream.format("memory").queryName("sb_neardedup")
      .outputMode(OutputMode.Append).start()
    val t0 = System.nanoTime()
    docs.grouped(batchSize).foreach { b => input.addData(b); q.processAllAvailable() }
    // two far-future sentinels: one to flush the buckets, one so the
    // second-stage combine sees every band verdict
    Seq(1, 2).foreach { i =>
      input.addData(Seq(NearDupDoc(-i.toLong,
        s"qqxyzzy$i wvutsrq$i ponmlkj$i", docs.map(_.ts).max + i * (graceMs + 60000L))))
      q.processAllAvailable()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val out = spark.table("sb_neardedup")
    val emitted = out.count()
    val dups =
      if (mode == "full") out.filter(!org.apache.spark.sql.functions.col("keep")).count()
      else 0L
    // per-stateful-operator attribution: operator 0 is the LAST stage in
    // the plan (combine in full mode), the bucket compare follows
    val opTimes = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.zipWithIndex)
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (i, ps) =>
        val upd = ps.map(_._1.allUpdatesTimeMs).sum
        val rem = ps.map(_._1.allRemovalsTimeMs).sum
        val com = ps.map(_._1.commitTimeMs).sum
        s""""op$i":{"updates_ms":$upd,"removals_ms":$rem,"commit_ms":$com}"""
      }.mkString("{", ",", "}")
    q.stop()
    println(f"""{"metric":"stream_neardedup_throughput","mode":"$mode","tuned":$tuned,"batch":$batchSize,""" +
      f""""docs_in":${docs.length},"verdicts_out":$emitted,"dups":$dups,""" +
      f""""sec":$secs%.2f,"records_per_sec":${(docs.length / secs).toLong},""" +
      f""""state_ops":$opTimes}""")
  }

  /** Composed INGEST pipeline throughput
    * ([[graft.streaming.StreamingCuration]]: trained quality gate →
    * SimHash near-dup dedup in ONE streaming query): the sf corpus
    * replayed `SPARK_GRAFT_DEDUP_COPIES` times (the nearDedup bench's
    * dup-heavy construction), gate weights trained once in batch before
    * the clock starts (the production shape — the model comes from the
    * registry, not the stream). Reports end-to-end docs/s and, next to
    * it, the gate's survival fraction — the volume the gate saves the
    * stateful stages is the composition's scale argument.
    *
    * Run: runMain graft.tools.StreamBench ingest[:trio]
    * (honors SPARK_GRAFT_NEARDEDUP_TUNED=1 for the single-maximal-batch
    * shape; batch-size arg as usual; `ingest:trio` composes the
    * decontamination stage in — the registered trio.)
    */
  private def ingestBench(spark: SparkSession, sfDir: String,
      batchSizeArg: Int, trio: Boolean): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LogReg
    val copies = sys.env.getOrElse("SPARK_GRAFT_DEDUP_COPIES", "20").toInt
    val docs = graft.Tables.documents(spark, sfDir)
    val st = graft.operators.TextAnalysis.stats(docs, "doc_id", "text")
    val feats = st.select(
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.lit(1.0),
        org.apache.spark.sql.functions.col("punct_ratio"),
        org.apache.spark.sql.functions.col("stop_ratio"),
        org.apache.spark.sql.functions.least(
          org.apache.spark.sql.functions.col("n_tokens") / 100.0,
          org.apache.spark.sql.functions.lit(1.0)),
        org.apache.spark.sql.functions.col("mean_tok_len") / 10.0).as("x"),
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("quality") >= 0.8, 1.0)
        .otherwise(0.0).as("y"))
    val w = LogReg.train(feats, "x", "y", dim = 5, iters = 10, lr = 5.0)
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val base = 1700000000000L
    val rows = (0 until copies).flatMap { c =>
      texts.map { case (id, t) =>
        (c.toLong * 1000000L + id, s"$t gen$c", base + c * 60000L + id)
      }
    }
    val tuned = sys.env.get("SPARK_GRAFT_NEARDEDUP_TUNED").contains("1")
    val batchSize = if (tuned) rows.length else batchSizeArg
    val graceMs = 10L * 60 * 1000
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the trio runs the FULL registered composition (gate →
    // decontaminate → near-dedup) instead of the duo — the
    // decontamination stage is a stateless broadcast-literal filter
    // (bench shingles collected ONCE, outside the timed window, the
    // once-per-model-release contract), so the duo-vs-trio delta
    // measures exactly what that stage costs at ingest
    val benchShingles = if (trio)
      graft.streaming.StreamingCuration.benchShingleHashes(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0),
        "text", 3)
    else Array.empty[Long]
    val input = MemoryStream[(Long, String, Long)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val composed = if (trio)
      graft.streaming.StreamingCuration.curateDecontaminated(
        stream, w, benchShingles, graceMs, retainMs = 86400000L)
    else graft.streaming.StreamingCuration.curate(
      stream, w, graceMs, retainMs = 86400000L)
    val q = composed
      .writeStream.format("memory").queryName("sb_ingest")
      .outputMode(OutputMode.Append).start()
    val t0 = System.nanoTime()
    rows.grouped(batchSize).foreach { b => input.addData(b); q.processAllAvailable() }
    // gate-passing far-future sentinels (120 unique gibberish tokens —
    // heuristic-quality-1 text the trained gate keeps) to flush buffers
    Seq(1, 2).foreach { i =>
      input.addData(Seq((-i.toLong,
        (1 to 120).map(j => s"zqxv${i}w$j").mkString(" "),
        rows.map(_._3).max + i * (graceMs + 60000L))))
      q.processAllAvailable()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val out = spark.table("sb_ingest")
    val verdicts = out.count()
    val kept = out.filter(org.apache.spark.sql.functions.col("keep")).count()
    q.stop()
    val metric = if (trio) "stream_trio_throughput" else "stream_ingest_throughput"
    println(f"""{"metric":"$metric","tuned":$tuned,"batch":$batchSize,""" +
      f""""docs_in":${rows.length},"gated_verdicts":$verdicts,"kept":$kept,""" +
      f""""gate_survival":${verdicts.toDouble / rows.length}%.3f,""" +
      f""""sec":$secs%.2f,"docs_per_sec":${(rows.length / secs).toLong}}""")
  }

  /** Streaming-admission throughput ([[graft.streaming
    * .StreamingAdmission]]): the curated base is built ONCE outside the
    * timed window (it is persisted state in production — the
    * `incr_base` boundary contract), then `copies` relabeled copies of
    * the increment slice (`doc_id % 10 == 0`) stream through the
    * gate → fingerprint → stream-static probe → watermark combine
    * chain. Reports end-to-end docs/second plus the admission split.
    *
    * Run: runMain graft.tools.StreamBench admission
    * (SPARK_GRAFT_DEDUP_COPIES for volume; SPARK_GRAFT_NEARDEDUP_TUNED=1
    * for the single-maximal-batch production configuration).
    */
  private def admissionBench(spark: SparkSession, sfDir: String,
      batchSizeArg: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, LogReg}
    import org.apache.spark.sql.functions._
    val copies = sys.env.getOrElse("SPARK_GRAFT_DEDUP_COPIES", "20").toInt
    val docs = graft.Tables.documents(spark, sfDir)
    val st = graft.operators.TextAnalysis.stats(docs, "doc_id", "text")
    val feats = st.select(
      array(lit(1.0), col("punct_ratio"), col("stop_ratio"),
        least(col("n_tokens") / 100.0, lit(1.0)),
        col("mean_tok_len") / 10.0).as("x"),
      when(col("quality") >= 0.8, 1.0).otherwise(0.0).as("y"))
    val w = LogReg.train(feats, "x", "y", dim = 5, iters = 10, lr = 5.0)
    // untimed: the persisted curated base (the incrementBaseOnce recipe
    // from public operators), materialized to parquet like production
    val gatedBase = graft.streaming.StreamingQuality.gate(
      docs.filter(col("doc_id") % 10 =!= 0), "text", w)
      .select(col("doc_id"), col("text"))
    val basePath = java.nio.file.Files
      .createTempDirectory("sb_admission_base").toString + "/base"
    Dedup.nearDedupKeepFirst(
        Dedup.exactByHash(gatedBase, "text", "doc_id"),
        "doc_id", "text", 3, 0.7)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(basePath)
    val base = spark.read.parquet(basePath)
    val incr = docs.filter(col("doc_id") % 10 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val tsBase = 1700000000000L
    val rows = (0 until copies).flatMap { c =>
      incr.map { case (id, t) =>
        (c.toLong * 1000000L + id, t, tsBase + c * 60000L + id)
      }
    }
    val tuned = sys.env.get("SPARK_GRAFT_NEARDEDUP_TUNED").contains("1")
    val batchSize = if (tuned) rows.length else batchSizeArg
    val graceMs = 10L * 60 * 1000
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.StreamingAdmission.admit(
        input.toDF().toDF("doc_id", "text", "ts"), base, w, graceMs)
      .writeStream.format("memory").queryName("sb_admission")
      .outputMode(OutputMode.Append).start()
    val t0 = System.nanoTime()
    rows.grouped(batchSize).foreach { b => input.addData(b); q.processAllAvailable() }
    Seq(1, 2).foreach { i =>
      input.addData(Seq((-i.toLong,
        (1 to 120).map(j => s"zqxv${i}w$j").mkString(" "),
        rows.map(_._3).max + i * (graceMs + 60000L))))
      q.processAllAvailable()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val out = spark.table("sb_admission")
    val verdicts = out.count()
    val admitted = out.filter(col("admitted")).count()
    q.stop()
    println(f"""{"metric":"stream_admission_throughput","tuned":$tuned,"batch":$batchSize,""" +
      f""""docs_in":${rows.length},"gated_verdicts":$verdicts,"admitted":$admitted,""" +
      f""""sec":$secs%.2f,"docs_per_sec":${(rows.length / secs).toLong}}""")
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: StreamBench asof|sketch-sink|neardedup[:full|:bands|:stage1]" +
      "|ingest[:trio]|admission [batch size]"
    val bench: (SparkSession, String, Int) => Unit = args.headOption match {
      case Some("asof") => asofBench
      case Some("sketch-sink") => sketchSinkBench
      case Some("neardedup" | "neardedup:full") => nearDedupBench(_, _, _, "full")
      case Some("neardedup:bands") => nearDedupBench(_, _, _, "bands")
      case Some("neardedup:stage1") => nearDedupBench(_, _, _, "stage1")
      case Some("ingest") => ingestBench(_, _, _, trio = false)
      case Some("ingest:trio") => ingestBench(_, _, _, trio = true)
      case Some("admission") => admissionBench
      case _ => throw new IllegalArgumentException(usage)
    }
    require(args.length <= 2, usage)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(20000)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // state partitioning: per-batch overhead is proportional to the number
    // of state stores committed each micro-batch, so size it to the
    // keyspace/throughput, not the core count
    val statePartitions = sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", statePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LocalCheckpointFileManager.install(spark)
    try bench(spark, sfDir, batchSize)
    finally spark.stop()
  }
}
