package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the given scale factor
  * and prints ONE JSON line.
  *
  * Measurement discipline (round 2's driver artifact reported a 2.3×
  * regression that a clean re-run showed was contention/GC noise — this
  * main is now built so one noisy run cannot masquerade as a regression):
  *
  *  - Each query is forced through the `noop` sink — unlike `.count()`,
  *    noop cannot let the optimizer drop sorts/projections, so timings
  *    reflect the full plan the driver's verify step executes (minus
  *    parquet write cost).
  *  - **Isolation**: queries run grouped by family (name prefix); between
  *    families the Spark cache is cleared and a GC is requested, so the
  *    session-lifetime shingle cache of the dedup family (Dedup
  *    .shingleHashes) and allocation pressure from heavy queries (PNG/WAV
  *    round trips, banding joins) cannot bleed into later families'
  *    numbers. Within a family the cache is intentionally shared — that is
  *    the plan's real shape.
  *  - **Untimed warm-up, then median-of-3**: every query runs ONCE
  *    untimed before its timed reps — round 5's raw triples proved the
  *    first rep pays family cache build + JIT and contaminated the
  *    medians 2-4× on the heavy families (dedup_ngram_jaccard
  *    [28.7,10.1,4.6]). With the warm-up absorbed, the three timed reps
  *    are steady-state and the median is trustworthy; a single GC pause
  *    or JIT deopt still cannot move a number 10×.
  *  - **Raw reps recorded**: rounds 2 and 4 both saw a regression claim
  *    die in noise-vs-real ambiguity, so the per-rep triples are kept —
  *    on the second stdout/stderr line and in the file artifact — making
  *    one-glance noise diagnosis possible.
  *
  * Output hand-off, built so driver tail-capture truncation can never
  * hide a number. The driver keeps only the LAST ~2000 CHARS of stdout
  * (measured: every BENCH_r1–r6 tail is exactly 2000 chars), so a
  * per-query line — ~20 chars × 130 queries ≈ 2.6 KB — can NEVER fit,
  * even printed last: its head is truncated mid-line and the JSON never
  * parses (six rounds of `parsed: null`). Hence:
  *  - the LAST stdout line is a SHORT totals-only JSON (<200 chars):
  *    `{"metric":"total","value":T,"unit":"sec","total_s":T,
  *    "queries":N,"failed":F,"sf":"…"}` — fits the tail window with
  *    room for sbt's trailing `[success]` line. A query that throws is
  *    counted in `failed` and named in the file artifact's
  *    `failed_queries`, never silently dropped from T.
  *  - per-query MEDIANS and raw per-rep triples go to STDERR ONLY
  *    (medians last there), plus the file artifacts below.
  *  - full JSON (summary + per-query medians + raw triples) written to
  *    `$TMPDIR/graft_bench_out.json` (override: SPARK_GRAFT_BENCH_OUT)
  *    AND to the legacy `./bench_out.json` cwd path (gitignored).
  */
object Bench {
  /** Queries that drive an iterative localCheckpoint/persist loop (CC
    * fixpoints, star contraction, Pregel supersteps, k-means rounds, GD
    * trajectories). Each round pins block-manager storage, so these are
    * both the worst POLLUTERS of later family-mates and the worst
    * VICTIMS of earlier ones — they get the full clearCache + RDD
    * unpersist + GC barrier per query, not just per family.
    */
  private[graft] val iterative: Set[String] = Set(
    "sample_split_leaksafe", "sample_cluster_balanced",
    "dedup_clusters", "dedup_clusters_star", "dedup_clusters_incremental",
    "pipeline_curate", "pipeline_curate_learned", "pipeline_curate_packed",
    "pipeline_curate_rebalanced",
    "graph_pagerank", "graph_communities", "graph_triangles",
    "emb_kmeans", "text_training_map", "text_quality_model",
    "text_bpe_train", "text_bpe_vocab", "text_bpe_encode",
    "text_bpe_fertility", "mine_positive_pairs")

  /** The suite summary from raw timed reps, where a rep of -1 is a run
    * that threw. A query with any failed rep is FAILED: its median reads
    * -1 and it is left out of `total`, so `failed` is what tells a
    * shorter suite from a faster one.
    */
  private[graft] final case class Summary(medians: Seq[(String, Double)],
      total: Double, failed: Seq[String])

  private[graft] def summarize(results: Seq[(String, Seq[Double])]): Summary = {
    val medians = results.map { case (k, raw) =>
      k -> (if (raw.exists(_ < 0)) -1.0 else raw.sorted.apply(raw.size / 2))
    }
    val failed = medians.collect { case (k, m) if m < 0 => k }
    Summary(medians, medians.map(_._2).filter(_ >= 0).sum, failed)
  }

  // 3-decimal fixed-point rendering: no scientific notation and no
  // Double.toString tail like 12.394829384293847, which would push the
  // short line past the driver's capture window
  private[graft] def f3(x: Double): String =
    if (x < 0) "-1" else java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** The short totals-only last stdout line (kept under 200 chars). */
  private[graft] def shortJson(sum: Summary, reps: Int, sfDir: String): String =
    s"""{"metric":"total","value":${f3(sum.total)},"unit":"sec","total_s":${f3(sum.total)},"queries":${sum.medians.size},"failed":${sum.failed.size},"stat":"median","reps":$reps,"sf":"$sfDir"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // CLAMPED to >= 3: the round-9 driver artifact reads as 1-rep and
    // carried a ~1.5x uniform inflation that masqueraded as a regression
    // (round-9 verdict #1) — a 1-rep bench cannot distinguish noise from
    // a real 1.3x slowdown, so no environment setting may lower the
    // discipline below warmed median-of-3. Higher rep counts are honored.
    val reps = math.max(3, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    runOnce("q1_agg") // warmup: JIT, codegen cache, parquet footers

    // family = everything before the last name segment ("dedup_minhash" →
    // "dedup"); single-segment names are their own family
    def family(name: String): String = name.split('_').head
    // SPARK_GRAFT_BENCH_ONLY: comma-separated name or family-prefix filter
    // for local isolated measurement (e.g. "dedup" or "dedup_near_keep,
    // pipeline_curate"); unset in the driver -> full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      only.forall(f => f.contains(name) || f.contains(family(name)))
    val byFamily = SparkEntry.queries.keys.toSeq.filter(selected)
      .sorted.groupBy(family)
    val results = byFamily.toSeq.sortBy(_._1).flatMap { case (_, names) =>
      // isolation barrier: drop cached plans AND RDD-level persists (the
      // iterative cluster queries pin one localCheckpoint RDD per run —
      // catalog.clearCache() never touches those), then request a GC so
      // the context cleaner reclaims the previous family's broadcasts.
      // An isolated dedup-family run measures dedup_clusters at a flat
      // [3.4, 2.6, 2.9] where the full suite without the RDD unpersist
      // saw [16.8, 6.7, 5.9] — the eviction storm was inherited state,
      // not the query.
      def barrier(): Unit = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
      }
      barrier()
      names.map { n =>
        // Iterative-checkpoint queries get the FULL barrier, per query:
        // each localCheckpoint round pins an RDD, and a family-mate's
        // leftover storage pressure triples the measured time (round-10
        // verdict #1: sample_split_leaksafe read 8.28 s inside the
        // `sample` family vs 2.75 s isolated — same plan, inherited
        // evictions). The family-level barrier above cannot help a query
        // whose 7 family-mates run first.
        if (Bench.iterative(n)) barrier()
        // per-query GC (untimed): reclaims the PREVIOUS query's pinned
        // checkpoint/broadcast refs so rep 1 doesn't pay its evictions
        else System.gc()
        runOnce(n) // untimed warm-up: absorbs family cache build + JIT
        n -> (0 until reps).map(_ => runOnce(n))
      }
    }.sortBy(_._1)
    val sum = summarize(results)
    val median = sum.medians.toMap

    val qs = sum.medians.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val failedNames = sum.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "stat"/"reps" ride every artifact so a consumer can SEE the
    // measurement discipline instead of inferring it from value shapes
    val json =
      s"""{"metric":"total","value":${f3(sum.total)},"unit":"sec","stat":"median","reps":$reps,"failed":${sum.failed.size},"failed_queries":$failedNames,"queries":$qs,"sf":"$sfDir"}"""
    val rawHeaviestFirst = results.sortBy { case (k, _) => -median(k) }
      .map { case (k, raw) => "\"" + k + "\":" + raw.map(f3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val rawJson =
      s"""{"metric":"raw_reps","unit":"sec","order":"heaviest_first","raw":$rawHeaviestFirst}"""
    // STDOUT gets exactly one short line, LAST: the totals-only summary.
    // The driver's tail window is ~2000 chars; the per-query median line
    // is ~2.6 KB at 130 queries, so printing it to stdout at all risks
    // pushing the parseable line out (this exact failure ate rounds
    // 1-6's artifacts). Per-query detail lives on stderr + the files.
    val short = shortJson(sum, reps, sfDir)
    println()
    println(short)
    Console.err.println(rawJson)
    Console.err.println(json)
    Console.err.println(short)
    // full artifact (summary + raw triples) to tmpdir (override via
    // SPARK_GRAFT_BENCH_OUT) and to the legacy cwd path `bench_out.json`
    // (gitignored) — four chances for the driver's parser
    val full = json.dropRight(1) + s""","raw":$rawHeaviestFirst}"""
    for (outPath <- Seq(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
          new java.io.File(System.getProperty("java.io.tmpdir"), "graft_bench_out.json").getPath),
        "bench_out.json")) {
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => () }
    }
    spark.stop()
  }
}
