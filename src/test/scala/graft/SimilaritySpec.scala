package graft

import graft.functions.TopKByScore
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("topkBy keeps the k best (score desc, id asc) across partitions") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 1000L).map(i => (i % 3, rnd.nextInt(100).toDouble, i))
    val df = rows.toDF("g", "s", "id").repartition(7)
    val got = df.groupBy($"g")
      .agg(TopKByScore.topkBy($"s", $"id", 5).as("topk"))
      .select($"g", explode($"topk").as("e"))
      .select($"g", $"e.score", $"e.id")
      .as[(Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val expected = rows.groupBy(_._1).view.mapValues(
      _.map(t => (t._2, t._3)).sortBy(t => (-t._1, t._2)).take(5).toSeq).toMap
    assert(got == expected)
  }

  test("dot_product of mismatched-length arrays is NULL, not a partial sum") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D)) AS d")
    assert(r.head().isNullAt(0))
  }

  test("bruteTopK ranks an obvious nearest neighbor first") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val top = Similarity.bruteTopK(q, corpus, "vec_id", "embedding", 2)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().toSeq
    assert(top == Seq((1L, 1L), (2L, 2L)))
  }

  // ---- hard recall gates: ann_topk_lsh / ann_topk_ivf are rows-only in
  // the driver's correctness report forever (no SQL oracle can reproduce
  // the hash buckets / trained centroids), so these fixed floors at the
  // driver's own verify scale (sf0.01) ARE their correctness signal.

  private def annPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

  test("hardNegatives drops near-dups from the candidate band, keeps the hardest true negatives") {
    // query 0: id 1 is a near-copy (cos ~0.995 >= tau), ids 2..4 are
    // progressively-farther true negatives, id 5 is opposite-direction
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.8f, 0.6f)), (3L, Array(0.6f, 0.8f)),
      (4L, Array(0.1f, 0.99f)), (5L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val topk = Similarity.bruteTopK(q, corpus, "vec_id", "embedding", 5)
    val hn = Similarity.hardNegatives(topk, 2, tau = 0.95)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().toSeq
    // the near-copy (id 1, top-ranked in topk) must NOT appear; the two
    // hardest sub-tau negatives keep their relative order and re-rank 1,2
    assert(hn == Seq((1L, 2L), (2L, 3L)))
  }

  test("positivesFromTopK mirrors hardNegatives: the two legs partition the candidate list at tau") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.8f, 0.6f)), (3L, Array(0.6f, 0.8f)),
      (4L, Array(0.1f, 0.99f)), (5L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val topk = Similarity.bruteTopK(q, corpus, "vec_id", "embedding", 5)
    val pos = Similarity.positivesFromTopK(topk, 5, tau = 0.95)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect().toSeq
    val neg = Similarity.hardNegatives(topk, 5, tau = 0.95)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect().toSeq
    assert(pos.map(_._1) == Seq(1L), s"positives: $pos")
    assert(pos.forall(_._2 >= 0.95) && neg.forall(_._2 < 0.95))
    // exact partition: every candidate lands in exactly one leg
    assert((pos.map(_._1) ++ neg.map(_._1)).sorted ==
      topk.select("neighbor_id").as[Long].collect().toSeq.sorted)
  }

  test("kCenter greedy farthest-point traversal: seed = lowest id, then exact max-min argmax order") {
    // collinear points: 0 at x=0 (seed), 1 at x=10, 3 at x=5, 2 at x=0.1
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 0.0f)),
      (2L, Array(0.1f, 0.0f)), (3L, Array(5.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val sel = Similarity.kCenter(emb, "vec_id", "embedding", 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(sel == Seq(
      (1L, 0L, 0.0),   // seed: lowest id, radius 0
      (2L, 1L, 10.0),  // farthest from {0}
      (3L, 3L, 5.0),   // max-min to {0,1}: 3 gives 5.0, 2 gives 0.1
      (4L, 2L, 0.1)), s"got $sel")
  }

  test("fast-path round6 equals BigDecimal HALF_UP on random and boundary values") {
    def exact(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(97)
    val randoms = Seq.fill(200000)((rnd.nextDouble() - 0.5) * 20.0)
    // adversarial: exact half-grid and near-half-grid values of both signs
    val boundaries = (-50 to 50).flatMap { k =>
      val base = k.toDouble / 10.0 + 0.0000005
      Seq(base, -base, base + 1e-13, base - 1e-13, 0.0078125, -0.0078125)
    }
    (randoms ++ boundaries).foreach { x =>
      val got = Similarity.round6(x)
      val want = exact(x)
      assert(got == want || (got == 0.0 && want == 0.0),
        s"round6($x): fast $got != exact $want")
    }
  }

  test("decontaminateByCosine flags the near-copy of an eval vector, not the orthogonal one") {
    // eval = {0}; corpus candidate 1 is a near-copy of eval 0, candidate
    // 2 is orthogonal, candidate 3 anti-parallel
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.decontaminateByCosine(
      emb.filter($"vec_id" =!= 0L), emb.filter($"vec_id" === 0L),
      "vec_id", "embedding", tau = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((1L, 1L)), "near-copy must be flagged with one near-eval hit")
    assert(rows(2L) == ((0L, 0L)) && rows(3L) == ((0L, 0L)),
      "orthogonal and anti-parallel candidates must pass")
  }

  test("ivfTopK recall@5 >= 0.3 vs brute force at sf0.01") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val brute = annPairs(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val ivf = annPairs(Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 5))
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall@5 = $recall below floor (near-random data, " +
      "nprobe/nlist = 4/16 probes a quarter of the corpus)")
  }

  test("ann_recall_report covers all seven legs and self-satisfies its emitted floors at sf0.01") {
    val rep = graft.queries.PipelineQueries
      .annRecallReport(spark, "/root/testdata/sf0.01")
      .select("leg", "k", "recall_floor", "recall_pct")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(rep.map(_._1).sorted ==
      Seq("ivf", "ivfpq", "lsh", "pca", "pq", "pq_opq", "pq_refined"),
      s"report legs: ${rep.map(_._1)}")
    // the refine stage can only promote true neighbors: its measured
    // recall must dominate the PQ leg it candidates from
    val byLeg = rep.map(r => r._1 -> r._4).toMap
    assert(byLeg("pq_refined") >= byLeg("pq"),
      s"refined ${byLeg("pq_refined")} below pq ${byLeg("pq")}")
    rep.foreach { case (leg, k, floor, pct) =>
      assert(k == 5L)
      assert(pct >= floor,
        s"$leg recall_pct $pct below its own emitted floor $floor — the " +
          "report's invariant column would be lying in the verify artifact")
      assert(pct <= 1.0)
    }
  }

  test("buildIvf/queryIvf equals one-shot ivfTopK; the on-disk index round-trips AND prunes cells") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val oneShot = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().toSeq
    // build once, query twice: identical output both times (index reuse)
    val idx = Similarity.buildIvf(emb, "vec_id", "embedding")
    val served1 = Similarity.queryIvf(idx, queries, "vec_id", "embedding", 5).collect().toSeq
    val served2 = Similarity.queryIvf(idx, queries, "vec_id", "embedding", 5).collect().toSeq
    assert(served1 == oneShot && served2 == oneShot)

    // disk round-trip: same centroids, same assignment, same answers
    val path = tempDir("graft-ivf")
    Similarity.writeIvf(idx, path)
    val loaded = Similarity.readIvf(spark, path)
    assert(loaded.centroids == idx.centroids)
    val servedDisk = Similarity.queryIvf(loaded, queries, "vec_id", "embedding", 5)
    val rows = servedDisk.collect().toSeq
    assert(rows == oneShot)

    // the probe join must prune the cell-partitioned index at the
    // DIRECTORY level: the scan's partition filters carry a dynamic
    // pruning subquery on _cell (at 100 TB this is opening nprobe/nlist
    // of the index instead of scanning it)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: inner.flatMap(flatten)
    }
    val scans = flatten(servedDisk.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    val cellScan = scans.filter(_.output.exists(_.name == "_cell"))
    assert(cellScan.nonEmpty, "expected a scan of the cell-partitioned index")
    assert(cellScan.exists(s => s.partitionFilters.exists(
        _.toString.contains("dynamicpruning"))),
      s"no dynamic partition pruning on _cell:\n${cellScan.map(_.partitionFilters)}")
  }

  test("buildIvfPq/queryIvfPq equals one-shot ivfPqTopK; the compressed on-disk index round-trips") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val oneShot = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding", 5, dim = 64)
      .collect().toSeq
    val idx = Similarity.buildIvfPq(emb, "vec_id", "embedding", dim = 64)
    val served1 = Similarity.queryIvfPq(idx, queries, "vec_id", "embedding", 5).collect().toSeq
    val served2 = Similarity.queryIvfPq(idx, queries, "vec_id", "embedding", 5).collect().toSeq
    assert(served1 == oneShot && served2 == oneShot)

    val path = tempDir("graft-ivfpq")
    Similarity.writeIvfPq(idx, path)
    val loaded = Similarity.readIvfPq(spark, path)
    assert(loaded.centroids == idx.centroids && loaded.codebooks == idx.codebooks)
    val fromDisk = Similarity.queryIvfPq(loaded, queries, "vec_id", "embedding", 5)
      .collect().toSeq
    assert(fromDisk == oneShot)
    // the on-disk footprint is codes, not vectors: the cells tree must
    // not contain any float-array vector column
    val cellSchema = spark.read.parquet(s"$path/cells").schema
    assert(!cellSchema.fieldNames.contains("_cv"),
      "IVF-PQ index must persist codes only — raw vectors defeat the compression")
    assert(cellSchema.fieldNames.contains("_codes"))
  }

  test("incremental addToIvf == on-disk appendIvf == deterministic re-assignment under fixed centroids") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 === 1)
    val queries = emb.filter($"vec_id" < 10)
    val base = Similarity.buildIvf(half1, "vec_id", "embedding")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_cid", $"_cell".cast("int")).as[(Long, Int)].collect().toSet

    // in-memory incremental add: existing assignment untouched, delta
    // assigned under the SAME centroids, twice -> identical (determinism)
    val added = Similarity.addToIvf(base, half2, "vec_id", "embedding")
    assert(added.centroids == base.centroids)
    val addedRows = rows(added.assigned)
    assert(rows(Similarity.addToIvf(base, half2, "vec_id", "embedding").assigned) == addedRows)
    assert(rows(base.assigned).subsetOf(addedRows), "add must not move existing vectors")
    assert(addedRows.map(_._1) == emb.select($"vec_id").as[Long].collect().toSet,
      "every corpus id must be indexed after the add")

    // on-disk append: same layout, same rows, same query answers
    val path = tempDir("graft-ivf-append")
    Similarity.writeIvf(base, path)
    Similarity.appendIvf(path, half2, "vec_id", "embedding")
    val loaded = Similarity.readIvf(spark, path)
    assert(rows(loaded.assigned) == addedRows,
      "on-disk append must equal the in-memory incremental add")
    val inMem = Similarity.queryIvf(added, queries, "vec_id", "embedding", 5).collect().toSeq
    val onDisk = Similarity.queryIvf(loaded, queries, "vec_id", "embedding", 5).collect().toSeq
    assert(inMem == onDisk)
  }

  test("pcaTopK recall@5 vs brute force at sf0.01 (near-random data, the honest worst case)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val brute = annPairs(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val pca = annPairs(Similarity.pcaTopK(queries, emb, "vec_id", "embedding", 5, dim = 64))
    val recall = (brute & pca).size.toDouble / brute.size
    // 16/64 dims of isotropic-ish variance + a 40-deep shortlist: the
    // reduced score still concentrates true top-5 neighbors far above
    // chance (chance would be ~40/500 per slot). Real clustered corpora
    // sit far higher; this floor is the no-structure worst case.
    assert(recall >= 0.4, s"recall@5 = $recall below floor")
  }

  test("pqTopK recall@5 >= 0.4 vs brute force at sf0.01 (near-random data, the honest worst case)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val brute = annPairs(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val pq = annPairs(Similarity.pqTopK(queries, emb, "vec_id", "embedding", 5, 64))
    val recall = (brute & pq).size.toDouble / brute.size
    // 16 subspaces x 32 centroids on isotropic noise (measured 0.48):
    // quantization error dominates when there is no cluster structure;
    // clustered corpora sit far higher. Training is deterministic
    // (hash-ordered sample, argmin-with-index tiebreak), so this is a
    // stable number, not a distribution.
    assert(recall >= 0.4, s"recall@5 = $recall below floor")
  }

  test("opqRotation is an orthogonal, dot-preserving rotation with exactly d0 axes per subspace") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rot = Similarity.opqRotation(emb, "embedding", 64, 16)
    assert(rot.size == 64 && rot.forall(_.size == 64),
      "full-rank 64x64 rotation (16 subspaces x 4 axes each)")
    // R R^T = I: the rows are a PERMUTATION of the orthonormal Jacobi
    // eigenbasis (PcaSpec pins orthonormality at 1e-9), so the
    // allocation cannot have dropped or duplicated an axis
    for (i <- 0 until 64; j <- i until 64) {
      val d = rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-9, s"R R^T deviates at ($i,$j): $d")
    }
    // pure rotation, no centering: dot products (hence cosines and the
    // brute-force neighbor order) are preserved exactly up to FP noise
    val vs = emb.orderBy($"vec_id").limit(3)
      .select($"embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble))
    def apply(v: Array[Double]): Array[Double] =
      rot.map(r => r.zip(v).map { case (a, b) => a * b }.sum).toArray
    for (a <- vs; b <- vs) {
      val raw = a.zip(b).map { case (x, y) => x * y }.sum
      val rotd = apply(a).zip(apply(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(raw - rotd) < 1e-6, s"dot drifted: $raw vs $rotd")
    }
  }

  test("opqTopK: parity floor on the isotropic corpus; decisive uplift where variance is imbalanced") {
    // isotropic registry corpus: every rotation is distribution-
    // equivalent, so the honest gate is the SAME 0.25 floor as raw PQ
    // (a >= pq assertion here would gate on noise)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val brute = annPairs(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val opq = annPairs(Similarity.opqTopK(queries, emb, "vec_id", "embedding", 5, 64))
    val recall = (brute & opq).size.toDouble / brute.size
    assert(recall >= 0.25, s"opq recall@5 = $recall below floor")

    // variance-imbalanced corpus (dims 0-3 scaled 8x — the shape of
    // real learned embeddings): raw PQ's ADC error is dominated by the
    // hot subspace and collapses (~0.09 measured); the rotation re-deals
    // one principal axis per subspace and holds (~0.69 measured). The
    // margin is wide, so the inequality is a stable gate.
    val skewed = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", org.apache.spark.sql.functions.expr(
        "transform(embedding, (x, i) -> CAST(x * (CASE WHEN i < 4 THEN 8.0 ELSE 1.0 END) AS FLOAT))")
        .as("embedding"))
    val sq = skewed.filter($"vec_id" < 50)
    val sBrute = annPairs(Similarity.bruteTopK(sq, skewed, "vec_id", "embedding", 5))
    val sPq = annPairs(Similarity.pqTopK(sq, skewed, "vec_id", "embedding", 5, 64))
    val sOpq = annPairs(Similarity.opqTopK(sq, skewed, "vec_id", "embedding", 5, 64))
    val rPq = (sBrute & sPq).size.toDouble / sBrute.size
    val rOpq = (sBrute & sOpq).size.toDouble / sBrute.size
    assert(rOpq >= rPq + 0.3,
      s"OPQ must decisively beat raw PQ on the imbalanced corpus: pq=$rPq opq=$rOpq")
  }

  test("OPQ build-once/serve-many == one-shot, through the writeOpq/readOpq round trip") {
    // fit+serve must be BIT-IDENTICAL to the one-shot leg: buildOpq
    // trains the same rotation/codebooks and encodes the same codes, so
    // queryOpq over the persisted index reproduces opqTopK row for row
    // (the ann_topk_opq_served registry query shares the one-shot
    // oracle on exactly this guarantee)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 10)
    val oneShot = Similarity.opqTopK(queries, emb, "vec_id", "embedding", 5, 64)
      .collect().map(_.toSeq).toSet
    val idx = Similarity.buildOpq(emb, "vec_id", "embedding", 64)
    val dir = tempDir("graft_opq_idx")
    Similarity.writeOpq(idx, dir)
    val served = Similarity.queryOpq(Similarity.readOpq(spark, dir),
      queries, "vec_id", "embedding", 5)
      .collect().map(_.toSeq).toSet
    assert(served == oneShot,
      s"served result drifted from one-shot: ${(served diff oneShot).take(3)} vs ${(oneShot diff served).take(3)}")
  }

  test("pqRefineTopK recall beats PQ alone; full-width candidates reproduce brute exactly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val brute = annPairs(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val pq = annPairs(Similarity.pqTopK(queries, emb, "vec_id", "embedding", 5, 64))
    val refined = annPairs(
      Similarity.pqRefineTopK(queries, emb, "vec_id", "embedding", 5, 20, 64))
    val rPq = (brute & pq).size.toDouble / brute.size
    val rRef = (brute & refined).size.toDouble / brute.size
    // the refine stage can only promote true neighbors the ADC scan
    // mis-ranked INSIDE the candidate band — recall must not drop, and
    // on this corpus it measurably rises (deterministic training)
    assert(rRef >= rPq, s"refine recall $rRef below PQ recall $rPq")
    assert(rRef >= 0.6, s"refined recall@5 = $rRef below floor")
    // kCand = corpus - 1 makes the candidate stage lossless: the exact
    // re-rank IS brute force, row for row
    val n = emb.count().toInt
    val full = Similarity.pqRefineTopK(queries, emb, "vec_id", "embedding",
      5, n - 1, 64)
      .as[(Long, Long, Long, Double)].collect().toSet
    val bruteRows = Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(full == bruteRows)
  }

  test("ivfPqTopK recall@5 >= 0.3 vs brute force at sf0.01 (compound approximation)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val brute = annPairs(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val ivfpq = annPairs(Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding", 5, 64))
    val recall = (brute & ivfpq).size.toDouble / brute.size
    // Compounds the IVF cell-miss rate (nprobe=4 of nlist=16) with PQ
    // quantization error (measured 0.38 on this isotropic worst case);
    // the floor sits below either leg alone — that is the documented
    // trade for the compounded index-size + scan-cost win. Training is
    // deterministic (hash-ordered samples, index tiebreaks), so this is
    // a stable number, not a distribution.
    assert(recall >= 0.3, s"recall@5 = $recall below floor")
    // every returned row must still be a well-formed (rank<=5) triple
    val out = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding", 5, 64)
    assert(out.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cosine"))
    assert(out.groupBy("query_id").count().filter($"count" > 5).count() == 0)
  }

  test("semanticPairs: exact precision (subset of all-pairs) and full recall on planted clusters") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    // precision = 1 by construction: every emitted pair must appear in
    // the exact all-pairs operator's output at the same tau
    val sem = Similarity.semanticPairs(emb, "vec_id", "embedding", tau = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.blockedCosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sem.subsetOf(exact), s"false positives: ${sem.diff(exact).take(3)}")

    // planted EXACT duplicates: identical vectors get identical cell
    // scores, so the deterministic argmax co-locates every twin — the
    // guarantee the operator can make unconditionally
    val base = emb.filter($"vec_id" < 20)
    val clones = base.select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val planted = base.select($"vec_id", $"embedding").unionByName(clones)
    val found = Similarity.semanticPairs(planted, "vec_id", "embedding", tau = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (0L until 20L).map(i => (i, i + 100000L)).toSet
    assert(want.subsetOf(found),
      s"missed planted exact-duplicate pairs: ${want.diff(found).take(5)}")

    // jittered near-dups: a ×1.001 scale can flip an argmax on a cell
    // BOUNDARY (the one approximation SemDeDup accepts), so the floor is
    // high recall, not totality
    val jittered = base.select(($"vec_id" + 200000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.001f)).as("embedding"))
    val found2 = Similarity.semanticPairs(
        base.select($"vec_id", $"embedding").unionByName(jittered),
        "vec_id", "embedding", tau = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want2 = (0L until 20L).map(i => (i, i + 200000L)).toSet
    val recall = (want2 & found2).size.toDouble / want2.size
    assert(recall >= 0.9, s"jittered-clone recall $recall below 0.9")
  }

  test("lshTopK recall@5 >= 0.5 vs brute force at sf0.01") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 10)
    val brute = annPairs(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val lsh = annPairs(Similarity.lshTopK(queries, emb, "vec_id", "embedding", 5, 64))
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall below floor (data is near-random; " +
      "0.5 is the honest floor for L=8 b=4 at ~60-degree neighbor angles)")
  }

  test("lshTopK shuffles ids only: no embedding array crosses a shuffle exchange") {
    // guards the round-5 fix (Similarity.scala:83-108): candidate dedup
    // must shuffle (query_id, _cid) longs only; vectors travel exclusively
    // via broadcast. Walk the EXECUTED (post-AQE) plan and assert it.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val df = Similarity.lshTopK(queries, emb, "vec_id", "embedding", 5, 64)
    df.collect() // materialize so AQE settles on the final plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: inner.flatMap(flatten)
    }
    val shuffles = flatten(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }.distinct
    assert(shuffles.nonEmpty, "expected at least the candidate-dedup exchange")
    val vectorCarrying = shuffles.filter(_.output.exists(_.dataType.isInstanceOf[ArrayType]))
    assert(vectorCarrying.isEmpty,
      s"embedding arrays crossed a shuffle: ${vectorCarrying.map(_.output.map(_.name).mkString("(", ",", ")"))}")
    assert(shuffles.exists(s =>
        s.output.size == 2 && s.output.forall(_.dataType == LongType)),
      s"no two-long-column dedup exchange found; shuffle schemas were: " +
        shuffles.map(_.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString("(", ",", ")")).mkString("; "))
  }

  test("blockedCosinePairs equals the all-pairs baseline at sf0.01, any block count") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSeq
    val exact = rows(graft.operators.Dedup
      .embedCosinePairs(emb, "vec_id", "embedding", 0.4))
    assert(exact.nonEmpty, "sanity: the corpus must contain true pairs")
    // every pair must be scored exactly once for ANY B — including B=1
    // (single bucket: degenerates to the plain self-join) and a block
    // count that does not divide the corpus size
    for (b <- Seq(1, 7, 16)) {
      val blocked = rows(Similarity
        .blockedCosinePairs(emb, "vec_id", "embedding", 0.4, blocks = b))
      assert(blocked == exact, s"blocks=$b must be bit-equal to the baseline")
    }
  }

  test("lshCosinePairs equals the all-pairs operator at sf0.01 (recall 1)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSeq
    val exact = rows(graft.operators.Dedup
      .embedCosinePairs(emb, "vec_id", "embedding", 0.4))
    // recall-safe parameters for the tau=0.4 regime (see scaladoc):
    // per-pair P[miss] = (1 - 0.631)^24 ~ 4e-11
    val lsh = rows(Similarity
      .lshCosinePairs(emb, "vec_id", "embedding", 0.4, 64, tables = 24, bits = 1))
    assert(exact.nonEmpty, "sanity: the corpus must contain true pairs")
    assert(lsh == exact, "LSH-banded pairs must equal the verified all-pairs output")
  }

  test("lshCosinePairs default parameters find planted near-dups (tau=0.9 regime)") {
    // the 100 TB story: at near-dup thresholds the default 16x8 banding
    // prunes hard AND keeps recall — planted clones at cosine ~0.999 and
    // orthogonal-ish noise must separate cleanly.
    val rnd = new scala.util.Random(3)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    def jitter(eps: Float) = base.zipWithIndex.map { case (x, i) =>
      x + eps * (if (i % 2 == 0) 1 else -1) * rnd.nextFloat() }
    val noise = (10L until 60L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val emb = (Seq((0L, base), (1L, jitter(0.01f)), (2L, jitter(0.01f))) ++ noise)
      .toDF("vec_id", "embedding")
    val got = Similarity.lshCosinePairs(emb, "vec_id", "embedding", 0.9, 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L), (0L, 2L), (1L, 2L)),
      s"expected exactly the planted clone pairs, got $got")
  }
}
