package graft

import graft.operators.LogReg
import org.apache.spark.sql.functions._

class LogRegSpec extends SparkTestBase {
  import spark.implicits._

  private def feats(rows: Seq[(Long, Array[Double], Double)]) =
    rows.toDF("id", "x", "y")

  /** Linearly separable planted data: y = 1 iff x1 > 0.5. Enough GD
    * steps must classify every point correctly.
    */
  test("separates a planted linear boundary") {
    val rows = Seq.tabulate(80) { i =>
      val v = i / 80.0
      (i.toLong, Array(1.0, v), if (v > 0.5) 1.0 else 0.0)
    }
    val out = LogReg.trainAndScore(feats(rows), "id", "x", "y",
      dim = 2, iters = 40, lr = 8.0)
      .select(col("id"), col("pred"), col("label"))
      .as[(Long, Long, Long)].collect()
    assert(out.length == 80)
    val acc = out.count { case (_, p, y) => p == y } / 80.0
    assert(acc >= 0.95, s"accuracy $acc")
  }

  /** The trajectory API (dataset cartography's input): one checkpoint
    * per iteration, the last IS what train() returns, and because each
    * step is a pure function of (weights, data), every prefix equals a
    * shorter run — so cartography's checkpoints are exactly the weights
    * a separately-run training would have produced.
    */
  test("trainTrajectory: one checkpoint per iteration, last == train, prefix == shorter run") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.tabulate(100) { i =>
      val x = Array(1.0, rnd.nextDouble(), rnd.nextDouble())
      (i.toLong, x, if (x(1) > 0.5) 1.0 else 0.0)
    }
    val df = feats(rows)
    val traj = LogReg.trainTrajectory(df, "x", "y", dim = 3, iters = 6, lr = 4.0)
    assert(traj.size == 6)
    val w6 = LogReg.train(df, "x", "y", dim = 3, iters = 6, lr = 4.0)
    assert(traj.last.toSeq == w6.toSeq)
    val w3 = LogReg.train(df, "x", "y", dim = 3, iters = 3, lr = 4.0)
    assert(traj(2).toSeq == w3.toSeq, "checkpoint 3 must equal a 3-iteration run")
  }

  /** Cartography cross-check: the registered row-local fold must agree
    * with an independent long-format derivation — explode the per-
    * checkpoint true-label probabilities to (doc, t) rows and reduce
    * with Spark's avg/stddev_pop/conditional-count aggregates instead.
    * Different plan shape (shuffle agg vs projection), same math; IEEE
    * summation order differs, hence the 1e-9 tolerance.
    */
  test("text_training_map equals a long-format groupBy recomputation at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val map = graft.queries.PipelineQueries.textTrainingMap(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    // rebuild the training frame the way qualityTrainingFrame does
    val st = graft.operators.TextAnalysis.stats(
      graft.Tables.documents(spark, dir), "doc_id", "text")
    val frame = st.select(col("doc_id"),
      array(lit(1.0), col("punct_ratio"), col("stop_ratio"),
        least(col("n_tokens") / 100.0, lit(1.0)),
        col("mean_tok_len") / 10.0).as("x"),
      when(col("quality") >= 0.8, 1.0).otherwise(0.0).as("y"))
    val ws = LogReg.trainTrajectory(frame, "x", "y", dim = 5, iters = 10, lr = 5.0)
    val tCols = ws.zipWithIndex.map { case (w, i) =>
      val p = LogReg.probability(col("x"), w)
      when(col("y") === 1.0, p).otherwise(lit(1.0) - p).as(s"_t${i + 1}")
    }
    val long = frame.select(col("doc_id") +: tCols: _*)
      .select(col("doc_id"),
        explode(array((1 to 10).map(i => col(s"_t$i")): _*)).as("t"))
    val agg = long.groupBy("doc_id").agg(
      avg(col("t")).as("conf"),
      stddev_pop(col("t")).as("vari"),
      sum((col("t") > 0.5).cast("long")).as("ok"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(map.keySet == agg.keySet)
    map.foreach { case (id, (c, v, k)) =>
      val (c2, v2, k2) = agg(id)
      assert(math.abs(c - c2) < 1e-9 && math.abs(v - v2) < 1e-9 && k == k2,
        s"doc $id: ($c,$v,$k) vs ($c2,$v2,$k2)")
    }
  }

  /** The determinism contract: weights are a pure function of the data —
    * partitioning must not move them (exact decimal gradient sums).
    */
  test("weights are partition-order independent") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(200) { i =>
      val x = Array(1.0, rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble())
      (i.toLong, x, if (x(1) + 0.3 * x(2) > 0.6) 1.0 else 0.0)
    }
    val df = feats(rows)
    val w1 = LogReg.train(df.repartition(1), "x", "y", dim = 4, iters = 5, lr = 3.0)
    val w7 = LogReg.train(df.repartition(7), "x", "y", dim = 4, iters = 5, lr = 3.0)
    assert(w1.toSeq == w7.toSeq, s"${w1.toSeq} vs ${w7.toSeq}")
  }

  /** Client-side replication of the rounded GD steps — the same harness
    * shape as KMeansSpec: a sequential driver loop replaying 6 dp
    * margins/sigmoids and exact-order-free gradient means must produce
    * the operator's exact weights and scores.
    */
  test("matches a client-side replication of the rounded GD iterations") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.tabulate(120) { i =>
      val x = Array(1.0, rnd.nextDouble(), rnd.nextDouble())
      (i.toLong, x, if (x(1) > x(2)) 1.0 else 0.0)
    }
    val iters = 4
    val lr = 5.0
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def prob(x: Array[Double], w: Array[Double]): Double = {
      val z = r6(x.zip(w).foldLeft(0.0) { case (a, (xi, wi)) => a + xi * wi })
      r6(1.0 / (1.0 + math.exp(-z)))
    }
    var w = Array.fill(3)(0.0)
    for (_ <- 1 to iters) {
      val g = Array.fill(3)(BigDecimal(0))
      rows.foreach { case (_, x, y) =>
        val p = prob(x, w)
        for (j <- 0 until 3)
          g(j) += BigDecimal((p - y) * x(j)).setScale(15, BigDecimal.RoundingMode.HALF_UP)
      }
      w = Array.tabulate(3)(j =>
        r6(w(j) - lr * (g(j).toDouble / rows.length)))
    }
    val got = LogReg.train(feats(rows), "x", "y", dim = 3, iters = iters, lr = lr)
    assert(got.toSeq == w.toSeq, s"${got.toSeq} vs ${w.toSeq}")
    val scored = LogReg.trainAndScore(feats(rows), "id", "x", "y",
      dim = 3, iters = iters, lr = lr)
      .select(col("id"), col("score")).as[(Long, Double)].collect().toMap
    rows.foreach { case (id, x, _) =>
      assert(scored(id) == prob(x, w), s"score mismatch at $id")
    }
  }

  /** The deployment claim: a batch-trained model scores the ingest
    * stream with the identical codegen'd projection — same weights, same
    * rounded sigmoid — so the quality gate applied at ingest provably
    * equals the one applied in batch curation.
    */
  test("the batch-trained scorer deploys onto a stream bit-identically") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq.tabulate(50)(i =>
      (i.toLong, Array(1.0, i / 50.0), if (i >= 25) 1.0 else 0.0))
    val w = LogReg.train(feats(rows), "x", "y", dim = 2, iters = 10, lr = 4.0)
    val batch = feats(rows)
      .select(col("id"), LogReg.probability(col("x"), w).as("score"))
      .as[(Long, Double)].collect().toMap
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    ms.addData(rows.map(r => (r._1, r._2.toSeq)): _*)
    val q = ms.toDF().toDF("id", "x")
      .select(col("id"), LogReg.probability(col("x"), w).as("score"))
      .writeStream.format("memory").queryName("lr_scores")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("lr_scores").as[(Long, Double)].collect().toMap
    assert(streamed == batch)
  }

  /** Warm-start identity: GD steps are a pure function of (weights,
    * data), so 2 iterations continued by 2 more must equal 4 straight —
    * the exactness contract behind incremental model refresh.
    */
  test("warm-started training segments compose exactly") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.tabulate(90) { i =>
      val x = Array(1.0, rnd.nextDouble(), rnd.nextDouble())
      (i.toLong, x, if (x(1) + x(2) > 1.0) 1.0 else 0.0)
    }
    val full = LogReg.train(feats(rows), "x", "y", dim = 3, iters = 4, lr = 5.0)
    val half = LogReg.train(feats(rows), "x", "y", dim = 3, iters = 2, lr = 5.0)
    val resumed = LogReg.train(feats(rows), "x", "y", dim = 3, iters = 2,
      lr = 5.0, init = Some(half))
    assert(resumed.toSeq == full.toSeq)
  }

  test("a saved model reloads and scores bit-identically") {
    val rows = Seq.tabulate(30)(i =>
      (i.toLong, Array(1.0, i / 30.0, (i % 7) / 7.0), if (i >= 15) 1.0 else 0.0))
    val w = LogReg.train(feats(rows), "x", "y", dim = 3, iters = 6, lr = 3.0)
    val dir = tempDir("graft-lr")
    LogReg.saveModel(spark, w, s"$dir/model")
    val w2 = LogReg.loadModel(spark, s"$dir/model")
    assert(w2.toSeq == w.toSeq, "doubles must survive the parquet round trip")
    val a = feats(rows).select(LogReg.probability(col("x"), w).as("s"))
      .as[Double].collect().toSeq
    val b = feats(rows).select(LogReg.probability(col("x"), w2).as("s"))
      .as[Double].collect().toSeq
    assert(a == b)
  }

  /** The end-to-end ingest story: weights trained in batch on the REAL
    * documents table, saved, loaded, then applied as a streaming gate —
    * the streamed kept-set must equal the batch flagship's stage-1
    * kept-set (same features, same weights, same threshold).
    */
  test("StreamingQuality.gate on a stream equals the batch classifier gate") {
    import graft.streaming.StreamingQuality
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(120)
    val st = graft.operators.TextAnalysis.stats(docs, "doc_id", "text")
    val feats = st.select(col("doc_id"),
      org.apache.spark.sql.functions.array(lit(1.0), col("punct_ratio"),
        col("stop_ratio"),
        org.apache.spark.sql.functions.least(col("n_tokens") / 100.0, lit(1.0)),
        col("mean_tok_len") / 10.0).as("x"),
      when(col("quality") >= 0.8, 1.0).otherwise(0.0).as("y"))
    val w0 = LogReg.train(feats, "x", "y", dim = 5, iters = 10, lr = 5.0)
    val modelDir = tempDir("graft-gate")
    LogReg.saveModel(spark, w0, s"$modelDir/model")
    val w = LogReg.loadModel(spark, s"$modelDir/model")

    val batchKept = StreamingQuality.gate(docs, "text", w)
      .select("doc_id").as[Long].collect().toSet
    // sanity: the gate agrees with pred==1 of the registered trainer
    val predKept = LogReg.trainAndScore(feats, "doc_id", "x", "y",
        dim = 5, iters = 10, lr = 5.0)
      .filter(col("pred") === 1).select("doc_id").as[Long].collect().toSet
    assert(batchKept == predKept, "gate must equal the batch stage-1 kept-set")
    assert(batchKept.nonEmpty && batchKept.size < 120, "gate must actually filter")

    val rows = docs.as[(Long, String)].collect().toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    ms.addData(rows: _*)
    val q = StreamingQuality.gate(ms.toDF().toDF("doc_id", "text"), "text", w)
      .writeStream.format("memory").queryName("q_gate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("q_gate").select("doc_id").as[Long].collect().toSet
    assert(streamed == batchKept)
  }

  /** Round-9 advice: a caller frame that already has columns named `x`
    * or `_toks` must pass through the gate untouched — internal columns
    * use collision-proof reserved names, so output schema AND values
    * equal the input's for any input schema. `withFeatures`, whose
    * CONTRACT is to emit `x`, must instead fail loudly on a collision.
    */
  test("StreamingQuality.gate preserves caller columns named x/_toks; withFeatures fails loudly") {
    import graft.streaming.StreamingQuality
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(40)
      .withColumn("x", col("doc_id") * 2)
      .withColumn("_toks", lit("caller-owned"))
      .withColumn("__graft_toks", lit(7L))
    val w = Array(0.0, 0.0, 0.0, 0.0, 0.0) // score = 0.5 → keeps all rows
    val out = StreamingQuality.gate(docs, "text", w)
    assert(out.schema == docs.schema, "gate must not disturb the caller's schema")
    val got = out.select("doc_id", "x", "_toks", "__graft_toks")
      .as[(Long, Long, String, Long)].collect().toSet
    val want = docs.select("doc_id", "x", "_toks", "__graft_toks")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == want, "caller-owned x/_toks/__graft_toks values must survive the gate")
    val err = intercept[IllegalArgumentException] {
      StreamingQuality.withFeatures(docs, "text")
    }
    assert(err.getMessage.contains("x"))
  }

  test("scores carry pred = score >= 0.5 and the input label") {
    val rows = Seq(
      (1L, Array(1.0, 0.0), 0.0),
      (2L, Array(1.0, 1.0), 1.0))
    val out = LogReg.trainAndScore(feats(rows), "id", "x", "y",
      dim = 2, iters = 2, lr = 1.0)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._1)
    out.foreach { case (_, score, pred, _) =>
      assert(pred == (if (score >= 0.5) 1L else 0L))
    }
    assert(out.map(_._4).toSeq == Seq(0L, 1L))
  }
}
