package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed logistic regression (full-batch gradient descent, fixed
  * iteration count) — the trainable quality-classifier building block of
  * a corpus curation pipeline. Heuristic quality rules
  * ([[TextAnalysis.stats]]' `quality` score) bootstrap labels; this
  * trains a model of those labels over cheap per-document features so
  * the FILTERING policy becomes a learned, inspectable weight vector
  * instead of a hand-tuned formula — the standard "fastText-style
  * quality filter" step of public LLM-data pipelines (CCNet, GPT-3's
  * quality classifier), expressed Spark-first.
  *
  * Determinism contract (the [[KMeans]] recipe applied to a weight
  * vector): weights start at 0 and live as (d+1) doubles of DRIVER
  * state, broadcast into every pass as literal arrays. Per iteration:
  *
  *  - margin z = Σ w_j·x_j is a SEQUENTIAL left fold in fixed dim order
  *    (both engines replay the identical IEEE op sequence), rounded to
  *    6 dp;
  *  - p = sigmoid(z) rounded to 6 dp — the ONE step whose libm `exp`
  *    is not bit-specified across engines; the 6 dp rounding absorbs
  *    the ≤1-ulp disagreement except on a measure-zero boundary (a
  *    rounded-z whose sigmoid lands within 1 ulp of a 5e-7 grid edge),
  *    the same residual class the k-means contract documents;
  *  - per-dim gradient g_j = Σ (p−y)·x_j is summed as DECIMAL(30,15) —
  *    exact integer arithmetic, so partition/fold order cannot move it.
  *    The double→decimal cast CAN land on a half-grid point (a dyadic
  *    v = m/2^16 with m odd has v·10^15 = odd·5^15/2 exactly), but all
  *    three evaluators — Scala's HALF_UP, Spark's cast, DuckDB's — round
  *    such ties away from zero, so the cast is still deterministic and
  *    engine-identical;
  *  - w_j ← round(w_j − lr·(g_j / n), 6) as one IEEE divide, one
  *    multiply, one subtract.
  *
  * Scale shape: each iteration is ONE corpus scan — a codegen'd
  * projection computing z/p per row (no join, no shuffle) plus ONE
  * map-side-combined per-dim aggregation whose shuffle carries
  * (d+1)·#tasks partial rows, never documents. At 100 TB the corpus is
  * scanned `iters`+1 times and nothing row-sized ever converges on the
  * driver; driver state is d+1 doubles.
  */
object LogReg {

  /** Train `iters` full-batch GD steps over `featCol` (array<double>,
    * the intercept encoded as a leading 1.0 element) against `labelCol`
    * (0.0/1.0), starting from `init` (default: zeros). Returns the final
    * weight vector, one entry per feature dimension.
    *
    * `init` is the incremental-maintenance hook (the `addToIvf` story
    * applied to a model): warm-start from a [[loadModel]]-ed vector to
    * refine on a new batch instead of retraining from scratch — and
    * because each step is a pure function of (weights, data), splitting
    * one training run into warm-started segments on the same data is
    * EXACTLY the unsegmented run (spec-pinned identity).
    */
  def train(df: DataFrame, featCol: String, labelCol: String, dim: Int,
      iters: Int, lr: Double = 1.0,
      init: Option[Array[Double]] = None): Array[Double] =
    trainTrajectory(df, featCol, labelCol, dim, iters, lr, init)
      .lastOption
      .getOrElse(init.map(_.clone()).getOrElse(Array.fill(dim)(0.0)))

  /** [[train]], but returning the weight vector AFTER EVERY iteration
    * (`iters` entries, the final one being what `train` returns) — the
    * training TRAJECTORY. Same determinism contract, same cost (train
    * always computes every intermediate vector; this just keeps them:
    * iters × (d+1) doubles of driver state instead of d+1).
    *
    * The trajectory is what dataset cartography (Swayamdipta et al.
    * 2020) consumes: per-example confidence/variability across training
    * checkpoints. With full-batch GD each iteration IS a checkpoint, so
    * the trajectory is exact, not a sampling artifact.
    */
  def trainTrajectory(df: DataFrame, featCol: String, labelCol: String,
      dim: Int, iters: Int, lr: Double = 1.0,
      init: Option[Array[Double]] = None): Seq[Array[Double]] = {
    val rows = df.select(col(featCol).as("_x"),
      col(labelCol).cast("double").as("_y"))
    var w = init.map { w0 =>
      require(w0.length == dim, s"init length ${w0.length} != dim $dim")
      w0.clone()
    }.getOrElse(Array.fill(dim)(0.0))
    val traj = Seq.newBuilder[Array[Double]]
    for (_ <- 1 to iters) {
      // p materialized in a lower projection so the per-dim lambda reads
      // a column instead of inlining (and re-running) the sigmoid fold
      // per element — the TextAnalysis token-array discipline
      val withP = rows.select(col("_x"), col("_y"),
        probability(col("_x"), w).as("_p"))
      val grads = withP
        .select(posexplode(transform(col("_x"),
          xi => (col("_p") - col("_y")) * xi)).as(Seq("dim", "g")))
        .groupBy(col("dim"))
        // exact decimal sum (order-independent) — see the contract above
        .agg(sum(col("g").cast("decimal(30,15)")).cast("double").as("gs"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) -> r.getDouble(1) / r.getLong(2))
        .toMap
      // BigDecimal HALF_UP to match Spark/DuckDB round(): ties CAN occur
      // on dyadic half-grid points (see the contract above) and all three
      // evaluators resolve them identically, away from zero
      w = Array.tabulate(dim)(j =>
        BigDecimal(w(j) - lr * grads.getOrElse(j, 0.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      traj += w.clone()
    }
    traj.result()
  }

  /** round(sigmoid(round(Σ w_j·x_j, 6)), 6) as a codegen'd column —
    * the margin is [[graft.functions.DotProduct]]'s sequential fold in
    * dim order per the contract, NULL for null or mis-sized features.
    */
  def probability(x: Column, w: Array[Double]): Column = {
    val z = round(graft.functions.VectorOps.dot(x, array(w.map(lit): _*)), 6)
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** Persist a trained weight vector as a (dim, weight) parquet table —
    * the model-registry hand-off between the batch trainer and its
    * serving sites (a later batch scorer, the ingest-time streaming
    * gate). Kilobytes on disk; doubles survive parquet exactly, so a
    * loaded model scores bit-identically to the in-session one
    * (spec-pinned round trip).
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, w: Array[Double],
      path: String): Unit = {
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (v, j) => (j, v) }
      .toDF("dim", "weight")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read a [[saveModel]] table back into a weight vector. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Double] = {
    val rows = spark.read.parquet(path)
      .select(col("dim").cast("int"), col("weight").cast("double"))
      .collect()
    val w = new Array[Double](rows.length)
    rows.foreach(r => w(r.getInt(0)) = r.getDouble(1))
    w
  }

  /** Convenience: train on `df` then score it, emitting
    * (idCol, score, pred, label) with pred = score ≥ 0.5 (a comparison
    * on the already-rounded score, so cross-engine safe).
    *
    * The feature projection is persisted for the duration of training —
    * features are usually derived (tokenizer ratios, length stats) and
    * re-deriving them `iters` times would multiply the expensive scan;
    * at 100 TB this persist is the standard "materialize the narrow
    * feature table once, iterate over it" discipline. Training ends with
    * the weights as driver literals, so the cache is released BEFORE the
    * lazy scored plan is returned — the output is a pure projection over
    * the caller's frame (full column lineage, one fresh scan when
    * executed, nothing left pinned in the block store).
    */
  def trainAndScore(df: DataFrame, idCol: String, featCol: String,
      labelCol: String, dim: Int, iters: Int, lr: Double = 1.0): DataFrame = {
    val feats = df.select(col(idCol), col(featCol), col(labelCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = train(feats, featCol, labelCol, dim, iters, lr)
    feats.unpersist(blocking = true)
    val score = probability(col(featCol), w)
    df.select(col(idCol), score.as("score"),
      (score >= 0.5).cast("long").as("pred"),
      col(labelCol).cast("long").as("label"))
  }
}
