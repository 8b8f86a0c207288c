package graft

import graft.functions.{CountMinAgg, CountMinEstimate, DotProduct, FreqItemsAbove, FreqItemsAgg, MinGramMd5, MinHashAgg, PolyHash, SimHashAgg, TopKByScore}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.ColumnBridge

/** Exposes this engine's native expressions to SQL.
  *
  * Cluster path: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (standard `SparkSessionExtensions` injection). Existing-session path
  * (tests, notebooks): [[GraftExtensions.register]].
  *
  *  - `poly_hash(str)` — rolling polynomial hash ([[PolyHash]])
  *  - `dot_product(arr, arr)` — native vector dot product ([[DotProduct]])
  *  - `topk_by(score, id, k)` — bounded top-k aggregate ([[TopKByScore]])
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer k, got $other")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal long, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "poly_hash" -> { args => PolyHash(args.head) },
    "dot_product" -> { args => DotProduct(args(0), args(1)) },
    "min_gram_md5" -> { args => MinGramMd5(args(0), intArg(args(1), "min_gram_md5")) },
    // aggregate builders return the AggregateFunction; the analyzer wraps it
    "topk_by" -> { args => TopKByScore(args(0), args(1), intArg(args(2), "topk_by")) },
    "minhash_agg" -> { args =>
      MinHashAgg(args(0), intArg(args(1), "minhash_agg"), longArg(args(2), "minhash_agg")) },
    "simhash_agg" -> { args => SimHashAgg(args(0)) },
    // mergeable-sketch legs Spark's SQL surface lacks: heavy hitters above
    // a share and md5-celled Count-Min
    "freq_items_agg" -> { args =>
      FreqItemsAgg(args(0), if (args.size > 1)
        intArg(args(1), "freq_items_agg") else 1024) },
    "freq_items_above" -> { args => FreqItemsAbove(args(0), args(1)) },
    "count_min_agg" -> { args =>
      CountMinAgg(args(0), intArg(args(1), "count_min_agg")) },
    "cms_estimate" -> { args =>
      CountMinEstimate(args(0), args(1), intArg(args(2), "cms_estimate")) }
  )

  /** Register on an already-built session (builder extensions only apply
    * at session construction).
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      ColumnBridge.registerTempFunction(spark, name, b)
    }
}
