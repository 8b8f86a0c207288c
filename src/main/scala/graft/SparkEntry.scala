package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Oracle, PipelineQueries, Q, Relational, ReorderQueries, RowsOnly}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by per-area modules under [[graft.queries]],
  * each as one [[Q]] record; this object only aggregates them into one
  * stable surface.
  */
object SparkEntry {

  /** Every registered query, in module order. */
  val registry: Seq[Q] =
    Relational.registry ++ ReorderQueries.registry ++ PipelineQueries.registry

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The end-to-end LEARNED corpus-curation pipeline: trained quality
    * classifier gate → exact dedup → near-dup clustering → leakage-safe
    * cluster-keyed train/val split → per-(split, language) accounting
    * (all five stages individually hash-green operators; the composed
    * pipeline itself is hash-green as `pipeline_curate_learned`, and the
    * hand-formula ancestor remains registered as `pipeline_curate`).
    */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.pipelineCurateLearned(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. A def: the eigen-leg oracles resolve their
    * fixture paths when read, and `Verify` reads this after running the
    * queries. */
  def oracleSql: Map[String, String] =
    registry.collect { case Q(name, _, o: Oracle) => name -> o.sql }.toMap

  /** The registered queries that deliberately carry NO DuckDB oracle —
    * each with the inherent reason and the in-tree gate that checks it
    * instead. Emitted by [[Verify]] as `rows_only_by_design.json`
    * alongside `oracle_sql.json` so a correctness artifact consumer can
    * distinguish "rows-only BY DESIGN, gated elsewhere" from a broken
    * query.
    */
  val rowsOnlyByDesign: Map[String, String] =
    registry.collect { case Q(name, _, RowsOnly(reason)) => name -> reason }.toMap
}
