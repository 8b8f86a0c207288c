package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch re-expression of the reference's core operator: the stateful
  * event-time reorder buffer with first-wins timestamp dedup.
  *
  * Reference semantics (see SURVEY.md §2.2, citing
  * `/root/reference/src/main/java/org/example/Application.java`):
  *  - S3 (Application.java:89-93): a record whose event timestamp equals an
  *    already-buffered record's timestamp is silently dropped — FIRST wins.
  *  - S1/S2 (Application.java:72-83,145): at flush, records are emitted in
  *    ascending event-time order (lexicographic store-key order in the
  *    reference; a real `ORDER BY` here).
  *
  * In batch, "first" is defined by an explicit arrival column (the streaming
  * variant in [[graft.streaming.StreamingReorder]] uses true arrival order).
  *
  * Scale notes: the dedup is a hash aggregation on the timestamp with a
  * map-side partial `min_by`, so it shuffles only one combined row per
  * distinct timestamp per map task — no window-sort over the full data. The
  * final `orderBy` is a range-partitioned total sort; at 100 TB callers that
  * only need per-partition order should use `sortWithinPartitions` instead.
  */
object Reorder {

  /** First-wins dedup on `timeCol` (winner = lowest `arrivalCol`), then
    * emit in ascending event-time order. Pure `DataFrame => DataFrame`.
    */
  def reorderDedup(df: DataFrame, timeCol: String, arrivalCol: String): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.groupBy(col(timeCol))
      .agg(min_by(struct(cols.map(col): _*), col(arrivalCol)).as("_first"))
      .select(cols.map(c => col(s"_first.$c").as(c)): _*)
      .orderBy(col(timeCol), col(arrivalCol))
  }

  /** The reference's observable output key, `"key-<epochMillis>"`
    * (Application.java:145, semantics S4). Optional fidelity re-key.
    */
  def withStoreKey(df: DataFrame, timeMillisCol: String): DataFrame =
    df.withColumn("key", format_string("key-%d", col(timeMillisCol)))
}
