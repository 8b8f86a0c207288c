package graft.queries

import graft.Tables
import graft.operators.Reorder
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's core capability (reorder + first-wins dedup) run against
  * the driver's `events` table, with a SQL oracle.
  *
  * The oracle expresses "first wins" deterministically as "lowest event_id
  * wins" — in the batch world arrival order IS `event_id` order. The
  * streaming operator ([[graft.streaming.StreamingReorder]]) uses true
  * arrival order, matching Application.java:89-93 exactly.
  */
object ReorderQueries {

  def reorderDedupEvents(s: SparkSession, dir: String): DataFrame =
    Reorder.reorderDedup(Tables.events(s, dir), "ts", "event_id")

  val registry: Seq[Q] = Seq(
    Q("reorder_dedup_events", reorderDedupEvents, Oracle(
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY ts ORDER BY event_id) AS rn
        |  FROM events
        |) t
        |WHERE rn = 1
        |ORDER BY ts, event_id""".stripMargin))
  )
}
