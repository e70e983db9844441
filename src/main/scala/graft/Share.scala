package graft

import org.apache.spark.sql.DataFrame

/**
 * The one share point for a frame that several consumers read: `Share(df)`
 * cuts the lineage and keeps the computed rows as ONE cached RDD, so every
 * consumer reads the same blocks and the plan under `df` runs once. Call
 * sites say which consumers share the frame; this is the single statement
 * of what sharing costs and guarantees (it is `df.localCheckpoint(false)`):
 *
 *  - Work: under AQE the call runs the plan's shuffle-map stages at once;
 *    the result stage runs with the first action on the returned frame (or
 *    on a frame built from it), which also stores the blocks.
 *  - Storage: the blocks live only on the executor that wrote them, with
 *    no replica, and are reclaimed by the ContextCleaner once the frame is
 *    unreferenced (a bare `persist()` would pin them for the session).
 *  - Failure: the lineage is gone, so a lost block cannot be recomputed.
 *    Losing that executor (or its blocks) fails the consuming job with a
 *    `SparkException` naming the missing checkpoint block; it never returns
 *    partial rows (`ShareSpec`).
 */
object Share {
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(false)
}
