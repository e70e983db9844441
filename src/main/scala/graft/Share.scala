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
 *  - Plans: the shared RDD is named for the code that called `Share`
 *    (`localCheckpoint at GraphOps.scala:304`), not for this file, so a
 *    formatted plan still says which frame a scan reads. The caller's own
 *    call-site properties are restored afterwards.
 */
object Share {
  // the SparkContext local properties an RDD's creation site is read from
  private val ShortForm = "callSite.short"
  private val LongForm = "callSite.long"
  private val self = getClass.getName.stripSuffix("$")

  def apply(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val callers = Thread.currentThread.getStackTrace.toSeq
      .dropWhile(f => !isSelf(f)).dropWhile(isSelf)
    val saved = Seq(ShortForm, LongForm).map(k => k -> sc.getLocalProperty(k))
    callers.headOption.foreach { f =>
      sc.setLocalProperty(ShortForm, s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}")
      // 20 frames: Spark's default spark.callstack.depth
      sc.setLocalProperty(LongForm, callers.take(20).mkString("\n"))
    }
    // a null value removes the key, so an unset property stays unset
    try df.localCheckpoint(false)
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private def isSelf(f: StackTraceElement): Boolean =
    f.getClassName == self || f.getClassName.startsWith(self + "$")
}
