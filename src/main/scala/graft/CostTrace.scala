package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftshim.SchedulerShim
import org.apache.spark.scheduler._

/**
 * Executed cost of the Spark jobs a block of driver code runs, split into
 * named spans. `span(name)` times a block and tags every job the block
 * starts with the span's job group; as a SparkListener this class assigns
 * each job's executed stages, shuffle bytes, spill, GC and task times to
 * the innermost open span.
 *
 * Jobs that run while a frame is being built count in the span that builds
 * it: a fixpoint round's action, and the shuffle-map stages that
 * [[Share]] runs at call time under AQE. So a span around a whole query
 * lambda plus its action sees everything the query executes, not just the
 * plan of the last action.
 *
 * It listens from construction to `close()`; the engine never attaches
 * one. One driver thread opens spans.
 */
final class CostTrace(sc: SparkContext) extends SparkListener with AutoCloseable {
  import CostTrace._

  private val groupPrefix = s"graft-cost-${instances.incrementAndGet()}-"
  private var nextId = 0
  private val open = mutable.Stack.empty[Int]
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val costs = new ConcurrentHashMap[Integer, Cost]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()

  sc.addSparkListener(this)

  /** The spans closed so far, in closing order (a parent after its children). */
  def spans: Seq[Span] = closed.toSeq

  /** Run `body` as a span; the enclosing job group comes back afterwards. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
    open.push(id)
    sc.setJobGroup(groupPrefix + id, name, interruptOnCancel = false)
    val start = System.nanoTime()
    try body
    finally {
      open.pop()
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      closed += Span(id, name, open.headOption.getOrElse(-1), (System.nanoTime() - start) / 1e9)
    }
  }

  /** The cost of `s` and of every span nested in it. */
  def cost(s: Span): Cost = {
    SchedulerShim.drain(sc)
    val ids = mutable.Set(s.id)
    closed.sortBy(_.id).foreach(c => if (ids(c.parent)) ids += c.id)
    val out = new Cost
    ids.foreach(i => Option(costs.get(i)).foreach(c => c.synchronized(out.add(c))))
    out
  }

  /** Stop listening, after every event posted so far was delivered. */
  def close(): Unit = {
    SchedulerShim.drain(sc)
    sc.removeSparkListener(this)
  }

  private def costOf(span: Integer): Cost = costs.computeIfAbsent(span, _ => new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKeys.head)))
      .filter(_.startsWith(groupPrefix)).foreach { g =>
        val id = Integer.valueOf(g.stripPrefix(groupPrefix).toInt)
        e.stageIds.foreach(s => stageSpan.put(s, id))
        val c = costOf(id)
        c.synchronized(c.jobs += 1)
      }

  // a stage the DAG scheduler skips (its shuffle output exists) never
  // completes, so only executed stages count
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val c = costOf(id)
      c.synchronized {
        c.stages += 1
        if (SchedulerShim.writesShuffle(e.stageInfo)) c.shuffleStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val m = e.taskMetrics
      if (m != null) {
        val c = costOf(id)
        c.synchronized {
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        }
      }
    }
}

object CostTrace {
  private val instances = new AtomicInteger
  // what setJobGroup sets; saved and restored around each span
  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** One timed block; `parent` is the enclosing span's id, or -1. */
  final case class Span(id: Int, name: String, parent: Int, seconds: Double)

  /** Executed cost of the jobs started inside a span. */
  final class Cost {
    var jobs = 0
    var stages = 0
    var shuffleStages = 0
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // by stage

    def add(o: Cost): Unit = {
      jobs += o.jobs; stages += o.stages; shuffleStages += o.shuffleStages
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      spillBytes += o.spillBytes; gcMs += o.gcMs
      o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    }

    /** Task times of the stage whose tasks ran longest in total, sorted:
      * the span's dominant stage, whose max over median is its skew. */
    def dominantStageTaskMs: Seq[Long] =
      if (taskMs.isEmpty) Seq.empty else taskMs.values.maxBy(_.sum).sorted.toSeq
  }
}
