package graft.kgbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.kgbench.ListenerBusDrain
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one run share `run`; `parent`
  * is the enclosing span's id, or -1. Times are ns since the run began. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Executed cost of the Spark jobs fired inside one span (inclusive of
  * child spans). */
final class Cost {
  var jobs = 0
  var stages = 0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // by stage

  def add(o: Cost): Unit = {
    jobs += o.jobs; stages += o.stages
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords; outputBytes += o.outputBytes
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** Max over median task time of the stage that ran longest in total:
    * the straggler factor of the span's dominant stage (1 = no skew). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.length / 2))
    }
}

/**
 * Spans recorded from outside the program: `span(name)` times a block
 * and tags every Spark job the block fires with the span's job group, so
 * a SparkListener attributes stages, shuffle, spill, GC and task times to
 * the innermost open span. Spans stay in memory; the benchmark writes
 * them out at the end. One client thread opens spans.
 */
final class Tracer(sc: SparkContext, val run: String) extends SparkListener {
  private val t0 = System.nanoTime()
  private var nextId = 0
  private val open = mutable.Stack.empty[(Int, String)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val costs = new ConcurrentHashMap[Int, Cost]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val GroupPrefix = "kgbench-span-"

  private var attached = false

  /** Listen to the jobs of the spans to come. */
  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }

  /** Stop listening, after every event posted so far was delivered. */
  def detach(): Unit = if (attached) {
    ListenerBusDrain(sc)
    sc.removeSparkListener(this)
    attached = false
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name))
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some((p, pname)) => sc.setJobGroup(GroupPrefix + p, pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, run, start - t0, end - t0)
    }
  }

  /** The cost of span `id` and all its descendants. */
  def cost(id: Int): Cost = {
    ListenerBusDrain(sc)
    val out = new Cost
    val ids = mutable.Set(id)
    spans.sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id)
    ids.foreach(i => Option(costs.get(i)).foreach(c => c.synchronized(out.add(c))))
    out
  }

  private def costOf(span: Integer): Cost = costs.computeIfAbsent(span, _ => new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(GroupPrefix)).foreach { g =>
      val id = Integer.valueOf(g.stripPrefix(GroupPrefix).toInt)
      e.stageIds.foreach(s => stageSpan.put(s, id))
      val c = costOf(id)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      if (e.stageInfo.submissionTime.isDefined) {
        val c = costOf(id)
        c.synchronized(c.stages += 1)
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
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        }
      }
    }
}
