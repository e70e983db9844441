package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.TestSpark

/**
 * `CostTrace`'s time split: a span's busy time is the union of its jobs'
 * run intervals, so it never exceeds the summed job time or the span's
 * wall time, and equals the summed time when the jobs ran one by one.
 */
class CostTraceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** An aggregate: under AQE its shuffle-map stage and its result stage
    * are two jobs, one after the other. */
  private def action(n: Long): Unit =
    spark.range(0, n, 1, 4).groupBy(col("id") % 7).count().collect()

  test("busy time is at most the summed job time and the wall time; serial jobs sum to it") {
    val trace = new CostTrace(spark.sparkContext)
    try {
      trace.span("serial")(action(100000))
      trace.span("threads") {
        // threads made inside the span inherit its job group
        val threads = (1 to 3).map(i => new Thread(() => action(200000L * i)))
        threads.foreach(_.start())
        threads.foreach(_.join())
      }
      trace.span("nested") {
        trace.span("a")(action(1000))
        trace.span("b")(action(2000))
      }
      trace.span("idle")(Thread.sleep(20))
      val costs = trace.spans.map(s => s.name -> (s, trace.cost(s))).toMap
      costs.foreach { case (name, (s, c)) =>
        assert(c.busyMs <= c.jobMs, name)
        assert(c.busyMs <= s.wallMs, name)
        assert(s.wallMs >= 0 && c.busyMs >= 0, name)
      }
      val (_, serial) = costs("serial")
      assert(serial.jobs == 2 && serial.jobIntervals.size == 2)
      assert(serial.busyMs == serial.jobMs)
      assert(costs("threads")._2.jobs == 6)
      // a parent holds its children's jobs
      assert(costs("nested")._2.jobMs == costs("a")._2.jobMs + costs("b")._2.jobMs)
      val (idle, idleCost) = costs("idle")
      assert(idleCost.jobs == 0 && idleCost.busyMs == 0 && idle.wallMs >= 20)
    } finally trace.close()
  }
}
