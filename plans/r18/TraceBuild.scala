import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

object TraceBuild {
  // TraceBuild <glob> <workDir> <buckets> <builds>: that many builds of the
  // glob, one after another in one JVM, as kgbench bulk_load runs them; for
  // each build prints its jobs, its wall ms, its busy ms (the union of its
  // jobs' run intervals) and its summed job ms. Its own listener, so the
  // same file runs against classes without CostTrace's busy time.
  def main(a: Array[String]): Unit = {
    val spark = graft.kg.Pipeline.session("trace", Some("local[4]"))
    val sc = spark.sparkContext
    val start = new ConcurrentHashMap[Int, Long]()
    val spans = new ConcurrentHashMap[Int, (Long, Long)]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = start.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = spans.put(e.jobId, (start.get(e.jobId), e.time))
    })
    try (1 to a(3).toInt).foreach { i =>
      spans.clear()
      val t0 = System.currentTimeMillis()
      graft.kg.Materialize.run(spark, graft.kg.NtFileSource.documents(spark, a(0)), s"${a(1)}/b$i", a(2).toInt)
      val t1 = System.currentTimeMillis()
      Thread.sleep(200) // let the listener bus deliver the last job end
      val iv = spans.values.asScala.toSeq.sortBy(_._1)
      var busy, reached = 0L
      iv.foreach { case (s, e) => val from = s max reached; if (e > from) { busy += e - from; reached = e } }
      val summed = iv.map { case (s, e) => e - s }.sum
      println(s"""{"build": $i, "jobs": ${iv.size}, "wall_ms": ${t1 - t0}, "busy_ms": $busy, "job_ms": $summed}""")
    } finally spark.stop()
  }
}
