package graft.kg

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.SchedulerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.CostTrace

/**
 * The job shape of one build (`NtFileSource.documents` then
 * `Materialize.run` into an empty dir), as executed:
 *  - the input glob, and the bucket dirs of a 64-bucket staging and
 *    manifest, are listed on the driver, with no Spark job;
 *  - it runs a fixed number of jobs, every one under the caller's
 *    `CostTrace` span although three pieces run on threads of their own,
 *    and writes four tables;
 *  - the manifest write starts after the nodes and edges writes end;
 *  - a failed piece fails the run with no manifest, no job still running
 *    and no thread of the run alive;
 *  - the corpus is read by two jobs, the digest job behind the todo
 *    buckets and the parse; the manifest write reads the shared digests;
 *  - the manifest is one file per bucket;
 *  - its rows are those of `Materialize.metrics` over the live parse.
 */
class BuildShapeSpec extends AnyFunSuite {
  // a fresh session over the shared context: runtime conf changes made by
  // other suites cannot shift the job counts
  private lazy val spark = TestSpark.spark.newSession()
  import spark.implicits._

  private val Threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val Buckets = 8

  /** 40 .nt files (more than Spark's default listing threshold of 32):
    * valid statements, one bad line and one file with no statement (an
    * empty file is no document: Spark's file scan skips it). */
  private lazy val inputDir: Path = {
    val d = Files.createTempDirectory("graft-buildshape")
    (0 until 40).foreach { i =>
      val body =
        if (i == 7) "# a comment, no statement\n"
        else (0 until 5).map(k => s"<http://e/$i/$k> <http://p/${k % 3}> \"v$i-$k\" .\n").mkString +
          (if (i == 11) "not a triple\n" else "") + s"_:b <http://p/x> <http://e/$i/0> .\n"
      Files.write(d.resolve(f"doc$i%02d.nt"), body.getBytes(StandardCharsets.UTF_8))
    }
    d
  }

  private def glob = s"$inputDir/*.nt"

  /** Jobs run by `body`, counted with `graft.CostTrace`. */
  private def jobs(body: => Unit): Int = {
    val trace = new CostTrace(spark.sparkContext)
    try {
      trace.span("body")(body)
      trace.cost(trace.spans.head).jobs
    } finally trace.close()
  }

  /** The jobs with a stage whose tasks added to accumulator `accId`. */
  private final class AccumulatorJobs(accId: Long) extends SparkListener {
    private val jobOfStage = new ConcurrentHashMap[Int, Int]()
    private val hit = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.accumulables.contains(accId))
        Option(jobOfStage.get(e.stageInfo.stageId)).foreach(hit.add)
    def jobs: Int = hit.size
  }

  test("documents lists a glob of more than 32 files on the driver, with no job") {
    assert(spark.conf.get(Threshold) == "1024")
    assert(jobs(NtFileSource.documents(spark, glob)) == 0)
    // the gate sees the listing job: at Spark's default threshold it runs
    spark.conf.set(Threshold, "32")
    try assert(jobs(NtFileSource.documents(spark, glob)) == 1)
    finally spark.conf.set(Threshold, "1024")
  }

  test("a 64-bucket build's staging and manifest are listed on the driver, with no job") {
    val dir = Files.createTempDirectory("graft-buildshape-64").toString
    assert(Materialize.run(spark, Corpus.synthetic(spark, nDocs = 400, linesPerDoc = 2), dir,
      buckets = 64) > 32)
    assert(jobs(Materialize.readStaging(spark, dir)) == 0)
    assert(jobs(Materialize.readManifest(spark, s"$dir/manifest")) == 0)
    spark.conf.set(Threshold, "32")
    try {
      assert(jobs(Materialize.readStaging(spark, dir)) > 0)
      assert(jobs(Materialize.readManifest(spark, s"$dir/manifest")) > 0)
    } finally spark.conf.set(Threshold, "1024")
  }

  test("a fresh 8-bucket build runs 11 jobs and writes staging, nodes, edges and manifest") {
    val dir = Files.createTempDirectory("graft-buildshape-tables").toString
    assert(jobs(Materialize.run(spark, NtFileSource.documents(spark, glob), dir, Buckets)) == 11)
    assert(new java.io.File(dir).list.toSet == Set("staging", "nodes", "edges", "manifest"))
  }

  /** The start and end times of SQL executions and of their jobs, and the
    * output path of each execution that writes files. */
  private final class Executions extends SparkListener {
    val start = new ConcurrentHashMap[Long, Long]()
    val end = new ConcurrentHashMap[Long, Long]()
    val output = new ConcurrentHashMap[Long, String]()
    val jobExec = new ConcurrentHashMap[Int, Long]()
    val jobStart = new ConcurrentHashMap[Int, Long]()
    val jobEnd = new ConcurrentHashMap[Int, Long]()
    // the command's entry in the formatted plan: "(N) Execute
    // InsertIntoHadoopFsRelationCommand", "Input: []", "Arguments: <path>, ..."
    private val Insert = "Execute InsertIntoHadoopFsRelationCommand\\s+Input: \\[\\]\\s+Arguments: (\\S+?),".r
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        start.put(s.executionId, s.time)
        Insert.findFirstMatchIn(s.physicalPlanDescription).foreach(m => output.put(s.executionId, m.group(1)))
      case x: SparkListenerSQLExecutionEnd => end.put(x.executionId, x.time)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)

    /** The one execution that writes to `path`. */
    def writing(path: String): Long = {
      val xs = output.asScala.collect { case (x, out) if out.stripPrefix("file:") == path => x }
      assert(xs.size == 1, s"writes to $path: $xs among ${output.asScala}")
      xs.head
    }
    def jobsOf(exec: Long): Seq[Int] = jobExec.asScala.collect { case (j, x) if x == exec => j }.toSeq
  }

  test("the manifest write starts after the nodes and edges writes have ended") {
    val sc = spark.sparkContext
    val execs = new Executions
    sc.addSparkListener(execs)
    val dir = Files.createTempDirectory("graft-buildshape-order").toString
    try assert(Materialize.run(spark, NtFileSource.documents(spark, glob), dir, Buckets) > 0)
    finally { SchedulerShim.drain(sc); sc.removeSparkListener(execs) }
    val Seq(nodes, edges, manifest) = Seq("nodes", "edges", "manifest").map(t => execs.writing(s"$dir/$t"))
    val written = Seq(nodes, edges)
    written.foreach(x => assert(execs.start.get(manifest) >= execs.end.get(x)))
    val manifestJobs = execs.jobsOf(manifest)
    val writeJobs = written.flatMap(execs.jobsOf)
    assert(manifestJobs.nonEmpty && writeJobs.size >= 2)
    assert(manifestJobs.map(execs.jobStart.get).min >= writeJobs.map(execs.jobEnd.get).max)
  }

  test("a failed nodes write fails the run: no manifest, no job running, no thread of the run alive") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-buildshape-fail")
    // a link to nowhere where the nodes dir goes: the write finds no
    // table to replace, and cannot make its dir
    Files.createSymbolicLink(dir.resolve("nodes"), dir.resolve("nowhere"))
    intercept[Exception](Materialize.run(spark, NtFileSource.documents(spark, glob), dir.toString, Buckets))
    SchedulerShim.drain(sc)
    assert(!Files.exists(dir.resolve("manifest")))
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "Materialize.run"))
    // the other pieces ran to their end
    assert(Files.exists(dir.resolve("edges/_SUCCESS")))
  }

  test("run into an empty dir reads the corpus in two jobs and writes one manifest file per bucket") {
    val sc = spark.sparkContext
    val reads = sc.longAccumulator("corpus documents read")
    val counted = udf { (s: String) => reads.add(1); s }
    val files = NtFileSource.documents(spark, glob)
    val corpus: Dataset[CorpusRow] = files.withColumn("content", counted(col("content"))).as[CorpusRow]
    val readers = new AccumulatorJobs(reads.id)
    sc.addSparkListener(readers)
    val dir = Files.createTempDirectory("graft-buildshape-out").toString
    val processed = try Materialize.run(spark, corpus, dir, Buckets)
    finally { SchedulerShim.drain(sc); sc.removeSparkListener(readers) }

    val perBucket = files.toDF().groupBy(Materialize.bucketOf(Buckets)).count().collect()
    assert(processed == perBucket.length)
    // the digest job (todo buckets) and the parse; not the manifest write
    assert(readers.jobs == 2)
    assert(reads.value == 2L * 40)

    val manifestDirs = new java.io.File(s"$dir/manifest").listFiles.filter(_.getName.startsWith("bucket="))
    assert(manifestDirs.length == perBucket.length)
    manifestDirs.foreach { b =>
      assert(b.listFiles.count(_.getName.startsWith("part-")) == 1, s"${b.getName} files")
    }

    val written = spark.read.parquet(s"$dir/manifest")
      .withColumn("bucket", col("bucket").cast("long"))
    val plain = NtFileSource.documents(spark, glob)
    val expected = Materialize.metrics(plain.toDF(), TripleExtract.parse(plain).toDF())
      .withColumn("bucket", Materialize.bucketOf(Buckets))
    assert(written.columns.toSeq == expected.columns.toSeq)
    assert(written.count() == 40)
    assert(written.exceptAll(expected).isEmpty && expected.exceptAll(written).isEmpty)
    // the statement-less file and the bad line are in the counts
    assert(written.filter(col("path").endsWith("doc07.nt"))
      .select("n_triples", "n_errors").as[(Long, Long)].collect().toSeq == Seq((0L, 0L)))
    assert(written.filter(col("path").endsWith("doc11.nt"))
      .select("n_triples", "n_errors").as[(Long, Long)].collect().toSeq == Seq((6L, 1L)))
  }
}
