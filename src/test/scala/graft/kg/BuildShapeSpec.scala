package graft.kg

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.graftshim.SchedulerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.CostTrace

/**
 * The job shape of one build (`NtFileSource.documents` then
 * `Materialize.run` into an empty dir), as executed:
 *  - the input glob, and the bucket dirs of a 64-bucket staging and
 *    manifest, are listed on the driver, with no Spark job;
 *  - the corpus is read by two jobs, the digest job behind the manifest
 *    counts and the parse; the metrics write reads the shared digests;
 *  - the metrics table is one file per bucket;
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

  test("run into an empty dir reads the corpus in two jobs and writes one metrics file per bucket") {
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
    // the digest job (manifest counts) and the parse; not the metrics write
    assert(readers.jobs == 2)
    assert(reads.value == 2L * 40)

    val metricsDirs = new java.io.File(s"$dir/metrics").listFiles.filter(_.getName.startsWith("bucket="))
    assert(metricsDirs.length == perBucket.length)
    metricsDirs.foreach { b =>
      assert(b.listFiles.count(_.getName.startsWith("part-")) == 1, s"${b.getName} files")
    }

    val written = spark.read.parquet(s"$dir/metrics")
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
