package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.ops._

/**
 * Wall time and executed cost (`CostTrace`) of what a query or a pipeline
 * prefix actually runs. Not part of the driver contract: `graft.Bench`
 * stays the frozen harness. Prints ONE JSON line to stdout.
 *
 *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=N \
 *     sbt "runMain graft.Probe [--reps N] (q1 q2 ... | --link | --scale 1,4,16)"
 *
 *  - `q1 q2 ...`: named `SparkEntry.queries`, best of `reps` interleaved
 *    rounds over the whole query lambda plus one noop-sink write (Bench
 *    part 1's semantics), split into the spans `build` (the jobs that run
 *    while the frame is built) and `run` (the write's jobs).
 *  - `--link`: the parse -> link -> materialize prefixes (L1-L3) over
 *    kg_sparql_bind's orders corpus, and the single-thread rate of the
 *    byte kernel (L0) over that corpus's lines.
 *  - `--scale`: the corpus-proportional operators over k replicas of the
 *    documents table, so a super-linear cliff shows as falling docs/s.
 *    Every replica, the 1x base included, tags each token with its
 *    replica index (`w` -> `w rKx`), so the replicas' token sets are
 *    disjoint: k times the data, not a k-clone duplicate cluster.
 *
 * Every measurement reports its best sample's cost, and that of each span
 * nested in it: jobs, executed stages, shuffle-writing stages, shuffle
 * bytes, spill, GC, max / median task ms of the dominant stage, and the
 * span's wall, busy (some job ran) and summed job ms.
 */
object Probe {

  /** The conf of graft.Bench's session. */
  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-probe-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One sample: `body` as a span named `name`. */
  private def sample(t: CostTrace, name: String)(body: => Unit): CostTrace.Span = {
    t.span(name)(body)
    t.spans.last
  }

  private def cost(t: CostTrace, s: CostTrace.Span): ListMap[String, Any] = {
    val c = t.cost(s)
    val ts = c.dominantStageTaskMs
    ListMap("jobs" -> c.jobs, "stages" -> c.stages, "shuffle_stages" -> c.shuffleStages,
      "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
      "spill_bytes" -> c.spillBytes, "gc_ms" -> c.gcMs,
      "max_task_ms" -> ts.lastOption.getOrElse(0L),
      "median_task_ms" -> (if (ts.isEmpty) 0L else ts(ts.length / 2)),
      "wall_ms" -> s.wallMs, "busy_ms" -> c.busyMs, "job_ms" -> c.jobMs)
  }

  /** Best-of-N wall time, with the best sample's cost and its child spans'. */
  private def report(t: CostTrace, samples: Seq[CostTrace.Span]): ListMap[String, Any] = {
    val best = samples.minBy(_.seconds)
    ListMap("best_s" -> best.seconds, "samples_s" -> samples.map(_.seconds)) ++ cost(t, best) ++
      t.spans.filter(_.parent == best.id).map(c => c.name -> (ListMap("s" -> c.seconds) ++ cost(t, c)))
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    case m: ListMap[_, _] => m.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  private def queries(s: SparkSession, t: CostTrace, sfDir: String, reps: Int,
                      names: Seq[String]): ListMap[String, Any] = {
    val samples = (1 to reps).flatMap(_ => names.map(n => sample(t, n) {
      val df = t.span("build")(SparkEntry.queries(n)(s, sfDir))
      t.span("run")(noop(df))
    })).groupBy(_.name)
    ListMap.from(names.map(n => n -> report(t, samples(n))))
  }

  /** L0-L3 over kg_sparql_bind's corpus: each prefix adds one layer. */
  private def link(s: SparkSession, t: CostTrace, sfDir: String, reps: Int): ListMap[String, Any] = {
    def corpus = SparkEntry.ordersCorpus(s, sfDir)
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "render" -> (() => noop(corpus.toDF())),
      "parse" -> (() => noop(SparkEntry.parsedTriples(corpus))),
      "link" -> (() => noop(SparkEntry.linked(corpus))),
      "edges" -> (() => noop(Materialize.edges(SparkEntry.linked(corpus)))),
      "nodes" -> (() => noop(Materialize.nodes(SparkEntry.linked(corpus)))),
      // the SPARQL gates' graph: both relations over one shared triples frame
      "edges+nodes" -> { () =>
        val (e, n) = SparkEntry.sparqlGraph(corpus)
        noop(e)
        noop(n)
      })
    ListMap("kernel_bytes_triples_per_s" -> kernelRate(s, corpus.toDF()),
      "spans" -> ListMap.from(prefixes.map { case (name, f) =>
        name -> report(t, (1 to reps).map(_ => sample(t, name)(f())))
      }))
  }

  /** Single-threaded triples/s of NtBytesParser over every line of the
    * corpus, each parsed on its own: best of 3 passes after 2 warm ones. */
  private def kernelRate(s: SparkSession, corpus: DataFrame): Double = {
    import s.implicits._
    val lines = corpus.select("content").as[String].collect()
      .flatMap(_.split('\n')).map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val parser = new NtBytesParser(true)
    def pass(): Long = {
      var k = 0; var triples = 0L
      while (k < lines.length) {
        if (parser.parseSlice(lines(k), 0, lines(k).length, k + 1)) triples += 1
        k += 1
      }
      triples
    }
    pass(); pass()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); val n = pass(); n / ((System.nanoTime() - t0) / 1e9)
    }.max
  }

  private def scale(s: SparkSession, t: CostTrace, sfDir: String, reps: Int, cpus: Int,
                    scales: Seq[Int]): Seq[ListMap[String, Any]] = {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "exact_dedup" -> (d => Dedup.exactGroups(d, col("doc_id"), col("text"))),
      "minhash_lsh" -> (d => Dedup.lshCandidates(d, col("doc_id"), col("text"))),
      "jaccard_two_stage" -> (d => Dedup.nearDupPairs(d, col("doc_id"), col("text"))),
      "simhash" -> (d => Dedup.simhash16(d, col("doc_id"), col("text"))),
      "repetition" -> (d => Curation.repetitionMetrics(d, col("doc_id"), col("text"))),
      "interdoc_dedup" -> (d => Curation.interdocSegmentDedup(d, col("doc_id"), col("text"))),
      "seq_pack" -> (d => Packing.packSequences(d, col("doc_id"),
        size(split(col("text"), " ")), seqLen = 512L)),
      "bm25" -> (d => TextOps.bm25Scaled(d, col("doc_id"), col("text"),
        Seq("data", "model", "the"), k = 50)),
      "salient_terms" -> (d => TextOps.salientTerms(d, col("doc_id"), col("text"), 3)),
      "quality" -> (d => TextOps.quality(d, col("doc_id"), col("text"))))
    val base = s.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    scales.flatMap { k =>
      // shared, and stored by the count: every op times its own work,
      // not the replica construction; ids are disjoint per replica
      val d = Share((0 until k).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          concat(lit(s"r${i}x "), replace(col("text"), lit(" "), lit(s" r${i}x "))).as("text"))
      }.reduce(_ union _).repartition(cpus))
      val nDocs = d.count()
      val rows = ops.map { case (name, f) =>
        val samples = (1 to reps).map(_ => sample(t, s"$name x$k")(noop(f(d))))
        ListMap("op" -> name, "k" -> k, "docs" -> nDocs,
          "docs_per_sec" -> (nDocs / samples.map(_.seconds).min).toLong) ++ report(t, samples)
      }
      d.unpersist()
      rows
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("Probe: set SPARK_GRAFT_SF_DIR"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    var reps = 2
    var linkMode = false
    var scales = Seq.empty[Int]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps"  => reps = args(i + 1).toInt; i += 1
        case "--link"  => linkMode = true
        case "--scale" => scales = args(i + 1).split(',').map(_.toInt).toSeq; i += 1
        case q         => names += q
      }
      i += 1
    }
    require(Seq(names.nonEmpty, linkMode, scales.nonEmpty).count(identity) == 1,
      "Probe: give query names, --link, or --scale k1,k2,...")
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))

    val spark = session(cpus)
    // session warm-up, as in Bench part 1
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    SparkEntry.queries("kg_parse_nation")(spark, sfDir).count()
    val t = new CostTrace(spark.sparkContext)
    val out =
      try {
        if (linkMode) ListMap("probe" -> "link") ++ link(spark, t, sfDir, reps)
        else if (scales.nonEmpty)
          ListMap("probe" -> "scale", "scale" -> scale(spark, t, sfDir, reps, cpus, scales))
        else ListMap("probe" -> "queries", "queries" -> queries(spark, t, sfDir, reps, names.toSeq))
      } finally t.close()
    println(json(out ++ ListMap("sf" -> sfDir, "cpus" -> cpus, "reps" -> reps)))
    spark.stop()
  }
}
