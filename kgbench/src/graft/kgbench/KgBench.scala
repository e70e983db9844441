package graft.kgbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg._

/**
 * The KG-build benchmark's JVM side: one JVM, one client thread, the
 * engine at local[N]. It reads the .nt files and inputs.json that gen.py
 * wrote, runs one workload for a fixed wall time, checks every output
 * and writes result.json (and, traced, a per-layer trace file).
 *
 *   KgBench <workload> <seed> <seconds> <trace 0|1> <workDir> <cores>
 *           <launchedEpochMs> <genSeconds>
 *
 * Workloads (see kgbench/README.md for why each exists):
 *   bulk_load  NtFileSource.documents + Materialize.run into an empty dir
 *   resume     Materialize.run over a build that lost 4 of 64 manifest buckets
 *   validate   NtFileSource.documents + TripleExtract.parse/.errors, lenient
 *   query      closed loop, one client, seeded SPARQL mix over nodes/edges
 */
object KgBench {
  /** resume drops MissingBuckets of these: a small share of the graph. */
  val ResumeBuckets = 64
  /** Every other build: fewer buckets write fewer staging files, so a
    * build is shorter and more of them fit a window. */
  val BuildBuckets = 8
  val MissingBuckets = 4
  /** Set-up prerequisites are run this many times and the median kept. */
  val SetupReps = 2
  /** Before the window, the operation runs untimed until this long has
    * been spent running it (set-up operations count): the JIT and Spark's
    * code caches keep speeding operations up for about that long, and a
    * window that starts warm has no downward trend. */
  val WarmupSeconds = 8.0

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, cores, launchedMs, genS) = argv
    val spark = Pipeline.session("kgbench", Some(s"local[$cores]"))
    val sessionS = (System.currentTimeMillis() - launchedMs.toLong) / 1e3
    try {
      val b = new KgBench(spark, workload, seed.toLong, seconds.toDouble, trace == "1",
        Paths.get(work), cores.toInt)
      val result = b.run(sessionS + genS.toDouble)
      Files.write(Paths.get(work, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  /** inputs.json as Scala maps; every number is a Double. */
  def parseJson(text: String): Map[String, Any] = {
    def conv(v: Any): Any = v match {
      case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> conv(x) }.toMap
      case l: java.util.List[_] => l.asScala.map(conv).toSeq
      case n: Number => n.doubleValue
      case x => x
    }
    conv(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(text, classOf[java.util.Map[String, Any]])).asInstanceOf[Map[String, Any]]
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
  }
}

final class KgBench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                    traced: Boolean, work: Path, cores: Int) {
  import KgBench._

  private val inputs = Paths.get(work.toString, "in")
  private val filesGlob = inputs.resolve("files").toString + "/*.nt"
  private val spec = parseJson(new String(
    Files.readAllBytes(inputs.resolve("inputs.json")), StandardCharsets.UTF_8))
  private val expected = spec("expected").asInstanceOf[Map[String, Any]]
  private def expect(k: String): Long = expected(k).asInstanceOf[Double].toLong
  private val lang = spec("lang").asInstanceOf[String]
  private val inputBytes = spec("properties").asInstanceOf[Map[String, Any]]("input_bytes")
    .asInstanceOf[Double]
  private val out = work.resolve("out")

  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Counts one operation; a thrown exception or a false check fails it. */
  private def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case e: Exception => failures += s"$what threw ${e.toString.take(300)}"; false }
    if (!ok) {
      failed += 1
      if (!failures.lastOption.exists(_.startsWith(what))) failures += s"$what: output check failed"
    }
    ok
  }

  private def check(what: String, got: Any, want: Any): Boolean = {
    val ok = got == want
    if (!ok) failures += s"$what: got $got, expected $want"
    ok
  }

  private def documents() = NtFileSource.documents(spark, filesGlob, lang = lang)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU ms of the last timeMs body: all threads of this JVM. */
  private var lastCpuMs = 0.0

  private def timeMs[T](body: => T): (T, Double) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val v = body
    val ms = (System.nanoTime() - t0) / 1e6
    lastCpuMs = (os.getProcessCpuTime - c0) / 1e6
    (v, ms)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES) // keeps mtimes: files_written
    }

  /** Order-independent content hash of a table: (rows, sum of row hashes). */
  private def tableHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def errorClass(message: Column): Column =
    regexp_replace(regexp_replace(message, "^parse error (in line \\d+ )?at char \\d+, ", ""),
      "<[^>]*>", "<*>")

  // ---------------------------------------------------------------- builds

  private val buckets = if (workload == "resume") ResumeBuckets else BuildBuckets

  private def build(dir: Path): Int = {
    val docs = span("parse.documents")(documents())
    span("materialize.run")(Materialize.run(spark, docs, dir.toString, buckets))
  }

  /** The checks every complete build must pass. */
  private def checkBuild(dir: Path): Boolean = {
    val staging = Materialize.readStaging(spark, dir.toString)
    check("edge rows", spark.read.parquet(s"$dir/edges").count(), expect("triples")) &&
      check("error rows", staging.filter(col("err")).count(), expect("error_rows")) &&
      check("node rows", spark.read.parquet(s"$dir/nodes").count(), expect("nodes"))
  }

  private def buildOnce(dir: Path): Unit = {
    delete(dir)
    attempt("build")(build(dir) > 0 && checkBuild(dir))
  }

  /** A copy of `pristine` whose manifest lost `MissingBuckets` buckets. */
  private def crash(pristine: Path, dir: Path, r: Random): Seq[Long] = {
    delete(dir)
    copyTree(pristine, dir)
    val buckets = Files.list(dir.resolve("manifest")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toLong).toSeq.sorted
    val lost = r.shuffle(buckets).take(MissingBuckets).sorted
    lost.foreach(b => delete(dir.resolve(s"manifest/bucket=$b")))
    lost
  }

  // ------------------------------------------------------------- validate

  private final case class Validated(triples: Long, errors: Long, classes: Map[String, Long])

  private def validate(dir: Path): Validated = {
    val obs = Observation("validate")
    val docs = span("parse.documents")(documents())
    val parsed = span("parse.parse")(TripleExtract.parse(docs))
      .observe(obs, count(when(!col("err"), 1)).as("triples"), count(when(col("err"), 1)).as("errors"))
    val errors = span("parse.errors")(TripleExtract.errors(parsed))
    span("validate.write")(errors.write.parquet(dir.resolve("errors").toString))
    val classes = span("validate.classes")(spark.read.parquet(dir.resolve("errors").toString)
      .groupBy(errorClass(col("message"))).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val m = obs.get
    Validated(m("triples").asInstanceOf[Long], m("errors").asInstanceOf[Long], classes)
  }

  private def checkValidated(v: Validated): Boolean = {
    val want = expected("error_classes").asInstanceOf[Map[String, Any]]
      .map { case (k, n) => k -> n.asInstanceOf[Double].toLong }
    check("triples", v.triples, expect("triples")) &&
      check("error rows", v.errors, expect("error_rows")) &&
      check("error classes", v.classes, want)
  }

  // ---------------------------------------------------------------- query

  private lazy val queryCases = Queries.cases(seed,
    spec("entities").asInstanceOf[Double].toInt, spec("classes").asInstanceOf[Double].toInt)

  private def graph(dir: Path) =
    (spark.read.parquet(s"$dir/edges"), spark.read.parquet(s"$dir/nodes"))

  // ------------------------------------------------------------ the run

  private var storedBytes = 0L
  private var opMs: Seq[Double] = Nil
  private var warmupMs: Seq[Double] = Nil
  private var setupStepsMs: Seq[Double] = Nil
  private val cpuMs = mutable.ArrayBuffer.empty[Double]
  /** Set while a traced operation or probe runs. */
  private var tracer: Option[Tracer] = None
  /** In a traced run, every other operation is traced. */
  private var interleaved: Option[Tracer] = None
  private val tracedMs = mutable.ArrayBuffer.empty[Double]
  private val untracedMs = mutable.ArrayBuffer.empty[Double]

  private def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** Runs the workload's timed operation until `secs` have passed; a
    * failed operation returns -1 and adds no latency. */
  private def loop(secs: Double)(op: Int => Double): Seq[Double] = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (secs * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) {
      interleaved.foreach { t =>
        if (i % 2 == 1) t.attach() else t.detach()
        tracer = if (i % 2 == 1) Some(t) else None
      }
      val ms = op(i)
      if (ms >= 0) {
        lat += ms
        cpuMs += lastCpuMs
        if (interleaved.isDefined) (if (tracer.isDefined) tracedMs else untracedMs) += ms
      }
      i += 1
    }
    lat.toSeq
  }

  def run(outsideSetupS: Double): String = {
    val (prepared, setupSteps, warmS) = setup()
    setupStepsMs = setupSteps
    val setupS = outsideSetupS + median(setupSteps) / 1e3
    warmupMs = measure(prepared, math.max(0.0, WarmupSeconds - warmS), seed + 1)
    cpuMs.clear()
    val metrics: Map[String, (Double, String)] =
      if (!traced) {
        val lat = measure(prepared, seconds)
        opMs = lat
        Map(
          "setup_s" -> (setupS, "s"),
          "op_p50_ms" -> (median(lat), "ms"),
          "stored_bytes_per_input_byte" -> (storedBytes / inputBytes, "B/B"),
          "peak_rss_mb" -> (peakRssMb(), "MB"))
      } else traceRun(prepared)
    val summary = Map(
      "workload" -> workload, "seed" -> seed,
      "setup_outside_s" -> outsideSetupS, "setup_steps_ms" -> setupStepsMs.map(x => math.round(x)),
      "warmup_ms" -> warmupMs.map(x => math.round(x)),
      "op_ms" -> opMs.map(x => math.round(x)),
      "cpu_ms" -> cpuMs.map(x => math.round(x)),
      "attempted" -> attempted, "failed" -> failed,
      "failed_ops_ratio" -> failed.toDouble / math.max(1, attempted),
      "failures" -> failures.take(20))
    System.out.println("kgbench " + json(summary))
    json(Map(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
  }

  /** What the timed loop reuses: resume's pristine build and its table
    * hashes, query's graph and reference answers. */
  private final case class Prepared(pristine: Path = null,
                                    hashes: ((Long, BigDecimal), (Long, BigDecimal)) = null,
                                    graphDir: Path = null,
                                    refs: Map[(String, String), Seq[String]] = Map.empty)

  /** Set-up prerequisites, run SetupReps times; returns the ms of each and
    * the seconds of them spent running the workload's own operation. */
  private def setup(): (Prepared, Seq[Double], Double) = workload match {
    case "bulk_load" | "validate" =>
      // the first warm-up operations
      val ms = (0 until SetupReps).map(i => timeMs(
        if (workload == "bulk_load") buildOnce(out.resolve(s"setup$i"))
        else { delete(out); attempt("validate")(checkValidated(validate(out))) })._2)
      delete(out)
      (Prepared(), ms, ms.sum / 1e3)
    case "resume" =>
      val p = out.resolve("pristine")
      val ms = (0 until SetupReps).map(_ => timeMs(buildOnce(p))._2)
      val (e, n) = graph(p)
      (Prepared(pristine = p, hashes = (tableHash(n), tableHash(e))), ms, 0.0)
    case "query" =>
      val g = out.resolve("graph")
      val ms = (0 until SetupReps).map(_ => timeMs(buildOnce(g))._2)
      val (e, n) = graph(g)
      storedBytes = dirBytes(g)
      val (refs, refMs) = timeMs(Queries.reference(e, n, queryCases))
      System.out.println(f"kgbench reference answers: ${refs.size} queries in $refMs%.0f ms")
      (Prepared(graphDir = g, refs = refs), ms, 0.0)
  }

  /** Result rows of each traced query span, for rows read per row out. */
  private val rowsOut = mutable.Map.empty[Int, Long]

  /** The timed loop; returns per-operation latencies in ms. Queries are
    * drawn from `rngSeed`, so the window's sequence does not depend on the
    * warm-up's. */
  private def measure(p: Prepared, secs: Double, rngSeed: Long = seed): Seq[Double] = {
    val r = new Random(rngSeed)
    def timedOp(dir: Path)(op: => Unit)(ok: => Boolean): Double = {
      val ms = timeMs(span(workload)(op))._2
      val good = attempt(workload)(ok)
      storedBytes = dirBytes(dir)
      delete(dir)
      if (good) ms else -1
    }
    workload match {
      case "bulk_load" =>
        loop(secs) { i =>
          val dir = out.resolve(s"build$i")
          var n = 0
          timedOp(dir) { n = build(dir) }(n > 0 && checkBuild(dir))
        }
      case "resume" =>
        loop(secs) { i =>
          val dir = out.resolve(s"resume$i")
          val lost = crash(p.pristine, dir, r)
          var n = 0
          timedOp(dir) { n = build(dir) } {
            val (e, nd) = graph(dir)
            check("recovered buckets", n, lost.size) &&
              check("nodes/edges hash equals a fresh build", (tableHash(nd), tableHash(e)), p.hashes)
          }
        }
      case "validate" =>
        loop(secs) { i =>
          val dir = out.resolve(s"validate$i")
          var v: Validated = null
          timedOp(dir) { v = validate(dir) }(checkValidated(v))
        }
      case "query" =>
        val (e, n) = graph(p.graphDir)
        // each block of the mix runs every shape once, in a seeded order,
        // so every run sees the same shape shares
        var block: List[String] = Nil
        loop(secs) { _ =>
          if (block.isEmpty) block = r.shuffle(Queries.Shapes.toList)
          val shape = block.head
          block = block.tail
          val inShape = queryCases.filter(_.shape == shape)
          val c = inShape(r.nextInt(inShape.size))
          // traced: Sparql.parse is timed on its own, outside the query's span
          tracer.foreach(_.span("query.parse")(Sparql.parse(c.sparql)))
          var rows: Seq[String] = Nil
          val ms = timeMs(span(s"query.${c.shape}") {
            val df = span("query.build")(Sparql.run(e, n, c.sparql))
            rows = span("query.exec")(Queries.render(df.collect()))
          })._2
          tracer.foreach(t => rowsOut(t.spans.last.id) = rows.size)
          val ok = attempt(s"query ${c.shape} ${c.key}")(check(s"${c.shape} ${c.key} rows",
            Queries.canonical(c.shape, rows), p.refs((c.shape, c.key))))
          if (ok) ms else -1
        }
    }
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // -------------------------------------------------------------- traced

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def linked(staged: DataFrame): DataFrame =
    Canonicalize(Skolemize(TripleExtract.assembleTriples(staged)))

  /** The ms and cost of one span of `body`. */
  private def probe(t: Tracer, name: String)(body: => Unit): (Double, Cost) = {
    t.span(name)(body)
    val s = t.spans.last
    (s.ms, t.cost(s.id))
  }

  private def physicalLines(docs: DataFrame): Long =
    docs.select(sum(length(col("content")) - length(regexp_replace(col("content"), "\n", ""))))
      .head().getLong(0)

  /**
   * The traced run: operations alternate between untraced and traced
   * (listener and spans on); the difference of their steady medians is
   * the tracing overhead. Then the per-layer probes: the single-threaded
   * kernels, prefix plans ending at each layer (a layer's self time is
   * its prefix minus the prefix before it) and replays of Materialize's
   * public phases.
   */
  private def traceRun(p: Prepared): Map[String, (Double, String)] = {
    val t = new Tracer(spark.sparkContext, s"$workload-seed$seed-${ProcessHandle.current.pid}")
    interleaved = Some(t)
    opMs = measure(p, seconds)
    interleaved = None
    t.attach()
    tracer = Some(t)
    val (untraced, tracedLat) = (untracedMs.toSeq, tracedMs.toSeq)
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    PerLayer.names.foreach { case (k, u) => m(k) = (0.0, u) }
    def put(k: String, v: Double): Unit = m(k) = (v, m(k)._2)

    val (bytesRate, charRate) = kernelRates()
    put("kernel.bytes_triples_per_s", bytesRate)
    put("kernel.char_triples_per_s", charRate)

    val opSpans = t.spans.filter(_.name == workload).toSeq
    def childOf(parent: Span, name: String) =
      t.spans.find(s => s.parent == parent.id && s.name == name)
    def med(xs: Seq[Double]) = median(xs)
    val shares = mutable.LinkedHashMap.empty[String, Double]
    val base = median(tracedLat)

    workload match {
      case "bulk_load" | "resume" =>
        val dir = out.resolve("probe")
        val r = new Random(seed + 1)
        val lost = if (workload == "resume") crash(p.pristine, dir, r) else { delete(dir); Nil }
        val started = System.currentTimeMillis()
        t.span("probe.build")(attempt("traced build")(build(dir) > 0))
        val files = Files.walk(dir).iterator().asScala
          .count(f => Files.isRegularFile(f) && Files.getLastModifiedTime(f).toMillis >= started)
        val todo =
          if (workload == "resume") documents().toDF().filter(Materialize.bucketOf(ResumeBuckets).isin(lost: _*))
          else documents().toDF()
        var obsRow: Map[String, Any] = Map.empty
        val (parseMs, parseCost) = probe(t, "probe.parse") {
          val obs = Observation()
          noop(TripleExtract.parseExpr(todo).observe(obs,
            count(when(!col("err"), 1)).as("triples"), count(when(col("err"), 1)).as("errors")))
          obsRow = obs.get
        }
        val (stagingMs, stagingCost) = probe(t, "probe.staging_read")(
          noop(Materialize.readStaging(spark, dir.toString)))
        val (linkMs, linkCost) = probe(t, "probe.staging_link")(
          noop(Materialize.edges(linked(Materialize.readStaging(spark, dir.toString)))))
        val (nodesMs, _) = probe(t, "probe.nodes") {
          Materialize.nodes(linked(Materialize.readStaging(spark, dir.toString)))
            .write.mode("overwrite").parquet(out.resolve("replay_nodes").toString)
        }
        val (edgesMs, _) = probe(t, "probe.edges") {
          Materialize.saltedRepartition(
            Materialize.edges(linked(Materialize.readStaging(spark, dir.toString))), col("subj_id"),
            Seq(col("repo"), col("path"), col("commit"), col("line")), 16,
            spark.sessionState.conf.numShufflePartitions)
            .write.mode("overwrite").parquet(out.resolve("replay_edges").toString)
        }
        val parsedTriples = obsRow("triples").asInstanceOf[Long]
        val relinked = spark.read.parquet(s"$dir/edges").count()
        val (bnodes, rewritten) = linkCounts(dir)
        attempt("link counts")(check("bnode terms", bnodes, expect("bnode_terms")) &&
          check("IRIs rewritten", rewritten, expect("iris_rewritten")))
        put("parse.s", parseMs / 1e3)
        put("parse.lines", physicalLines(todo).toDouble)
        put("parse.triples", parsedTriples.toDouble)
        put("parse.error_rows", obsRow("errors").asInstanceOf[Long].toDouble)
        put("parse.input_bytes", parseCost.inputBytes.toDouble)
        put("parse.gc_ms", parseCost.gcMs.toDouble)
        put("parse.task_skew", parseCost.taskSkew)
        val linkS = (linkMs - stagingMs) / 1e3
        put("link.s", linkS)
        put("link.bnodes", bnodes.toDouble)
        put("link.iris_rewritten", rewritten.toDouble)
        put("link.gc_ms", (linkCost.gcMs - stagingCost.gcMs).toDouble)
        val runs = opSpans.flatMap(childOf(_, "materialize.run"))
        val costs = runs.map(s => t.cost(s.id))
        def medCost(f: Cost => Double) = med(costs.map(f))
        val runMs = med(runs.map(_.ms))
        put("materialize.s", runMs / 1e3 - parseMs / 1e3 - linkS)
        put("materialize.staging_s", stagingMs / 1e3)
        put("materialize.nodes_s", nodesMs / 1e3)
        put("materialize.edges_s", edgesMs / 1e3)
        put("materialize.jobs", medCost(_.jobs))
        put("materialize.stages", medCost(_.stages))
        put("materialize.shuffle_write_bytes", medCost(_.shuffleWriteBytes.toDouble))
        put("materialize.shuffle_read_bytes", medCost(_.shuffleReadBytes.toDouble))
        put("materialize.spill_bytes", medCost(_.spillBytes.toDouble))
        put("materialize.bytes_written", medCost(_.outputBytes.toDouble))
        put("materialize.files_written", files.toDouble)
        put("materialize.gc_ms", medCost(_.gcMs.toDouble) - parseCost.gcMs - (linkCost.gcMs - stagingCost.gcMs))
        put("materialize.task_skew", medCost(_.taskSkew))
        put("materialize.relinked_per_parsed", relinked.toDouble / parsedTriples)
        Seq("replay_nodes", "replay_edges", "probe").foreach(d => delete(out.resolve(d)))
        shares("parse") = parseMs / base
        shares("link") = linkS * 1e3 / base
        shares("materialize") = (runMs - parseMs - linkS * 1e3) / base
        shares("kernel_estimate") = parsedTriples / bytesRate / cores * 1e3 / base

      case "validate" =>
        val docs = documents().toDF()
        var obsRow: Map[String, Any] = Map.empty
        val (parseMs, parseCost) = probe(t, "probe.parse") {
          val obs = Observation()
          noop(TripleExtract.parse(documents()).toDF().observe(obs,
            count(when(!col("err"), 1)).as("triples"), count(when(col("err"), 1)).as("errors")))
          obsRow = obs.get
        }
        val triples = obsRow("triples").asInstanceOf[Long]
        put("parse.s", parseMs / 1e3)
        put("parse.lines", physicalLines(docs).toDouble)
        put("parse.triples", triples.toDouble)
        put("parse.error_rows", obsRow("errors").asInstanceOf[Long].toDouble)
        put("parse.input_bytes", parseCost.inputBytes.toDouble)
        put("parse.gc_ms", parseCost.gcMs.toDouble)
        put("parse.task_skew", parseCost.taskSkew)
        shares("parse") = parseMs / base
        shares("errors_write_and_classes") = 1 - parseMs / base
        shares("kernel_estimate") = triples / charRate / cores * 1e3 / base

      case "query" =>
        val qs = t.spans.filter(_.name.startsWith("query.")).toSeq
        def named(n: String) = qs.filter(_.name == n)
        val top = qs.filter(s => s.parent == -1 && Queries.Shapes.contains(s.name.stripPrefix("query.")))
        val costs = top.map(s => t.cost(s.id))
        val n = math.max(1, top.size).toDouble
        put("query.parse_ms", med(named("query.parse").map(_.ms)))
        put("query.build_ms", med(named("query.build").map(_.ms)))
        put("query.construction_jobs", named("query.build").map(s => t.cost(s.id).jobs).sum / n)
        put("query.exec_ms", med(named("query.exec").map(_.ms)))
        put("query.stages", costs.map(_.stages).sum / n)
        put("query.shuffle_bytes", costs.map(_.shuffleWriteBytes).sum / n)
        put("query.spill_bytes", costs.map(_.spillBytes).sum / n)
        put("query.rows_read_per_row_out",
          costs.map(_.inputRecords).sum.toDouble / math.max(1L, top.map(s => rowsOut.getOrElse(s.id, 0L)).sum))
        Queries.Shapes.foreach(s => put(s"query.${s}_p50_ms", med(named(s"query.$s").map(_.ms))))
        shares("query.parse") = m("query.parse_ms")._1 / base
        shares("query.build") = m("query.build_ms")._1 / base
        shares("query.exec") = m("query.exec_ms")._1 / base
    }
    t.detach()
    val overheadMs = median(tracedLat) - median(untraced)
    m("trace.overhead_ms") = (overheadMs, "ms")
    val report = Map(
      "run" -> t.run, "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "untraced_op_p50_ms" -> median(untraced), "traced_op_p50_ms" -> base,
      "untraced_ops" -> untraced.size, "traced_ops" -> tracedLat.size,
      "overhead_ms" -> overheadMs, "overhead_share" -> overheadMs / median(untraced),
      "layer_share_base" -> s"median traced $workload operation wall time, $base ms",
      "layer_shares" -> shares,
      "per_layer" -> m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)))
    Files.createDirectories(work.resolve("trace"))
    Files.write(work.resolve(s"trace/$workload-seed$seed.json"), json(report).getBytes(StandardCharsets.UTF_8))
    m.toMap
  }

  /** Bnode terms and IRI terms that canonicalization changes, counted
    * over the staged triples. */
  private def linkCounts(dir: Path): (Long, Long) = {
    val t = TripleExtract.assembleTriples(Materialize.readStaging(spark, dir.toString))
    def one(c: Column) = when(c, 1L).otherwise(0L)
    def rewritten(v: Column) = one(v =!= Canonicalize.canonicalIri(v))
    val r = t.select(
      sum(one(col("subj.kind") === RdfTerm.BNODE) + one(col("obj.kind") === RdfTerm.BNODE)),
      sum(when(col("subj.kind") === RdfTerm.IRI, rewritten(col("subj.value"))).otherwise(0L) +
        rewritten(col("pred")) +
        when(col("obj.kind") === RdfTerm.IRI, rewritten(col("obj.value"))).otherwise(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Single-threaded triples/s of the byte and the char kernel over the
    * same lines: every physical line of the workload's files, each
    * parsed on its own, in the workload's parse mode. */
  private def kernelRates(): (Double, Double) = {
    val strict = lang == TripleExtract.LangStrict
    val docs = Files.list(inputs.resolve("files")).iterator().asScala.toSeq.sorted
      .map(f => Files.readAllBytes(f))
    val byteLines = docs.flatMap { b =>
      val ends = (0 until b.length).filter(b(_) == '\n')
      ends.zip(-1 +: ends).map { case (e, s) => (b, s + 1, e) }
    }.toArray
    val charLines = docs.map(new String(_, StandardCharsets.UTF_8)).flatMap { s =>
      val ends = (0 until s.length).filter(s.charAt(_) == '\n')
      ends.zip(-1 +: ends).map { case (e, st) => (s, st + 1, e) }
    }.toArray
    def rate(parseOne: (Int, Int) => Boolean, n: Int): Double = {
      def pass(): Long = {
        var k = 0; var ok = 0L
        while (k < n) {
          try if (parseOne(k, k + 1)) ok += 1
          catch { case _: NtParseException => }
          k += 1
        }
        ok
      }
      pass() // warm-up
      var triples = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 500000000L) triples += pass()
      triples / ((System.nanoTime() - t0) / 1e9)
    }
    val bp = new NtBytesParser(strict)
    val cp = if (strict) NtLineParser.strict else NtLineParser.lenient
    (rate((k, line) => { val (b, s, e) = byteLines(k); bp.parseSlice(b, s, e, line) }, byteLines.length),
      rate((k, line) => { val (s, st, e) = charLines(k); cp.parseSlice(s, st, e, line) }, charLines.length))
  }
}

/** Every per-layer metric a traced run reports, with its unit; a layer
  * the workload does not run reports 0. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "kernel.bytes_triples_per_s" -> "1/s", "kernel.char_triples_per_s" -> "1/s",
    "parse.s" -> "s", "parse.lines" -> "count", "parse.triples" -> "count",
    "parse.error_rows" -> "count", "parse.input_bytes" -> "B", "parse.gc_ms" -> "ms",
    "parse.task_skew" -> "ratio",
    "link.s" -> "s", "link.bnodes" -> "count", "link.iris_rewritten" -> "count", "link.gc_ms" -> "ms",
    "materialize.s" -> "s", "materialize.staging_s" -> "s", "materialize.nodes_s" -> "s",
    "materialize.edges_s" -> "s", "materialize.jobs" -> "count", "materialize.stages" -> "count",
    "materialize.shuffle_write_bytes" -> "B", "materialize.shuffle_read_bytes" -> "B",
    "materialize.spill_bytes" -> "B", "materialize.bytes_written" -> "B",
    "materialize.files_written" -> "count", "materialize.gc_ms" -> "ms",
    "materialize.task_skew" -> "ratio", "materialize.relinked_per_parsed" -> "ratio",
    "query.parse_ms" -> "ms", "query.build_ms" -> "ms", "query.construction_jobs" -> "count",
    "query.exec_ms" -> "ms", "query.stages" -> "count", "query.shuffle_bytes" -> "B",
    "query.spill_bytes" -> "B", "query.rows_read_per_row_out" -> "ratio") ++
    Queries.Shapes.map(s => s"query.${s}_p50_ms" -> "ms") :+ ("trace.overhead_ms" -> "ms")
}
