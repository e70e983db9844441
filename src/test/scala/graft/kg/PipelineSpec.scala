package graft.kg

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * End-to-end Spark pipeline spec: the parse kernel over the W3C corpus,
 * skolemization scoping, canonicalization, nodes/edges materialization,
 * manifest resume and the sha256 metrics invariant.
 */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pure-parser oracle: triples per fixture file, errors swallowed per line. */
  private def oracleCounts(lenient: Boolean): Map[String, (Int, Int)] = {
    Corpus.fixtureNames.map { n =>
      val in = getClass.getResourceAsStream(s"/w3c/$n")
      val content = try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).mkString finally in.close()
      val p = new NtLineParser(!lenient)
      var triples = 0
      var errors = 0
      scala.io.Source.fromString(content).getLines().zipWithIndex.foreach { case (l, i) =>
        try { if (p.parseStatement(l, i + 1) != null) triples += 1 }
        catch { case _: NtParseException => errors += 1 }
      }
      n -> (triples, errors)
    }.toMap
  }

  /** Order-independent content hash of a table: (rows, sum of row hashes). */
  private def tableHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Documents per bucket (bucket -> n) committed in a manifest directory. */
  private def manifestCounts(dir: String): Map[Long, Long] =
    Materialize.readManifest(spark, s"$dir/manifest").groupBy("bucket").count()
      .as[(Long, Long)].collect().toMap

  /** Documents per bucket, counted straight from the corpus. */
  private def corpusCounts(corpus: Dataset[CorpusRow], buckets: Int): Map[Long, Long] =
    corpus.toDF().groupBy(Materialize.bucketOf(buckets).as("bucket")).count()
      .as[(Long, Long)].collect().toMap

  test("kernel over W3C corpus matches the pure parser file-by-file") {
    val parsed = TripleExtract.parse(Corpus.w3cFixtures(spark)).cache()
    val got = parsed.groupBy($"path").agg(
      sum(when(!$"err", 1).otherwise(0)).as("t"),
      sum(when($"err", 1).otherwise(0)).as("e"))
      .as[(String, Long, Long)].collect()
      .map { case (p, t, e) => p -> (t.toInt, e.toInt) }.toMap
    val oracle = oracleCounts(lenient = false).filter { case (_, (t, e)) => t + e > 0 }
    assert(got == oracle)
    // spot-check an exact triple and an exact error message through Spark
    val uri4 = TripleExtract.triples(parsed)
      .filter(_.path == "nt-syntax-uri-04.nt").collect()
    assert(uri4.length == 1 && uri4.head.obj.value.startsWith("scheme:!$%&"))
    val badLang = TripleExtract.errors(parsed)
      .filter(_.path == "nt-syntax-bad-lang-01.nt").collect()
    assert(badLang.length == 1)
    assert(badLang.head.message.contains("expected [language tag identifier], but found [1]"))
    assert(badLang.head.message.startsWith("parse error in line 2 "))
    parsed.unpersist()
  }

  test("skolemization is deterministic and document-scoped") {
    val corpus = Seq(
      CorpusRow("r1", "a.nt", "c1", "nt", "_:x <p:q> _:x ."),
      CorpusRow("r1", "b.nt", "c1", "nt", "_:x <p:q> \"v\" ."),
      CorpusRow("r1", "a.nt", "c1", "nt", "_:x <p:q> \"v\" .") // same doc identity as #1
    ).toDS()
    val t = Skolemize(TripleExtract.triples(TripleExtract.parse(corpus)).toDF())
    val subj = t.select($"path", $"subj.value").as[(String, String)].collect()
    val byPath = subj.groupBy(_._1).view.mapValues(_.map(_._2).distinct.toList).toMap
    assert(byPath("a.nt").size == 1, "same label in same doc -> same skolem id")
    assert(byPath("a.nt") != byPath("b.nt"), "same label across docs -> different ids")
    assert(subj.forall(_._2.matches("[0-9a-f]{64}")))
    // subject and object _:x in the same doc unify
    val row = t.filter($"path" === "a.nt" && $"obj.kind" === 1)
      .select($"subj.value", $"obj.value").as[(String, String)].head()
    assert(row._1 == row._2)
  }

  test("IRI canonicalization: scheme/host lowering, default port stripping") {
    val cases = Seq(
      "HTTP://Example.COM:80/Path?Q=1" -> "http://example.com/Path?Q=1",
      "https://EXAMPLE.com:443/x" -> "https://example.com/x",
      "https://example.com:8443/x" -> "https://example.com:8443/x",
      "URN:ISBN:123" -> "urn:ISBN:123",
      "http://example.com/CaseKept" -> "http://example.com/CaseKept",
      "noscheme" -> "noscheme")
    // plain Scala
    cases.foreach { case (in, out) => assert(Canonicalize.canonicalIriString(in) == out, in) }
    // column expression parity
    val got = cases.map(_._1).toDF("v")
      .select(Canonicalize.canonicalIri($"v")).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("nodes/edges materialization with manifest resume") {
    val dir = Files.createTempDirectory("graft-mat").toString
    val corpus = Corpus.synthetic(spark, nDocs = 40, linesPerDoc = 25)
    // no manifest directory: nothing is done, so every bucket runs and
    // commits one row per corpus document
    val perBucket = corpusCounts(corpus, 8)
    val n1 = Materialize.run(spark, corpus, dir, buckets = 8)
    assert(n1 == perBucket.size)
    assert(manifestCounts(dir) == perBucket)
    val edges = spark.read.parquet(s"$dir/edges")
    val nodes = spark.read.parquet(s"$dir/nodes")
    val staged = Materialize.readStaging(spark, dir)
    assert(edges.count() == staged.filter(!$"err").count())
    assert(nodes.select("id").distinct().count() == nodes.count())
    // every edge endpoint resolves to a node (referential integrity)
    val unresolved = edges.join(nodes.select($"id".as("subj_id")), Seq("subj_id"), "left_anti").count()
    assert(unresolved == 0)
    // resume: everything is checkpointed, second run is a no-op
    val n2 = Materialize.run(spark, corpus, dir, buckets = 8)
    assert(n2 == 0)
    // partial manifest (3 whole buckets) -> only missing buckets processed
    val dir2 = Files.createTempDirectory("graft-mat2").toString
    val manifest = Materialize.readManifest(spark, s"$dir/manifest")
    manifest.filter($"bucket".isin(perBucket.keys.toSeq.sorted.take(3): _*))
      .write.partitionBy("bucket").parquet(s"$dir2/manifest")
    val n3 = Materialize.run(spark, corpus, dir2, buckets = 8)
    assert(n3 == n1 - 3)
    assert(manifestCounts(dir2) == perBucket)
    assert(tableHash(Materialize.readManifest(spark, s"$dir2/manifest")) == tableHash(manifest))
  }

  test("run leaves the caller's partitionOverwriteMode as it was and still resumes") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val dir = tempDir("graft-static")
      val corpus = Corpus.synthetic(spark, nDocs = 40, linesPerDoc = 25)
      val perBucket = corpusCounts(corpus, 8)
      // a first run commits 3 buckets; the resume must write the other
      // buckets' partitions beside theirs, not replace the whole tables
      val first = perBucket.keys.toSeq.sorted.take(3)
      val part = corpus.toDF().filter(Materialize.bucketOf(8).isin(first: _*)).as[CorpusRow]
      assert(Materialize.run(spark, part, dir, buckets = 8) == 3)
      assert(spark.conf.get(key) == "static")
      assert(Materialize.run(spark, corpus, dir, buckets = 8) == perBucket.size - 3)
      assert(spark.conf.get(key) == "static")
      assert(manifestCounts(dir) == perBucket)
      val stagedBuckets = Materialize.readStaging(spark, dir).select("bucket").distinct()
        .as[Long].collect().toSet
      assert(stagedBuckets == perBucket.keySet)
    } finally spark.conf.set(key, saved)
  }

  test("a re-run of an uncommitted bucket keeps nothing of its earlier input") {
    val good = CorpusRow("r", "good.nt", "c", "nt", "<a:b> <c:d> <e:f> .\n")
    val good2 = CorpusRow("r", "good2.nt", "c", "nt", "<a:b> <c:d> \"g2\" .\n")
    val bad = CorpusRow("r", "bad.nt", "c", "nt", "oops\n")
    def tables(dir: String) = Seq(Materialize.readStaging(spark, dir),
      spark.read.parquet(s"$dir/nodes"), spark.read.parquet(s"$dir/edges"),
      Materialize.readManifest(spark, s"$dir/manifest")).map(tableHash)
    // one bucket: each input's documents share it. The first re-run drops
    // a document with only an error row, the second one with only triples.
    Seq(Seq(good, bad) -> Seq(good), Seq(good2) -> Seq(bad)).foreach { case (first, rerun) =>
      val dir = tempDir("graft-rerun")
      assert(Materialize.run(spark, first.toDS(), dir, buckets = 1) == 1)
      // a crash before the commit: everything but the manifest is written
      Files.walk(java.nio.file.Paths.get(dir, "manifest")).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      assert(Materialize.run(spark, rerun.toDS(), dir, buckets = 1) == 1)
      val fresh = tempDir("graft-rerun-fresh")
      assert(Materialize.run(spark, rerun.toDS(), fresh, buckets = 1) == 1)
      assert(tables(dir) == tables(fresh), s"${first.map(_.path)} then ${rerun.map(_.path)}")
    }
  }

  test("run writes nodes/edges equal to the linked staging; AQE sizes the edges files") {
    // pinned wider than the suite default so a fixed-count edges exchange
    // (one file per shuffle partition) cannot pass the file-count check
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val dir = tempDir("graft-layout")
      assert(Materialize.run(spark, Corpus.synthetic(spark, nDocs = 40, linesPerDoc = 25),
        dir, buckets = 8) > 0)
      val linked = Canonicalize(Skolemize(
        TripleExtract.assembleTriples(Materialize.readStaging(spark, dir))))
      assert(tableHash(spark.read.parquet(s"$dir/nodes")) == tableHash(Materialize.nodes(linked)))
      assert(tableHash(spark.read.parquet(s"$dir/edges")) == tableHash(Materialize.edges(linked)))
      val partFiles = new java.io.File(s"$dir/edges").listFiles.count(_.getName.startsWith("part-"))
      assert(partFiles >= 1 && partFiles < 16, s"edges written as $partFiles part files")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("readStaging reads StagingSchema and matches the schema-inferring read row for row") {
    val dir = tempDir("graft-staging")
    val corpus = Corpus.synthetic(spark, nDocs = 12, linesPerDoc = 10)
      .union(Seq(CorpusRow("r", "bad.nt", "c", "nt", "oops\n<a:b> <c:d> \"x\" .")).toDS())
    // the staging layout as every Materialize.run has written it
    TripleExtract.parseExpr(corpus.toDF()).withColumn("bucket", Materialize.bucketOf(4))
      .write.partitionBy("bucket", "err").parquet(s"$dir/staging")
    val staged = Materialize.readStaging(spark, dir)
    assert(staged.schema == Materialize.StagingSchema)
    assert(staged.schema("err").dataType == BooleanType)
    // the earlier reader: parquet schema inference (which types `bucket`
    // as int and `err` as string), then the err string->boolean cast
    val inferred = spark.read.parquet(s"$dir/staging")
    assert(inferred.columns.toSeq == staged.columns.toSeq)
    val before = inferred.withColumn("err", col("err").cast("boolean"))
      .withColumn("bucket", col("bucket").cast("long"))
    assert(staged.filter(col("err")).count() == 1)
    assert(staged.exceptAll(before).isEmpty && before.exceptAll(staged).isEmpty)
  }

  test("manifest: a directory holding only _temporary means nothing is done") {
    // what a manifest write that died before its commit leaves behind;
    // the uncommitted file is garbage, so reading it would fail the run
    val corpus = Corpus.synthetic(spark, nDocs = 16, linesPerDoc = 5)
    val dir = tempDir("graft-tmpmanifest")
    val attempt = new java.io.File(s"$dir/manifest/_temporary/0/_temporary/attempt_0/bucket=0")
    assert(attempt.mkdirs())
    Files.write(new java.io.File(attempt, "part-00000.snappy.parquet").toPath, "torn".getBytes)
    assert(Materialize.run(spark, corpus, dir, buckets = 4) == corpusCounts(corpus, 4).size)
  }

  test("manifest: an older (n_docs, bucket) manifest's buckets read as committed") {
    // the layout a build wrote before the manifest held document rows:
    // one n_docs row per bucket, and a per-document metrics table beside it
    val dir = tempDir("graft-oldmanifest")
    val corpus = Corpus.synthetic(spark, nDocs = 40, linesPerDoc = 5)
    val perBucket = corpusCounts(corpus, 8)
    val old = perBucket.toSeq.sorted.take(3)
    old.toDF("bucket", "n_docs").write.partitionBy("bucket").parquet(s"$dir/manifest")
    Materialize.metrics(corpus.toDF(), TripleExtract.parse(corpus).toDF())
      .withColumn("bucket", Materialize.bucketOf(8)).filter($"bucket".isin(old.map(_._1): _*))
      .write.partitionBy("bucket").parquet(s"$dir/metrics")
    assert(Materialize.run(spark, corpus, dir, buckets = 8) == perBucket.size - 3)
    assert(Materialize.run(spark, corpus, dir, buckets = 8) == 0)
    // the old buckets keep their rows, document columns NULL; the new ones
    // hold one row per document; metrics/ is left as it was
    val committed = Materialize.readManifest(spark, s"$dir/manifest")
    assert(committed.filter($"path".isNull).select("bucket").as[Long].collect().toSet ==
      old.map(_._1).toSet)
    assert(manifestCounts(dir) == perBucket.map { case (b, n) =>
      b -> (if (old.exists(_._1 == b)) 1L else n) })
    assert(spark.read.parquet(s"$dir/metrics").count() == old.map(_._2).sum)
  }

  test("manifest: an unreadable manifest fails the run before any work") {
    val corpus = Corpus.synthetic(spark, nDocs = 16, linesPerDoc = 5)
    // a committed manifest file that is not parquet
    val corrupt = tempDir("graft-badmanifest")
    val bucketDir = new java.io.File(s"$corrupt/manifest/bucket=0")
    assert(bucketDir.mkdirs())
    Files.write(new java.io.File(bucketDir, "part-00000.snappy.parquet").toPath, "not parquet".getBytes)
    val readFailure = intercept[SparkException](Materialize.run(spark, corpus, corrupt, buckets = 4))
    assert(readFailure.getMessage.contains("manifest/bucket=0"))
    assert(!new java.io.File(s"$corrupt/staging").exists())
    // a bucket directory whose value is not a bucket number
    val foreign = tempDir("graft-foreignmanifest")
    Seq(1L).toDF("n_docs").write.parquet(s"$foreign/manifest/bucket=x")
    val castFailure = intercept[RuntimeException](
      Materialize.run(spark, corpus, foreign, buckets = 4))
    assert(castFailure.getMessage.contains("INVALID_PARTITION_VALUE"))
    assert(!new java.io.File(s"$foreign/staging").exists())
  }

  test("metrics carry the per-document content sha256 invariant") {
    val corpus = Seq(
      CorpusRow("r", "good.nt", "c", "nt", "<a:b> <c:d> <e:f> .\n# note\n"),
      CorpusRow("r", "bad.nt", "c", "nt", "oops\n<a:b> <c:d> \"x\" .")).toDS()
    val m = Materialize.metrics(corpus.toDF(), TripleExtract.parse(corpus).toDF())
    val rows = m.select("path", "content_sha256", "n_triples", "n_errors")
      .as[(String, String, Long, Long)].collect().sortBy(_._1).toList
    val shaGood = java.security.MessageDigest.getInstance("SHA-256")
      .digest("<a:b> <c:d> <e:f> .\n# note\n".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows.map(r => (r._1, r._3, r._4)) == List(("bad.nt", 1L, 1L), ("good.nt", 1L, 0L)))
    assert(rows.find(_._1 == "good.nt").get._2 == shaGood)
  }

  test("lenient corpus slicing spans multi-line long literals (B12 corpus-level)") {
    // reference parity: LenientNtParserSpec.scala:34-40 — a """baz\nqux"""
    // literal parses from one multi-line input; through the corpus slicer
    // the statement keeps its first physical line number and subsequent
    // statements stay correctly numbered
    val content = "<a:b> <p:q> \"\"\"baz\nqux\"\"\" .\n" + // lines 1-2
      "<a:b> <p:r> \"\"\"a\n\nb\"\"\"@en .\n" +            // lines 3-5
      "bad line\n" +                                        // line 6
      "<a:b> <p:s> \"after\" ."                             // line 7
    val corpus = Seq(CorpusRow("r", "ml.nt", "c", TripleExtract.LangLenient, content)).toDS()
    val parsed = TripleExtract.parse(corpus)
    val triples = TripleExtract.triples(parsed).collect().sortBy(_.line)
    assert(triples.map(t => (t.line, t.obj.value, t.obj.lang)).toList ==
      List((1, "baz\nqux", null), (3, "a\n\nb", "en"), (7, "after", null)))
    val errs = TripleExtract.errors(parsed).collect()
    assert(errs.map(_.line).toList == List(6))
    // a document ending inside an unclosed long literal is ONE error row
    // at the statement's start line, not one per remaining physical line
    val unclosed = Seq(CorpusRow("r", "uc.nt", "c", TripleExtract.LangLenient,
      "<a:b> <p:q> \"ok\" .\n<a:b> <p:q> \"\"\"never\ncloses")).toDS()
    val uerrs = TripleExtract.errors(TripleExtract.parse(unclosed)).collect()
    assert(uerrs.map(_.line).toList == List(2))
    assert(TripleExtract.triples(TripleExtract.parse(unclosed)).count() == 1)
    // strict mode is untouched: the same content errors line-by-line
    val strict = Seq(CorpusRow("r", "s.nt", "c", "nt", "<a:b> <p:q> \"\"\"baz\nqux\"\"\" .")).toDS()
    assert(TripleExtract.errors(TripleExtract.parse(strict)).count() == 2)
  }

  test("lenient multi-line extension is escape-exact and O(n) on adversarial input") {
    // 1) every appended line CONTAINS the substring `"""`, but as \" + ""
    //    (escaped quote + two content quotes) so the literal never closes
    //    there. The r2 substring guard re-parsed the growing window once
    //    per line — O(lines^2) parse work (ADVICE r2); the escape-exact
    //    scanner does one pass. 50k lines: a quadratic regression here
    //    costs ~15 GB of char scans and stalls the suite.
    val nLines = 50000
    val hostileBody = (1 to nLines).map(_ => "x\\\"\"\"").mkString("\n")
    val hostile = "<a:b> <p:q> \"\"\"open\n" + hostileBody + "\nclose\"\"\" .\n" +
      "<a:b> <p:r> \"after\" ."
    val c1 = Seq(CorpusRow("r", "h.nt", "c", TripleExtract.LangLenient, hostile)).toDS()
    val t1 = TripleExtract.triples(TripleExtract.parse(c1)).collect().sortBy(_.line)
    val expectedLit = "open\n" + (1 to nLines).map(_ => "x\"\"\"").mkString("\n") + "\nclose"
    assert(t1.map(t => (t.line, t.obj.value)).toList ==
      List((1, expectedLit), (nLines + 3, "after")))

    // 2) a line ending in an unescaped backslash makes the line terminator
    //    the escape payload — guaranteed invalid escape: the statement
    //    errors after ONE more extension (per-line re-parse semantics),
    //    consuming exactly lines 1-3; line 4 starts a fresh statement
    val c2 = Seq(CorpusRow("r", "b.nt", "c", TripleExtract.LangLenient,
      "<a:b> <p:q> \"\"\"open\nabc\\\n<a:b> <p:r> \"swallowed\" .\n<a:b> <p:s> \"after\" .")).toDS()
    val p2 = TripleExtract.parse(c2)
    assert(TripleExtract.errors(p2).collect().map(_.line).toList == List(1))
    assert(TripleExtract.triples(p2).collect().map(t => (t.line, t.obj.value)).toList ==
      List((4, "after")))
    // an ESCAPED backslash at line end is content, not a pending escape
    val c2b = Seq(CorpusRow("r", "bb.nt", "c", TripleExtract.LangLenient,
      "<a:b> <p:q> \"\"\"open\\\\\nmore\"\"\" .")).toDS()
    assert(TripleExtract.triples(TripleExtract.parse(c2b)).collect()
      .map(_.obj.value).toList == List("open\\\nmore"))

    // 3) incomplete \uXXXX hex body at the window end behaves the same way
    val c3 = Seq(CorpusRow("r", "u.nt", "c", TripleExtract.LangLenient,
      "<a:b> <p:q> \"\"\"open\\u00\n<a:b> <p:r> \"swallowed\" .\n<a:b> <p:s> \"after\" .")).toDS()
    val p3 = TripleExtract.parse(c3)
    assert(TripleExtract.errors(p3).collect().map(_.line).toList == List(1))
    assert(TripleExtract.triples(p3).collect().map(t => (t.line, t.obj.value)).toList ==
      List((3, "after")))

    // 4) a quote run split by the line terminator is content, and the
    //    close is found exactly where the parser finds it
    val c4 = Seq(CorpusRow("r", "q.nt", "c", TripleExtract.LangLenient,
      "<a:b> <p:q> \"\"\"a\"\"\n\"b\"\"\" .")).toDS()
    assert(TripleExtract.triples(TripleExtract.parse(c4)).collect()
      .map(_.obj.value).toList == List("a\"\"\n\"b"))
  }

  test("lenient extension matches re-parse-after-every-line semantics on fuzzed docs") {
    // SEMANTIC ORACLE for LongLitScan: RouteOracle's O(n^2) definition —
    // extend the statement window one physical line at a time and re-parse
    // after EVERY extension. The production scanner must produce the
    // identical row sequence on documents dense in quotes/backslashes/escapes.
    def referenceParse(content: String): Seq[(Boolean, Int, String)] =
      RouteOracle.rows(content, lenient = true).map(r => (r._1, r._2, if (r._1) r._11 else r._7))

    val pool = Array(
      "<a:b> <p:q> \"\"\"", "\"\"\"", "\"\"\" .", "\"\"\"@en .", "x y", "\\",
      "\\\\", "\\\"", "\"", "\"\"", "\\u00", "41", "\\\"\"\"",
      "<a:b> <p:q> \"v\" .", "# c", "")
    // campaign 2 (r4): the same token pool with RANDOM line terminators
    // (\n, \r\n, lone \r) between lines — web corpora are CRLF-dense and
    // a long-literal window spanning a \r\n boundary must behave exactly
    // like the per-line re-parse oracle on both kernels
    val terminators = Array("\n", "\r\n", "\r")
    val docs = (0 until 450).map { seed =>
      val rnd = new scala.util.Random(seed)
      val nLines = 3 + rnd.nextInt(12)
      val lines = (0 until nLines).map { _ =>
        (0 until (1 + rnd.nextInt(3))).map(_ => pool(rnd.nextInt(pool.length))).mkString("")
      }
      val content =
        if (seed < 300) lines.mkString("\n")
        else lines.init.map(l => l + terminators(rnd.nextInt(terminators.length)))
          .mkString("") + lines.last
      CorpusRow("r", s"f$seed.nt", "c", TripleExtract.LangLenient, content)
    }
    val expected = docs.map(d => d.path ->
      (d.content, referenceParse(d.content))).toMap
    val corpus = docs.toDS()
    def byPath(rows: Seq[(String, Boolean, Int, String)]) =
      rows.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(r => (r._2, r._3, r._4)).toSeq).toMap
    val viaExpr = byPath(TripleExtract.parseExpr(corpus.toDF()).collect().toSeq
      .map(r => (r.getString(2), r.getBoolean(0), r.getInt(4),
        if (r.getBoolean(0)) r.getString(13) else r.getString(9))))
    for ((path, (content, exp)) <- expected) {
      val e = viaExpr.getOrElse(path, Seq.empty)
      if (e != exp) fail(s"$path\n--- content ---\n${Escaped(content)}\n" +
        s"--- expected ${Escaped(exp.toString)}\n--- got ${Escaped(e.toString)}")
    }
  }

  test("compaction rewrites small files without changing the data") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    spark.range(10000).select(col("id"), (col("id") * 7).as("v"))
      .repartition(32).write.parquet(dir) // 32 tiny files
    def files() = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    val before = files()
    assert(before >= 16)
    val rows = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val n = Materialize.compact(spark, dir) // everything fits one target file
    assert(n == 1 && files() == 1)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == rows)
    // no temp/backup residue after a clean run
    val parent = new java.io.File(dir).getParentFile.listFiles.map(_.getName)
    assert(!parent.exists(_.contains("compact_")))
  }

  test("canon_iri SQL function exposes the native canonicalizer") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT canon_iri('HTTP://Example.COM:80/Path?Q=1') AS c").head().getString(0)
    assert(got == "http://example.com/Path?Q=1")
  }

  test("salted repartition spreads hub subjects across partitions") {
    // skewed edges: one hub subject owns 70% of rows
    val rows = (1 to 2000).map { i =>
      val subj = if (i % 10 < 7) "hub" else s"s$i"
      (subj, s"p$i")
    }
    val df = rows.toDF("subj_id", "pred")
    def maxPartitionShare(d: org.apache.spark.sql.DataFrame): Double = {
      val counts = d.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
      counts.max.toDouble / counts.sum
    }
    val unsalted = df.repartition(8, $"subj_id")
    val salted = Materialize.saltedRepartition(df, $"subj_id",
      saltFrom = Seq($"subj_id", $"pred"), salts = 16, numPartitions = 8)
    val u = maxPartitionShare(unsalted)
    val s = maxPartitionShare(salted)
    assert(u > 0.5, s"unsalted should be skewed, was $u")
    assert(s < 0.35, s"salted should be balanced, was $s")
    assert(salted.count() == 2000)
    // determinism across re-evaluation (the SPARK-23207 retry guarantee):
    // the same row lands in the same partition on every recompute
    def partOf(d: org.apache.spark.sql.DataFrame) =
      d.rdd.mapPartitionsWithIndex((p, it) => it.map(r => (r.getString(1), p))).collect().toMap
    assert(partOf(salted) == partOf(salted))
  }

  test("strict gate fails fast on the first parse error (C4)") {
    val bad = Seq(
      CorpusRow("r", "ok.nt", "c", "nt", "<a:b> <c:d> <e:f> ."),
      CorpusRow("r", "bad.nt", "c", "nt", "nope")).toDS()
    val e = intercept[NtParseException] {
      TripleExtract.failOnErrors(TripleExtract.parse(bad))
    }
    assert(e.getMessage.contains("strict mode") && e.getMessage.contains("bad.nt"))
    // clean corpus passes
    TripleExtract.failOnErrors(TripleExtract.parse(bad.filter(_.path == "ok.nt")))
    // Materialize strict mode refuses too
    val dir = Files.createTempDirectory("graft-strict").toString
    val e2 = intercept[NtParseException] {
      Materialize.run(spark, bad, dir, buckets = 2, strict = true)
    }
    assert(e2.getMessage.contains("bad.nt"))
  }

  test("bucketed edges table: subject self-join plans without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = Corpus.synthetic(spark, nDocs = 20, linesPerDoc = 20)
      val triples = Canonicalize(Skolemize(
        TripleExtract.triples(TripleExtract.parse(corpus)).toDF()))
      Materialize.saveBucketedEdges(Materialize.edges(triples), "edges_b", buckets = 4)
      val e = spark.table("edges_b")
      val joined = e.as("x").join(e.as("y"), "subj_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed self-join must be shuffle-free:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS edges_b")
    }
  }

  test("flagship entry() returns rows on sf0.001 (driver smoke contract)") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("pred", "n_edges", "n_subjects"))
  }

  test("lenient corpus rows skip bad lines instead of erroring the doc") {
    val corpus = Seq(
      CorpusRow("r", "mix.nt", "c", TripleExtract.LangLenient,
        "<a:b> <c:d> \"\"\"long\"\"\" .\nbroken\n<a:b> <c:d> \"ok\" .")).toDS()
    val parsed = TripleExtract.parse(corpus)
    assert(TripleExtract.triples(parsed).count() == 2)
    assert(TripleExtract.errors(parsed).count() == 1)
  }
}
