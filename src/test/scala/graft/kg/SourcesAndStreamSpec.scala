package graft.kg

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** File ingestion (incl. transparent gzip) and the streaming front-end. */
class SourcesAndStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("parseOpt / parseTry / parseOrNull surface parity") {
    val p = NtLineParser.strict
    assert(p.parseOpt("<a:b> <c:d> <e:f> .").isDefined)
    assert(p.parseOpt("# comment").isEmpty)
    assert(p.parseOrNull("garbage") == null)
    assert(p.parseTry("garbage").isFailure)
    assert(p.parseTry("").get.isEmpty)
    assert(p.parseTry("<a:b> <c:d> \"x\" .").get.get.obj == RdfTerm.simpleLiteral("x"))
  }

  test("file source reads plain and gzipped nt files identically") {
    val dir = Files.createTempDirectory("graft-files")
    val content = "<a:b> <c:d> <e:f> .\n# comment\n<a:b> <c:d> \"x\" .\n"
    Files.writeString(dir.resolve("plain.nt"), content)
    val gz = new GZIPOutputStream(Files.newOutputStream(dir.resolve("zipped.nt.gz")))
    gz.write(content.getBytes("UTF-8")); gz.close()

    val docs = NtFileSource.documents(spark, dir.toString + "/*")
    assert(docs.count() == 2)
    val parsed = TripleExtract.parse(docs)
    val perFile = TripleExtract.triples(parsed).toDF()
      .groupBy("path").count().as[(String, Long)].collect().toMap
    assert(perFile.size == 2 && perFile.values.forall(_ == 2L))
    assert(perFile.keys.exists(_.endsWith("plain.nt")))
    assert(perFile.keys.exists(_.endsWith("zipped.nt.gz")))
    // decompressed content parses to the same triples
    val objs = TripleExtract.triples(parsed).toDF()
      .select("path", "obj.value").as[(String, String)].collect()
      .groupBy(_._1.split('/').last).view.mapValues(_.map(_._2).sorted.toList).toMap
    assert(objs("plain.nt") == objs("zipped.nt.gz"))
  }

  test("line-per-row file source parses splittable text") {
    val dir = Files.createTempDirectory("graft-lines")
    Files.writeString(dir.resolve("big.nt"),
      (1 to 100).map(i => s"<e:$i> <p:v> \"$i\" .").mkString("\n") + "\nbad line\n")
    val parsed = NtFileSource.parseLines(spark, dir.toString + "/*.nt")
    assert(parsed.filter(!_.err).count() == 100)
    val errs = parsed.filter(_.err).collect()
    assert(errs.length == 1 && errs.head.message.contains("expected [<, _, or #]"))
    // each text row is a one-line document: every row carries line 1
    assert(parsed.collect().forall(_.line == 1))
    assert(errs.head.message.startsWith("parse error in line 1 at char 1,"))
  }

  test("charset-variant file source decodes non-UTF8 nt files (A5)") {
    val dir = Files.createTempDirectory("graft-charset")
    val line = "<u:café> <p:q> \"café\" .\n"
    Files.write(dir.resolve("latin1.nt"), line.getBytes("ISO-8859-1"))
    val docs = NtFileSource.documentsWithCharset(spark, dir.toString + "/*.nt", "ISO-8859-1")
    val t = TripleExtract.triples(TripleExtract.parse(docs)).collect()
    assert(t.length == 1)
    assert(t.head.subj.value == "u:café" && t.head.obj.value == "café")
  }

  test("CRLF and lone-CR line terminators slice like BufferedReader") {
    val corpus = Seq(CorpusRow("r", "crlf.nt", "c", "nt",
      "<a:b> <c:d> \"one\" .\r\n<a:b> <c:d> \"two\" .\r<a:b> <c:d> \"three\" .")).toDS()
    val t = TripleExtract.triples(TripleExtract.parse(corpus)).collect().sortBy(_.line)
    assert(t.map(_.obj.value).toList == List("one", "two", "three"))
    assert(t.map(_.line).toList == List(1, 2, 3))
  }

  test("java-facing iterator parse surface (A5)") {
    import scala.jdk.CollectionConverters._
    val lines = List("<a:b> <c:d> \"x\" .", "# c", "bad", "<a:b> <c:d> \"y\" .")
    val lenient = javadsl.NtParsing.parseLenient(lines.iterator.asJava).asScala.toList
    assert(lenient.map(_.obj.value) == List("x", "y"))
    intercept[NtParseException] {
      javadsl.NtParsing.parseStrict(lines.iterator.asJava).asScala.toList
    }
  }

  test("stateful streaming dedup keeps first doc per fingerprint across batches") {
    val in = java.nio.file.Files.createTempDirectory("graft-dedup-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-dedup-out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-dedup-chk").toString
    Seq(CorpusRow("r", "a.nt", "c", "nt", "same text"),
        CorpusRow("r", "b.nt", "c", "nt", "same text"),
        CorpusRow("r", "c.nt", "c", "nt", "other")).toDS()
      .write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = NtStream.dedupStream(NtStream.corpusStream(spark, in))
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    val first = spark.read.parquet(out)
    assert(first.count() == 2) // one per distinct content
    // batch 2: duplicate of "other" + a new doc
    Seq(CorpusRow("r", "d.nt", "c", "nt", "other"),
        CorpusRow("r", "e.nt", "c", "nt", "brand new")).toDS()
      .write.mode("append").parquet(in)
    runOnce()
    val all = spark.read.parquet(out)
    assert(all.count() == 3) // "other" dup suppressed by state, "brand new" kept
  }

  test("stream-static BGP enrichment joins live bindings to the static graph") {
    val in = java.nio.file.Files.createTempDirectory("graft-sbgp-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sbgp-out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-sbgp-chk").toString
    Seq(CorpusRow("r", "a.nt", "c", "nt",
          "<urn:a> <urn:in> <urn:r1> .\n<urn:a> <urn:other> <urn:r2> ."),
        CorpusRow("r", "b.nt", "c", "nt", "<urn:b> <urn:in> <urn:r9> ."))
      .toDS().write.mode("append").parquet(in)
    val statics = Seq(("urn:r1", "rname", "east"), ("urn:r2", "rname", "west"))
      .toDF("subj_id", "pred", "obj_id")
    val enriched = NtStream.bgpEnrich(
      NtStream.edgeStream(NtStream.parsedStream(NtStream.corpusStream(spark, in))),
      statics,
      Bgp.TriplePattern(Bgp.V("x"), Bgp.C("urn:in"), Bgp.V("rk")),
      Seq(Bgp.TriplePattern(Bgp.V("rk"), Bgp.C("rname"), Bgp.V("nm"))))
    enriched.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(60000)
    val got = spark.read.parquet(out).select("x", "rk", "nm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // urn:a's <urn:in> edge joins r1/east; its <urn:other> edge doesn't
    // match the pattern; urn:b's r9 has no static row -> dropped
    assert(got === Set(("urn:a", "urn:r1", "east")))
    val ex = intercept[IllegalArgumentException](NtStream.bgpEnrich(
      statics, statics,
      Bgp.TriplePattern(Bgp.V("x"),
        Bgp.PathPat(Bgp.PClosure(Bgp.PLeaf("urn:in"), '+')), Bgp.V("y")), Nil))
    assert(ex.getMessage.contains("plain"))
  }

  test("streaming kernel over a file stream matches the batch kernel") {
    val in = Files.createTempDirectory("graft-stream-in").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    val chk = Files.createTempDirectory("graft-stream-chk").toString
    // land two corpus parquet batches
    val batch1 = Seq(CorpusRow("r", "a.nt", "c", "nt", "<a:b> <c:d> <e:f> .\n<a:b> <c:d> \"x\" ."))
    val batch2 = Seq(CorpusRow("r", "b.nt", "c", "nt", "bad\n<a:b> <c:d> \"y\" ."))
    batch1.toDS().write.mode("append").parquet(in)
    batch2.toDS().write.mode("append").parquet(in)

    val q = NtStream.writer(NtStream.parsedStream(NtStream.corpusStream(spark, in)), out, chk).start()
    q.awaitTermination(60000)

    val parsed = spark.read.parquet(out)
    assert(parsed.filter(!col("err")).count() == 3)
    assert(parsed.filter(col("err")).count() == 1)
    // incremental: a third batch is picked up from the checkpoint
    Seq(CorpusRow("r", "c.nt", "c", "nt", "<a:b> <c:d> \"z\" ."))
      .toDS().write.mode("append").parquet(in)
    val q2 = NtStream.writer(NtStream.parsedStream(NtStream.corpusStream(spark, in)), out, chk).start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).filter(!col("err")).count() == 4)
  }
}
