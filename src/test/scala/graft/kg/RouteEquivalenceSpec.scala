package graft.kg

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import RouteOracle.OracleRow
import RouteEquivalenceSpec.Doc

/**
 * Every Spark parse entry point — `TripleExtract.parse`, `parseExpr`, SQL
 * `parse_nt`, and `NtFileSource.documents` and UTF-8
 * `documentsWithCharset` files through `parse` — gives
 * the per-line NtLineParser oracle's rows (RouteOracle) on the same
 * document bytes, including raw invalid UTF-8, which a string column can
 * hold when it comes from a binary cast or a text file.
 */
class RouteEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def doc(path: String, lang: String, content: String) =
    Doc(path, lang, content.getBytes(StandardCharsets.UTF_8))

  private type Rows = Map[String, Seq[OracleRow]]

  private def byPath(rows: Seq[(String, OracleRow)]): Rows =
    rows.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2)).toMap

  private def expected(docs: Seq[Doc]): Rows =
    docs.map(d => d.path -> RouteOracle.rows(d.bytes, d.lang == TripleExtract.LangLenient))
      .filter(_._2.nonEmpty).toMap

  /** The corpus as a content column cast from the documents' raw bytes. */
  private def frame(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.path, d.lang, d.bytes.map(b => f"${b & 0xFF}%02X").mkString)).toDF("path", "lang", "hex")
      .select(lit("r").as("repo"), col("path"), lit("c").as("commit"), col("lang"),
        unhex(col("hex")).cast("string").as("content"))

  private def viaParse(docs: Seq[Doc]): Rows =
    byPath(TripleExtract.parse(frame(docs).as[CorpusRow]).collect().toSeq.map(r => r.path -> RouteOracle.of(r)))

  private def viaParseExpr(docs: Seq[Doc]): Rows =
    byPath(TripleExtract.parseExpr(frame(docs)).collect().toSeq
      .map(r => r.getAs[String]("path") -> RouteOracle.of(r)))

  private def viaSql(docs: Seq[Doc]): Rows = {
    GraftFunctions.register(spark)
    frame(docs).createOrReplaceTempView("route_corpus")
    byPath(spark.sql(
      "SELECT path, p.* FROM route_corpus LATERAL VIEW parse_nt(content, lang) p")
      .collect().toSeq.map(r => r.getAs[String]("path") -> RouteOracle.of(r)))
  }

  /** Each document written verbatim to a file, read back per mode with
    * `read(glob, lang)`. */
  private def viaFiles(docs: Seq[Doc])(read: (String, String) => Dataset[CorpusRow]): Rows = {
    val root = Files.createTempDirectory("graft-route")
    val names = docs.zipWithIndex.map { case (d, i) =>
      val dir = root.resolve(d.lang)
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"d$i.nt"), d.bytes)
      s"d$i.nt" -> d.path
    }.toMap
    val rows = docs.map(_.lang).distinct.flatMap { lang =>
      TripleExtract.parse(read(s"$root/$lang/*", lang))
        .collect().toSeq.map(r => names(r.path.split('/').last) -> RouteOracle.of(r))
    }
    byPath(rows)
  }

  private def documents(glob: String, lang: String) =
    NtFileSource.documents(spark, glob, lang = lang)
  private def withCharset(charset: String)(glob: String, lang: String) =
    NtFileSource.documentsWithCharset(spark, glob, charset, lang = lang)

  private def assertAllRoutes(docs: Seq[Doc]): Unit = {
    val exp = expected(docs)
    assert(exp.nonEmpty)
    for ((route, got) <- Seq("parse" -> viaParse(docs), "parseExpr" -> viaParseExpr(docs),
           "parse_nt" -> viaSql(docs), "documents+parse" -> viaFiles(docs)(documents),
           "documentsWithCharset+parse" -> viaFiles(docs)(withCharset("UTF-8")));
         path <- (exp.keySet ++ got.keySet).toSeq.sorted)
      if (got.get(path) != exp.get(path))
        fail(s"$route on $path: got ${Escaped(got.get(path).toString)}, " +
          s"expected ${Escaped(exp.get(path).toString)}")
  }

  test("W3C fixtures and the skewed synthetic corpus: every route gives the oracle's rows") {
    val w3c = Corpus.w3cFixtures(spark).collect().toSeq
    val docs = w3c.map(d => doc(d.path, TripleExtract.LangStrict, d.content)) ++
      w3c.map(d => doc("lenient/" + d.path, TripleExtract.LangLenient, d.content)) ++
      Corpus.synthetic(spark, nDocs = 40, linesPerDoc = 30).collect().toSeq
        .map(d => doc(d.path, d.lang, d.content)) ++ Seq(
      doc("len.nt", TripleExtract.LangLenient,
        "<a:b> <p:q> \"\"\"long \"lit\"\"\"\" .\nbad\n<a:b> <p:q> \"ok\" ."),
      doc("ml.nt", TripleExtract.LangLenient,
        "<a:b> <p:q> \"\"\"baz\nqux\"\"\" .\n<a:b> <p:r> \"\"\"t\"\"\"@en .\n<a:b> <p:s> \"\"\"open"),
      // an out-of-range \U on a continuation line ends the window there
      doc("cp.nt", TripleExtract.LangLenient,
        "<a:b> <p:q> \"\"\"open\nx\\U00110000y\n<a:b> <p:r> \"after\" .\nclose\"\"\" ."))
    assertAllRoutes(docs)
  }

  test("CR, CRLF and lone-CR terminators, NUL and lone surrogates: every route gives the oracle's rows") {
    val strict = TripleExtract.LangStrict
    val lenient = TripleExtract.LangLenient
    assertAllRoutes(Seq(
      doc("crlf.nt", strict, "<a:b> <c:d> \"one\" .\r\n<a:b> <c:d> \"two\" .\r\n"),
      doc("cr.nt", strict, "<a:b> <c:d> \"one\" .\r<a:b> <c:d> \"two\" .\rbad\r\r<a:b> <c:d> \"x\" ."),
      doc("mixed.nt", strict, "<a:b> <c:d> \"one\" .\r\n\r\n\n\r<a:b> <c:d> \"two\" .\n\r"),
      doc("mlcrlf.nt", lenient, "<a:b> <p:q> \"\"\"c\r\nr\"\"\" .\r\n<a:b> <p:r> \"n\" ."),
      doc("mlcr.nt", lenient, "<a:b> <p:q> \"\"\"c\rr\"\"\" .\r<a:b> <p:r> \"n\" .\r"),
      doc("nul.nt", strict, "<a:b> <c:d> \"x\u0000y\" .\n\u0000\n<a:b\u0000> <c:d> <e:f> .\n" +
        "<a:b> <c:d> \"z\" .\u0000\n<a:b> <c:d> \"\\u0000\" ."),
      doc("nullen.nt", lenient, "<a:b> <p:q> \"\"\"n\u0000\nul\"\"\" .\n\u0000bad"),
      doc("surrogate.nt", strict, "<a:b> <c:d> \"x\uD800y\" .\n<a:\uDC00> <c:d> <e:f> .\n" +
        "<a:b> <c:d> \"\\uD800\" .\n<a:b> <c:d> \"\uD83D\uDE00\" ."),
      doc("surrogatelen.nt", lenient, "<a:b> <p:q> \"\"\"\uDBFF\n\\uDFFF\"\"\" .")))
  }

  // `<a:b> <p:q> "x\xC3(y" .` — C3 opens a two-byte sequence, `(` is not a
  // continuation byte: the reference's reporting decoder refuses the file
  private val badLine = "<a:b> <p:q> \"x".getBytes(StandardCharsets.UTF_8) ++
    Array(0xC3.toByte) ++ "(y\" .".getBytes(StandardCharsets.UTF_8)
  private def lines(parts: Array[Byte]*): Array[Byte] =
    parts.reduce(_ ++ "\n".getBytes(StandardCharsets.UTF_8) ++ _)
  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("the reference's loader refuses raw invalid UTF-8") {
    // Loader.getLines: Source.fromInputStream(is)(Codec.UTF8).getLines()
    val in = new java.io.ByteArrayInputStream(badLine)
    intercept[java.nio.charset.MalformedInputException] {
      scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).getLines().toList
    }
  }

  test("raw invalid UTF-8 is one error row per malformed window on every route") {
    val docs = Seq(
      Doc("bad.nt", TripleExtract.LangStrict,
        lines(utf8("<a:b> <p:q> \"é\" ."), badLine, utf8("<a:b> <p:q> \"ok\" ."))),
      Doc("badlen.nt", TripleExtract.LangLenient,
        lines(utf8("<a:b> <p:q> \"\"\"open"), badLine, utf8("close\"\"\" ."), utf8("# \u00e9 "),
          utf8("# ") ++ Array(0xFF.toByte), Array(0xE2.toByte, 0x82.toByte), utf8("<a:b> <p:q> \"ok\" ."))),
      Doc("badend.nt", TripleExtract.LangStrict, utf8("<a:b> <p:q> \"ok\" . # ") ++ Array(0xF0.toByte)))
    assertAllRoutes(docs)
    val exp = expected(docs)
    // a UTF-8 alias takes the same cast, not Spark's failing `decode`
    assert(viaFiles(docs)(withCharset("utf8")) == exp)
    assert(exp("bad.nt")(1) == ((true, 2, -1.toByte, null, null, -1.toByte, null, null, null, 15,
      "parse error in line 2 at char 15, malformed UTF-8 input [C3]")))
    assert(exp("bad.nt").map(r => (r._1, r._2)) == Seq((false, 1), (true, 2), (false, 3)))
    // lenient: the long literal's window (lines 1-3) holds the bad byte
    assert(exp("badlen.nt").map(r => (r._1, r._2, r._10)) ==
      Seq((true, 1, 35), (true, 5, 3), (true, 6, 1), (false, 7, 0)))

    // strict jobs fail through the gate, as the reference refuses the file
    val strict = TripleExtract.parse(frame(docs.take(1)).as[CorpusRow])
    val ex = intercept[NtParseException](TripleExtract.failOnErrors(strict))
    assert(ex.shortMessage.contains("malformed UTF-8 input [C3]"))
    // the line-per-row file source checks each line the same way
    val dir = Files.createTempDirectory("graft-route-lines")
    Files.write(dir.resolve("bad.nt"), docs.head.bytes)
    val perLine = NtFileSource.parseLines(spark, s"$dir/*.nt").collect()
    assert(perLine.map(r => (r.err, r.line)).sorted.toSeq ==
      Seq((false, 1), (false, 1), (true, 1)))
    assert(perLine.filter(_.err).head.message ==
      "parse error in line 1 at char 15, malformed UTF-8 input [C3]")
  }
}

object RouteEquivalenceSpec {
  final case class Doc(path: String, lang: String, bytes: Array[Byte])
}
