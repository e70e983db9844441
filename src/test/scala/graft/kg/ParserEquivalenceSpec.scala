package graft.kg

import org.scalacheck.{Gen, Prop, Test => SC}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import org.apache.spark.unsafe.types.UTF8String

/**
 * Differential suite: NtBytesParser (UTF-8 byte cursor, UTF8String
 * output) must agree with NtLineParser (the reference implementation)
 * on every fixture line and on generated statements — same triples,
 * same null/skip decisions, same error messages and char positions.
 */
class ParserEquivalenceSpec extends AnyFunSuite {

  private def viaBytes(p: NtBytesParser, line: String, no: Int): Either[(Int, String), NtStatement] = {
    val bytes = line.getBytes(StandardCharsets.UTF_8)
    try {
      if (!p.parseSlice(bytes, 0, bytes.length, no)) Right(null)
      else Right(NtStatement(
        RdfTerm(p.subjKind, p.subjValue.toString, null, null),
        p.predValue.toString,
        RdfTerm(p.objKind, p.objValue.toString,
          if (p.objLang == null) null else p.objLang.toString,
          if (p.objDt == null) null else p.objDt.toString)))
    } catch { case e: NtParseException => Left((e.charPos, e.getMessage)) }
  }

  private def viaChars(p: NtLineParser, line: String, no: Int): Either[(Int, String), NtStatement] =
    try Right(p.parseStatement(line, no))
    catch { case e: NtParseException => Left((e.charPos, e.getMessage)) }

  private def outcomes(line: String, no: Int, strict: Boolean) =
    (viaBytes(if (strict) NtBytesParser.strict else NtBytesParser.lenient, line, no),
      viaChars(new NtLineParser(strict), line, no))

  private def assertSame(line: String, no: Int, strict: Boolean): Unit = {
    val (b, c) = outcomes(line, no, strict)
    if (b != c) fail(s"mismatch on: ${Escaped(line)}\nbytes=${Escaped(b.toString)}\nchars=${Escaped(c.toString)}")
  }

  private def fixtureLines(name: String): List[String] = {
    val in = getClass.getResourceAsStream(s"/w3c/$name")
    val content = try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).mkString finally in.close()
    scala.io.Source.fromString(content).getLines().toList
  }

  test("all W3C fixture lines parse identically in both parsers") {
    Corpus.fixtureNames.foreach { n =>
      fixtureLines(n).zipWithIndex.foreach { case (l, i) =>
        assertSame(l, i + 1, strict = true)
        assertSame(l, i + 1, strict = false)
      }
    }
  }

  test("byte-mutated W3C lines: a triple, a skip or an in-line NtParseException (property)") {
    val lines = Corpus.fixtureNames.flatMap(fixtureLines).filter(_.nonEmpty).toIndexedSeq
    val invalidUtf8 = Seq(0x80, 0xBF, 0xC0, 0xC3, 0xE2, 0xED, 0xF0, 0xF8, 0xFF).map(_.toByte)
    val genMutant: Gen[Array[Byte]] = for {
      line <- Gen.oneOf(lines)
      kind <- Gen.choose(0, 6)
      at0 <- Gen.choose(0, line.length * 4)
      b <- Gen.choose(0, 255)
      bad <- Gen.oneOf(invalidUtf8)
      esc <- Gen.oneOf("\\u", "\\u0", "\\u00", "\\u000", "\\U0000", "\\U000000")
    } yield {
      val bytes = line.getBytes(StandardCharsets.UTF_8)
      val at = at0 % (bytes.length + 1)
      def insert(ins: Array[Byte]) = bytes.take(at) ++ ins ++ bytes.drop(at)
      kind match {
        case 0 => // flip one bit of one byte
          val m = bytes.clone(); val i = at % bytes.length
          m(i) = (m(i) ^ (1 << (b & 7))).toByte; m
        case 1 => bytes.take(at) // truncation
        case 2 => insert(Array('\r'.toByte))
        case 3 => insert(esc.getBytes(StandardCharsets.UTF_8)) // split escape
        case 4 => insert(Array(0.toByte))
        case 5 => insert(Array(bad))
        case _ => // overwrite one byte with any value
          val m = bytes.clone(); m(at % bytes.length) = b.toByte; m
      }
    }
    val res = SC.check(SC.Parameters.default.withMinSuccessfulTests(3000),
      Prop.forAll(genMutant) { bytes =>
        val decodedLength = new String(bytes, StandardCharsets.UTF_8).length
        val inLine = Seq(NtBytesParser.strict, NtBytesParser.lenient).forall { p =>
          try { p.parseSlice(bytes, 0, bytes.length, 1); true }
          catch { case e: NtParseException => e.charPos >= 1 && e.charPos <= decodedLength + 1 }
        }
        // on valid UTF-8 the byte kernel must agree with the char kernel
        val agree = !UTF8String.fromBytes(bytes).isValid || {
          val line = new String(bytes, StandardCharsets.UTF_8)
          Seq(true, false).forall(strict => outcomes(line, 1, strict) match { case (b, c) => b == c })
        }
        (inLine && agree) :| Escaped(bytes)
      })
    assert(res.passed, Escaped(res.status.toString))
  }

  test("non-ASCII prefixes keep char-accurate error positions") {
    // é before the error: byte offset differs from char offset
    assertSame("<u:caf\u00e9\u00e9\u00e9> <p:q> oops .", 3, strict = true)
    assertSame("<u:\u4e2d\u6587> x", 1, strict = true)
    assertSame("<u:\u00e9> <p:q> \"caf\u00e9\"@ .", 2, strict = true)
    // a supplementary char at the error: "found" is its first UTF-16 unit
    assertSame("\uD800\uDC00 x", 1, strict = true)
    assertSame("<a:b> <p:q> \uD83D\uDE00 .", 1, strict = true)
    // and non-ASCII values round-trip
    assertSame("<u:\u00e9x> <p:\u4e2d> \"v\u00e9\u4e2d\"@en .", 1, strict = true)
  }

  test("lenient long literals agree") {
    assertSame("<a:b> <p:q> \"\"\"x\"y\"\"z\"\"\" .", 1, strict = false)
    assertSame("<a:b> <p:q> \"\"\"with \\u0041 and %41\"\"\"@en-us .", 1, strict = false)
    assertSame("<a:b> <p:q> \"\"\"unterminated", 1, strict = false)
    // raw newlines inside the window (multi-line statement slices)
    assertSame("<a:b> <p:q> \"\"\"baz\nqux\"\"\" .", 1, strict = false)
    assertSame("<a:b> <p:q> \"\"\"c\r\nr\"\"\"@en .", 1, strict = false)
  }

  test("both parsers raise the EOI-in-unclosed-long-literal extend signal identically") {
    def flags(line: String): (Boolean, Boolean) = {
      val cp = NtLineParser.lenient
      val bp = NtBytesParser.lenient
      intercept[NtParseException] { cp.parseStatement(line, 1) }
      val bytes = line.getBytes(StandardCharsets.UTF_8)
      intercept[NtParseException] { bp.parseSlice(bytes, 0, bytes.length, 1) }
      (cp.eoiInUnclosedLongLiteral, bp.eoiInUnclosedLongLiteral)
    }
    // mid-literal EOI (raw cut, cut inside closing quotes, cut after \)
    assert(flags("<a:b> <p:q> \"\"\"open") == (true, true))
    assert(flags("<a:b> <p:q> \"\"\"open\"\"") == (true, true))
    assert(flags("<a:b> <p:q> \"\"\"open\\") == (true, true))
    // NOT raised for failures outside a long literal — no false extension
    assert(flags("<a:b> <p:q> \"open") == (false, false))
    assert(flags("<a:b> <p:q> \"\"\"done\"\"\"") == (false, false)) // missing '.'
    assert(flags("<a:b> <p:q>") == (false, false))
  }

  test("generated statements agree (property)") {
    val gen = new RoundTripGens {}
    val res = SC.check(SC.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(gen.genStatement) { st =>
        val line = NtWriter.writeStatement(st)
        val b = viaBytes(NtBytesParser.strict, line, 1)
        val c = viaChars(NtLineParser.strict, line, 1)
        b == c && b == Right(st)
      })
    assert(res.passed, Escaped(res.status.toString))
  }

  test("escape-heavy and percent-run lines agree") {
    List(
      """<t:%B2t> <:%41%42y> <d:> .""",
      """<a:b> <c:d> "q\"w\\e\'r\u0041\U00010332" .""",
      """<u:%E2%82%AC> <p:x> "%" .""",
      """_:1a <p:q> "" .""",
      """<a:b> <c:d> "x"^^<dt:%ZZ> .""",
      """<a:b> <c:d> "x"@en-us-x .""",
      """<a:b><c:d>"x"@en .""",
      """   <a:b>\t<c:d> "x" . # c""".replace("\\t", "\t"),
      """<a:b> <c:d> "x\U00110000y" .""",
      """<u:\UFFFFFFFF> <c:d> <e:f> .""",
      "<a:b> <c:d> \"\\u\u0660\u0660\u0664\u0661\" ." // Arabic-Indic digits are not hex
    ).zipWithIndex.foreach { case (l, i) => assertSame(l, i + 1, strict = true) }
    // an out-of-range \U escape is a parse error at its first digit, not
    // the IllegalArgumentException of StringBuilder.appendCodePoint
    val e = intercept[NtParseException](NtLineParser.strict.parseStatement("""<a:b> <c:d> "x\U00110000" .""", 1))
    assert(e.charPos == 17 && e.shortMessage ==
      "parse error in line 1 at char 17, \\U00110000 is not a valid code point")
  }
}

/** The statement generators from RoundTripSpec, shared. */
trait RoundTripGens {
  import org.scalacheck.Gen
  import RdfTerm._

  private val scheme: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(4, Gen.alphaLowerChar)
  } yield (h :: t).mkString

  private val iriBody: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('/', '#', '?', '&', '=', '~', '.', '-', '_', ':'),
      1 -> Gen.oneOf('<', '>', '"', '{', '}', '\\', '%', ' '),
      1 -> Gen.choose(0xA0.toChar, 0x2FFF.toChar)
    )).map(_.mkString)

  private val genIri: Gen[RdfTerm] =
    for { s <- scheme; b <- iriBody } yield iri(s + ":" + b)

  private val genBNode: Gen[RdfTerm] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(cs => bnode(cs.mkString))

  private val lexical: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('"', '\\', '\n', '\r', '\t', '\'', ' '),
      1 -> Gen.choose(1.toChar, 0x1f.toChar),
      1 -> Gen.choose(0xA0.toChar, 0xD700.toChar)
    )).map(_.mkString)

  private val langTag: Gen[String] = for {
    a <- Gen.nonEmptyListOf(Gen.alphaChar)
    sub <- Gen.option(Gen.nonEmptyListOf(Gen.alphaNumChar))
  } yield a.mkString + sub.fold("")("-" + _.mkString)

  private val genLiteral: Gen[RdfTerm] = for {
    lex <- lexical
    choice <- Gen.choose(0, 2)
    term <- choice match {
      case 0 => Gen.const(simpleLiteral(lex))
      case 1 => langTag.map(taggedLiteral(lex, _))
      case 2 => genIri.map(dt => typedLiteral(lex, dt.value))
    }
  } yield term

  val genStatement: Gen[NtStatement] = for {
    s <- Gen.oneOf(genIri, genBNode)
    p <- genIri
    o <- Gen.oneOf(genIri, genBNode, genLiteral)
  } yield NtStatement(s, p.value, o)
}
