package graft.kg

import java.nio.charset.StandardCharsets
import org.apache.spark.unsafe.types.UTF8String

/**
 * Byte-level twin of the char kernel, run by the ParseNtLines generator
 * (the one Spark parse route): parses directly over UTF-8 bytes (the
 * native representation of parquet strings) and emits term values as
 * UTF8String, so the common case — no escapes in a token — is a single
 * byte-range copy with NO UTF-16 decode/encode round trip per value and
 * no per-document char[] materialization.
 *
 * On valid UTF-8, semantics are identical to the char kernel (same
 * grammar, same error messages with CHAR-accurate positions — the rare
 * error path decodes the line prefix to count chars); raw malformed UTF-8
 * is the generator's to reject. The grammar's structural characters
 * are all ASCII, and UTF-8 multi-byte sequences never contain ASCII
 * bytes, so byte dispatch is exact. Escape sequences (`\\`, `%XX`) drop
 * the token into char-builder mode, preserving the reference's decoded
 * semantics (incl. invalid-percent-run -> U+FFFD).
 *
 * Differentially tested against the char kernel (ParserEquivalenceSpec).
 */
final class NtBytesParser(strict: Boolean) {

  private[this] var buf: Array[Byte] = _
  private[this] var base = 0
  private[this] var end = 0
  private[this] var at = 0
  private[this] var lineNo = -1
  private[this] var inLongLit = false
  private[this] val sb = new java.lang.StringBuilder(128)

  /** The last failure hit end-of-input inside an open lenient long literal. */
  def eoiInUnclosedLongLiteral: Boolean = inLongLit && at >= end

  // token-capture state: raw byte range [tokStart, at) unless escaped
  private[this] var tokStart = 0
  private[this] var escaped = false

  var subjKind: Byte = -1
  var subjValue: UTF8String = _
  var predValue: UTF8String = _
  var objKind: Byte = -1
  var objValue: UTF8String = _
  var objLang: UTF8String = _
  var objDt: UTF8String = _

  import NtBytesParser._

  /** Parse bytes[from, until) as one line, filling the term slots. */
  def parseSlice(bytes: Array[Byte], from: Int, until: Int, lineNumber: Int): Boolean = {
    lineNo = lineNumber
    subjKind = -1
    if (from >= until) return false
    buf = bytes
    base = from
    end = until
    at = from
    inLongLit = false
    sb.setLength(0)
    escaped = false
    skipWs()
    cur match {
      case '<' | '_'  => tripleLine(); true
      case '#'        => false
      case '\u0000'   => false
      case _          => fail("<, _, or #")
    }
  }

  // ---- productions ---------------------------------------------------------

  private def tripleLine(): Unit = {
    cur match {
      case '<' => subjKind = RdfTerm.IRI; subjValue = iriBody()
      case '_' => subjKind = RdfTerm.BNODE; subjValue = bnodeLabel()
      case _   => fail("<, or _")
    }
    predValue = iriBody()
    cur match {
      case '<' => objKind = RdfTerm.IRI; objValue = iriBody(); objLang = null; objDt = null
      case '_' => objKind = RdfTerm.BNODE; objValue = bnodeLabel(); objLang = null; objDt = null
      case '"' => literalNode()
      case _   => fail("<, _, or \"")
    }
    skipWs()
    if (!eat('.')) fail(".")
  }

  private def iriBody(): UTF8String = {
    if (!eat('<')) fail("<")
    beginToken()
    var inScheme = true
    while (inScheme) {
      rawWhile(SCHEME_CHAR)
      cur match {
        case ':'  => inScheme = false
        case '\\' => iriEscape()
        case '%'  => percentRun()
        case _    => failValidation("<" + takeString() + "> is not absolute")
      }
    }
    var inBody = true
    while (inBody) {
      rawWhile(IRI_CHAR)
      cur match {
        case '>'  => inBody = false
        case '\\' => iriEscape()
        case '%'  => percentRun()
        case _    => fail(">, \\, or %")
      }
    }
    val v = takeValue()
    if (!eat('>')) fail(">")
    skipWs()
    v
  }

  private def bnodeLabel(): UTF8String = {
    if (!eat('_')) fail("_")
    if (!eat(':')) fail(":")
    if (!NAME_CHAR(cur)) fail("name identifier")
    beginToken()
    step()
    rawWhile(NAME_CHAR)
    val v = takeValue()
    skipWs()
    v
  }

  private def literalNode(): Unit = {
    if (strict || peek(1) != '"' || peek(2) != '"') shortLiteral()
    else longLiteral()
  }

  private def shortLiteral(): Unit = {
    if (!eat('"')) fail("\"")
    beginToken()
    var open = true
    while (open) {
      rawWhile(SHORT_LIT_CHAR)
      cur match {
        case '"'  => open = false
        case '\\' => literalEscape()
        case _    => fail("\", or \\")
      }
    }
    val v = takeValue()
    if (!eat('"')) fail("\"")
    literalSuffix(v)
  }

  private def longLiteral(): Unit = {
    eatString("\"\"\"")
    inLongLit = true
    beginToken()
    var open = true
    while (open) {
      rawWhile(LONG_LIT_CHAR)
      cur match {
        case '"' =>
          if (peek(1) == '"' && peek(2) == '"') open = false
          else { appendChar('"'); step(); rebeginRaw() }
        case '\\' => literalEscape()
        case _    => fail("\", or \\")
      }
    }
    inLongLit = false
    val v = takeValue()
    eatString("\"\"\"")
    literalSuffix(v)
  }

  private def literalSuffix(v: UTF8String): Unit = {
    objKind = RdfTerm.LITERAL
    objValue = v
    objLang = null
    cur match {
      case '@' => langTagged()
      case '^' => typed()
      case _   => objDt = XSD_STRING
    }
    skipWs()
  }

  private def langTagged(): Unit = {
    if (!eat('@')) fail("@")
    beginToken()
    rawWhile(ALPHA_CHAR)
    cur match {
      case ' ' | '\t' =>
        objLang = takeValue(); objDt = RDF_LANGSTRING
      case '-' =>
        step()
        rawWhile(NAME_CHAR)
        cur match {
          case ' ' | '\t' =>
            objLang = takeValue(); objDt = RDF_LANGSTRING
          case _ => fail("language tag identifier")
        }
      case _ => fail("language tag identifier")
    }
  }

  private def typed(): Unit = {
    if (!eat('^') || !eat('^')) fail("^")
    objDt = iriBody()
  }

  // ---- escapes --------------------------------------------------------------

  private def iriEscape(): Unit = {
    toEscapeMode()
    if (!eat('\\')) fail("\\")
    cur match {
      case 'u' => step(); sb.append(hex4())
      case 'U' => step(); sb.appendCodePoint(hex8())
      case _   => fail("u, or U")
    }
    rebeginRaw()
  }

  private def literalEscape(): Unit = {
    toEscapeMode()
    if (!eat('\\')) fail("\\")
    cur match {
      case '\\' => sb.append('\\'); step()
      case '"'  => sb.append('"'); step()
      case '\'' => sb.append('\''); step()
      case 'b'  => sb.append('\b'); step()
      case 't'  => sb.append('\t'); step()
      case 'n'  => sb.append('\n'); step()
      case 'f'  => sb.append('\f'); step()
      case 'r'  => sb.append('\r'); step()
      case 'u'  => step(); sb.append(hex4())
      case 'U'  => step(); sb.appendCodePoint(hex8())
      case _    => fail("\\, \", ', b, t, n, f, r, u, or U")
    }
    rebeginRaw()
  }

  private def hex4(): Char =
    ((hexDigit() << 12) | (hexDigit() << 8) | (hexDigit() << 4) | hexDigit()).toChar

  private def hex8(): Int = {
    val digits = at
    var v = 0
    var k = 0
    while (k < 8) { v = (v << 4) | hexDigit(); k += 1 }
    // a parse error where the reference's appendCodePoint would throw
    if (!Character.isValidCodePoint(v)) { at = digits; failValidation(f"\\U$v%08X is not a valid code point") }
    v
  }

  private def hexDigit(): Int = {
    val v = Character.digit(cur, 16)
    if (v < 0) fail("hex character")
    step()
    v
  }

  private def percentRun(): Unit = {
    toEscapeMode()
    if (!eat('%')) fail("%")
    var bytes = new Array[Byte](4)
    var n = 0
    var more = true
    while (more) {
      val b = ((hexDigit() << 4) | hexDigit()).toByte
      if (n == bytes.length) bytes = java.util.Arrays.copyOf(bytes, n * 2)
      bytes(n) = b
      n += 1
      if (cur == '%' && at < end) { at += 1 } else more = false
    }
    sb.append(new String(bytes, 0, n, StandardCharsets.UTF_8))
    rebeginRaw()
  }

  // ---- token capture ---------------------------------------------------------

  @inline private def beginToken(): Unit = { tokStart = at; escaped = false; sb.setLength(0) }

  /** Flush the pending raw range into the char builder and mark escaped. */
  private def toEscapeMode(): Unit = {
    if (at > tokStart) sb.append(new String(buf, tokStart, at - tokStart, StandardCharsets.UTF_8))
    else if (!escaped) sb.setLength(0)
    escaped = true
    tokStart = at
  }

  /** After an escape, raw capture resumes from the current position. */
  @inline private def rebeginRaw(): Unit = { tokStart = at }

  @inline private def appendChar(c: Char): Unit = { toEscapeMode(); sb.append(c); tokStart = at }

  private def takeValue(): UTF8String = {
    if (!escaped) UTF8String.fromBytes(buf, tokStart, at - tokStart)
    else {
      if (at > tokStart) sb.append(new String(buf, tokStart, at - tokStart, StandardCharsets.UTF_8))
      val s = UTF8String.fromString(sb.toString)
      sb.setLength(0)
      s
    }
  }

  /** Value-so-far as String (validation-error path only). */
  private def takeString(): String = takeValue().toString

  // ---- low-level byte cursor ---------------------------------------------------

  /** Current byte as a 0-255 Char; NUL at end of input (END, like the ref). */
  @inline private def cur: Char = if (at >= end) '\u0000' else (buf(at) & 0xFF).toChar

  @inline private def peek(k: Int): Char =
    if (at + k >= end) '\u0000' else (buf(at + k) & 0xFF).toChar

  @inline private def step(): Unit = if (at < end) at += 1

  @inline private def eat(c: Char): Boolean =
    if (at < end && buf(at) == c.toByte) { at += 1; true } else false

  private def eatString(s: String): Unit = {
    var k = 0
    while (k < s.length) {
      if (!eat(s.charAt(k))) fail(s)
      k += 1
    }
  }

  private def rawWhile(f: Array[Boolean]): Unit = {
    while (at < end && f(buf(at) & 0xFF)) at += 1
    // END-sentinel parity with the char parser: a predicate that accepts
    // NUL (the literal classes) would "capture" it at EOI there; here EOI
    // simply stops — both immediately fail afterwards, so behavior matches.
  }

  private def skipWs(): Unit = {
    while (at < end && { val b = buf(at); b == ' '.toByte || b == '\t'.toByte }) at += 1
  }

  // ---- errors (char-accurate positions, decoded lazily) -------------------------

  private def fail(expected: String): Nothing = {
    val found = if (cur == '\u0000') "EOI" else {
      // the first UTF-16 unit of the (possibly multi-byte) char, as the reference shows
      val len = math.min(4, end - at)
      val s = new String(buf, at, len, StandardCharsets.UTF_8)
      if (s.isEmpty) "EOI" else s.substring(0, 1)
    }
    raise(s"expected [$expected], but found [$found]")
  }

  private def failValidation(detail: String): Nothing = raise(detail)

  private def raise(detail: String): Nothing = {
    // char-accurate position: decode the line prefix (rare path)
    val rel = new String(buf, base, at - base, StandardCharsets.UTF_8).length
    val lineHint = if (lineNo == -1) " " else s" in line $lineNo "
    val head = s"parse error${lineHint}at char ${rel + 1}, $detail"
    val lineStr = new String(buf, base, end - base, StandardCharsets.UTF_8)
    val caret = " " * rel + "^"
    throw new NtParseException(head, rel + 1, head + "\n" + lineStr + "\n" + caret)
  }
}

object NtBytesParser {
  def strict: NtBytesParser = new NtBytesParser(true)
  def lenient: NtBytesParser = new NtBytesParser(false)

  private val XSD_STRING = UTF8String.fromString(RdfTerm.XsdString)
  private val RDF_LANGSTRING = UTF8String.fromString(RdfTerm.RdfLangString)

  // byte-class lookup tables (0..255); multi-byte UTF-8 lead/continuation
  // bytes (>= 0x80) follow the reference's `c > 0x20` rules
  private def table(f: Int => Boolean): Array[Boolean] = Array.tabulate(256)(f)

  private val SCHEME_CHAR = table(c => c > 0x20 && c != ':' && c != '>' && c != '"' &&
    c != '{' && c != '}' && c != '<' && c != '\\' && c != '%')
  private val IRI_CHAR = table(c => c > 0x20 && c != '>' && c != '"' &&
    c != '{' && c != '}' && c != '<' && c != '\\' && c != '%')
  private val SHORT_LIT_CHAR = table(c => c != '"' && c != '\\' && c != '\n' && c != '\r')
  private val LONG_LIT_CHAR = table(c => c != '"' && c != '\\')
  private val NAME_CHAR = table(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9'))
  private val ALPHA_CHAR = table(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))

}
