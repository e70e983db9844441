package graft.kg

import java.nio.charset.StandardCharsets

/**
 * Single-line W3C RDF 1.1 N-Triples parser.
 *
 * A from-scratch re-implementation of the grammar and error semantics of
 * the reference parser (/root/reference/core/src/main/scala/de/knutwalker/
 * ntparser/NtParser.scala, productions at lines 170-450). It is NOT a
 * translation: the reference drives a reusable char-array + cursor state
 * machine through mutually recursive productions and a ModelFactory
 * typeclass; this implementation indexes the input String directly with
 * plain while-loops and builds RdfTerm values in place. Observable
 * behavior (accepted language, emitted terms, exact error messages and
 * positions) is intentionally identical, including the reference's
 * documented quirks:
 *
 *  - blank node labels are restricted to [A-Za-z0-9]+ (reference TODO at
 *    NtParser.scala:235 — deliberately narrower than the W3C charset);
 *  - language tags allow at most one `-` subtag and must be followed by a
 *    space or tab (NtParser.scala:335-353), so `"x"@en.` is rejected;
 *  - `%XX` runs are collected as bytes and UTF-8 decoded, with invalid
 *    sequences replaced by U+FFFD (NtParser.scala:433-450,585);
 *  - IRIs must look absolute: the scheme part must reach a `:`
 *    (NtParser.scala:275-287), errors read `<s> is not absolute`;
 *  - lenient mode additionally accepts Turtle-style `"""..."""` long
 *    literals (NtParser.scala:245-262, CHANGELOG.md:22-24);
 *  - a raw NUL char is indistinguishable from end-of-input (the reference
 *    uses '\u0000' as its END sentinel, NtParser.scala:622).
 *
 * The reference implementation and String API; Spark runs its byte twin
 * NtBytesParser. Instances are reusable across lines, NOT thread-safe.
 */
final class NtLineParser(strict: Boolean) {

  private[this] var line: String = ""
  private[this] var base = 0 // offset of the current line inside `line`
  private[this] var len = 0  // end offset (exclusive) of the current line
  private[this] var at = 0   // absolute index of the current char
  private[this] var lineNo = -1
  private[this] var inLongLit = false
  private[this] val buf = new java.lang.StringBuilder(128)

  /**
   * True when the last parseSlice failure was end-of-input while inside an
   * unclosed lenient `"""..."""` long literal — the corpus slicers' signal
   * to extend the statement window across the next physical line
   * (reference parity: LenientNtParserSpec.scala:34-40 parses a long
   * literal with embedded raw newlines from one multi-line input).
   */
  def eoiInUnclosedLongLiteral: Boolean = inLongLit && at >= len

  // term slots, filled by one successful tripleLine() — allocation-free
  // output surface for the Spark kernel (mirrors the reference's three
  // parsedSubject/Predicate/Object slots, NtParser.scala:58-60)
  var subjKind: Byte = -1
  var subjValue: String = _
  var predValue: String = _
  var objKind: Byte = -1
  var objValue: String = _
  var objLang: String = _
  var objDt: String = _

  import NtLineParser._

  /**
   * Parse one line. Returns the statement, or null for empty / blank /
   * comment-only lines. Throws NtParseException on malformed input.
   * `lineNumber = -1` means "unknown" and is omitted from error messages.
   */
  def parseStatement(text: String, lineNumber: Int = -1): NtStatement = {
    if (!parseSlice(text, 0, text.length, lineNumber)) null
    else NtStatement(
      RdfTerm(subjKind, subjValue, null, null),
      predValue,
      RdfTerm(objKind, objValue, objLang, objDt))
  }

  /** C3 surface parity: Some(statement) or None (swallows nothing). */
  def parseOpt(text: String, lineNumber: Int = -1): Option[NtStatement] =
    Option(parseOrNull(text, lineNumber))

  /** C3 surface parity: Success(Option) or Failure(parse error). */
  def parseTry(text: String, lineNumber: Int = -1): scala.util.Try[Option[NtStatement]] =
    scala.util.Try(Option(parseStatement(text, lineNumber)))

  /** C3/C5 surface parity: swallow parse errors, return null (lenient-file mode). */
  def parseOrNull(text: String, lineNumber: Int = -1): NtStatement =
    try parseStatement(text, lineNumber)
    catch { case _: NtParseException => null }

  /**
   * Allocation-frugal entry: parse `text[from, until)` as one line, filling
   * the term slots. Returns false for empty/blank/comment lines. No
   * per-line substring is taken; error paths (rare) do the slicing.
   */
  def parseSlice(text: String, from: Int, until: Int, lineNumber: Int): Boolean = {
    lineNo = lineNumber
    subjKind = -1
    if (from >= until) return false
    line = text
    base = from
    len = until
    at = from
    inLongLit = false
    buf.setLength(0)
    skipWs()
    cur match {
      case '<' | '_'  => tripleLine(); true
      case '#'        => false // comment line
      case '\u0000'   => false // blank line (or raw NUL == END sentinel)
      case _          => fail("<, _, or #")
    }
  }

  // ---- productions -------------------------------------------------------

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
    // anything after the terminating '.' is ignored (trailing comments)
  }

  /** `<` scheme `:` body `>` with absolute-IRI validation; skips trailing ws. */
  private def iriBody(): String = {
    if (!eat('<')) fail("<")
    // scheme: must reach ':' before any non-scheme char
    var inScheme = true
    while (inScheme) {
      captureWhile(isSchemeChar)
      cur match {
        case ':'  => inScheme = false // ':' itself is an IRI body char below
        case '\\' => iriEscape()
        case '%'  => percentRun()
        case _    => failValidation("<" + take() + "> is not absolute")
      }
    }
    var inBody = true
    while (inBody) {
      captureWhile(isIriChar)
      cur match {
        case '>'  => inBody = false
        case '\\' => iriEscape()
        case '%'  => percentRun()
        case _    => fail(">, \\, or %")
      }
    }
    if (!eat('>')) fail(">")
    skipWs()
    take()
  }

  /** `_:` label, label chars restricted to [A-Za-z0-9]; skips trailing ws. */
  private def bnodeLabel(): String = {
    if (!eat('_')) fail("_")
    if (!eat(':')) fail(":")
    val c = cur
    if (!isNameChar(c)) fail("name identifier")
    step()
    buf.append(c)
    captureWhile(isNameChar)
    skipWs()
    take()
  }

  private def literalNode(): Unit = {
    if (strict || peek(1) != '"' || peek(2) != '"') shortLiteral()
    else longLiteral()
  }

  private def shortLiteral(): Unit = {
    if (!eat('"')) fail("\"")
    var open = true
    while (open) {
      captureWhile(isShortLitChar)
      cur match {
        case '"'  => open = false
        case '\\' => literalEscape()
        case _    => fail("\", or \\") // only reachable at EOI / raw CR/LF
      }
    }
    if (!eat('"')) fail("\"")
    literalSuffix()
  }

  /** Lenient-only Turtle `"""..."""`; raw newlines and quotes allowed inside. */
  private def longLiteral(): Unit = {
    eatString("\"\"\"")
    inLongLit = true
    var open = true
    while (open) {
      captureWhile(isLongLitChar)
      cur match {
        case '"' =>
          if (peek(1) == '"' && peek(2) == '"') open = false
          else { buf.append('"'); step() }
        case '\\' => literalEscape()
        case _    => fail("\", or \\") // EOI
      }
    }
    inLongLit = false
    eatString("\"\"\"")
    literalSuffix()
  }

  private def literalSuffix(): Unit = {
    objKind = RdfTerm.LITERAL
    objValue = take()
    objLang = null
    cur match {
      case '@' => langTagged()
      case '^' => typed()
      case _   => objDt = RdfTerm.XsdString
    }
    skipWs()
  }

  private def langTagged(): Unit = {
    if (!eat('@')) fail("@")
    captureWhile(isAlpha)
    cur match {
      case ' ' | '\t' =>
        objLang = take(); objDt = RdfTerm.RdfLangString
      case '-' =>
        step()
        buf.append('-')
        captureWhile(isNameChar)
        cur match {
          case ' ' | '\t' =>
            objLang = take(); objDt = RdfTerm.RdfLangString
          case _ => fail("language tag identifier")
        }
      case _ => fail("language tag identifier")
    }
  }

  private def typed(): Unit = {
    if (!eat('^') || !eat('^')) fail("^")
    objDt = iriBody()
  }

  // ---- escapes -----------------------------------------------------------

  /** In IRIs only `\uXXXX` / `\UXXXXXXXX` are legal. */
  private def iriEscape(): Unit = {
    if (!eat('\\')) fail("\\")
    cur match {
      case 'u' => step(); buf.append(hex4())
      case 'U' => step(); buf.appendCodePoint(hex8())
      case _   => fail("u, or U")
    }
  }

  /** In literals: the full `\\ \" \' \b \t \n \f \r \u \U` escape set. */
  private def literalEscape(): Unit = {
    if (!eat('\\')) fail("\\")
    cur match {
      case '\\' => buf.append('\\'); step()
      case '"'  => buf.append('"'); step()
      case '\'' => buf.append('\''); step()
      case 'b'  => buf.append('\b'); step()
      case 't'  => buf.append('\t'); step()
      case 'n'  => buf.append('\n'); step()
      case 'f'  => buf.append('\f'); step()
      case 'r'  => buf.append('\r'); step()
      case 'u'  => step(); buf.append(hex4())
      case 'U'  => step(); buf.appendCodePoint(hex8())
      case _    => fail("\\, \", ', b, t, n, f, r, u, or U")
    }
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
    val c = cur
    val v = if (c < 0x80) Character.digit(c, 16) else -1 // ASCII only, like IS_HEX_CHAR
    if (v < 0) fail("hex character")
    step()
    v
  }

  /**
   * A run of `%XX` escapes is decoded as a single UTF-8 byte sequence;
   * malformed sequences become U+FFFD (so `%B2` alone -> U+FFFD and
   * `%25` -> `%`), matching the reference's byte-buffer + UTF-8 decode.
   */
  private def percentRun(): Unit = {
    if (!eat('%')) fail("%")
    var bytes = new Array[Byte](4)
    var n = 0
    var more = true
    while (more) {
      val b = ((hexDigit() << 4) | hexDigit()).toByte
      if (n == bytes.length) bytes = java.util.Arrays.copyOf(bytes, n * 2)
      bytes(n) = b
      n += 1
      if (cur == '%' && at < len) { at += 1 } else more = false
    }
    buf.append(new String(bytes, 0, n, StandardCharsets.UTF_8))
  }

  // ---- low-level cursor --------------------------------------------------

  @inline private def cur: Char = if (at >= len) '\u0000' else line.charAt(at)

  @inline private def peek(k: Int): Char =
    if (at + k >= len) '\u0000' else line.charAt(at + k)

  /** Advance one char if possible (no-op at end of input). */
  @inline private def step(): Unit = if (at < len) at += 1

  @inline private def eat(c: Char): Boolean =
    if (at < len && line.charAt(at) == c) { at += 1; true } else false

  private def eatString(s: String): Unit = {
    var k = 0
    while (k < s.length) {
      if (!eat(s.charAt(k))) fail(s)
      k += 1
    }
  }

  private def captureWhile(f: Char => Boolean): Unit = {
    while (f(cur)) {
      buf.append(cur)
      if (at < len) at += 1 else return // one END sentinel may be captured; always followed by an error
    }
  }

  private def skipWs(): Unit = {
    while (at < len && { val c = line.charAt(at); c == ' ' || c == '\t' }) at += 1
  }

  @inline private def take(): String = {
    val s = buf.toString
    buf.setLength(0)
    s
  }

  // ---- errors (format kept char-for-char with the reference) --------------

  private def fail(expected: String): Nothing = {
    val found = if (cur == '\u0000') "EOI" else cur.toString
    raise(s"expected [$expected], but found [$found]")
  }

  private def failValidation(detail: String): Nothing = raise(detail)

  private def raise(detail: String): Nothing = {
    val rel = at - base
    val lineHint = if (lineNo == -1) " " else s" in line $lineNo "
    val head = s"parse error${lineHint}at char ${rel + 1}, $detail"
    val caret = " " * rel + "^"
    throw new NtParseException(head, rel + 1,
      head + "\n" + line.substring(base, len) + "\n" + caret)
  }
}

object NtLineParser {
  def strict: NtLineParser = new NtLineParser(true)
  def lenient: NtLineParser = new NtLineParser(false)

  // character classes (reference NtParser.scala:631-638)
  private final val isAlpha: Char => Boolean =
    c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private final val isNameChar: Char => Boolean =
    c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
  private final val isSchemeChar: Char => Boolean =
    c => c > 0x20 && c != ':' && c != '>' && c != '"' && c != '{' && c != '}' && c != '<' && c != '\\' && c != '%'
  private final val isIriChar: Char => Boolean =
    c => c > 0x20 && c != '>' && c != '"' && c != '{' && c != '}' && c != '<' && c != '\\' && c != '%'
  private final val isShortLitChar: Char => Boolean =
    c => c != '"' && c != '\\' && c != '\n' && c != '\r'
  private final val isLongLitChar: Char => Boolean =
    c => c != '"' && c != '\\'
}
