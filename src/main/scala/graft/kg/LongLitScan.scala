package graft.kg

/**
 * Escape-exact close detection for lenient corpus-mode multi-line long
 * literals (`"""..."""` spanning physical lines, ParseNtLines).
 *
 * The r2 guard re-parsed the whole statement window whenever an appended
 * line merely CONTAINED the substring `"""` — an adversarial document
 * whose every line holds `\"""` (escaped quote + two content quotes, so
 * the literal never closes) drove that to O(lines^2) total parse work
 * (ADVICE r2). This scanner instead mirrors the parser's own long-literal
 * lexing rules exactly — each appended byte is visited ONCE (quote and
 * backslash are ASCII, and multi-byte UTF-8 sequences contain no bytes
 * < 0x80, so byte-wise scanning is exact):
 *
 *  - a backslash consumes its escape payload, VALIDATING it: simple
 *    escapes (\\ \" \' \b \t \n \f \r) skip two chars; \u/\U must be
 *    followed by 4/8 hex digits, and a \U value must be <= U+10FFFF.
 *    An INVALID payload, a non-hex char inside the hex body or an
 *    out-of-range \U value is a guaranteed terminal error on the next
 *    re-parse, so the scanner requests it immediately — without this the
 *    error would surface only at a later close/pending trigger, silently
 *    swallowing the intervening statements (found by the fuzz
 *    differential in PipelineSpec);
 *  - the close is the FIRST run of three consecutive unescaped quotes
 *    (quotes separated by a line terminator are content, exactly as the
 *    parser sees them after window extension);
 *  - a window ending INSIDE an escape sequence (trailing odd backslash
 *    run, or an incomplete \uXXXX / \UXXXXXXXX hex body) is detected by
 *    `pendingEscapeAt`: the escape payload will be the physical line
 *    terminator, which is never a valid escape, so the statement is
 *    GUARANTEED to fail on its next re-parse — the caller re-parses
 *    immediately after one extension, producing the same error row, at
 *    the same point, as an (O(n^2)) re-parse-after-every-line scheme.
 *
 * Per statement: at most one close-triggered re-parse (the scanner is
 * exact, so a found close terminates — parse success or trailing-garbage
 * error) plus at most one forced pending-escape re-parse, plus one final
 * full-window re-parse at document end for the exact document-mode error.
 * Total cost is O(statement window), amortized O(document).
 *
 * PipelineSpec checks it against the re-parse-after-every-line oracle.
 */
private[kg] object LongLitScan {

  @inline private def isHexChar(c: Int): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  @inline private def isSimpleEscape(c: Int): Boolean =
    c == '\\' || c == '"' || c == '\'' || c == 'b' || c == 't' ||
      c == 'n' || c == 'f' || c == 'r'

  /**
   * Forward scan of [from, until) for an unescaped `"""` OR an invalid
   * escape (both force a re-parse: the former may succeed, the latter is
   * a guaranteed terminal error). Returns a non-negative position when a
   * re-parse is due, else `-(resumePos) - 1` (resume the next scan from
   * `resumePos`).
   */
  def scanToClose(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until) {
      val c = b(i)
      if (c == '\\'.toByte) {
        if (i + 1 >= until) return -(i + 1) - 1 // trailing: pendingEscapeAt(e) catches it
        val p = b(i + 1)
        if (p == 'u'.toByte || p == 'U'.toByte) {
          val need = if (p == 'u'.toByte) 4 else 8
          var j = i + 2
          var k = 0
          while (k < need && j < until && isHexChar(b(j))) { j += 1; k += 1 }
          if (k < need && j < until) return j // non-hex inside the body: terminal
          if (k == 8 && java.lang.Long.parseLong(new String(b, i + 2, 8, "US-ASCII"), 16) >
              Character.MAX_CODE_POINT) return j // above U+10FFFF: terminal
          i = j // complete, or partial at window end (pendingEscapeAt catches)
        } else if (isSimpleEscape(p)) i += 2
        else return i + 1 // invalid payload: terminal
      } else if (c == '"'.toByte && i + 2 < until && b(i + 1) == '"'.toByte && b(i + 2) == '"'.toByte)
        return i + 3
      else i += 1
    }
    -i - 1
  }

  /** True when the window [start, e) ends inside an escape sequence. */
  def pendingEscapeAt(b: Array[Byte], start: Int, e: Int): Boolean = {
    var i = e - 1
    var nHex = 0
    while (i >= start && nHex < 8 && isHexChar(b(i))) { nHex += 1; i -= 1 }
    if (i >= start && b(i) == 'u'.toByte && nHex < 4) oddBackslashRun(b, start, i - 1)
    else if (i >= start && b(i) == 'U'.toByte && nHex < 8) oddBackslashRun(b, start, i - 1)
    else oddBackslashRun(b, start, e - 1)
  }

  private def oddBackslashRun(b: Array[Byte], start: Int, j0: Int): Boolean = {
    var j = j0
    var k = 0
    while (j >= start && b(j) == '\\'.toByte) { k += 1; j -= 1 }
    (k & 1) == 1
  }
}
