package graft.kg

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Row

/**
 * The per-line NtLineParser oracle that every Spark parse route is checked
 * against (the reference's loader + ParsingIterator, SURVEY §3.1):
 *
 *  - a document is split into physical lines on `\n`, `\r\n` or a lone
 *    `\r`, numbered from 1, and each statement is parsed by the char
 *    kernel;
 *  - lenient mode: a statement that fails at the end of its window inside
 *    an unclosed `"""` literal is extended ONE physical line at a time and
 *    re-parsed after EVERY extension — the O(n^2) definition of the window
 *    the production scanner (LongLitScan) must reproduce; the statement
 *    keeps its first line number;
 *  - malformed UTF-8: the reference decodes through a reporting UTF-8
 *    reader and refuses such input, so a statement window holding a
 *    malformed sequence is one error row at the decoded char index of the
 *    first bad byte;
 *  - term values are compared as a Spark string column stores them (UTF-8
 *    encoded, so a lone surrogate reads back as `?`).
 */
object RouteOracle {

  /** (err, line, skind, subj, pred, okind, obj, lang, dt, charPos, message) */
  type OracleRow = (Boolean, Int, Byte, String, String, Byte, String, String, String, Int, String)

  def rows(content: String, lenient: Boolean): Seq[OracleRow] =
    rows(content.getBytes(StandardCharsets.UTF_8), lenient)

  def rows(bytes: Array[Byte], lenient: Boolean): Seq[OracleRow] = {
    val p = new NtLineParser(!lenient)
    // physical lines as (start, end) byte ranges, terminators excluded
    val lines = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var pos = 0
    while (pos < bytes.length) {
      var e = pos
      while (e < bytes.length && bytes(e) != '\n' && bytes(e) != '\r') e += 1
      lines += ((pos, e))
      pos = if (e + 1 < bytes.length && bytes(e) == '\r' && bytes(e + 1) == '\n') e + 2 else e + 1
    }
    val out = scala.collection.mutable.ArrayBuffer[OracleRow]()
    var i = 0
    while (i < lines.length) {
      val startLine = i + 1
      val start = lines(i)._1
      var row: OracleRow = null
      var done = false
      while (!done) {
        val end = lines(i)._2
        val text = new String(bytes, start, end - start, StandardCharsets.UTF_8)
        try {
          val st = p.parseStatement(text, startLine)
          if (st != null) row = tripleRow(startLine, st)
          done = true
        } catch {
          case ex: NtParseException =>
            if (lenient && p.eoiInUnclosedLongLiteral && i + 1 < lines.length) i += 1
            else { row = errorRow(startLine, ex.charPos, ex.shortMessage); done = true }
        }
      }
      val windowEnd = lines(i)._2
      malformed(bytes, start, windowEnd).foreach { case (k, hex) =>
        row = errorRow(startLine, k,
          s"parse error in line $startLine at char $k, malformed UTF-8 input [$hex]")
      }
      if (row != null) out += row
      i += 1
    }
    out.toSeq
  }

  /** The 1-based decoded char index and hex bytes of the first malformed
    * sequence in bytes[from, until), as a reporting decoder sees it. */
  private def malformed(bytes: Array[Byte], from: Int, until: Int): Option[(Int, String)] = {
    val in = ByteBuffer.wrap(bytes, from, until - from)
    val out = CharBuffer.allocate(until - from)
    val r = StandardCharsets.UTF_8.newDecoder().decode(in, out, true)
    if (!r.isMalformed) None
    else Some((out.position() + 1,
      (0 until r.length()).map(j => f"${bytes(in.position() + j) & 0xFF}%02X").mkString(" ")))
  }

  private def stored(s: String): String =
    if (s == null) null else new String(s.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8)

  private def tripleRow(line: Int, st: NtStatement): OracleRow =
    (false, line, st.subj.kind, stored(st.subj.value), stored(st.pred), st.obj.kind,
      stored(st.obj.value), stored(st.obj.lang), stored(st.obj.dt), 0, null)

  private def errorRow(line: Int, charPos: Int, message: String): OracleRow =
    (true, line, -1.toByte, null, null, -1.toByte, null, null, null, charPos, message)

  /** A typed-route row in oracle shape. */
  def of(r: ParsedLine): OracleRow =
    (r.err, r.line, r.skind, r.subj, r.pred, r.okind, r.obj, r.lang, r.dt, r.charPos, r.message)

  /** A row of `parseExpr` / `parse_nt` (ParsedLine column order) in oracle shape. */
  def of(r: Row): OracleRow =
    (r.getAs[Boolean]("err"), r.getAs[Int]("line"), r.getAs[Byte]("skind"),
      r.getAs[String]("subj"), r.getAs[String]("pred"), r.getAs[Byte]("okind"),
      r.getAs[String]("obj"), r.getAs[String]("lang"), r.getAs[String]("dt"),
      r.getAs[Int]("charPos"), r.getAs[String]("message"))
}
