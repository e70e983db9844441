package graft.kg

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The one Spark parse route (SURVEY.md §4.3 "phase 2" path), behind
 * `TripleExtract.parse`/`parseExpr`, `NtFileSource.parseLines`, SQL
 * `parse_nt` and `Materialize.run`: `parse_nt(content, lang)` explodes
 * one corpus row into its parsed line rows WITHOUT a typed-Dataset
 * object-serde boundary — the generator builds InternalRows directly, and
 * lineage columns ride along as ordinary projected columns of the same
 * GenerateExec, pruned by Catalyst like any other column.
 *
 * Malformed UTF-8 (SURVEY §A3): the reference's reporting decoder refuses
 * it, but a string column can hold raw invalid bytes (text files, binary
 * casts). One `UTF8String.isValid` pass per document; in an invalid one,
 * each statement window with a malformed sequence is one error row at
 * the decoded char index of its first bad byte.
 */
case class ParseNtLines(content: Expression, lang: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(content, lang)

  override def elementSchema: StructType = StructType(Seq(
    StructField("err", BooleanType, nullable = false),
    StructField("line", IntegerType, nullable = false),
    StructField("skind", ByteType, nullable = false),
    StructField("subj", StringType),
    StructField("pred", StringType),
    StructField("okind", ByteType, nullable = false),
    StructField("obj", StringType),
    StructField("lang", StringType),
    StructField("dt", StringType),
    StructField("charPos", IntegerType, nullable = false),
    StructField("message", StringType)))

  // one parser pair per deserialized expression instance (== per task)
  @transient private lazy val strictParser = NtBytesParser.strict
  @transient private lazy val lenientParser = NtBytesParser.lenient

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = content.eval(input)
    if (c == null) return Iterator.empty
    // byte-level path: ONE byte copy of the doc, no UTF-16 decode; values
    // come out of NtBytesParser as UTF8String slices
    val str = c.asInstanceOf[UTF8String]
    val bytes = str.getBytes
    val valid = str.isValid
    val langV = lang.eval(input)
    val lenient = langV != null &&
      langV.asInstanceOf[UTF8String].toString == TripleExtract.LangLenient
    val p = if (lenient) lenientParser else strictParser
    val n = bytes.length

    new Iterator[InternalRow] {
      private[this] var pos = 0
      private[this] var lineNo = 0
      private[this] var ready: InternalRow = _
      // ONE mutable output row reused for every emitted triple: GenerateExec
      // projects each generator row into its (copying) UnsafeProjection
      // before pulling the next, so per-triple garbage drops to the term
      // slices themselves. SpecificInternalRow setters avoid primitive
      // boxing (a GenericInternalRow per triple + boxed line numbers were
      // ~2 allocations/triple at 32 threads — GC is what caps scaling).
      private[this] val row = new SpecificInternalRow(elementSchema.map(_.dataType))

      @inline private def setStr(i: Int, v: UTF8String): Unit =
        if (v == null) row.setNullAt(i) else row.update(i, v)

      private def tripleRow(line: Int): InternalRow = {
        row.setBoolean(0, false)
        row.setInt(1, line)
        row.setByte(2, p.subjKind)
        setStr(3, p.subjValue)
        setStr(4, p.predValue)
        row.setByte(5, p.objKind)
        setStr(6, p.objValue)
        setStr(7, p.objLang)
        setStr(8, p.objDt)
        row.setInt(9, 0)
        row.setNullAt(10)
        row
      }

      private def errorRow(line: Int, charPos: Int, message: String): InternalRow = {
        row.setBoolean(0, true)
        row.setInt(1, line)
        row.setByte(2, (-1).toByte)
        row.setNullAt(3)
        row.setNullAt(4)
        row.setByte(5, (-1).toByte)
        row.setNullAt(6)
        row.setNullAt(7)
        row.setNullAt(8)
        row.setInt(9, charPos)
        row.update(10, UTF8String.fromString(message))
        row
      }

      private def scanLine(): Int = {
        var e = pos
        while (e < n && { val b = bytes(e); b != '\n'.toByte && b != '\r'.toByte }) e += 1
        pos =
          if (e < n && bytes(e) == '\r'.toByte && e + 1 < n && bytes(e + 1) == '\n'.toByte) e + 2
          else e + 1
        lineNo += 1
        e
      }

      private def fetch(): InternalRow = {
        while (pos < n) {
          // statement window: one physical line, extended in lenient mode
          // while a """ literal is open (LenientNtParserSpec.scala:34-40);
          // the statement keeps its FIRST physical line number
          val start = pos
          var e = scanLine()
          val startLine = lineNo
          var scanPos = -1 // escape-exact scanner cursor, per statement
          var out: InternalRow = null
          var attempt = true
          while (attempt) {
            attempt = false
            try {
              if (p.parseSlice(bytes, start, e, startLine)) out = tripleRow(startLine)
            } catch {
              case ex: NtParseException =>
                if (lenient && p.eoiInUnclosedLongLiteral && pos < n) {
                  // re-parse only when the escape-exact scanner finds the
                  // close or a terminal escape: O(window) per statement
                  // even on adversarial input (see LongLitScan)
                  if (scanPos < 0) scanPos = e
                  var doReparse = LongLitScan.pendingEscapeAt(bytes, start, e)
                  if (doReparse && pos < n) e = scanLine()
                  while (!doReparse && pos < n) {
                    e = scanLine()
                    val r = LongLitScan.scanToClose(bytes, scanPos, e)
                    if (r >= 0) { scanPos = r; doReparse = true }
                    else {
                      scanPos = -r - 1
                      if (LongLitScan.pendingEscapeAt(bytes, start, e)) {
                        if (pos < n) e = scanLine()
                        doReparse = true
                      }
                    }
                  }
                  attempt = true
                } else out = errorRow(startLine, ex.charPos, ex.shortMessage)
            }
          }
          if (!valid) {
            val bad = ParseNtLines.malformedAt(bytes, start, e)
            if (bad != null) out = errorRow(startLine, bad._1,
              s"parse error in line $startLine at char ${bad._1}, malformed UTF-8 input [${bad._2}]")
          }
          if (out != null) return out
        }
        null
      }

      def hasNext: Boolean = {
        if (ready == null) ready = fetch()
        ready != null
      }
      def next(): InternalRow = {
        if (!hasNext) Iterator.empty.next()
        val r = ready; ready = null; r
      }
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(content = newChildren(0), lang = newChildren(1))
}

object ParseNtLines {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** The first malformed UTF-8 sequence in bytes[from, until) as (1-based
    * decoded char index, its bytes in hex), or null when the slice decodes
    * cleanly — the same verdict as the reference's reporting decoder. */
  private def malformedAt(bytes: Array[Byte], from: Int, until: Int): (Int, String) = {
    val in = ByteBuffer.wrap(bytes, from, until - from)
    val out = CharBuffer.allocate(until - from)
    val r = StandardCharsets.UTF_8.newDecoder().decode(in, out, true)
    if (!r.isError) null
    else (out.position() + 1,
      (in.position() until in.position() + r.length()).map(i => f"${bytes(i) & 0xFF}%02X").mkString(" "))
  }

  /** Column wrapper: use in select() like explode(). */
  def parseNt(content: Column, lang: Column): Column =
    ColumnShim.column(
      ParseNtLines(ColumnShim.expression(content), ColumnShim.expression(lang)))
}
