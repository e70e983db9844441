package graft.kg

/**
 * Renders parser input for test messages and clues. sbt's JUnit XML
 * report cannot encode a lone surrogate (a failure quoting one becomes a
 * harness error) nor most control characters, so printable ASCII is kept
 * and every other char is written as `\uXXXX`, every other byte as `\xHH`.
 */
object Escaped {
  private def printable(c: Int): Boolean = c >= 0x20 && c < 0x7f

  def apply(s: String): String =
    s.flatMap(c => if (printable(c)) c.toString else f"\\u${c.toInt}%04X")

  def apply(bytes: Array[Byte]): String =
    bytes.map(b => if (printable(b)) b.toChar.toString else f"\\x${b & 0xFF}%02X").mkString
}
