package graft.dialect

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Value → SQL-literal codec, mirroring the reference's `formatValue` /
  * `escapeString` exactly (golden-tested against the reference's vectors).
  *
  * Reference: /root/reference/internal/exporter/exporter.go:312-349 and
  * contract vectors at exporter_test.go:377-439.
  *
  * A pure `Any => String` function so it can run inside executors (e.g. a
  * distributed dump pre-render) or on the driver in the serial dump tail.
  */
object SqlValueCodec {

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Timestamp text: second precision for whole seconds (format parity
    * with the reference, exporter.go:331-332), with a `.SSSSSS` micros
    * suffix only when the value has a fractional second — so the
    * round-trip through the dump reader is lossless for micros while
    * whole-second dumps stay byte-identical to the reference format.
    */
  def formatInstant(t: java.time.Instant): String = {
    val base = tsFmt.format(t)
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  /** Binary → hex literal `X'…'` (MySQL/SQLite syntax). The Go reference
    * renders `[]byte` via `string(v)` (exporter.go:327-328), which is
    * byte-transparent in Go but unrepresentable through a Java UTF-8
    * writer (invalid sequences would become U+FFFD). Hex keeps the
    * round-trip lossless for arbitrary bytes; deliberate divergence.
    */
  /** Lower-case hex of a byte array. */
  def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      sb.append(Character.forDigit(v >> 4, 16)).append(Character.forDigit(v & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  def formatBinary(b: Array[Byte]): String = "X'" + hex(b) + "'"

  /** Escape + single-quote a string: backslash, quote-doubling, and the
    * control characters NUL, LF, CR, SUB — same set and same order as the
    * reference (exporter.go:339-349).
    */
  def escapeString(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('\'')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\'   => sb.append("\\\\")
        case '\''   => sb.append("''")
        case '\u0000' => sb.append("\\0")
        case '\n'   => sb.append("\\n")
        case '\r'   => sb.append("\\r")
        case '\u001a' => sb.append("\\Z")
        case c      => sb.append(c)
      }
      i += 1
    }
    sb.append('\'')
    sb.toString
  }

  /** Render a double like Go's `%v` (shortest round-trip repr; integral
    * values print without a fractional part: 5.0 → "5", 3.14 → "3.14").
    */
  private def formatDouble(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15 && !d.isInfinite) d.toLong.toString
    else d.toString

  private def formatFloat(f: Float): String =
    if (f.isWhole && math.abs(f) < 1e7 && !f.isInfinite) f.toLong.toString
    else f.toString

  /** Format any row value as a SQL literal (exporter.go:312-336). */
  def formatValue(v: Any): String = v match {
    case null                     => "NULL"
    case None                     => "NULL"
    case b: Boolean               => if (b) "1" else "0"
    case i: Byte                  => i.toString
    case i: Short                 => i.toString
    case i: Int                   => i.toString
    case i: Long                  => i.toString
    case i: java.math.BigDecimal  => i.toPlainString
    case i: BigDecimal            => i.bigDecimal.toPlainString
    case d: Double                => formatDouble(d)
    case f: Float                 => formatFloat(f)
    case b: Array[Byte]           => formatBinary(b)
    case s: String                => escapeString(s)
    // Spark's java.sql conversion rebases a timestamp before 1582 onto
    // the Julian calendar; undo it, or `t.toInstant` is days off
    case t: java.sql.Timestamp    => escapeString(formatInstant(
      DateTimeUtils.microsToInstant(DateTimeUtils.fromJavaTimestamp(t))))
    case t: java.time.Instant     => escapeString(formatInstant(t))
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ external type
      escapeString(formatInstant(t.toInstant(ZoneOffset.UTC)))
    case d: java.sql.Date         => escapeString(d.toString + " 00:00:00")
    case d: java.time.LocalDate   => escapeString(d.toString + " 00:00:00")
    case other                    => escapeString(other.toString)
  }
}
