package graft.dialect

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.util.HexFormat
import scala.util.Try
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SQL dump's one type mapping, in both directions. For each Spark
  * type it answers: can the dump carry it ([[sqlType]],
  * [[requireWritable]]), what is its DDL name ([[sqlType]], and
  * [[dataType]] back), how is its literal written ([[formatValue]]),
  * and how is a literal's token read back and compared ([[decode]],
  * [[compare]]). The writer, both dump sinks, the dump reader and its
  * filter pushdown all go through it, so they cannot disagree.
  *
  * The literal encoder mirrors the reference's `formatValue` /
  * `escapeString` (internal/exporter/exporter.go:312-349) exactly, and
  * is golden-tested against its contract vectors
  * (exporter_test.go:377-439).
  *
  * The dump carries every scalar type plus arrays of numbers or
  * booleans, which it writes as JSON array text in a TEXT column (read
  * back as a string; `from_json` recovers the array). Maps, structs and
  * other arrays are refused. Pure functions: they run on executors and
  * on the driver alike.
  */
object SqlValueCodec {

  /** The dump's DDL name for `dt`, or None when the dump cannot carry it.
    * The shape mirrors the reference's Postgres DDL reconstruction
    * (postgres.go:68-114).
    */
  def sqlType(dt: DataType): Option[String] = dt match {
    case BooleanType          => Some("BOOLEAN")
    case ByteType             => Some("TINYINT")
    case ShortType            => Some("SMALLINT")
    case IntegerType          => Some("INTEGER")
    case LongType             => Some("BIGINT")
    case FloatType            => Some("REAL")
    case DoubleType           => Some("DOUBLE PRECISION")
    case d: DecimalType       => Some(s"DECIMAL(${d.precision},${d.scale})")
    case StringType           => Some("TEXT")
    case BinaryType           => Some("BLOB")
    case DateType             => Some("DATE")
    case TimestampType | TimestampNTZType => Some("TIMESTAMP")
    case ArrayType(_: NumericType | BooleanType, _) => Some("TEXT") // JSON array text
    case _                    => None
  }

  /** The dump's name for `dt`, or Spark's own for a type it cannot carry. */
  def typeName(dt: DataType): String = sqlType(dt).getOrElse(dt.sql)

  /** Refuses a schema with a column the dump cannot carry, naming it. */
  def requireWritable(schema: StructType): Unit =
    schema.fields.find(f => sqlType(f.dataType).isEmpty).foreach { f =>
      throw new IllegalArgumentException(
        s"sqldump: cannot write column ${f.name} of type ${f.dataType.sql}")
    }

  /** Inverse of [[sqlType]], plus the dialect-native spellings of real
    * dumps (sized VARCHAR/CHAR, DATETIME, postgres int2/4/8, …).
    */
  def dataType(sqlName: String): DataType = {
    val t = sqlName.trim.toUpperCase
    t.takeWhile(c => c != '(' && c != ' ') match {
      case "BOOLEAN" | "BOOL"                   => BooleanType
      case "TINYINT"                            => ByteType
      // postgres internal spellings (int2/4/8, float4/8) and the SERIAL
      // pseudo-types appear verbatim in real pg_dump output
      case "SMALLINT" | "INT2" | "SMALLSERIAL"  => ShortType
      case "INTEGER" | "INT" | "MEDIUMINT" | "INT4" | "SERIAL" => IntegerType
      case "BIGINT" | "INT8" | "BIGSERIAL"      => LongType
      case "REAL" | "FLOAT" | "FLOAT4"          => FloatType
      case "DOUBLE" | "FLOAT8"                  => DoubleType // DOUBLE [PRECISION]
      case "DECIMAL" | "NUMERIC" =>
        val ps = t.dropWhile(_ != '(').stripPrefix("(").takeWhile(_ != ')')
        val parts = ps.split(',').map(_.trim)
        if (parts.length == 2 && parts.forall(_.forall(_.isDigit)))
          DecimalType(parts(0).toInt, parts(1).toInt)
        else if (parts.length == 1 && parts(0).nonEmpty && parts(0).forall(_.isDigit))
          DecimalType(parts(0).toInt, 0)
        else DecimalType.SYSTEM_DEFAULT
      case "TEXT" | "VARCHAR" | "CHAR" | "CHARACTER" | "CLOB"
         | "TINYTEXT" | "MEDIUMTEXT" | "LONGTEXT"
         | "NVARCHAR" | "NCHAR" | "BPCHAR"       => StringType
      case "BLOB" | "BYTEA" | "BINARY" | "VARBINARY" => BinaryType
      case "DATE"                               => DateType
      // the dump format renders wall-clock text with no zone, so the
      // faithful Spark type is TIMESTAMP_NTZ (micros are identical
      // either way under the engine's fixed-UTC session convention)
      case "TIMESTAMP" | "DATETIME"             => TimestampNTZType
      case other =>
        throw new IllegalArgumentException(s"sqldump: unmapped SQL type '$other'")
    }
  }

  // ---------------------------------------------------------------- encode

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

  /** Lower-case hex of a byte array. */
  def hex(b: Array[Byte]): String = HexFormat.of().formatHex(b)

  /** Binary → hex literal `X'…'` (MySQL/SQLite syntax). The Go reference
    * renders `[]byte` via `string(v)` (exporter.go:327-328), which is
    * byte-transparent in Go but unrepresentable through a Java UTF-8
    * writer (invalid sequences would become U+FFFD). Hex keeps the
    * round-trip lossless for arbitrary bytes; deliberate divergence.
    */
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

  /** Format any row value as a SQL literal (exporter.go:312-336), in the
    * reference's MySQL/SQLite form.
    */
  def formatValue(v: Any): String = formatValue(v, MySqlDialect)

  /** Format any row value as a SQL literal for `dialect`: binary goes
    * through [[Dialect.binaryLiteral]] (PostgreSQL needs bytea
    * hex-input, not the X'…' form).
    */
  def formatValue(v: Any, dialect: Dialect): String = v match {
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
    case b: Array[Byte]           => dialect.binaryLiteral(b)
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
    // an array of numbers or booleans: JSON array text, '[0.019,0.5]'
    // (NaN and ±Infinity as written here are accepted by `from_json`)
    case a: scala.collection.Seq[_] => escapeString(a.map {
      case null       => "null"
      case b: Boolean => b.toString
      case e          => formatValue(e)
    }.mkString("[", ",", "]"))
    case other                    => escapeString(other.toString)
  }

  // ---------------------------------------------------------------- decode

  /** Timestamp parser accepting [[formatInstant]]'s optional micros suffix. */
  private val tsParser: DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd HH:mm:ss")
      .optionalStart()
      .appendFraction(ChronoField.NANO_OF_SECOND, 1, 6, true)
      .optionalEnd()
      .toFormatter

  /** Inverse of [[formatInstant]], as epoch micros. */
  private[graft] def parseTimestampMicros(tok: String): Long = {
    val inst = LocalDateTime.parse(tok, tsParser).toInstant(ZoneOffset.UTC)
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** Inverse of [[formatBinary]] and of the postgres bytea form `\x…`
    * (after the tokenizer's unquote). Malformed hex is not decoded into
    * garbage bytes: like any other token it falls back to the legacy
    * UTF-8-bytes reading.
    */
  private[graft] def decodeBinary(tok: String): Array[Byte] = {
    val hex =
      if (tok.length >= 3 && (tok(0) == 'X' || tok(0) == 'x') && tok(1) == '\'' && tok.last == '\'')
        Some(tok.substring(2, tok.length - 1))
      else if (tok.length >= 2 && tok(0) == '\\' && (tok(1) == 'x' || tok(1) == 'X'))
        Some(tok.substring(2))
      else None
    hex.flatMap(h => Try(HexFormat.of().parseHex(h)).toOption).getOrElse(tok.getBytes(UTF_8))
  }

  /** A literal's token (the tokenizer's output: unquoted, unescaped) as
    * the Catalyst value of `dt`.
    */
  def decode(tok: String, dt: DataType): Any = dt match {
    case StringType    => UTF8String.fromString(tok)
    case LongType      => tok.toLong
    case IntegerType   => tok.toInt
    case ShortType     => tok.toShort
    case ByteType      => tok.toByte
    case DoubleType    => tok.toDouble
    case FloatType     => tok.toFloat
    case BooleanType   => tok != "0" // the encoder writes booleans as 1/0
    case d: DecimalType => Decimal(BigDecimal(tok), d.precision, d.scale)
    case TimestampType | TimestampNTZType => parseTimestampMicros(tok)
    case DateType      => LocalDate.parse(tok.take(10)).toEpochDay.toInt
    case BinaryType    => decodeBinary(tok)
    case other =>
      throw new IllegalArgumentException(s"sqldump: cannot decode to $other")
  }

  /** Whether the dump reader claims a pushed comparison on a `dt`
    * column, deciding it with [[compare]]: numbers, booleans and
    * temporals; strings for equality only (a string ordering stays a
    * post-scan Filter).
    */
  def pushable(dt: DataType, ordered: Boolean): Boolean = dt match {
    case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType => true
    case StringType => !ordered
    case _ => false
  }

  /** A token against a pushed filter's literal, in Spark's own order for
    * `dt` (NaN above every number and equal to itself, as Spark has it).
    */
  def compare(tok: String, dt: DataType, literal: Any): Int =
    PhysicalDataType.ordering(dt)
      .compare(decode(tok, dt), CatalystTypeConverters.convertToCatalyst(literal))
}
