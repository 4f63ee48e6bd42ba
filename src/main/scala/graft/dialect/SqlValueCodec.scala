package graft.dialect

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.util.HexFormat
import scala.util.Try
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Literal, SpecializedGetters}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SQL dump's one type mapping, in both directions. For each Spark
  * type it answers: can the dump carry it ([[sqlType]],
  * [[requireWritable]]), what is its DDL name ([[sqlType]], and
  * [[dataType]] back), how is its literal written ([[writer]], one per
  * column, chosen from the type), and how is a literal's token read
  * back and compared ([[decode]], [[compare]]). The writer, both dump
  * sinks, the dump reader and its filter pushdown all go through it, so
  * they cannot disagree.
  *
  * The literal encoder mirrors the reference's `formatValue` /
  * `escapeString` (internal/exporter/exporter.go:312-349) exactly, and
  * is golden-tested against its contract vectors
  * (exporter_test.go:377-439). [[formatValue]] keeps that contract for
  * external values: it converts one to its Catalyst form and writes it
  * through the same writers.
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

  /** Appends the literal of the value at an ordinal of a row (or an
    * array's element) to a builder.
    */
  type ValueWriter = (SpecializedGetters, Int, java.lang.StringBuilder) => Unit

  /** The literal writer of a `dt` column for `dialect`, chosen once per
    * column: it reads the Catalyst value straight off the row and
    * appends its literal, `NULL` for a null. Its bytes are the literal
    * contract of the reference's `formatValue` / `escapeString`
    * (exporter.go:312-349), which [[formatValue]] keeps for external
    * values. A map, a struct or an array of anything but numbers or
    * booleans is refused.
    */
  def writer(dt: DataType, dialect: Dialect): ValueWriter = {
    val value = valueWriter(dt, dialect)
    (row, i, sb) => if (row.isNullAt(i)) sb.append("NULL") else value(row, i, sb)
  }

  private def valueWriter(dt: DataType, dialect: Dialect): ValueWriter = dt match {
    case BooleanType => (r, i, sb) => sb.append(if (r.getBoolean(i)) '1' else '0')
    case ByteType    => (r, i, sb) => sb.append(r.getByte(i).toInt)
    case ShortType   => (r, i, sb) => sb.append(r.getShort(i).toInt)
    case IntegerType => (r, i, sb) => sb.append(r.getInt(i))
    case LongType    => (r, i, sb) => sb.append(r.getLong(i))
    case FloatType   => (r, i, sb) => appendFloat(sb, r.getFloat(i))
    case DoubleType  => (r, i, sb) => appendDouble(sb, r.getDouble(i))
    case d: DecimalType =>
      val (p, s) = (d.precision, d.scale)
      (r, i, sb) => sb.append(r.getDecimal(i, p, s).toJavaBigDecimal.toPlainString)
    case StringType  => (r, i, sb) => appendString(sb, r.getUTF8String(i))
    case BinaryType  => (r, i, sb) => sb.append(dialect.binaryLiteral(r.getBinary(i)))
    case DateType    => (r, i, sb) => {
      sb.append('\'')
      appendDate(sb, r.getInt(i))
      sb.append(" 00:00:00'")
    }
    case TimestampType | TimestampNTZType => (r, i, sb) => {
      sb.append('\'')
      appendTimestamp(sb, r.getLong(i))
      sb.append('\'')
    }
    // an array of numbers or booleans: JSON array text, '[0.019,0.5]'
    // (NaN and ±Infinity as written here are accepted by `from_json`)
    case ArrayType(et @ (_: NumericType | BooleanType | NullType), _) =>
      val elem: ValueWriter =
        if (et == BooleanType) (a, j, sb) => sb.append(a.getBoolean(j))
        else valueWriter(et, dialect)
      (r, i, sb) => {
        val a = r.getArray(i)
        sb.append("'[")
        var j = 0
        while (j < a.numElements()) {
          if (j > 0) sb.append(',')
          if (a.isNullAt(j)) sb.append("null") else elem(a, j, sb)
          j += 1
        }
        sb.append("]'")
      }
    case NullType => (_, _, _) => () // never called: every value is null
    case other =>
      throw new IllegalArgumentException(s"sqldump: cannot write type ${other.sql}")
  }

  /** Go's `%v` for a double (shortest round-trip repr): a whole value
    * below 1e15 prints without a fractional part, 5.0 → "5".
    */
  private def appendDouble(sb: java.lang.StringBuilder, d: Double): Unit = {
    val l = d.toLong
    if (l == d && math.abs(d) < 1e15) sb.append(l) else sb.append(d)
  }

  private def appendFloat(sb: java.lang.StringBuilder, f: Float): Unit = {
    val l = f.toLong
    if (l == f && math.abs(f) < 1e7f) sb.append(l) else sb.append(f)
  }

  /** Escape + single-quote a string: backslash, quote-doubling, and the
    * control characters NUL, LF, CR, SUB — same set and same order as the
    * reference (exporter.go:339-349).
    */
  def escapeString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    appendQuoted(sb, s)
    sb.toString
  }

  private def appendQuoted(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('\'')
    var i = 0
    while (i < s.length) {
      appendEscaped(sb, s.charAt(i))
      i += 1
    }
    sb.append('\'')
  }

  /** [[escapeString]] of a Catalyst string: an ASCII one is escaped from
    * its bytes; any other is decoded as the JVM decodes it.
    */
  private def appendString(sb: java.lang.StringBuilder, u: UTF8String): Unit =
    if (!u.isFullAscii) appendQuoted(sb, u.toString)
    else {
      sb.append('\'')
      var i = 0
      while (i < u.numBytes) {
        appendEscaped(sb, u.getByte(i).toChar)
        i += 1
      }
      sb.append('\'')
    }

  private def appendEscaped(sb: java.lang.StringBuilder, c: Char): Unit = c match {
    case '\\'     => sb.append("\\\\")
    case '\''     => sb.append("''")
    case '\u0000' => sb.append("\\0")
    case '\n'     => sb.append("\\n")
    case '\r'     => sb.append("\\r")
    case '\u001a' => sb.append("\\Z")
    case c        => sb.append(c)
  }

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

  /** [[formatInstant]] of epoch micros, from the micros themselves for
    * the years 1–9999. No `java.sql.Timestamp` is involved, so a value in
    * the days the 1582 Julian-Gregorian cutover skipped (10-05 to 10-14)
    * writes as itself, as the dump reader reads it back.
    */
  private def appendTimestamp(sb: java.lang.StringBuilder, micros: Long): Unit = {
    val secs = Math.floorDiv(micros, 1000000L)
    val fraction = Math.floorMod(micros, 1000000L).toInt
    val secOfDay = Math.floorMod(secs, 86400L).toInt
    if (!appendDay(sb, Math.floorDiv(secs, 86400L)))
      sb.append(formatInstant(DateTimeUtils.microsToInstant(micros)))
    else {
      sb.append(' ')
      appendPadded(sb, secOfDay / 3600, 2)
      sb.append(':')
      appendPadded(sb, secOfDay / 60 % 60, 2)
      sb.append(':')
      appendPadded(sb, secOfDay % 60, 2)
      if (fraction != 0) {
        sb.append('.')
        appendPadded(sb, fraction, 6)
      }
    }
  }

  /** A date's text: `yyyy-MM-dd` of its epoch day, with the ISO signed
    * year outside the years 1–9999 (`+10000-01-01`, as a timestamp of that
    * year writes), which [[decode]] reads back.
    */
  private def appendDate(sb: java.lang.StringBuilder, days: Int): Unit =
    if (!appendDay(sb, days)) sb.append(LocalDate.ofEpochDay(days).toString)

  /** Appends `yyyy-MM-dd` of an epoch day in the years 1–9999, or
    * nothing and false outside them.
    */
  private def appendDay(sb: java.lang.StringBuilder, days: Long): Boolean = {
    val date = LocalDate.ofEpochDay(days)
    val year = date.getYear
    year >= 1 && year <= 9999 && {
      appendPadded(sb, year, 4)
      sb.append('-')
      appendPadded(sb, date.getMonthValue, 2)
      sb.append('-')
      appendPadded(sb, date.getDayOfMonth, 2)
      true
    }
  }

  /** A non-negative int, zero-padded to `width` digits. */
  private def appendPadded(sb: java.lang.StringBuilder, v: Int, width: Int): Unit = {
    var bound = 10
    var digits = 1
    while (digits < width) {
      if (v < bound) sb.append('0')
      bound *= 10
      digits += 1
    }
    sb.append(v)
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

  /** Format any row value as a SQL literal (exporter.go:312-336), in the
    * reference's MySQL/SQLite form.
    */
  def formatValue(v: Any): String = formatValue(v, MySqlDialect)

  /** Format an external row value (as a `Row` holds it) as a SQL literal
    * for `dialect`: converted to its Catalyst form, then written by the
    * column [[writer]] of its type.
    */
  def formatValue(v: Any, dialect: Dialect): String = {
    val dt = externalType(v)
    val sb = new java.lang.StringBuilder(16)
    writer(dt, dialect)(InternalRow(CatalystTypeConverters.createToCatalystConverter(dt)(v)), 0, sb)
    sb.toString
  }

  /** The Spark type of an external value: a sequence is an array of its
    * first non-null element's type.
    */
  private def externalType(v: Any): DataType = v match {
    case null | None                => NullType
    case s: scala.collection.Seq[_] => ArrayType(s.find(_ != null).fold[DataType](NullType)(externalType))
    case other                      => Literal(other).dataType
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
    case DateType      => LocalDate.parse(tok.takeWhile(_ != ' ')).toEpochDay.toInt
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
