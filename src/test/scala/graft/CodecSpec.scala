package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dialect._

/** Golden vectors ported from the reference's codec contract tests
  * (/root/reference/internal/exporter/exporter_test.go:377-439) plus the
  * dialect quoting tests (sqlite_test.go:425-447).
  */
class CodecSpec extends AnyFunSuite {

  test("formatValue matches reference vectors") {
    val vectors: Seq[(Any, String)] = Seq(
      (null, "NULL"),
      (true, "1"),
      (false, "0"),
      (42, "42"),
      (123L, "123"),
      (-5, "-5"),
      (100L, "100"),
      (3.14, "3.14"),
      (2.5f, "2.5"),
      ("hello", "'hello'"),
      ("it's", "'it''s'"),
      ("a\\b", "'a\\\\b'"),
      ("line1\nline2", "'line1\\nline2'"),
      ("a\rb", "'a\\rb'"),
      // deliberate divergence from the reference's `string(v)` (which is
      // byte-transparent only in Go): binary renders as a hex literal so
      // arbitrary bytes survive a UTF-8 writer losslessly
      ("binary".getBytes("UTF-8"), "X'62696e617279'"),
      (java.sql.Timestamp.valueOf("2024-01-15 10:30:00"), "'2024-01-15 10:30:00'"),
    )
    for ((in, want) <- vectors)
      assert(SqlValueCodec.formatValue(in) == want, s"input: $in")
  }

  test("binary literals round-trip arbitrary non-UTF-8 bytes") {
    val bytes = Array[Byte](0, 1, -1, -128, 127, 0x27, 0x5c, -30, -126) // invalid UTF-8 tail
    assert(SqlValueCodec.formatBinary(bytes) == "X'0001ff807f275ce282'")
  }

  test("binary literal per dialect: X'…' for mysql/sqlite, bytea hex for postgres") {
    val bytes = Array[Byte](0x0a, 0x1b, -1)
    assert(MySqlDialect.binaryLiteral(bytes) == "X'0a1bff'")
    assert(SqliteDialect.binaryLiteral(bytes) == "X'0a1bff'")
    // X'…' is a BIT-string literal in PostgreSQL — bytea takes '\x…'
    assert(PostgresDialect.binaryLiteral(bytes) == "'\\x0a1bff'")
  }

  test("timestamps with sub-second micros keep them; whole seconds stay second-precision") {
    val whole = java.time.Instant.parse("2024-01-15T10:30:00Z")
    assert(SqlValueCodec.formatValue(whole) == "'2024-01-15 10:30:00'")
    val frac = java.time.Instant.parse("2024-01-15T10:30:00.123456Z")
    assert(SqlValueCodec.formatValue(frac) == "'2024-01-15 10:30:00.123456'")
    val milli = java.time.Instant.parse("2024-01-15T10:30:00.005Z")
    assert(SqlValueCodec.formatValue(milli) == "'2024-01-15 10:30:00.005000'")
  }

  test("whole doubles print without fraction (Go %v parity)") {
    assert(SqlValueCodec.formatValue(5.0) == "5")
    assert(SqlValueCodec.formatValue(-3.0) == "-3")
    assert(SqlValueCodec.formatValue(0.5) == "0.5")
  }

  test("escapeString matches reference vectors") {
    val vectors = Seq(
      ("hello", "'hello'"),
      ("it's a test", "'it''s a test'"),
      ("back\\slash", "'back\\\\slash'"),
      ("new\nline", "'new\\nline'"),
      ("carriage\rreturn", "'carriage\\rreturn'"),
      ("null\u0000char", "'null\\0char'"),
      ("ctrl-z\u001achar", "'ctrl-z\\Zchar'"),
      ("", "''"),
      ("multiple''quotes", "'multiple''''quotes'"),
    )
    for ((in, want) <- vectors)
      assert(SqlValueCodec.escapeString(in) == want, s"input: ${in.replace("\u0000", "<NUL>")}")
  }

  test("identifier quoting per dialect (reference sqlite_test.go:425-447)") {
    assert(MySqlDialect.quoteIdentifier("users") == "`users`")
    assert(MySqlDialect.quoteIdentifier("weird`name") == "`weird``name`")
    assert(PostgresDialect.quoteIdentifier("users") == "\"users\"")
    assert(SqliteDialect.quoteIdentifier("weird\"name") == "\"weird\"\"name\"")
  }

  test("drop statements per dialect (exporter.go:259-271)") {
    assert(MySqlDialect.dropTableStatement("t") == "DROP TABLE IF EXISTS `t`;")
    assert(PostgresDialect.dropTableStatement("t") == "DROP TABLE IF EXISTS \"t\" CASCADE;")
    assert(SqliteDialect.dropTableStatement("t") == "DROP TABLE IF EXISTS \"t\";")
  }

  test("dialect headers/footers match reference framing (exporter.go:91-166)") {
    assert(MySqlDialect.header.contains("SET FOREIGN_KEY_CHECKS = 0;"))
    assert(MySqlDialect.header.contains("START TRANSACTION;"))
    assert(MySqlDialect.footer.contains("COMMIT;"))
    assert(MySqlDialect.footer.contains("SET FOREIGN_KEY_CHECKS = 1;"))
    assert(PostgresDialect.header.contains("SET client_encoding = 'UTF8';"))
    assert(PostgresDialect.footer.contains("-- End of dump"))
    assert(SqliteDialect.header.contains("PRAGMA foreign_keys = OFF;"))
    assert(SqliteDialect.footer.contains("PRAGMA foreign_keys = ON;"))
  }

  test("numeric and boolean arrays dump as JSON text under TEXT; maps and structs are refused") {
    import org.apache.spark.sql.types._
    assert(SqlValueCodec.formatValue(Seq(0.019f, 0.5f)) == "'[0.019,0.5]'")
    assert(SqlValueCodec.formatValue(Seq(1L, null, -3L)) == "'[1,null,-3]'")
    assert(SqlValueCodec.formatValue(Seq(true, false)) == "'[true,false]'")
    assert(SqlValueCodec.formatValue(Seq.empty[Double]) == "'[]'")
    assert(SqlValueCodec.sqlType(ArrayType(FloatType)).contains("TEXT"))
    assert(SqlValueCodec.sqlType(ArrayType(DecimalType(10, 2))).contains("TEXT"))
    for (dt <- Seq(ArrayType(StringType), ArrayType(ArrayType(IntegerType)),
                   MapType(StringType, IntegerType), new StructType().add("a", IntegerType))) {
      assert(SqlValueCodec.sqlType(dt).isEmpty, dt)
      val e = intercept[IllegalArgumentException](SqlValueCodec.requireWritable(
        new StructType().add("id", LongType).add("c", dt)))
      assert(e.getMessage.contains("column c") && e.getMessage.contains(dt.sql), e.getMessage)
    }
  }

  test("golden edge cases: the InternalRow writers and formatValue write the recorded literals") {
    import java.time.{LocalDate, LocalDateTime}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    def ts(s: String): Long = DateTimeUtils.localDateTimeToMicros(LocalDateTime.parse(s))
    def day(y: Int, m: Int, d: Int): Int = LocalDate.of(y, m, d).toEpochDay.toInt
    def dec(s: String, p: Int, sc: Int): Decimal = Decimal(BigDecimal(s), p, sc)
    def str(s: String): UTF8String = UTF8String.fromString(s)
    def arr(vs: Any*): GenericArrayData = new GenericArrayData(vs.toArray)
    val year10000 = LocalDateTime.of(10000, 1, 1, 0, 0)
    // (type, Catalyst value, literal): each literal was recorded from
    // formatValue of the value's external form, as a Row holds it, before
    // the writers existed
    val anyDialect: Seq[(DataType, Any, String)] = Seq(
      BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
      DecimalType(12, 3), StringType, BinaryType, DateType, TimestampType, TimestampNTZType,
      ArrayType(DoubleType), ArrayType(BooleanType)).map(dt => (dt, null, "NULL")) ++ Seq(
      (BooleanType, true, "1"), (BooleanType, false, "0"),
      (ByteType, (-128).toByte, "-128"), (ShortType, 32767.toShort, "32767"),
      (IntegerType, Int.MinValue, "-2147483648"),
      (LongType, Long.MaxValue, "9223372036854775807"),
      (LongType, Long.MinValue, "-9223372036854775808"),
      (DoubleType, Double.NaN, "NaN"), (DoubleType, Double.PositiveInfinity, "Infinity"),
      (DoubleType, Double.NegativeInfinity, "-Infinity"), (DoubleType, -0.0, "0"),
      (DoubleType, 0.0, "0"), (DoubleType, 999999999999999.0, "999999999999999"),
      (DoubleType, -999999999999999.0, "-999999999999999"), (DoubleType, 1e15, "1.0E15"),
      (DoubleType, -1e15, "-1.0E15"), (DoubleType, 1.5e15, "1.5E15"),
      (DoubleType, 1e16, "1.0E16"), (DoubleType, 1e20, "1.0E20"),
      (DoubleType, 9.223372036854776e18, "9.223372036854776E18"), (DoubleType, 0.1, "0.1"),
      (DoubleType, 1e-7, "1.0E-7"), (DoubleType, Double.MinPositiveValue, "4.9E-324"),
      (FloatType, Float.NaN, "NaN"), (FloatType, Float.PositiveInfinity, "Infinity"),
      (FloatType, Float.NegativeInfinity, "-Infinity"), (FloatType, -0.0f, "0"),
      (FloatType, 9999999.0f, "9999999"), (FloatType, -9999999.0f, "-9999999"),
      (FloatType, 1e7f, "1.0E7"), (FloatType, -1e7f, "-1.0E7"), (FloatType, 1.6e7f, "1.6E7"),
      (FloatType, 3.4e38f, "3.4E38"), (FloatType, 0.019f, "0.019"), (FloatType, 1e-7f, "1.0E-7"),
      (DecimalType(12, 3), dec("-12.345", 12, 3), "-12.345"),
      (DecimalType(12, 3), dec("0.001", 12, 3), "0.001"),
      (DecimalType(12, 3), dec("-0.001", 12, 3), "-0.001"),
      (DecimalType(12, 3), dec("0", 12, 3), "0.000"),
      (DecimalType(12, 3), dec("-999999999.999", 12, 3), "-999999999.999"),
      (DecimalType(5, 0), dec("-99999", 5, 0), "-99999"),
      (DecimalType(18, 18), dec("-0.000000000000000001", 18, 18), "-0.000000000000000001"),
      (DecimalType(38, 18), dec("-12345678901234567890.123456789012345678", 38, 18),
        "-12345678901234567890.123456789012345678"),
      (DecimalType(38, 18), dec("0.000000000000000001", 38, 18), "0.000000000000000001"),
      (DecimalType(38, 38), dec("-0.12345678901234567890123456789012345678", 38, 38),
        "-0.12345678901234567890123456789012345678"),
      (StringType, str("back\\slash"), "'back\\\\slash'"), (StringType, str("it's"), "'it''s'"),
      (StringType, str("nul\u0000"), "'nul\\0'"), (StringType, str("line\nfeed"), "'line\\nfeed'"),
      (StringType, str("carriage\rreturn"), "'carriage\\rreturn'"),
      (StringType, str("sub\u001a"), "'sub\\Z'"),
      (StringType, str("a\\b'c\u0000d\ne\rf\u001ag''"), "'a\\\\b''c\\0d\\ne\\rf\\Zg'''''"),
      (StringType, str(""), "''"),
      // U+1D11E and U+1F600 lie outside the BMP
      (StringType, str("clef 𝄞 and é'😀"),
        "'clef 𝄞 and é''😀'"),
      (TimestampType, ts("2024-01-15T10:30:00"), "'2024-01-15 10:30:00'"),
      (TimestampType, ts("2024-01-15T10:30:00.123456"), "'2024-01-15 10:30:00.123456'"),
      (TimestampType, ts("2024-01-15T10:30:00.000001"), "'2024-01-15 10:30:00.000001'"),
      (TimestampType, ts("1969-12-31T23:59:59.5"), "'1969-12-31 23:59:59.500000'"),
      (TimestampType, ts("1000-01-01T12:00:00"), "'1000-01-01 12:00:00'"),
      (TimestampType, ts("1000-01-01T12:00:00.25"), "'1000-01-01 12:00:00.250000'"),
      (TimestampType, ts("1582-10-04T23:59:59.999999"), "'1582-10-04 23:59:59.999999'"),
      (TimestampType, ts("0001-01-01T00:00:00"), "'0001-01-01 00:00:00'"),
      (TimestampType, ts("9999-12-31T23:59:59.999999"), "'9999-12-31 23:59:59.999999'"),
      (TimestampType, DateTimeUtils.localDateTimeToMicros(year10000.withNano(1000)),
        "'+10000-01-01 00:00:00.000001'"),
      (TimestampNTZType, ts("2024-01-15T10:30:00"), "'2024-01-15 10:30:00'"),
      (TimestampNTZType, ts("2024-01-15T10:30:00.000789"), "'2024-01-15 10:30:00.000789'"),
      (TimestampNTZType, ts("1969-12-31T23:59:59.5"), "'1969-12-31 23:59:59.500000'"),
      (TimestampNTZType, ts("1000-01-01T12:00:00"), "'1000-01-01 12:00:00'"),
      (TimestampNTZType, ts("1000-01-01T12:00:00.25"), "'1000-01-01 12:00:00.250000'"),
      (TimestampNTZType, ts("0001-01-01T00:00:00"), "'0001-01-01 00:00:00'"),
      (TimestampNTZType, DateTimeUtils.localDateTimeToMicros(year10000), "'+10000-01-01 00:00:00'"),
      (DateType, day(2024, 2, 29), "'2024-02-29 00:00:00'"),
      (DateType, day(1969, 12, 31), "'1969-12-31 00:00:00'"),
      (DateType, day(1000, 1, 1), "'1000-01-01 00:00:00'"),
      (DateType, day(1582, 10, 4), "'1582-10-04 00:00:00'"),
      (DateType, day(1582, 10, 15), "'1582-10-15 00:00:00'"),
      (DateType, day(1, 1, 1), "'0001-01-01 00:00:00'"),
      (DateType, day(9999, 12, 31), "'9999-12-31 00:00:00'"),
      // a year past 9999 writes its ISO signed year, as a timestamp does
      (DateType, day(10000, 1, 1), "'+10000-01-01 00:00:00'"),
      (DateType, day(12345, 6, 7), "'+12345-06-07 00:00:00'"),
      (ArrayType(DoubleType), arr(0.5, null, -1e20, 3.0, Double.NaN, Double.NegativeInfinity, -0.0, 1e15),
        "'[0.5,null,-1.0E20,3,NaN,-Infinity,0,1.0E15]'"),
      (ArrayType(FloatType), arr(0.019f, null, 1e7f, 9999999.0f, Float.PositiveInfinity),
        "'[0.019,null,1.0E7,9999999,Infinity]'"),
      (ArrayType(LongType), arr(1L, null, -3L), "'[1,null,-3]'"),
      (ArrayType(IntegerType), arr(null, null), "'[null,null]'"),
      (ArrayType(DecimalType(5, 2)), arr(dec("1.50", 5, 2), null, dec("-0.01", 5, 2)),
        "'[1.50,null,-0.01]'"),
      (ArrayType(BooleanType), arr(true, null, false), "'[true,null,false]'"),
      (ArrayType(DoubleType), arr(), "'[]'"))
    val bin = Array[Byte](0, -1, 16, 97, 0x27, 0x5c)
    val perDialect: Seq[(DataType, Any, Dialect, String)] = Seq(
      (BinaryType, bin, MySqlDialect, "X'00ff1061275c'"),
      (BinaryType, bin, PostgresDialect, "'\\x00ff1061275c'"),
      (BinaryType, Array.emptyByteArray, MySqlDialect, "X''"),
      (BinaryType, Array.emptyByteArray, PostgresDialect, "'\\x'"))
    val cases = anyDialect.flatMap { case (dt, v, want) =>
      Seq(MySqlDialect, PostgresDialect).map(d => (dt, v, d, want))
    } ++ perDialect
    for ((dt, v, dialect, want) <- cases) {
      val generic = new GenericInternalRow(Array(v))
      for (row <- Seq(generic, UnsafeProjection.create(Array(dt))(generic))) {
        val sb = new java.lang.StringBuilder
        SqlValueCodec.writer(dt, dialect)(row, 0, sb)
        assert(sb.toString == want, s"${dt.sql} ${dialect.name} ${row.getClass.getSimpleName}")
      }
      val external = CatalystTypeConverters.createToScalaConverter(dt)(v)
      assert(SqlValueCodec.formatValue(external, dialect) == want, s"${dt.sql} ${dialect.name} $external")
    }
  }

  test("dates and timestamps in the days the 1582 cutover skipped write as themselves") {
    import java.time.{LocalDate, LocalDateTime}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.types._
    val day = LocalDate.of(1582, 10, 10).toEpochDay.toInt
    val micros = DateTimeUtils.localDateTimeToMicros(LocalDateTime.of(1582, 10, 10, 12, 0))
    def write(dt: DataType, v: Any): String = {
      val sb = new java.lang.StringBuilder
      SqlValueCodec.writer(dt, MySqlDialect)(new GenericInternalRow(Array(v)), 0, sb)
      sb.toString
    }
    // through a java.sql value these read 1582-10-15
    assert(write(DateType, day) == "'1582-10-10 00:00:00'")
    assert(write(TimestampType, micros) == "'1582-10-10 12:00:00'")
    assert(write(TimestampNTZType, micros) == "'1582-10-10 12:00:00'")
  }
}
