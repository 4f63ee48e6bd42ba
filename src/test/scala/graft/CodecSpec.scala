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
}
