package graft

import java.sql.DriverManager
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.config.{Connection, FakerRule, GraftConfig, RetainAfter, RetainCount, TableConfig}
import graft.dialect.SqliteDialect
import graft.export.ExportPipeline
import graft.sources.JdbcSource

/** Real-database integration: the full `JdbcSource` stack against
  * embedded in-memory Derby — live `DatabaseMetaData` for tables /
  * columns / PKs / FKs, `spark.read.jdbc` scans (single and
  * range-partitioned), retain pushdown, type round-trips, and the
  * end-to-end export pipeline. Mirrors the reference's SQLite
  * integration layer (/root/reference/internal/database/sqlite_test.go:
  * schema at 26-57, StreamRows at 275-392, type round-trips at 456-526)
  * with the same test schema.
  */
class DerbyIntegrationSpec extends AnyFunSuite with SparkSuite {

  System.setProperty("derby.system.home", "/tmp/derby-graft")
  System.setProperty("derby.stream.error.file", "/tmp/derby-graft/derby.log")

  private val dbName = s"graftit_${System.nanoTime()}"
  private val url = s"jdbc:derby:memory:$dbName"

  private lazy val ready: Unit = {
    val c = DriverManager.getConnection(s"$url;create=true")
    val st = c.createStatement()
    // the reference's test schema (sqlite_test.go:26-57), Derby-typed
    st.executeUpdate(
      """CREATE TABLE users (
        |  id INTEGER GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY,
        |  name VARCHAR(100) NOT NULL,
        |  email VARCHAR(200),
        |  age INTEGER DEFAULT 0,
        |  active INTEGER DEFAULT 1
        |)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE orders (
        |  id INTEGER GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY,
        |  user_id INTEGER NOT NULL REFERENCES users(id),
        |  amount DOUBLE NOT NULL,
        |  created_at TIMESTAMP
        |)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE products (
        |  id INTEGER GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY,
        |  name VARCHAR(100) NOT NULL,
        |  price DOUBLE
        |)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE types_test (
        |  id INTEGER NOT NULL PRIMARY KEY,
        |  int_col INTEGER,
        |  real_col DOUBLE,
        |  text_col VARCHAR(50),
        |  dec_col DECIMAL(10,2),
        |  blob_col BLOB,
        |  null_col VARCHAR(10)
        |)""".stripMargin)
    val ins = c.prepareStatement(
      "INSERT INTO users (name, email, age) VALUES (?, ?, ?)")
    for (i <- 1 to 10) {
      ins.setString(1, s"User$i"); ins.setString(2, s"user$i@example.com"); ins.setInt(3, 20 + i)
      ins.executeUpdate()
    }
    val insOrd = c.prepareStatement(
      "INSERT INTO orders (user_id, amount, created_at) VALUES (?, ?, ?)")
    for (i <- 1 to 6) {
      insOrd.setInt(1, i); insOrd.setDouble(2, i * 10.5)
      insOrd.setTimestamp(3, java.sql.Timestamp.valueOf(s"2024-01-0$i 12:00:00"))
      insOrd.executeUpdate()
    }
    st.executeUpdate(
      """INSERT INTO types_test (id, int_col, real_col, text_col, dec_col, blob_col, null_col)
        |VALUES (1, 42, 3.14, 'hello',
        |        12345.67, CAST(X'48454C4C4F' AS BLOB), NULL)""".stripMargin)
    c.close()
  }

  private def source(parts: Int = 1): JdbcSource = {
    ready
    JdbcSource(spark, url, "", "", schemaName = "APP", numPartitions = parts)
  }

  test("tables: live catalog listing, sorted (O1 on a real DatabaseMetaData)") {
    assert(source().tables == Seq("ORDERS", "PRODUCTS", "TYPES_TEST", "USERS"))
  }

  test("columns: name/type/nullability/default from the live catalog (O3)") {
    val cols = source().columns("USERS")
    assert(cols.map(_.name) == Seq("ID", "NAME", "EMAIL", "AGE", "ACTIVE"))
    val byName = cols.map(c => c.name -> c).toMap
    assert(!byName("ID").isNullable && !byName("NAME").isNullable)
    assert(byName("EMAIL").isNullable)
    assert(byName("AGE").default.exists(_.trim == "0"))
  }

  test("foreignKeys: ORDERS.USER_ID -> USERS.ID discovered live (O4)") {
    val fks = source().foreignKeys
    assert(fks.exists(fk => fk.table == "ORDERS" && fk.column == "USER_ID" &&
      fk.referencedTable == "USERS" && fk.referencedColumn == "ID"))
  }

  test("subset over a live JDBC source: the persisted closure, proven closed") {
    // a JDBC table may not re-read the same rows at render time, so the
    // closure keeps its persisted snapshot instead of held keys
    val src = source()
    val tables = src.tables.map(t => t -> src.read(t)).toMap
    try {
      val r = graft.export.Subset.restrict(tables, src.foreignKeys, "USERS",
        org.apache.spark.sql.functions.col("ID") <= 3)
      assert(r.decision.branch == graft.ops.DriverBudget.Distributed, r.decision.toString)
      assert(r.orphans.values.forall(_ == 0L), r.orphans.toString)
      assert(r.kept("ORDERS").count() > 0 && r.kept("USERS").count() == 3)
    } finally graft.ops.OpCaches.releaseAll()
  }

  test("schemaDDL: dialect-native capture — sized types, NOT NULL, DEFAULT, IDENTITY, PK (O2)") {
    val ddl = source().schemaDDL("USERS")
    assert(ddl.contains(""""NAME" VARCHAR(100) NOT NULL"""), ddl)
    assert(ddl.contains(""""EMAIL" VARCHAR(200)"""), ddl)
    assert(ddl.contains(""""AGE" INTEGER DEFAULT 0"""), ddl)
    assert(ddl.contains("GENERATED BY DEFAULT AS IDENTITY"), ddl)
    assert(ddl.contains("""PRIMARY KEY ("ID")"""), ddl)
    val tddl = source().schemaDDL("TYPES_TEST")
    assert(tddl.contains(""""DEC_COL" DECIMAL(10,2)"""), tddl)
  }

  test("rowCount: COUNT(*) pushed to the database (O5)") {
    assert(source().rowCount("USERS") == 10L)
    assert(source().rowCount("PRODUCTS") == 0L)
  }

  test("read: spark.read.jdbc round-trips rows and values") {
    val df = source().read("USERS")
    assert(df.count() == 10)
    val ages = df.select("AGE").as[Int](org.apache.spark.sql.Encoders.scalaInt)
      .collect().sorted.toSeq
    assert(ages == (21 to 30))
    val r = df.filter(col("ID") === 1).select("NAME", "EMAIL").head()
    assert(r.getString(0) == "User1" && r.getString(1) == "user1@example.com")
  }

  test("partitioned scan: range predicates on the numeric PK, same data") {
    val df = source(parts = 4).read("USERS")
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 JDBC range partitions, got ${df.rdd.getNumPartitions}")
    assert(df.count() == 10)
    assert(df.select(sum("AGE")).head().getLong(0) == (21 to 30).sum)
  }

  test("scan with retain: LIMIT and date-filter pushdown against the live DB (O7/O8)") {
    val s = source()
    assert(s.scan("USERS", RetainCount(5)).count() == 5)
    val cutoff = java.time.Instant.parse("2024-01-03T12:00:00Z")
    val kept = s.scan("ORDERS", RetainAfter("CREATED_AT", cutoff))
    assert(kept.count() == 3, "strict > on created_at must keep orders 4..6")
  }

  test("type round-trip: INTEGER/DOUBLE/VARCHAR/DECIMAL/BLOB/NULL (sqlite_test.go:456-526)") {
    val row = source().read("TYPES_TEST").head()
    assert(row.getAs[Int]("INT_COL") == 42)
    assert(row.getAs[Double]("REAL_COL") == 3.14)
    assert(row.getAs[String]("TEXT_COL") == "hello")
    assert(row.getAs[java.math.BigDecimal]("DEC_COL").doubleValue() == 12345.67)
    assert(new String(row.getAs[Array[Byte]]("BLOB_COL"), "UTF-8") == "HELLO")
    assert(row.isNullAt(row.fieldIndex("NULL_COL")))
  }

  test("CLI export end-to-end against the live database (--source jdbc:...)") {
    ready
    val cfgPath = java.nio.file.Files.createTempFile("graft_derby_cfg", ".yaml")
    java.nio.file.Files.writeString(cfgPath,
      """connection:
        |  type: sqlite
        |  file: ignored
        |configuration:
        |  USERS:
        |    columns:
        |      NAME: "{{faker.name}}"
        |  PRODUCTS:
        |    truncate: true
        |""".stripMargin)
    val out = java.nio.file.Files.createTempFile("graft_derby_out", ".sql").toString
    Main.main(Array("export", "-c", cfgPath.toString, "-o", out,
      "--source", s"$url#APP"))
    val dump = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(dump.contains("INSERT INTO \"USERS\""), dump.take(400))
    assert(!dump.contains("User1"), "anonymised name leaked through the CLI path")
    assert(dump.contains("CREATE TABLE \"PRODUCTS\"") &&
      !dump.contains("INSERT INTO \"PRODUCTS\""), "truncate must keep DDL, drop rows")
    assert(dump.contains("PRIMARY KEY (\"ID\")"), "dialect-native DDL must reach the dump")
  }

  test("end-to-end export: live DB -> anonymise -> FK-topo-ordered SQL dump") {
    val cfg = GraftConfig(
      connection = Connection(dbType = "sqlite", file = "ignored"),
      configuration = Map(
        "USERS" -> TableConfig(columns = Map(
          "NAME" -> FakerRule("name"), "EMAIL" -> FakerRule("email"))),
        "PRODUCTS" -> TableConfig(truncate = true)),
      tableOrder = Seq("USERS", "PRODUCTS"))
    val out = new java.io.StringWriter()
    val stats = ExportPipeline.run(source(), cfg, SqliteDialect, out,
      timestamp = () => "2024-01-01T00:00:00Z")
    val dump = out.toString
    assert(stats.tablesExported == 4 && stats.tablesTruncated == 1)
    assert(stats.rowsExported == 10 + 6 + 1)
    assert(dump.contains("INSERT INTO"), dump.take(500))
    assert(!dump.contains("user1@example.com"), "original PII must not survive anonymisation")
    assert(!dump.contains("User1"), "original names must not survive anonymisation")
    // FK topo order: USERS rows inserted before ORDERS rows
    assert(dump.indexOf("INSERT INTO \"USERS\"") < dump.indexOf("INSERT INTO \"ORDERS\""),
      "FK parent must dump before child")
  }
}
