package graft

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.dialect.{MySqlDialect, PostgresDialect, SqliteDialect, Dialect}
import graft.export.DumpWriter
import graft.analyse.TableMeta
import graft.sources.{Source, SqlDumpSource}

/** The DSv2 SQL-dump reader: round-trip fidelity against the engine's
  * own DumpWriter output, statement-aligned splitting, column pruning,
  * and escape decoding.
  */
class SqlDumpSourceSpec extends AnyFunSuite with SparkSuite {

  private def writeDump(df: DataFrame, table: String, dialect: Dialect = MySqlDialect,
                        batchSize: Int = 3): File = {
    val dir = Files.createTempDirectory("sqldump_spec").toFile
    val f = new File(dir, s"$table.sql")
    val w = new OutputStreamWriter(new FileOutputStream(f), UTF_8)
    try {
      val dw = new DumpWriter(w, dialect, batchSize = batchSize,
        timestamp = () => "1970-01-01T00:00:00Z")
      dw.writeHeader()
      val meta = TableMeta(table, Source.ddlFor(table, df.schema), Seq.empty, () => 0L)
      dw.exportTables(Seq(meta -> Some(df)))
      dw.writeFooter()
    } finally w.close()
    f
  }

  private def readBack(path: String, table: String, split: Long = 1L << 20): DataFrame =
    spark.read.format("graft.sources.SqlDumpSource")
      .option("table", table)
      .option("maxSplitBytes", split.toString)
      .load(path)

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("round-trip: every type survives writer -> reader bit-exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, 7, "plain", 3.25, true, java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 13:45:09"), Option(9.5f),
        Seq(Option(0.019f), None, Option(-2.5f), Option(1e-7f), Option(Float.NaN),
          Option(Float.NegativeInfinity))),
      (2L, -8, "it's quoted", -0.5, false, java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:01"), None, Seq.empty[Option[Float]]),
      // before the 1582 Gregorian cutover: java.sql values are rebased
      (3L, 0, "julian", 0.0, true, java.sql.Date.valueOf("1000-01-01"),
        java.sql.Timestamp.valueOf("1000-01-01 12:00:00"), None, null),
      // years past 9999 carry a signed five-digit year
      (4L, 1, "y10k", 1.0, false, java.sql.Date.valueOf(java.time.LocalDate.of(10000, 1, 1)),
        java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), None, null),
      (5L, 2, "y12345", 2.0, true, java.sql.Date.valueOf(java.time.LocalDate.of(12345, 6, 7)),
        java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), None, null)
    ).toDF("id", "n", "s", "d", "b", "dt", "ts", "f", "arr")
    val dump = writeDump(df, "t_types")
    val back = readBack(dump.getPath, "t_types")
    // inferred schema: names and arity match the source
    assert(back.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
    // compare everything as strings under the UTC session (the writer
    // renders wall-clock text, so the read-back type is TIMESTAMP_NTZ;
    // an array is JSON text, read back as a string)
    def norm(d: DataFrame, arr: org.apache.spark.sql.Column): Set[String] =
      d.select(col("id"), col("n"), col("s"), col("d"), col("b"),
        col("dt").cast("string"), col("ts").cast("timestamp_ntz").cast("string"),
        col("f"), arr)
        .collect().map(_.toString).toSet
    assert(back.schema("arr").dataType == StringType)
    assert(norm(back, functions.from_json(col("arr"), ArrayType(FloatType))) ==
      norm(df, col("arr")))
  }

  test("escape gauntlet: quotes, backslashes, control chars, NULL") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "line\nbreak and\rcr"),
      (2L, "quote ' and double '' quote"),
      (3L, "back\\slash \\n literal"),
      (4L, "nul \u0000 char and sub \u001a char"),
      (5L, null.asInstanceOf[String]),
      (6L, "comma, paren), INSERT INTO decoy (x) VALUES")
    ).toDF("id", "text")
    val dump = writeDump(nasty, "t_esc", batchSize = 2)
    val back = readBack(dump.getPath, "t_esc")
    assert(rowSet(back) == rowSet(nasty))
  }

  test("binary round-trip: arbitrary non-UTF-8 bytes survive via hex literals") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array[Byte](0, 1, -1, -128, 127)),          // NUL + invalid-UTF-8 bytes
      (2L, Array[Byte](0x27, 0x5c, 0x0a, 0x0d, 0x1a)), // the escape-set bytes
      (3L, "plain ascii".getBytes(UTF_8)),
      (4L, Array.empty[Byte]),
      (5L, null.asInstanceOf[Array[Byte]]))
    val df = rows.toDF("id", "blob")
    val dump = writeDump(df, "t_bin", batchSize = 2)
    val back = readBack(dump.getPath, "t_bin")
    val got = back.collect().map(r =>
      r.getLong(0) -> Option(r.getAs[Array[Byte]](1)).map(_.toSeq)).toMap
    for ((id, bytes) <- rows)
      assert(got(id) == Option(bytes).map(_.toSeq), s"id=$id")
  }

  test("binary round-trip: postgres-dialect bytea hex form decodes identically") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array[Byte](0, 10, 27, -1, -128)),
      (2L, "pg".getBytes(UTF_8)))
    val df = rows.toDF("id", "blob")
    val dump = writeDump(df, "t_pgbin", dialect = PostgresDialect)
    val text = new String(Files.readAllBytes(dump.toPath), UTF_8)
    assert(text.contains("'\\x000a1bff80'"), text.linesIterator.filter(_.startsWith("(")).mkString("\n"))
    val back = readBack(dump.getPath, "t_pgbin")
    val got = back.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    for ((id, bytes) <- rows) assert(got(id) == bytes.toSeq, s"id=$id")
  }

  test("timestamp round-trip keeps sub-second micros") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampNTZType)))
    val rows = Seq(
      Row(1L, java.time.LocalDateTime.parse("2024-02-29T13:45:09.123456")),
      Row(2L, java.time.LocalDateTime.parse("2024-02-29T13:45:09")),
      Row(3L, java.time.LocalDateTime.parse("1999-12-31T23:59:59.000001")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val dump = writeDump(df, "t_micros")
    val back = readBack(dump.getPath, "t_micros")
    assert(rowSet(back.select(col("id"), col("ts").cast("string"))) ==
      rowSet(df.select(col("id"), col("ts").cast("string"))))
  }

  test("multi-path load: two dump files read as one DataFrame") {
    import spark.implicits._
    val a = Seq((1L, "x1"), (2L, "x2")).toDF("id", "v")
    val b = Seq((3L, "x3"), (4L, "x4"), (5L, "x5")).toDF("id", "v")
    val fa = writeDump(a, "t_mp")
    val fb = writeDump(b, "t_mp")
    val both = spark.read.format("graft.sources.SqlDumpSource")
      .option("table", "t_mp").load(fa.getPath, fb.getPath)
    assert(rowSet(both) == rowSet(a.union(b)))
  }

  test("splitting: many tiny statement-aligned splits read every tuple exactly once") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"row_$i", i * 1.5)).toDF("id", "name", "v")
    val dump = writeDump(df, "t_split", batchSize = 7)
    // one-split baseline vs 512-byte splits (hundreds of partitions)
    val whole = readBack(dump.getPath, "t_split")
    val split = readBack(dump.getPath, "t_split", split = 512L)
    assert(split.rdd.getNumPartitions > 10,
      s"expected many splits, got ${split.rdd.getNumPartitions}")
    assert(rowSet(split) == rowSet(whole))
    assert(split.count() == 500L)
  }

  test("multi-table dump: each table reads only its own statements") {
    import spark.implicits._
    val a = Seq((1L, "a1"), (2L, "a2")).toDF("id", "va")
    val b = Seq((10L, 1.5), (20L, 2.5), (30L, 3.5)).toDF("id", "vb")
    val dir = Files.createTempDirectory("sqldump_multi").toFile
    val f = new File(dir, "dump.sql")
    val w = new OutputStreamWriter(new FileOutputStream(f), UTF_8)
    try {
      val dw = new DumpWriter(w, PostgresDialect, batchSize = 2,
        timestamp = () => "1970-01-01T00:00:00Z")
      dw.writeHeader()
      dw.exportTables(Seq(
        TableMeta("ta", Source.ddlFor("ta", a.schema), Seq.empty, () => 0L) -> Some(a),
        TableMeta("tb", Source.ddlFor("tb", b.schema), Seq.empty, () => 0L) -> Some(b)))
      dw.writeFooter()
    } finally w.close()
    assert(rowSet(readBack(f.getPath, "ta")) == rowSet(a))
    assert(rowSet(readBack(f.getPath, "tb")) == rowSet(b))
    // no table option: first CREATE TABLE wins
    assert(spark.read.format("graft.sources.SqlDumpSource")
      .load(f.getPath).schema.fieldNames.toSeq == Seq("id", "va"))
  }

  test("column pruning reaches the reader: pruned scan decodes only required columns") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "v")
    val dump = writeDump(df, "t_prune")
    val pruned = readBack(dump.getPath, "t_prune").select("name")
    assert(pruned.schema.fieldNames.toSeq == Seq("name"))
    assert(pruned.collect().map(_.getString(0)).toSet == (1L to 50L).map(i => s"n$i").toSet)
    // the pushed-down read schema (what the reader decodes) is pruned
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }
    assert(scan.isDefined, pruned.queryExecution.executedPlan.toString)
    assert(scan.get.scan.readSchema().fieldNames.toSeq == Seq("name"))
  }

  test("filter pushdown: claimed predicates leave no Filter node and skip rows in the reader") {
    import spark.implicits._
    val df = (1L to 500L).map(i =>
      (i, s"n$i", i * 0.5, if (i % 7 == 0) null else s"x$i")).toDF("id", "name", "v", "opt")
    val dump = writeDump(df, "t_filter", batchSize = 9)
    val base = readBack(dump.getPath, "t_filter")

    // Count actual Filter operators in the physical plan — the scan's
    // describe string prints `pushedFilters=[…] RuntimeFilters: []`, so a
    // substring match on "Filter" false-positives on every plan.
    import org.apache.spark.sql.execution.FilterExec
    def filterNodes(q: org.apache.spark.sql.DataFrame): Seq[FilterExec] =
      q.queryExecution.executedPlan.collect { case f: FilterExec => f }

    // numeric range + null test: all claimable — plan must have NO Filter
    val q1 = base.filter(col("id") > 400 && col("v") <= 230.0 && col("opt").isNotNull)
    assert(filterNodes(q1).isEmpty, q1.queryExecution.executedPlan.toString)
    val expect1 = (401L to 460L).filterNot(_ % 7 == 0).toSet
    assert(q1.collect().map(_.getLong(0)).toSet == expect1)

    // string EQUALITY is claimable; string ORDERING is not (UTF-16 vs
    // UTF-8 order) — the residual comparison keeps a Filter node and
    // still evaluates correctly
    val q2 = base.filter(col("name") === "n42")
    assert(filterNodes(q2).isEmpty, q2.queryExecution.executedPlan.toString)
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(42L))
    val q3 = base.filter(col("name") > "n98")
    assert(filterNodes(q3).nonEmpty, q3.queryExecution.executedPlan.toString)
    assert(q3.collect().map(_.getString(1)).forall(_ > "n98"))

    // pushdown must not break when the filter column is pruned from output
    val q4 = base.filter(col("id") === 123L).select("name")
    assert(q4.collect().map(_.getString(0)).toSeq == Seq("n123"))
  }

  test("filter pushdown decides like Spark on NaN, ±Infinity and a pre-1582 timestamp") {
    import java.sql.Timestamp
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType), StructField("ts", TimestampType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Double.NaN, Timestamp.valueOf("1000-01-01 12:00:00")),
      Row(2L, Double.PositiveInfinity, Timestamp.valueOf("1000-01-02 12:00:00")),
      Row(3L, Double.NegativeInfinity, Timestamp.valueOf("1000-01-04 12:00:00")),
      Row(4L, 1.5, Timestamp.valueOf("1000-01-08 12:00:00")),
      Row(5L, null, null)), schema)
    val dump = writeDump(df, "t_edge")
    // a user-supplied schema reads the dump's TIMESTAMP as TimestampType,
    // whose filter literal is a Julian-rebased java.sql.Timestamp
    val back = spark.read.format("graft.sources.SqlDumpSource").schema(schema)
      .option("table", "t_edge").load(dump.getPath)
    import org.apache.spark.sql.execution.FilterExec
    for (p <- Seq(col("v") > 0, col("v") === 1.5, col("ts") > "1000-01-03")) {
      val q = back.filter(p)
      assert(q.queryExecution.executedPlan.collect { case f: FilterExec => f }.isEmpty,
        q.queryExecution.executedPlan.toString)
      assert(q.collect().map(_.getLong(0)).toSet == df.filter(p).collect().map(_.getLong(0)).toSet,
        p.toString)
    }
  }

  test("NOT NULL columns in the dump DDL infer as non-nullable") {
    val dir = Files.createTempDirectory("sqldump_ddl").toFile
    val f = new File(dir, "d.sql")
    val w = new OutputStreamWriter(new FileOutputStream(f), UTF_8)
    w.write(
      """CREATE TABLE "t" (
        |  "a" BIGINT NOT NULL,
        |  "b" TEXT,
        |  "c" DECIMAL(10,2) NOT NULL,
        |  "d" VARCHAR(40)
        |);
        |INSERT INTO "t" ("a", "b", "c", "d") VALUES
        |(1, 'x', 12.34, 'y');
        |""".stripMargin)
    w.close()
    val back = readBack(f.getPath, "t")
    val fields = back.schema.fields
    assert(!fields(0).nullable && fields(1).nullable && !fields(2).nullable)
    assert(fields(2).dataType == DecimalType(10, 2))
    assert(fields(3).dataType == StringType)
    val r = back.collect().head
    assert(r.getLong(0) == 1L && r.getString(1) == "x"
      && r.getDecimal(2).toPlainString == "12.34" && r.getString(3) == "y")
  }

  test("parallel sink: partitioned write commits part files, round-trips exactly") {
    import spark.implicits._
    val df = (1L to 1000L).map(i =>
      (i, s"v'$i", i * 0.5, i % 3 == 0)).toDF("id", "s", "v", "b")
    val dir = Files.createTempDirectory("sqldump_sink").toFile
    val out = new File(dir, "dump")
    df.repartition(6).write.format("graft.sources.SqlDumpSource")
      .option("table", "t_par").option("insertBatchSize", "50")
      .mode("append").save(out.getPath)
    val names = out.listFiles().map(_.getName).toSet
    assert(names.contains("00_schema.sql") && names.contains("_SUCCESS"), names)
    assert(names.count(_.startsWith("part-")) == 6, names)
    assert(!names.exists(_.endsWith(".inprogress")), names)
    val back = readBack(out.getPath, "t_par")
    assert(back.schema.fieldNames.toSeq == Seq("id", "s", "v", "b"))
    assert(rowSet(back) == rowSet(df))
  }

  test("parallel sink: a second append job adds part files, never overwrites") {
    import spark.implicits._
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val df2 = Seq((3L, "c"), (4L, "d")).toDF("id", "s")
    val dir = Files.createTempDirectory("sqldump_append").toFile
    val out = new File(dir, "dump")
    def save(d: DataFrame): Unit =
      d.coalesce(1).write.format("graft.sources.SqlDumpSource")
        .option("table", "t_app").mode("append").save(out.getPath)
    save(df1); save(df2)
    assert(out.listFiles().count(_.getName.startsWith("part-")) == 2)
    assert(rowSet(readBack(out.getPath, "t_app")) == rowSet(df1.unionByName(df2)))
  }

  test("parallel sink and serial DumpWriter render byte-identical tuple literals") {
    import java.sql.{Date, Timestamp}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", DoubleType), StructField("ts", TimestampType),
      StructField("b", BooleanType), StructField("i8", ByteType),
      StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("f", FloatType), StructField("whole", DoubleType),
      StructField("dec", DecimalType(12, 3)), StructField("dt", DateType),
      StructField("ts_us", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("bin", BinaryType), StructField("arr", ArrayType(DoubleType)),
      StructField("nul", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(7L, "esc'aped\ntext", 2.5, Timestamp.valueOf("2001-02-03 04:05:06"),
        true, 1.toByte, (-2).toShort, 3, 1.5f, 3.0,
        new java.math.BigDecimal("-12.345"), Date.valueOf("2024-02-29"),
        Timestamp.valueOf("2001-02-03 04:05:06.123456"),
        java.time.LocalDateTime.parse("2001-02-03T04:05:06.000789"),
        Array[Byte](0, -1, 16, 97), Seq(0.5, null, -1e20, 3.0), null),
      Row(8L, "", -0.25, Timestamp.valueOf("1969-12-31 23:59:59.5"),
        false, (-128).toByte, 32767.toShort, Int.MinValue, -7.0f, -1e20,
        new java.math.BigDecimal("0.001"), Date.valueOf("1970-01-01"),
        null, java.time.LocalDateTime.parse("1999-12-31T23:59:59"),
        Array.emptyByteArray, Seq.empty, null)), schema)
    def inserts(f: File): Seq[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(l => l.startsWith("INSERT INTO ") || l.startsWith("(")).toList
      finally src.close()
    }
    // the sink's and the serial writer's INSERT lines for `frame`
    def both(frame: DataFrame, dialect: Dialect): (Seq[String], Seq[String]) = {
      val out = new File(Files.createTempDirectory("sqldump_parity").toFile, "dump")
      frame.coalesce(1).write.format("graft.sources.SqlDumpSource")
        .option("table", "t_parity").option("dialect", dialect.name)
        .mode("append").save(out.getPath)
      val serial = inserts(writeDump(frame, "t_parity", dialect))
      val parPart = out.listFiles().filter(_.getName.startsWith("part-")).head
      (inserts(parPart), serial)
    }
    for (dialect <- Seq(MySqlDialect, PostgresDialect)) {
      val (parallel, serial) = both(df, dialect)
      assert(parallel == serial, dialect.name)
      assert(serial.length == 3 && serial(1).endsWith(", NULL),"), serial)
      // every type the dump carries, with a null in each column
      val (everyParallel, everySerial) = both(EveryType.frame(spark), dialect)
      assert(everyParallel == everySerial, dialect.name)
      assert(everySerial.length == 4 && everySerial(3).startsWith("(NULL, NULL"), everySerial)
    }
    // a column the codec cannot render is refused when the write is
    // planned — before any file is written — naming the column
    val out = new File(Files.createTempDirectory("sqldump_reject").toFile, "dump")
    val e = intercept[Exception](
      df.select(col("id"), functions.map(col("s"), col("i32")).as("m"))
        .write.format("graft.sources.SqlDumpSource")
        .option("table", "t_map").mode("append").save(out.getPath))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toList
    assert(messages.exists(m => m != null && m.contains("column m") &&
      m.contains("MAP<STRING, INT>")), messages)
    assert(!out.exists())
  }

  test("sqlite-dialect dump (double-quoted INSERT identifiers) reads back too") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val dump = writeDump(df, "t_sqlite", dialect = SqliteDialect)
    assert(rowSet(readBack(dump.getPath, "t_sqlite")) == rowSet(df))
  }

  test("nasty goldens read back: reserved-word table, BLOB literals, composite PK, FK cycle") {
    // end-to-end over the committed per-dialect NASTY dump goldens (the
    // JdbcDumpGoldenSpec fixtures): a `table` named with a reserved word
    // (`order`) holding a reserved-word COLUMN (`select`), a composite
    // PK, a BLOB (X'..' mysql/sqlite raw token vs postgres '\x..' bytea
    // form), NULLs, and the employees<->teams FK cycle — the reader must
    // parse each dialect's actual emitted bytes, not just the writer's
    // round-trip of a friendly schema.
    for (dialect <- Seq("mysql", "postgres", "sqlite")) {
      val path = getClass.getResource(s"/golden/dump_${dialect}_nasty.sql").getPath
      val order = readBack(path, "order")
      assert(order.schema.fieldNames.toSeq ==
        Seq("region_code", "order_no", "select", "payload"), s"$dialect schema")
      // sqlite's golden declares integer affinity (INTEGER/INT8 mix
      // across dialects) — read ids dialect-agnostically
      def asLong(r: Row, i: Int): Long = r.getAs[Number](i).longValue
      val rows = order.collect().sortBy(asLong(_, 1))
      assert(rows.length == 2, s"$dialect rows")
      assert(rows(0).getString(0) == "eu" && rows(0).getString(2) == "keep")
      assert(rows(0).getAs[Array[Byte]](3).toSeq ==
        Seq(0x00.toByte, 0xff.toByte, 0x41.toByte), s"$dialect blob bytes")
      assert(rows(1).isNullAt(2) && rows(1).isNullAt(3), s"$dialect nulls")
      // both sides of the FK cycle read independently
      val employees = readBack(path, "employees").collect().sortBy(asLong(_, 0))
      assert(employees.map(asLong(_, 0)).toSeq == Seq(10L, 11L))
      assert(employees(0).getString(1).endsWith("@mailbox.example"))
      val teams = readBack(path, "teams").collect().sortBy(asLong(_, 0))
      assert(teams.map(r => (asLong(r, 0), r.getString(1))).toSeq ==
        Seq((1L, "Core"), (2L, "Data")))
      assert(teams(1).isNullAt(2), s"$dialect teams null lead")
      // column pruning still reaches the scan on a nasty schema
      val pruned = readBack(path, "order").select(col("order_no"))
      assert(pruned.collect().map(asLong(_, 0)).sorted.toSeq == Seq(1L, 2L))
    }
  }
}
