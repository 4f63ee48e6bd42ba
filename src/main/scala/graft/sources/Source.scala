package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.analyse.{ColumnInfo, ForeignKey, TableMeta}
import graft.config.{Retain, RetainAll, RetainAfter, RetainCount}
import graft.dialect.SqlValueCodec

/** Source abstraction ≈ the reference's `Driver` interface
  * (/root/reference/internal/database/driver.go:38-69): catalog listing,
  * DDL/column/FK metadata, and a retain-aware scan.
  *
  * The scan returns a lazy DataFrame — Catalyst pushes the retain
  * predicate and the projection down to the format (the reference builds
  * the same pushdown by hand into its scan SQL, mysql.go:138-166).
  */
trait Source {
  def spark: SparkSession

  /** Sorted base-table names (O1; reference orders by table_name). */
  def tables: Seq[String]

  /** CREATE TABLE text (O2). */
  def schemaDDL(table: String): String

  /** Column metadata (O3). */
  def columns(table: String): Seq[ColumnInfo]

  /** All FK edges (O4). */
  def foreignKeys: Seq[ForeignKey]

  /** Row count (O5); parquet resolves from footer metadata, no scan. */
  def rowCount(table: String): Long = read(table).count()

  /** Raw full-projection scan. */
  def read(table: String): DataFrame

  /** Scan with retain spec applied (O6 + O7 + O8):
    *  - RetainAfter → strict `>` on the column (mysql.go:157-161)
    *  - RetainCount → LIMIT without ORDER BY (mysql.go:163-166); we
    *    deliberately do NOT sort — same arbitrary-order contract.
    */
  def scan(table: String, retain: Retain): DataFrame = retain match {
    case RetainAll         => read(table)
    case RetainCount(n)    => read(table).limit(n)
    case RetainAfter(c, t) =>
      read(table).filter(col(c) > lit(java.sql.Timestamp.from(t)))
  }

  def tableMeta(table: String): TableMeta =
    TableMeta(table, schemaDDL(table), columns(table), () => rowCount(table))
}

object Source {

  /** Reconstruct CREATE TABLE text from a StructType, with the dump's
    * type names (`SqlValueCodec.typeName`). Like the reference's Postgres
    * DDL reconstruction (postgres.go:68-114) it loses FK/unique/index
    * clauses — documented parity.
    */
  def ddlFor(table: String, schema: StructType,
             quote: String => String = id => "\"" + id + "\""): String = {
    val cols = schema.fields.map { f =>
      val nn = if (f.nullable) "" else " NOT NULL"
      s"  ${quote(f.name)} ${SqlValueCodec.typeName(f.dataType)}$nn"
    }
    s"CREATE TABLE ${quote(table)} (\n${cols.mkString(",\n")}\n);"
  }
}

/** Parquet-directory source: one `<table>.parquet` per table, FK edges
  * supplied statically (parquet has no FK catalog — the fixture map comes
  * from FIXTURES.md §B).
  */
final case class ParquetSource(
    spark: SparkSession,
    dir: String,
    fks: Seq[ForeignKey] = ParquetSource.fixtureForeignKeys) extends Source {

  override lazy val tables: Seq[String] = {
    val d = new java.io.File(dir)
    d.listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .sorted.toSeq
  }

  private val cache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  override def read(table: String): DataFrame =
    cache.getOrElseUpdate(table,
      ParquetSource.normalizeNanoTimestamps(
        ParquetSource.readParquet(spark, s"$dir/$table.parquet")))

  override def schemaDDL(table: String): String =
    Source.ddlFor(table, read(table).schema)

  override def columns(table: String): Seq[ColumnInfo] =
    read(table).schema.fields.toSeq.map { f =>
      ColumnInfo(f.name, SqlValueCodec.typeName(f.dataType), f.nullable, None)
    }

  override def foreignKeys: Seq[ForeignKey] = fks
}

object ParquetSource {

  /** Process-global parquet SCHEMA memo — metadata only, never data or
    * results: every `spark.read.parquet(path)` construction launches a
    * footer-inference job (~65 ms measured, OPTIMIZATION_r12.md §9: 50
    * inferred reads 3.7 s vs 0.33 s with an explicit schema), and a
    * catalog run constructs hundreds of scans over the same few
    * fixture files. The memo stores the INFERRED schema (field
    * metadata like `isNanoTs` included, so downstream normalisation is
    * byte-identical) keyed on the file set's (canonical path, file
    * count, total bytes, max mtime) signature — any rewrite of the
    * data invalidates the entry and re-infers. This is what a real
    * deployment gets from its table catalog (metastore/Iceberg): the
    * schema without a per-query footer job.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long, Long, Long), org.apache.spark.sql.types.StructType]()

  private def signature(path: String): (String, Long, Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    var n = 0L; var bytes = 0L; var mtime = 0L
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).forEach { p =>
        n += 1; bytes += java.nio.file.Files.size(p)
        val m = java.nio.file.Files.getLastModifiedTime(p).toMillis
        if (m > mtime) mtime = m
      } finally s.close()
    }
    (root.toAbsolutePath.normalize.toString, n, bytes, mtime)
  }

  /** Parquet read with the schema served from [[schemaMemo]] when the
    * file set is unchanged; plain inferred read (memoising) otherwise.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    if (schemaMemo.size > 1024) schemaMemo.clear() // stale-fixture bound
    // inference output depends on session flags (TIMESTAMP(NANOS) →
    // long only under the legacy flag), so the flag is part of the key:
    // sessions with different configs never share an entry
    val nanoFlag = spark.conf.getOption(
      "spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
    val sig = signature(path)
    val key = (sig._1, nanoFlag, sig._2, sig._3, sig._4)
    val cached = schemaMemo.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaMemo.put(key, df.schema)
      df
    }
  }

  /** Normalise fixture timestamp columns to Spark's TimestampType,
    * whatever physical shape the parquet writer chose:
    *
    *  - TIMESTAMP(NANOS): unreadable unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` surfaces them as
    *    nanosecond longs (recognised by the `isNanoTs` field metadata
    *    set by that flag, plus the known fixture column `ts`) —
    *    converted back to µs timestamps with the same ns→µs floor
    *    DuckDB applies in epoch_us(), keeping engines comparable.
    *  - TIMESTAMP without `isAdjustedToUTC`: Spark 4 infers
    *    TIMESTAMP_NTZ, which `unix_micros`/watermarks and the rest of
    *    the catalog don't accept — cast to TimestampType. The session
    *    timezone is pinned to UTC everywhere (Bench/Verify/Main/specs),
    *    so the NTZ wall-clock is reinterpreted as the identical UTC
    *    instant DuckDB's naive reader sees.
    */
  def normalizeNanoTimestamps(df: DataFrame, nanoCols: Seq[String] = Seq("ts")): DataFrame = {
    val longNanoCols = df.schema.fields.collect {
      case f if f.dataType == LongType &&
        (f.metadata.contains("isNanoTs") || nanoCols.contains(f.name)) => f.name
    }
    val ntzCols = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    val deNano = longNanoCols.foldLeft(df)((acc, c) =>
      acc.withColumn(c, timestamp_micros(expr(s"$c div 1000"))))
    ntzCols.foldLeft(deNano)((acc, c) =>
      acc.withColumn(c, col(c).cast(TimestampType)))
  }

  /** FK edges of the driver fixture star schema (FIXTURES.md §B). */
  val fixtureForeignKeys: Seq[ForeignKey] = Seq(
    ForeignKey("nation", "n_regionkey", "region", "r_regionkey"),
    ForeignKey("customer", "c_nationkey", "nation", "n_nationkey"),
    ForeignKey("supplier", "s_nationkey", "nation", "n_nationkey"),
    ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
    ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ForeignKey("lineitem", "l_partkey", "part", "p_partkey"),
    ForeignKey("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ForeignKey("events", "user_id", "customer", "c_custkey"),
  )
}

/** JDBC source against a live database — the parity path for the
  * reference's MySQL/Postgres/SQLite drivers. Metadata flows through
  * `java.sql.DatabaseMetaData` on the driver (like the reference's
  * information_schema queries, mysql.go:44-135); data flows through
  * `spark.read.jdbc`, optionally split into `numPartitions` range
  * predicates on a numeric key so a large table scans in parallel
  * across executors (the reference streams serially; Spark shouldn't).
  *
  * DDL is captured dialect-natively: column types with their declared
  * sizes, NOT NULL, DEFAULT, IDENTITY and the PRIMARY KEY clause all
  * come from the live catalog (the reference's `SHOW CREATE TABLE`
  * fidelity on MySQL, mysql.go:68-78, and `sqlite_master.sql`,
  * sqlite.go:66-76 — not the Postgres-path reconstruction). Exercised
  * against embedded Derby in `DerbyIntegrationSpec` and a proxy-mocked
  * driver in `JdbcSourceSpec`.
  */
final case class JdbcSource(
    spark: SparkSession,
    url: String,
    user: String,
    password: String,
    schemaName: String = "public",
    /** >1 splits scans into range predicates on `partitionColumn` or,
      * when unset, the table's single-column numeric PK if one exists. */
    numPartitions: Int = 1,
    partitionColumn: Option[String] = None) extends Source {

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url, user, password)
    try f(c) finally c.close()
  }

  override lazy val tables: Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, schemaName, "%", Array("TABLE"))
    val b = Vector.newBuilder[String]
    while (rs.next()) b += rs.getString("TABLE_NAME")
    b.result().sorted
  }

  /** COUNT(*) pushed to the database (the reference's GetRowCount,
    * sqlite.go:159-166) — no Spark scan for a metadata-scale number.
    */
  override def rowCount(table: String): Long = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM ${qualified(table)}")
      rs.next(); rs.getLong(1)
    } finally st.close()
  }

  private def qualified(table: String): String =
    if (schemaName == null || schemaName.isEmpty) s""""$table""""
    else s""""$schemaName"."$table""""

  /** Ordered PK columns of a table from the live catalog. */
  def primaryKey(table: String): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getPrimaryKeys(null, schemaName, table)
    if (rs == null) Nil
    else {
      val b = Vector.newBuilder[(Short, String)]
      while (rs.next()) b += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
      b.result().sortBy(_._1).map(_._2)
    }
  }

  private val numericJdbcTypes = Set(
    java.sql.Types.TINYINT, java.sql.Types.SMALLINT, java.sql.Types.INTEGER,
    java.sql.Types.BIGINT, java.sql.Types.DECIMAL, java.sql.Types.NUMERIC)

  /** The column to range-partition scans on: explicit override, else a
    * single-column numeric PK, else none (single-partition scan).
    */
  private def scanPartitionColumn(table: String): Option[String] =
    partitionColumn.orElse {
      primaryKey(table) match {
        case Seq(pk) => withConn { c =>
          val rs = c.getMetaData.getColumns(null, schemaName, table, pk)
          if (rs != null && rs.next() && numericJdbcTypes(rs.getInt("DATA_TYPE"))) Some(pk)
          else None
        }
        case _ => None
      }
    }

  override def read(table: String): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", qualified(table))
      .option("user", user).option("password", password)
      .option("fetchsize", 1000)
    val partitioned = if (numPartitions <= 1) None else scanPartitionColumn(table).flatMap { pc =>
      // one metadata-scale bounds query; executors then each scan a range
      val bounds = withConn { c =>
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(s"""SELECT MIN("$pc"), MAX("$pc") FROM ${qualified(table)}""")
          rs.next()
          val mn = rs.getLong(1); val mnNull = rs.wasNull()
          val mx = rs.getLong(2)
          if (mnNull) None else Some((mn, mx))
        } finally st.close()
      }
      bounds.map { case (mn, mx) =>
        base.option("partitionColumn", pc)
          .option("lowerBound", mn).option("upperBound", math.max(mx, mn + 1))
          .option("numPartitions", numPartitions)
      }
    }
    partitioned.getOrElse(base).load()
  }

  /** Dialect-native CREATE TABLE capture from the live catalog: declared
    * type sizes, NOT NULL, DEFAULT, IDENTITY, PRIMARY KEY.
    */
  override def schemaDDL(table: String): String = withConn { c =>
    val md = c.getMetaData
    val rs = md.getColumns(null, schemaName, table, "%")
    val cols = Vector.newBuilder[String]
    if (rs != null) while (rs.next()) {
      val name = rs.getString("COLUMN_NAME")
      val typeText = JdbcSource.renderType(
        rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE"), rs.getInt("DECIMAL_DIGITS"))
      val auto = scala.util.Try(rs.getString("IS_AUTOINCREMENT")).toOption
        .flatMap(Option(_)).contains("YES")
      val identity = if (auto) " GENERATED BY DEFAULT AS IDENTITY" else ""
      val default = if (auto) "" else
        Option(rs.getString("COLUMN_DEF")).map(_.trim).filter(_.nonEmpty)
          .map(d => s" DEFAULT $d").getOrElse("")
      val notNull =
        if (rs.getInt("NULLABLE") == java.sql.DatabaseMetaData.columnNoNulls) " NOT NULL" else ""
      cols += s"""  "$name" $typeText$identity$default$notNull"""
    }
    val pk = primaryKey(table)
    val pkClause =
      if (pk.isEmpty) Seq.empty
      else Seq(s"""  PRIMARY KEY (${pk.map(c0 => s""""$c0"""").mkString(", ")})""")
    s"""CREATE TABLE "$table" (\n${(cols.result() ++ pkClause).mkString(",\n")}\n);"""
  }

  override def columns(table: String): Seq[ColumnInfo] = withConn { c =>
    val rs = c.getMetaData.getColumns(null, schemaName, table, "%")
    val b = Vector.newBuilder[ColumnInfo]
    while (rs.next()) b += ColumnInfo(
      rs.getString("COLUMN_NAME"),
      rs.getString("TYPE_NAME"),
      rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls,
      Option(rs.getString("COLUMN_DEF")))
    b.result()
  }

  override lazy val foreignKeys: Seq[ForeignKey] = withConn { c =>
    tables.flatMap { t =>
      val rs = c.getMetaData.getImportedKeys(null, schemaName, t)
      val b = Vector.newBuilder[ForeignKey]
      while (rs.next()) b += ForeignKey(
        rs.getString("FKTABLE_NAME"), rs.getString("FKCOLUMN_NAME"),
        rs.getString("PKTABLE_NAME"), rs.getString("PKCOLUMN_NAME"))
      b.result()
    }
  }
}

object JdbcSource {
  /** Render a catalog TYPE_NAME with its declared size where the type
    * family takes one (the fidelity `SHOW CREATE TABLE` gives the
    * reference on MySQL).
    */
  def renderType(typeName: String, size: Int, decimalDigits: Int): String = {
    val tn = Option(typeName).getOrElse("").toUpperCase
    tn match {
      case "CHAR" | "VARCHAR" | "NCHAR" | "NVARCHAR" | "CHARACTER" if size > 0 =>
        s"$tn($size)"
      case "DECIMAL" | "NUMERIC" if size > 0 =>
        s"$tn($size,${math.max(0, decimalDigits)})"
      case "CHAR () FOR BIT DATA"    => s"CHAR($size) FOR BIT DATA"
      case "VARCHAR () FOR BIT DATA" => s"VARCHAR($size) FOR BIT DATA"
      case other                     => other
    }
  }
}
