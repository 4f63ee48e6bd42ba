package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.StringWriter
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, udf}
import graft.dialect._
import graft.analyse.{ColumnInfo, ForeignKey, TableMeta}
import graft.config.{Connection, GraftConfig, TableConfig}
import graft.export.{DumpStats, DumpWriter, ExportPipeline}
import graft.sources.{ParquetSource, Source}

/** Dump framing contracts ported from the reference's exporter tests
  * (/root/reference/internal/exporter/exporter_test.go:116-347, :589+):
  * header/footer per dialect, DROP+CREATE before data, truncate
  * suppresses INSERTs, batch splitting, anonymisation visible in output
  * — plus the export drain's own contracts: output independent of the
  * partitioning, several tables rendered at once, and no job or planning
  * thread left running after a failed write or render.
  */
class DumpWriterSpec extends AnyFunSuite with SparkSuite {

  private def export(dialect: Dialect): String = {
    val out = new StringWriter()
    ExportPipeline.run(ParquetSource(spark, sfDir), GraftQueries.exportConfig,
      dialect, out, timestamp = () => "1970-01-01T00:00:00Z")
    out.toString
  }

  test("sqlite dump: framing, DDL order, truncate, retain (exporter_test.go:306-347)") {
    val dump = export(SqliteDialect)
    assert(dump.startsWith("-- Database Dump\n-- Generated by graft\n"))
    assert(dump.contains("-- Database Type: sqlite"))
    assert(dump.contains("PRAGMA foreign_keys = OFF;"))
    assert(dump.trim.endsWith("PRAGMA foreign_keys = ON;"))
    // every table has comment + DROP + CREATE
    for (t <- Seq("region", "nation", "customer", "events", "orders", "lineitem")) {
      assert(dump.contains(s"-- Table: $t"))
      assert(dump.contains(s"""DROP TABLE IF EXISTS "$t";"""))
      assert(dump.contains(s"""CREATE TABLE "$t" ("""))
    }
    // truncate: events DDL present but no INSERT
    assert(!dump.contains("INSERT INTO \"events\""))
    // FK order: region's CREATE before nation's, orders before lineitem
    assert(dump.indexOf("CREATE TABLE \"region\"") < dump.indexOf("CREATE TABLE \"nation\""))
    assert(dump.indexOf("CREATE TABLE \"orders\"") < dump.indexOf("CREATE TABLE \"lineitem\""))
    // anonymisation visible: static replacement in customer INSERTs
    assert(dump.contains("'REDACTED'"))
  }

  test("mysql dump framing (exporter_test.go:306-320)") {
    val dump = export(MySqlDialect)
    assert(dump.contains("SET FOREIGN_KEY_CHECKS = 0;"))
    assert(dump.contains("START TRANSACTION;"))
    assert(dump.contains("DROP TABLE IF EXISTS `region`;"))
    assert(dump.trim.endsWith("SET FOREIGN_KEY_CHECKS = 1;"))
  }

  test("postgres dump framing + CASCADE (exporter.go:259-271)") {
    val dump = export(PostgresDialect)
    assert(dump.contains("SET client_encoding = 'UTF8';"))
    assert(dump.contains("DROP TABLE IF EXISTS \"region\" CASCADE;"))
    assert(dump.trim.endsWith("-- End of dump"))
  }

  test("batch splitting at 1000 rows (exporter.go:16-17, 233-239)") {
    val dump = export(SqliteDialect)
    // lineitem retained at 5000 rows → exactly 5 INSERT statements
    val inserts = dump.linesIterator.count(_.startsWith("INSERT INTO \"lineitem\""))
    val expected = math.ceil(math.min(5000,
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()) / 1000.0).toInt
    assert(inserts == expected)
  }

  test("stats match reference counting (exporter.go:24-28)") {
    val out = new StringWriter()
    val stats = ExportPipeline.run(ParquetSource(spark, sfDir),
      GraftQueries.exportConfig, SqliteDialect, out)
    assert(stats.tablesExported == 10)
    assert(stats.tablesTruncated == 1)
    assert(stats.rowsExported > 0)
  }

  test("small custom batch size re-batches correctly") {
    val out = new StringWriter()
    val w = new DumpWriter(out, SqliteDialect, batchSize = 3)
    // partitions [1, 2], [3, 4], [5, 6]: a partition boundary inside
    // the first batch — batching continues across it
    val df = spark.range(1, 7, 1, 3)
      .select(col("id").cast("int").as("id"), concat(lit("name"), col("id")).as("name"))
    assert(df.rdd.getNumPartitions == 3)
    w.exportTables(Seq(TableMeta("t", "CREATE TABLE t (id INTEGER, name TEXT);", Seq.empty,
      () => 6L) -> Some(df)))
    w.writeFooter()
    val text = out.toString
    assert(text.linesIterator.count(_.startsWith("INSERT INTO")) == 2)
    assert(text.contains("(1, 'name1'),\n(2, 'name2'),\n(3, 'name3');"))
  }

  private def exportFrames(tables: Map[String, DataFrame], cfg: GraftConfig,
                           out: java.io.Writer, batchSize: Int = 1000): DumpStats =
    ExportPipeline.run(new FramesSource(tables), cfg, SqliteDialect, out, batchSize,
      timestamp = () => "1970-01-01T00:00:00Z")

  test("export bytes do not depend on partitioning: 3 partitions per table = coalesce(1)") {
    val parted = Map(
      "a" -> spark.range(0, 22, 1, 3).select(col("id"), concat(lit("a'"), col("id")).as("s")),
      "b" -> spark.range(0, 17, 1, 3).select(col("id"), (col("id") * 0.5).as("v")),
      "c" -> spark.range(0, 5, 1, 3).toDF())
    val cfg = GraftConfig(Connection("sqlite"), Map("c" -> TableConfig(truncate = true)))
    def dump(tables: Map[String, DataFrame]): String = {
      val out = new StringWriter()
      exportFrames(tables, cfg, out, batchSize = 4)
      out.toString
    }
    assert(parted.values.forall(_.rdd.getNumPartitions == 3))
    // batch size 4 over partitions of 7/7/8 and 5/6/6 rows: batches cross
    // partition boundaries, and each table ends on a partial batch, so a
    // counter carried over a table boundary would shift every later batch
    val text = dump(parted)
    assert(text == dump(parted.map { case (t, df) => t -> df.coalesce(1) }))
    assert(text.linesIterator.count(_.startsWith("INSERT INTO \"a\"")) == 6)
    assert(text.linesIterator.count(_.startsWith("INSERT INTO \"b\"")) == 5)
    assert(!text.contains("INSERT INTO \"c\"") && text.contains("CREATE TABLE \"c\""))
  }

  test("the export runs several tables' render jobs at once, with the same bytes") {
    // each table's only partition sleeps 200 ms before its first row
    val nap = udf { (id: Long) => if (id == 0) Thread.sleep(200); id }
    val tables = (0 until 6).map { i =>
      s"t$i" -> spark.range(0, 5 + i, 1, 1)
        .select(nap(col("id")).as("id"), concat(lit(s"t$i'"), col("id")).as("s"))
    }.toMap
    val cfg = GraftConfig(Connection("sqlite"))
    val tag = "dump-writer-concurrency"
    val jobs = new ActiveJobs(tag)
    val sc = spark.sparkContext
    def dump(frames: Map[String, DataFrame]): String = {
      val out = new StringWriter()
      exportFrames(frames, cfg, out)
      out.toString
    }
    sc.addSparkListener(jobs)
    sc.addJobTag(tag)
    val text =
      try dump(tables)
      finally sc.removeJobTag(tag)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!jobs.settled(tables.size) && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(jobs)
    assert(jobs.settled(tables.size), "the export's job events never all arrived")
    assert(jobs.peak > 1, "the export ran one job at a time")
    assert(jobs.peak <= sc.defaultParallelism)
    assert(text == dump(tables.map { case (t, df) => t -> df.coalesce(1) }))
  }

  test("the export's InternalRow drain and renderTuples render the same tuples") {
    // the sf0.01 fixture, next to the suite's own sf0.001
    val fixtures = ParquetSource(spark, new java.io.File(sfDir).getParent + "/sf0.01")
    assert(fixtures.tables.size == 10 && fixtures.tables.contains("embeddings"))
    val frames = fixtures.tables.map(t => (t, fixtures.read(t), Seq(MySqlDialect))) :+
      (("every type", EveryType.frame(spark), Seq(MySqlDialect, PostgresDialect)))
    for ((name, df, dialects) <- frames; dialect <- dialects) {
      val drained = DumpWriter.tupleRdd(df, dialect).collect().toSeq
      val rendered = DumpWriter.renderTuples(df, dialect).collect().toSeq
      assert(drained.nonEmpty, name)
      assert(drained == rendered, s"$name ${dialect.name}")
    }
  }

  test("the rendered plans keep a Project computing each faker, static and NULL column") {
    import graft.config.{FakerRule, NullRule, StaticRule}
    val source = ParquetSource(spark, sfDir)
    val rules = Map(
      "customer" -> TableConfig(columns = Map("c_name" -> FakerRule("name"),
        "c_mktsegment" -> StaticRule("SEGMENT-94"))),
      "events" -> TableConfig(retain = graft.config.RetainCount(100),
        columns = Map("props" -> NullRule)))
    for ((table, tc) <- rules; (column, rule) <- tc.columns) {
      val marker = rule match {
        case NullRule      => s"null AS $column#"
        case StaticRule(v) => s"$v AS $column#"
        case FakerRule(_)  => s" AS $column#"
      }
      val anon = graft.anonymise.Anonymiser(source.scan(table, tc.retain), tc)
      for (plan <- Seq(DumpWriter.renderTuples(anon, SqliteDialect).queryExecution.executedPlan,
                       anon.queryExecution.executedPlan)) {
        val projects = plan.toString.linesIterator.filter(_.contains("Project [")).toSeq
        assert(projects.exists(_.contains(marker)),
          s"no projection computes `$marker` in\n$plan")
      }
    }
  }

  private def leftoverJobs(before: Set[Int]): Seq[String] = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def left = tracker.getActiveJobIds.filterNot(before)
    while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    left.toSeq.flatMap(tracker.getJobInfo).map(j => s"${j.jobId} ${j.status}")
  }

  private def planThreads(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    def alive = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-export-plan-")).map(_.getName)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (alive.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    alive
  }

  test("a failed write cancels the partition job in flight") {
    // table a renders past the 64 KB write buffer, so its first data
    // write reaches the failing Writer; that write waits until the
    // render jobs of the slow tables b and c are both running (each
    // renders until cancelled, or 60 s), then throws
    val slow = udf { (id: Long) =>
      SlowRender.started.countDown()
      val ctx = TaskContext.get()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
      id
    }
    val tables = Map(
      "a" -> spark.range(0, 20000, 1, 1).toDF(),
      "b" -> spark.range(0, 1, 1, 1).select(slow(col("id")).as("id")),
      "c" -> spark.range(0, 1, 1, 1).select(slow(col("id")).as("id")))
    val failing = new java.io.Writer {
      def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
        SlowRender.started.await(30, java.util.concurrent.TimeUnit.SECONDS)
        throw new java.io.IOException("disk full")
      }
      def flush(): Unit = ()
      def close(): Unit = ()
    }
    val before = spark.sparkContext.statusTracker.getActiveJobIds.toSet
    val e = intercept[java.io.IOException](
      exportFrames(tables, GraftConfig(Connection("sqlite")), failing))
    assert(e.getMessage == "disk full")
    assert(SlowRender.started.getCount == 0, "the slow renders were never both running")
    val left = leftoverJobs(before)
    assert(left.isEmpty, "a partition job outlived the failed export: " + left.mkString(", "))
    val threads = planThreads()
    assert(threads.isEmpty, "planning threads outlived the failed export: " + threads.mkString(", "))
  }

  test("a failed render fails the export and cancels the other tables' jobs") {
    val boom = udf { (id: Long) =>
      if (id == 2) throw new IllegalStateException("render of table c failed"); id
    }
    val tables = Seq("a", "b", "c", "d", "e").map { t =>
      val id = if (t == "c") boom(col("id")) else col("id")
      t -> spark.range(0, 10, 1, 1).select(id.as("id"))
    }.toMap
    val before = spark.sparkContext.statusTracker.getActiveJobIds.toSet
    val e = intercept[Exception](
      exportFrames(tables, GraftConfig(Connection("sqlite")), new StringWriter()))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("render of table c failed")),
      causes.map(_.toString).mkString(" <- "))
    val left = leftoverJobs(before)
    assert(left.isEmpty, "a partition job outlived the failed export: " + left.mkString(", "))
  }
}

/** One frame with every type the dump carries: a row of plain values, a
  * row of edge values (escapes, non-BMP text, NaN and ±Infinity, dates
  * and timestamps before 1582) and a row of nulls in every column.
  */
private[graft] object EveryType {
  import java.sql.{Date, Timestamp}
  import java.time.LocalDateTime
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  val schema: StructType = StructType(Seq(
    StructField("b", BooleanType), StructField("i8", ByteType), StructField("i16", ShortType),
    StructField("i32", IntegerType), StructField("i64", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dec", DecimalType(12, 3)),
    StructField("wide", DecimalType(38, 18)), StructField("s", StringType),
    StructField("bin", BinaryType), StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType), StructField("ad", ArrayType(DoubleType)),
    StructField("af", ArrayType(FloatType)), StructField("al", ArrayType(LongType)),
    StructField("adec", ArrayType(DecimalType(5, 2))), StructField("ab", ArrayType(BooleanType))))

  def frame(spark: SparkSession): DataFrame = spark.createDataFrame(java.util.Arrays.asList(
    Row(true, 1.toByte, (-2).toShort, 3, 4L, 1.5f, 2.5, new java.math.BigDecimal("-12.345"),
      new java.math.BigDecimal("0.000000000000000001"), "plain", Array[Byte](0, -1, 16, 97),
      Date.valueOf("2024-02-29"), Timestamp.valueOf("2001-02-03 04:05:06.123456"),
      LocalDateTime.parse("2001-02-03T04:05:06"), Seq(0.5, null, 3.0), Seq(0.019f, 1e7f),
      Seq(1L, null, -3L), Seq(new java.math.BigDecimal("1.50"), null), Seq(true, null, false)),
    Row(false, (-128).toByte, 32767.toShort, Int.MinValue, Long.MaxValue, Float.NaN,
      Double.NegativeInfinity, new java.math.BigDecimal("0.001"),
      new java.math.BigDecimal("-12345678901234567890.123456789012345678"),
      "a\\b'c\u0000d\ne\rf\u001ag 𝄞 é", Array.emptyByteArray, Date.valueOf("1000-01-01"),
      Timestamp.valueOf("1000-01-01 12:00:00.25"), LocalDateTime.parse("0001-01-01T00:00:00"),
      Seq(Double.NaN, -0.0, 1e15), Seq(Float.PositiveInfinity, null), Seq.empty[Long],
      Seq.empty[java.math.BigDecimal], Seq.empty[Boolean]),
    Row.fromSeq(Seq.fill(schema.size)(null))), schema)
}

/** Raised by the slow renders of the cancel case; a static, since task
  * closures are serialized and a captured latch would be a copy.
  */
private object SlowRender {
  val started = new java.util.concurrent.CountDownLatch(2)
}

/** Records the most jobs carrying `tag` that were active at once. */
private final class ActiveJobs(tag: String) extends SparkListener {
  private val active = scala.collection.mutable.Set[Int]()
  private var started, ended, maxActive = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).map(_.getProperty("spark.job.tags", "")).getOrElse("")
    if (tags.split(",").contains(tag)) {
      active += e.jobId
      started += 1
      maxActive = math.max(maxActive, active.size)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (active.remove(e.jobId)) ended += 1
  }

  def peak: Int = synchronized(maxActive)
  def settled(jobs: Int): Boolean = synchronized(started == jobs && ended == jobs)
}

/** A [[graft.sources.Source]] over in-memory frames, without FKs. */
private final class FramesSource(frames: Map[String, DataFrame]) extends Source {
  def spark: SparkSession = frames.values.head.sparkSession
  def tables: Seq[String] = frames.keys.toSeq.sorted
  def schemaDDL(table: String): String = Source.ddlFor(table, read(table).schema)
  def columns(table: String): Seq[ColumnInfo] = read(table).schema.fields.toSeq.map { f =>
    ColumnInfo(f.name, SqlValueCodec.typeName(f.dataType), f.nullable)
  }
  def foreignKeys: Seq[ForeignKey] = Seq.empty
  def read(table: String): DataFrame = frames(table)
}
