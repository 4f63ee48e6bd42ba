package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.StringWriter
import graft.dialect._
import graft.analyse.TableMeta
import graft.export.{DumpWriter, ExportPipeline}
import graft.sources.ParquetSource

/** Dump framing contracts ported from the reference's exporter tests
  * (/root/reference/internal/exporter/exporter_test.go:116-347, :589+):
  * header/footer per dialect, DROP+CREATE before data, truncate
  * suppresses INSERTs, batch splitting, anonymisation visible in output.
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
    import spark.implicits._
    val out = new StringWriter()
    val w = new DumpWriter(out, SqliteDialect, batchSize = 3)
    val df = (1 to 6).map(i => (i, s"name$i")).toDF("id", "name")
    val tuples = DumpWriter.renderTuples(df, SqliteDialect).collect()
    // a partition boundary inside the first batch: batching continues
    // across it
    w.exportTableParts(TableMeta("t", "CREATE TABLE t (id INTEGER, name TEXT);", Seq.empty,
      () => 6L), Seq("id", "name"), Iterator(tuples.take(2), tuples.drop(2)))
    w.flush()
    val text = out.toString
    assert(text.linesIterator.count(_.startsWith("INSERT INTO")) == 2)
    assert(text.contains("(1, 'name1'),\n(2, 'name2'),\n(3, 'name3');"))
  }
}
