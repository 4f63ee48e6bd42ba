package graft.export

import java.io.Writer
import graft.analyse.{TableMeta, Topo}
import graft.anonymise.Anonymiser
import graft.config.{GraftConfig, RetainAfter, RetainAll, RetainCount, TableConfig}
import graft.dialect.Dialect
import graft.sources.Source

/** The reference's main "query": config → analyze → FK-topo-sort →
  * per-table scan/retain/anonymise → SQL dump
  * (/root/reference/cmd/dbmask/main.go:80-199).
  *
  * Spark lifecycle: each table compiles to a declarative DataFrame chain
  * (scan + pushdown-friendly filter/limit + Column-level anonymisation);
  * Catalyst plans it, executors run it, and only the ordered write of
  * the dump file runs on the driver's calling thread.
  */
object ExportPipeline {

  final case class TablePlan(
      meta: TableMeta,
      config: Option[TableConfig],
      action: String, // TRUNCATE | RETAIN-DATE | RETAIN-COUNT | FULL
      anonymisedColumns: Seq[String])

  /** Steps 4-5: analyze + topo-order; the per-table plan (dry-run view). */
  def plan(source: Source, cfg: GraftConfig): Seq[TablePlan] = {
    val metas = source.tables.map(source.tableMeta)
    val sorted = Topo.sortTableMeta(metas, source.foreignKeys)
    sorted.map { m =>
      val tc = cfg.tableConfig(m.name)
      val action = tc match {
        case Some(t) if t.truncate => "TRUNCATE"
        case Some(t) => t.retain match {
          case RetainAfter(c, d) => s"RETAIN-DATE($c > $d)"
          case RetainCount(n)    => s"RETAIN-COUNT($n)"
          case RetainAll         => "FULL"
        }
        case None => "FULL"
      }
      TablePlan(m, tc, action, tc.map(Anonymiser.anonymisedColumns).getOrElse(Nil))
    }
  }

  /** Step 6: execute the plan into a dump writer: the header, every
    * table's scan/retain/anonymise chain drained in plan order by
    * [[DumpWriter.exportTables]], the footer. The tables are planned on a
    * small driver pool and up to one partition job per core runs at a
    * time, across table boundaries, while `out` is written in order on
    * the calling thread; driver memory holds at most W + 1 partitions,
    * W = min(`defaultParallelism`, driver cores).
    */
  def run(source: Source, cfg: GraftConfig, dialect: Dialect, out: Writer,
          batchSize: Int = DumpWriter.DefaultBatchSize,
          timestamp: () => String = () => java.time.OffsetDateTime.now.toString): DumpStats = {
    val writer = new DumpWriter(out, dialect, batchSize, timestamp)
    writer.writeHeader()
    writer.exportTables(plan(source, cfg).map { p =>
      val data =
        if (p.config.exists(_.truncate)) None
        else {
          val retained = source.scan(p.meta.name, p.config.map(_.retain).getOrElse(RetainAll))
          Some(p.config.map(Anonymiser(retained, _)).getOrElse(retained))
        }
      p.meta -> data
    })
    writer.writeFooter()
    writer.stats
  }

  /** `dbmask sync`: add unconfigured tables to the config
    * (main.go:230-315) — a driver-side set difference.
    */
  def sync(source: Source, cfg: GraftConfig, truncate: Boolean): (GraftConfig, Seq[String]) = {
    val missing = source.tables.filterNot(cfg.hasTable)
    val updated = missing.foldLeft(cfg)((c, t) => c.addTable(t, TableConfig(truncate = truncate)))
    (updated, missing)
  }
}
