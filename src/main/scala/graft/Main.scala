package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import graft.anonymise.Anonymiser
import graft.config.GraftConfig
import graft.dialect.Dialect
import graft.export.{ExportPipeline, Subset}
import graft.sources.{JdbcSource, ParquetSource, Source}

/** CLI mirroring the reference's command surface
  * (/root/reference/cmd/dbmask/main.go:30-315):
  *
  *   graft export -c config.yaml -o out.sql [--dry-run] [--batch-size N]
  *   graft sync   -c config.yaml [--truncate] [--dry-run]
  *   graft subset -c config.yaml -o out.sql --anchor <table> [--pct N]
  *   graft forget -c config.yaml -o out.sql --anchor <table> [--pct N]
  *   graft version
  *
  * `subset` is an extension beyond the reference: a referentially-
  * consistent sample (export.Subset closure over the FK catalog) runs
  * through the SAME anonymise + topo-order + dump pipeline, so the
  * output restores under enabled constraints at a fraction of the
  * size — the minimiser's production use-case.
  *
  * One extension: `--source parquet:<dir>` scans the fixture directory
  * instead of a live JDBC database (this environment ships no JDBC
  * drivers; `JdbcSource` covers the live path when one is present).
  */
object Main {

  private val version = "0.1.0"

  def main(args: Array[String]): Unit = args.toList match {
    case "version" :: Nil =>
      println(s"graft $version")
    case "export" :: rest => run(parseFlags(rest), export = true)
    case "sync" :: rest   => run(parseFlags(rest), export = false)
    case "subset" :: rest => runSubset(parseFlags(rest), forget = false)
    case "forget" :: rest => runSubset(parseFlags(rest), forget = true)
    case "drift" :: oldDir :: newDir :: Nil =>
      val rc = runDrift(oldDir, newDir)
      if (rc != 0) sys.exit(rc)
    case _ =>
      System.err.println(
        """usage:
          |  graft export -c <config.(yaml|json)> -o <out.sql> [--dry-run] [--batch-size N] [--source parquet:<dir>]
          |  graft sync   -c <config> [--truncate] [--dry-run] [--source parquet:<dir>]
          |  graft subset -c <config> -o <out.sql> --anchor <table> [--pct N] [--source parquet:<dir>]
          |  graft forget -c <config> -o <out.sql> --anchor <table> [--pct N] [--source parquet:<dir>]
          |  graft drift  <old-parquet-dir-or-file> <new-parquet-dir-or-file>
          |  graft version""".stripMargin)
      sys.exit(2)
  }

  private final case class Flags(
      config: String = "", out: String = "", dryRun: Boolean = false,
      truncate: Boolean = false, batchSize: Int = 1000, source: String = "",
      anchor: String = "", pct: Int = 10)

  private def parseFlags(args: List[String]): Flags = {
    @annotation.tailrec
    def go(rest: List[String], f: Flags): Flags = rest match {
      case "-c" :: v :: t            => go(t, f.copy(config = v))
      case "-o" :: v :: t            => go(t, f.copy(out = v))
      case "--dry-run" :: t          => go(t, f.copy(dryRun = true))
      case "--truncate" :: t         => go(t, f.copy(truncate = true))
      case "--batch-size" :: v :: t  => go(t, f.copy(batchSize = v.toInt))
      case "--source" :: v :: t      => go(t, f.copy(source = v))
      case "--anchor" :: v :: t      => go(t, f.copy(anchor = v))
      case "--pct" :: v :: t         => go(t, f.copy(pct = v.toInt))
      case Nil                       => f
      case other :: _ =>
        System.err.println(s"unknown flag: $other"); sys.exit(2)
    }
    val f = go(args, Flags())
    if (f.config.isEmpty) { System.err.println("missing -c <config>"); sys.exit(2) }
    f
  }

  /** Runs `body` on the live session, or on a fresh `GraftSession` that
    * is stopped afterwards — embedded callers (tests, notebooks, the
    * benchmark) keep theirs, settings untouched.
    */
  private def withSession[T](body: SparkSession => T): T = {
    val owned = GraftSession.existing.isEmpty
    val spark = GraftSession.get()
    try body(spark) finally if (owned) spark.stop()
  }

  /** Exports `source` into `<out>.inprogress` and moves that onto `-o`,
    * replacing any file there, once the footer is flushed. A failed
    * export deletes it, so it never leaves a partial dump behind.
    */
  private def exportTo(flags: Flags, cfg: GraftConfig, source: Source): graft.export.DumpStats = {
    val tmp = Paths.get(flags.out + ".inprogress")
    try {
      val writer = new java.io.FileWriter(tmp.toFile)
      val stats = try ExportPipeline.run(source, cfg, Dialect.forName(cfg.connection.dbType),
        writer, flags.batchSize) finally writer.close()
      Files.move(tmp, Paths.get(flags.out), StandardCopyOption.REPLACE_EXISTING)
      stats
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  private def buildSource(spark: SparkSession, cfg: GraftConfig, flag: String): Source =
    if (flag.startsWith("parquet:")) ParquetSource(spark, flag.stripPrefix("parquet:"))
    else if (flag.startsWith("jdbc:")) {
      // explicit JDBC URL override (any driver on the classpath),
      // optionally suffixed `#schema`; credentials come from the config
      val (url, schema) = flag.lastIndexOf('#') match {
        case i if i > 0 => (flag.substring(0, i), flag.substring(i + 1))
        case _          => (flag, null)
      }
      JdbcSource(spark, url, cfg.connection.username, cfg.connection.password,
        schemaName = schema)
    }
    else JdbcSource(spark, cfg.connection.dsn,
      cfg.connection.username, cfg.connection.password)

  private def run(flags: Flags, export: Boolean): Unit = {
    val cfg = GraftConfig.load(flags.config)
    // step 2: validation warnings, non-fatal (main.go:97-103)
    Anonymiser.validateRules(cfg).foreach(w => System.err.println(s"Warning: $w"))

    withSession { spark =>
      val source = buildSource(spark, cfg, flags.source)
      if (!export) {
        // sync: set-difference → extend config (main.go:230-315)
        val (updated, missing) = ExportPipeline.sync(source, cfg, flags.truncate)
        missing.foreach(t => println(s"  + $t"))
        println(s"${missing.size} table(s) missing from configuration")
        if (!flags.dryRun && missing.nonEmpty) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(flags.config), GraftConfig.render(updated, flags.config))
          println(s"updated ${flags.config}")
        }
      } else if (flags.dryRun) {
        // dry-run planner (main.go:201-228)
        for (p <- ExportPipeline.plan(source, cfg)) {
          val anon = if (p.anonymisedColumns.nonEmpty)
            s" anonymised=[${p.anonymisedColumns.mkString(",")}]" else ""
          println(f"${p.meta.name}%-12s ${p.meta.rowCount()}%8d rows  ${p.action}$anon")
        }
      } else {
        if (flags.out.isEmpty) { System.err.println("missing -o <out.sql>"); sys.exit(2) }
        val t0 = System.nanoTime()
        val stats = exportTo(flags, cfg, source)
        val secs = (System.nanoTime() - t0) / 1e9
        // end-of-run stats report (main.go:176-191)
        System.err.println(
          f"Exported ${stats.tablesExported} tables (${stats.tablesTruncated} truncated), " +
            f"${stats.rowsExported} rows in $secs%.1fs " +
            f"(cores=${Runtime.getRuntime.availableProcessors})")
      }
    }
  }

  /** `graft subset`: referentially-consistent sample → anonymise →
    * topo-ordered dump, through the unchanged export pipeline. The
    * anchor's sample key is the column other tables reference (the FK
    * catalog knows it); rows keep when their portable md5 bucket of
    * 100 falls below --pct.
    *
    * `graft forget` (`forget = true`): right-to-be-forgotten export —
    * erase that victim set of the subject table (--anchor) together
    * with every transitive FK descendant (`export.Subset.eraseCascade`),
    * then dump the SURVIVING database through the same pipeline.
    *
    * A subset takes its kept frames and their orphan proof from
    * `export.Subset.restrict`: over driver-held keys when they fit its
    * budget (filtered scans, rendered once by the export), else over
    * persisted semi-joins. An erasure always runs persisted and is
    * proven by `Subset.orphanCounts`. Persisted frames live only as
    * long as this command. Both refuse to write if the result left any
    * dangling row, and the summary line names the closure's branch
    * (for a subset also the key rows held and the budget).
    */
  private def runSubset(flags: Flags, forget: Boolean): Unit = {
    val cfg = GraftConfig.load(flags.config)
    if (flags.anchor.isEmpty) { System.err.println("missing --anchor <table>"); sys.exit(2) }
    if (flags.out.isEmpty) { System.err.println("missing -o <out.sql>"); sys.exit(2) }
    require(flags.pct >= 1 && flags.pct <= 100, "--pct must be in 1..100")
    val (what, done) =
      if (forget) ("erasure", s"Forgot ${flags.pct}% of ${flags.anchor} (+ descendants)")
      else ("subset closure", s"Subset (anchor=${flags.anchor}, ${flags.pct}%)")
    withSession { spark =>
      val source = buildSource(spark, cfg, flags.source)
      val fks = source.foreignKeys
      val anchorKey = fks.find(_.referencedTable == flags.anchor).map(_.referencedColumn)
        .getOrElse(source.columns(flags.anchor).head.name)
      val tables = source.tables.map(t => t -> source.read(t)).toMap
      val sample = graft.ops.Sampling.bucket(
        org.apache.spark.sql.functions.col(anchorKey), 100) < flags.pct
      try {
        val (kept, orphans, closure) =
          if (forget) {
            val kept = Subset.eraseCascade(tables, fks, flags.anchor, sample)
            (kept, Subset.orphanCounts(kept, fks), s"closure=${graft.ops.DriverBudget.Distributed}")
          } else {
            val r = Subset.restrict(tables, fks, flags.anchor, sample)
            val d = r.decision
            (r.kept, r.orphans,
              s"closure=${d.branch} key_rows=${d.size.fold("-")(_.toString)} budget=${d.budget}")
          }
        require(orphans.values.forall(_ == 0L),
          s"$what left dangling rows: $orphans — refusing to write")
        val stats = exportTo(flags, cfg, new graft.export.SubsetSource(source, kept))
        System.err.println(
          s"$done: exported ${stats.tablesExported} tables, ${stats.rowsExported} rows, " +
            s"0 orphans; $closure")
      } finally graft.ops.OpCaches.releaseAll()
    }
  }

  /** `graft drift <old> <new>` — the o37 data-contract check between
    * two parquet versions of one table, printed as a TSV report with
    * drifted rows marked; exits 1 when anything drifted (the CI-gate
    * convention).
    */
  private[graft] def runDrift(oldPath: String, newPath: String): Int =
    withSession { spark =>
      val report = graft.analyse.Drift
        .driftReport(spark.read.parquet(oldPath), spark.read.parquet(newPath))
        .collect()
      println("col_name\tcheck\tv1\tv2\tdrifted")
      report.foreach { r =>
        val v1 = Option(r.get(2)).orElse(Option(r.get(4))).map(_.toString).getOrElse("-")
        val v2 = Option(r.get(3)).orElse(Option(r.get(5))).map(_.toString).getOrElse("-")
        println(s"${r.getString(0)}\t${r.getString(1)}\t$v1\t$v2\t${r.getBoolean(6)}")
      }
      val drifted = report.count(_.getBoolean(6))
      System.err.println(s"drift: $drifted of ${report.length} checks drifted")
      if (drifted > 0) 1 else 0
    }
}
