package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.anonymise.Anonymiser
import graft.config.{GraftConfig, RetainAll}
import graft.dialect.Dialect
import graft.export.{DumpWriter, ExportPipeline, Subset, SubsetSource}
import graft.ops.{Dedup, OpCaches, Sampling, Similarity, TextAnalysis}
import graft.sources.{ParquetSource, Source}

/** The generated inputs of one run (written by `run.py` from the seed). */
final case class Inputs(
    workload: String, dataDir: String, workDir: String, configPath: String,
    batchSize: Int, anchor: String, pct: Int, knnIds: Seq[Long]) {
  def cliSource: String = s"parquet:$dataDir"
}

/** Outcome of one operation: a table section of a dump or a catalog key. */
final case class Op(name: String, ok: Boolean, error: String = "", seconds: Double = 0.0)

/** What one timed job produced. `digests` is per table section. */
final case class JobOutput(ops: Seq[Op], rows: Long, outBytes: Long,
                           digests: Map[String, DumpDigest.Section] = Map.empty)

/** Per-table SHA-256, tuple count and byte count of a dump, split at
  * the writer's `-- Table: <name>` section headers. The file header
  * (which carries the export date) is not part of any section.
  */
object DumpDigest {
  final case class Section(sha256: String, rows: Long, bytes: Long)

  def of(path: String): Map[String, Section] = {
    val out = mutable.LinkedHashMap.empty[String, Section]
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(new java.io.FileInputStream(path), UTF_8), 1 << 16)
    var name: String = null
    var md: java.security.MessageDigest = null
    var rows = 0L
    var bytes = 0L
    def close(): Unit = if (name != null)
      out(name) = Section(md.digest().map("%02x".format(_)).mkString, rows, bytes)
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.startsWith("-- Table: ")) {
          close()
          name = line.stripPrefix("-- Table: ").trim
          md = java.security.MessageDigest.getInstance("SHA-256")
          rows = 0L; bytes = 0L
        }
        if (name != null) {
          val b = (line + "\n").getBytes(UTF_8)
          md.update(b); bytes += b.length
          if (line.startsWith("(")) rows += 1
        }
        line = in.readLine()
      }
      close()
    } finally in.close()
    out.toMap
  }
}

/** Layer-pass results: seconds and counts keyed by per-layer metric name. */
final class Layers {
  val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

/** Shared plumbing of the workloads. */
abstract class Workload(val spark: SparkSession, val in: Inputs) {

  /** One end-to-end job through the program's public entry points. */
  def job(i: Int): JobOutput

  /** One traced pass that calls each layer's public functions in turn. */
  def layerPass(t: Tracer, probe: SparkProbe, layers: Layers): Unit

  /** Checks that the timed plans still compute their output's expressions. */
  def selfTest(): Seq[String] = Nil

  /** Untimed artefacts the Python checker compares with its references. */
  def writeVerification(dir: String): Unit = ()

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def table(name: String): DataFrame =
    ParquetSource.normalizeNanoTimestamps(
      ParquetSource.readParquet(spark, s"${in.dataDir}/$name.parquet"))

  /** Runs `body` with the probe counting into a fresh counter set. */
  protected def counted[T](probe: SparkProbe)(body: => T): (T, SparkCounters) = {
    val c = new SparkCounters
    val prev = probe.current
    probe.current = c
    try {
      val r = body
      org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
      (r, c)
    } finally probe.current = prev
  }

  protected def seconds(t: Tracer, name: String): Double =
    t.all.filter(s => s.name == name && s.job == t.job).map(s => s.end - s.start).sum / 1e9

  /** Decomposes the export chain of `source` layer by layer: parquet
    * scan, anonymisation, tuple rendering, Catalyst planning of the
    * rendered plan, and finally the real `ExportPipeline.run` into a
    * timed file writer.
    */
  protected def exportLayers(t: Tracer, probe: SparkProbe, layers: Layers,
                             cfg: GraftConfig, source: Source, dumpPath: String): Unit = {
    val dialect = Dialect.forName(cfg.connection.dbType)
    val plans = t.span("analyse.plan")(ExportPipeline.plan(source, cfg))
    var scanNs, anonSelfNs, renderSelfNs, planNs = 0L
    var scanRows, scanBytes, cells, renderBytes = 0L
    for (p <- plans if !p.config.exists(_.truncate)) {
      val retained = source.scan(p.meta.name, p.config.map(_.retain).getOrElse(RetainAll))
      val anon = p.config.map(tc => Anonymiser(retained, tc)).getOrElse(retained)
      val rendered = DumpWriter.renderTuples(anon, dialect)
      val rows = retained.count()
      scanRows += rows
      scanBytes += new File(s"${in.dataDir}/${p.meta.name}.parquet").length
      val t0 = System.nanoTime()
      t.span("sources.parquet.scan")(noop(retained))
      val t1 = System.nanoTime()
      scanNs += t1 - t0
      val anonNs = if (p.anonymisedColumns.isEmpty) t1 - t0 else {
        t.span("anonymise.pass")(noop(anon))
        val t2 = System.nanoTime()
        anonSelfNs += math.max(0L, (t2 - t1) - (t1 - t0))
        cells += rows * p.anonymisedColumns.size
        t2 - t1
      }
      val t3 = System.nanoTime()
      t.span("spark.plan")(rendered.queryExecution.executedPlan)
      val t4 = System.nanoTime()
      planNs += t4 - t3
      val b = t.span("dialect.render.pass")(
        rendered.select(sum(octet_length(col("value")))).head().get(0))
      val t5 = System.nanoTime()
      renderSelfNs += math.max(0L, (t5 - t4) - anonNs)
      renderBytes += Option(b).map(_.toString.toLong).getOrElse(0L)
    }
    layers.add("sources.parquet.scan_s", scanNs / 1e9)
    layers.add("sources.parquet.rows", scanRows.toDouble)
    layers.add("sources.parquet.bytes", scanBytes.toDouble)
    layers.add("anonymise.self_s", anonSelfNs / 1e9)
    layers.add("anonymise.cells", cells.toDouble)
    layers.add("dialect.render_self_s", renderSelfNs / 1e9)
    layers.add("dialect.render_bytes", renderBytes.toDouble)
    layers.add("spark.plan_explicit_s", planNs / 1e9)

    val w = new TimingWriter(new java.io.FileWriter(dumpPath, UTF_8))
    val (_, ec) = counted(probe) {
      t.span("export.run") {
        try ExportPipeline.run(source, cfg, dialect, w, in.batchSize)
        finally w.close()
      }
    }
    layers.add("export.io_s", w.nanos / 1e9)
    layers.add("export.io_bytes", new File(dumpPath).length.toDouble)
    layers.add("export.io_calls", w.calls.toDouble)
    layers.add("export.io_job_overlap_s", Intervals.overlap(w.intervals, ec.jobIntervals) / 1e9)
    new File(dumpPath).delete()
  }

  protected def sourceMeta(t: Tracer): ParquetSource = t.span("sources.meta") {
    val s = ParquetSource(spark, in.dataDir)
    s.tables.foreach(x => s.tableMeta(x).createStmt)
    s.foreignKeys
    s
  }
}

/** `graft export` of the whole database into a real dump file. The
  * first job's dump is also read back through `SqlDumpSource`, one
  * DataFrame per table: untimed for the checker, timed per layer in the
  * traced pass.
  */
final class ExportWorkload(spark: SparkSession, in: Inputs) extends Workload(spark, in) {
  private val firstDump = s"${in.workDir}/export-0.sql"

  def job(i: Int): JobOutput = {
    val out = s"${in.workDir}/export-$i.sql"
    graft.Main.main(Array("export", "-c", in.configPath, "-o", out,
      "--source", in.cliSource, "--batch-size", in.batchSize.toString))
    Jobs.dumpOutput(out, keep = i == 0)
  }

  private def readBack(table: String): DataFrame =
    spark.read.format("graft.sources.SqlDumpSource").option("table", table).load(firstDump)

  def layerPass(t: Tracer, probe: SparkProbe, layers: Layers): Unit = {
    val cfg = GraftConfig.load(in.configPath)
    val source = sourceMeta(t)
    exportLayers(t, probe, layers, cfg, source, s"${in.workDir}/export-layers.sql")
    val readable = source.tables.filter(x => scala.util.Try(readBack(x).schema).isSuccess)
    val (_, c) = counted(probe)(
      t.span("sources.sqldump.scan")(readable.foreach(x => noop(readBack(x)))))
    layers.add("sources.sqldump.scan_s", seconds(t, "sources.sqldump.scan"))
    layers.add("sources.sqldump.rows", c.inputRecords.toDouble)
    // each table's scan passes over the whole file (other tables'
    // statements are skipped by their headers)
    layers.add("sources.sqldump.bytes", new File(firstDump).length.toDouble * readable.size)
    layers.add("sources.sqldump.splits", c.tasks.toDouble)
  }

  /** Row count and key-column sum of every table as read back. */
  override def writeVerification(dir: String): Unit = {
    val lines = ParquetSource(spark, in.dataDir).tables.map { t =>
      try {
        val df = readBack(t)
        val r = df.agg(count(lit(1)), sum(col(df.columns.head).cast("long"))).head()
        s"""{"table": "$t", "ok": true, "rows": ${r.getLong(0)}, "key_sum": ${
          Option(r.get(1)).getOrElse(0L)}}"""
      } catch {
        case e: Exception =>
          s"""{"table": "$t", "ok": false, "error": ${Jobs.json(Jobs.describe(e))}}"""
      }
    }
    java.nio.file.Files.writeString(new File(s"$dir/readback.jsonl").toPath,
      lines.mkString("", "\n", "\n"))
  }

  /** The rendered plan must still carry the anonymising projections:
    * faker on `c_name`, the static `c_mktsegment` and NULL `props`.
    */
  override def selfTest(): Seq[String] = {
    val cfg = GraftConfig.load(in.configPath)
    val source = ParquetSource(spark, in.dataDir)
    val dialect = Dialect.forName(cfg.connection.dbType)
    Seq("customer" -> "c_name", "customer" -> "c_mktsegment", "events" -> "props").flatMap {
      case (tbl, column) =>
        val tc = cfg.tableConfig(tbl).get
        val plan = DumpWriter.renderTuples(
          Anonymiser(source.scan(tbl, tc.retain), tc), dialect)
          .queryExecution.executedPlan.toString
        Jobs.anonymisedProjection(plan, column, tc)
          .map(e => s"export/$tbl.$column: $e").toSeq
    }
  }
}

/** `graft subset`: FK closure, orphan audit, then the same export. */
final class SubsetWorkload(spark: SparkSession, in: Inputs) extends Workload(spark, in) {
  def job(i: Int): JobOutput = {
    val out = s"${in.workDir}/subset-$i.sql"
    try graft.Main.main(Array("subset", "-c", in.configPath, "-o", out,
      "--anchor", in.anchor, "--pct", in.pct.toString,
      "--source", in.cliSource, "--batch-size", in.batchSize.toString))
    finally OpCaches.releaseAll()
    Jobs.dumpOutput(out, keep = i == 0)
  }

  def layerPass(t: Tracer, probe: SparkProbe, layers: Layers): Unit = {
    val cfg = GraftConfig.load(in.configPath)
    val source = sourceMeta(t)
    val fks = source.foreignKeys
    val tables = source.tables.map(x => x -> source.read(x)).toMap
    val anchorKey = fks.find(_.referencedTable == in.anchor).map(_.referencedColumn).get
    try {
      val (kept, keptRows) = t.span("export.subset.closure") {
        val k = Subset.closure(tables, fks, in.anchor,
          Sampling.bucket(col(anchorKey), 100) < in.pct)
        (k, k.values.map(_.count()).sum)
      }
      val cached = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val orphans = t.span("export.subset.audit")(Subset.orphanCounts(kept, fks))
      require(orphans.values.forall(_ == 0L), s"subset left dangling rows: $orphans")
      layers.add("export.subset.closure_s", seconds(t, "export.subset.closure"))
      layers.add("export.subset.audit_s", seconds(t, "export.subset.audit"))
      layers.add("export.subset.keep_ratio", keptRows.toDouble / Jobs.totalRows(tables))
      layers.add("export.subset.cached_bytes", cached.toDouble)
      exportLayers(t, probe, layers, cfg, new SubsetSource(source, kept),
        s"${in.workDir}/subset-layers.sql")
    } finally OpCaches.releaseAll()
  }
}

/** The training-data path: catalog pipelines and a seeded kNN, noop sink. */
final class CurateWorkload(spark: SparkSession, in: Inputs) extends Workload(spark, in) {
  val catalogKeys = Seq("p1_pipeline", "p3_ingest_pipeline", "d2_minhash_lsh")
  val knnKey = "s3_knn_ivf"

  private def knn(): DataFrame = {
    val emb = table("embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id").isin(in.knnIds: _*)),
      k = 10, nlist = 8, nprobe = 8)
  }

  private def frames: Seq[(String, () => DataFrame)] =
    catalogKeys.map(k => k -> (() => graft.GraftQueries.all(k)(spark, in.dataDir))) :+
      (knnKey -> (() => knn()))

  private lazy val inputRows: Long =
    table("documents").count() * catalogKeys.size + table("embeddings").count()

  def job(i: Int): JobOutput = {
    val ops = frames.map { case (k, f) =>
      Jobs.timedOp(k) { try noop(f()) finally OpCaches.releaseAll() }
    }
    JobOutput(ops, inputRows, 0L)
  }

  def layerPass(t: Tracer, probe: SparkProbe, layers: Layers): Unit = {
    val docs = table("documents")
    val nDocs = docs.count()
    t.span("ops.text.gate")(noop(TextAnalysis.gopherQualityFilter(docs)))
    t.span("ops.text.scrub")(noop(TextAnalysis.scrubPii(docs)))
    try {
      val gated = OpCaches.persist(TextAnalysis.gopherQualityFilter(docs)
        .filter(col("keep")).select(docs.columns.toIndexedSeq.map(col): _*))
      gated.count()
      t.span("ops.text.classifier")(noop(TextAnalysis.classifierScore(gated)))
    } finally OpCaches.releaseAll()
    val kept = t.span("ops.dedup.exact")(Dedup.exactCanonicalRows(
      docs.select("doc_id", "text"), "doc_id", TextAnalysis.fingerprint(col("text"))).count())
    val verified = try t.span("ops.dedup.minhash")(
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8).count())
    finally OpCaches.releaseAll()
    val candidates = Dedup.minhashCandidates(
      docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)).count()
    t.span("ops.sampling") {
      noop(Sampling.domainCap(docs, "doc_id", "source", k = 40))
      noop(Sampling.tokenBudgetPrefix(
        docs.select(col("doc_id"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_chars", "n_tok", budget = 20000L))
    }
    t.span("ops.similarity.ivf")(noop(knn()))
    for (n <- Seq("ops.text.gate", "ops.text.scrub", "ops.text.classifier",
                  "ops.dedup.exact", "ops.dedup.minhash", "ops.similarity.ivf"))
      layers.add(n + "_s", seconds(t, n))
    layers.add("ops.sampling.s", seconds(t, "ops.sampling"))
    layers.add("ops.dedup.exact_keep_ratio", kept.toDouble / nDocs)
    layers.add("ops.dedup.minhash_precision",
      if (candidates == 0) 1.0 else verified.toDouble / candidates)
  }

  /** md5 (fingerprints) and regexp_replace (PII scrub) must survive in
    * the executed plans of the frames the jobs write to the noop sink
    * (a noop write keeps every output column, so its plan is the frame's).
    */
  override def selfTest(): Seq[String] =
    Seq("p1_pipeline", "p3_ingest_pipeline").flatMap { k =>
      val plan = try graft.GraftQueries.all(k)(spark, in.dataDir).queryExecution
        .executedPlan.toString finally OpCaches.releaseAll()
      Seq("md5(", "regexp_replace(").filterNot(plan.contains)
        .map(n => s"curate/$k: executed plan lacks $n")
    }

  /** Each result as parquet, plus the oracle SQL the checker runs in
    * DuckDB: the catalog's own for the catalog keys, and the s3 oracle
    * with its query set swapped for the seed's kNN ids.
    */
  override def writeVerification(dir: String): Unit = {
    for ((k, f) <- frames) try f().write.mode("overwrite").parquet(s"$dir/$k")
    catch { case e: Exception => System.err.println(s"[bench] $k: ${Jobs.describe(e)}") }
    finally OpCaches.releaseAll()
    val s3 = graft.Oracles.all(knnKey)
    val knnSql = s3.replace("FROM embeddings WHERE vec_id < 10",
      s"FROM embeddings WHERE vec_id IN (${in.knnIds.mkString(", ")})")
    require(knnSql != s3, "s3_knn_ivf oracle no longer selects its queries by vec_id < 10")
    val sql = catalogKeys.map(k => k -> graft.Oracles.all(k)).toMap + (knnKey -> knnSql)
    java.nio.file.Files.writeString(new File(s"$dir/oracle_sql.json").toPath, Json.write(sql))
  }
}

object Jobs {
  def apply(spark: SparkSession, in: Inputs): Workload = in.workload match {
    case "export" => new ExportWorkload(spark, in)
    case "subset" => new SubsetWorkload(spark, in)
    case "curate" => new CurateWorkload(spark, in)
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Digest a dump; every section counts as one operation. */
  def dumpOutput(path: String, keep: Boolean): JobOutput = {
    val f = new File(path)
    val d = DumpDigest.of(path)
    val out = JobOutput(d.keys.toSeq.sorted.map(Op(_, ok = true)),
      d.values.map(_.rows).sum, f.length, d)
    if (!keep) f.delete()
    out
  }

  def timedOp(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { body; "" } catch { case e: Exception => describe(e) }
    Op(name, err.isEmpty, err, (System.nanoTime() - t0) / 1e9)
  }

  def totalRows(tables: Map[String, DataFrame]): Double =
    tables.values.map(_.count()).sum.toDouble

  /** Why a rendered plan does not anonymise `column`, if it does not. */
  def anonymisedProjection(plan: String, column: String,
                           tc: graft.config.TableConfig): Option[String] = {
    import graft.config.{FakerRule, NullRule, StaticRule}
    val marker = tc.columns(column) match {
      case NullRule      => s"null AS $column#"
      case StaticRule(v) => s"$v AS $column#"
      case FakerRule(_)  => s" AS $column#"
    }
    val projects = plan.linesIterator.filter(_.contains("Project [")).toSeq
    if (projects.exists(_.contains(marker))) None
    else Some(s"no projection computes `$marker`")
  }

  def describe(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").linesIterator.take(1).mkString}"
  }

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}
