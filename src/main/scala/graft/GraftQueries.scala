package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyse.Topo
import graft.anonymise.{Anonymiser, Faker}
import graft.config._
import graft.dialect.{MySqlDialect, SqliteDialect, SqlValueCodec}
import graft.export.{DumpWriter, ExportPipeline}
import graft.ops.{AsOfJoin, BloomJoin, Cdc, Dedup, DriverBudget, Multimodal, Partitioning, RangeJoin, Sampling, Similarity, Skew, TextAnalysis}
import graft.sources.ParquetSource
import graft.streaming.EventsStream

/** The engine's query catalog: one entry per operator from SURVEY.md §2
  * (O1-O22 parity) plus the [EXT] LLM-pipeline operators. Each `q*` has a
  * DuckDB oracle in `Oracles` with matching column names/types.
  *
  * Numeric determinism convention: money sums go through
  * `CAST(double AS DECIMAL)` before SUM so the aggregate is exact and
  * order-independent, then back to DOUBLE — both engines produce
  * bit-identical results regardless of row order at any scale.
  */
object GraftQueries {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource.normalizeNanoTimestamps(
      ParquetSource.readParquet(s, s"$dir/$name.parquet"))

  /** Build-once cache for queries with side-effectful fixtures (s8's
    * persisted index, st7/st8's keyed tables): `build` runs the first
    * time this process sees this (fixture, tag) and is skipped after.
    * The cache key includes the fixture dir's max file mtime, so a
    * fixture regenerated in place mid-process gets a FRESH build
    * instead of a stale index/table; the `_DONE` marker is created and
    * checked through the same Hadoop FileSystem that writes the data,
    * so marker and data can never land on different filesystems.
    */
  private def cachedBuild(s: SparkSession, tag: String, dir: String)
                         (build: String => Unit): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val fixture = new org.apache.hadoop.fs.Path(dir)
    val ffs = fixture.getFileSystem(conf)
    val mtime =
      if (!ffs.exists(fixture)) 0L
      else ffs.listStatus(fixture).map(_.getModificationTime).foldLeft(0L)(math.max)
    val out = pidScopedPrefix(tag) +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + s"_m$mtime"
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(root, "_DONE")
    if (!fs.exists(marker)) {
      fs.delete(root, true) // stale partial build
      build(out)
      fs.create(marker, true).close()
    }
    out
  }

  /** pid-scoped fixture-cache prefix under /tmp/graft_<tag> — reaps
    * DEAD processes' sibling caches first (`OpCaches.reapDeadCaches`):
    * repeated bench sessions at the big scratch SFs otherwise
    * accumulate multi-GB dump caches until the disk fills.
    */
  private def pidScopedPrefix(tag: String): String = {
    graft.ops.OpCaches.reapDeadCaches(s"/tmp/graft_$tag")
    s"/tmp/graft_$tag/p${ProcessHandle.current().pid()}_"
  }

  /** sum(cast(x as decimal(18,2))) rendered back to double. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  private def revenueTerm(price: Column, discount: Column): Column =
    (price * (lit(1.0) - discount)).cast("decimal(18,4)")

  // ---------------------------------------------------------------- parity

  /** O1: catalog scan — table listing, alphabetical. */
  def o1Tables(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ParquetSource(s, dir).tables.toDF("table_name")
  }

  /** O2: DDL extraction per table. */
  def o2Ddl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = ParquetSource(s, dir)
    src.tables.map(t => (t, src.schemaDDL(t))).toDF("table_name", "ddl")
  }

  /** O3: column metadata scan. */
  def o3Columns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = ParquetSource(s, dir)
    src.tables.flatMap { t =>
      src.columns(t).zipWithIndex.map { case (c, i) =>
        (t, (i + 1).toLong, c.name, c.dataType, c.isNullable)
      }
    }.toDF("table_name", "ordinal", "column_name", "data_type", "is_nullable")
  }

  /** O4: FK metadata scan. */
  def o4ForeignKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ParquetSource(s, dir).foreignKeys
      .map(fk => (fk.table, fk.column, fk.referencedTable, fk.referencedColumn))
      .toDF("table_name", "column_name", "referenced_table", "referenced_column")
  }

  /** O5: COUNT(*) per table (parquet: metadata-only count). */
  def o5RowCounts(s: SparkSession, dir: String): DataFrame = {
    val src = ParquetSource(s, dir)
    // all 9 column-less counts in ONE action (the o29/o34 union-of-
    // aggregates pattern): a per-table .count() loop runs nine serial
    // one-task jobs; unioned, the scheduler overlaps them — each
    // subtree is still the metadata-speed column-less parquet count
    src.tables
      .map(t => src.read(t).agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows")))
      .reduce(_ unionAll _)
  }

  /** O6: scan + explicit projection. */
  def o6ScanProject(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").select("o_orderkey", "o_totalprice")

  /** O7: the reference's one predicate form — strict `>` on a date col. */
  def o7FilterDate(s: SparkSession, dir: String): DataFrame =
    ParquetSource(s, dir)
      .scan("orders", RetainAfter("o_orderdate", GraftConfig.parseDate("1998-01-01")))
      .select("o_orderkey", "o_orderdate")

  /** O8: LIMIT without ORDER BY — row set is arbitrary, so the checkable
    * invariant is the cardinality.
    */
  def o8Limit(s: SparkSession, dir: String): DataFrame =
    ParquetSource(s, dir).scan("orders", RetainCount(100))
      .agg(count(lit(1)).as("n_rows"))

  /** O9: batched row materialisation — drive the scan through the sink's
    * iterator contract and report the batch arithmetic.
    */
  def o9Batching(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = tbl(s, dir, "lineitem").select("l_orderkey")
    val it = df.toLocalIterator()
    var rows = 0L
    var batches = 0L
    var inBatch = 0
    while (it.hasNext) {
      it.next(); rows += 1; inBatch += 1
      if (inBatch == 1000) { batches += 1; inBatch = 0 }
    }
    if (inBatch > 0) batches += 1
    Seq((rows, 1000L, batches)).toDF("n_rows", "batch_size", "n_batches")
  }

  /** O10: anonymise — null + static rules (value-checkable part). */
  def o10AnonymiseRules(s: SparkSession, dir: String): DataFrame = {
    val tc = TableConfig(columns = Map(
      "c_mktsegment" -> StaticRule("REDACTED"),
      "c_acctbal"    -> NullRule))
    Anonymiser(tbl(s, dir, "customer"), tc)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
  }

  /** O11: consistency map — structural contract: the same original value
    * maps to the same fake everywhere (across two different tables), and
    * distinct originals keep distinct fakes.
    */
  def o11Consistency(s: SparkSession, dir: String): DataFrame = {
    val rule = TableConfig(columns = Map("c_name" -> FakerRule("name")))
    val customers = Anonymiser(tbl(s, dir, "customer"), rule)
      .select(col("c_custkey"), col("c_name").as("fake_a"))
    val viaOrders = Anonymiser(
      tbl(s, dir, "orders").join(tbl(s, dir, "customer"),
        col("o_custkey") === col("c_custkey")).select("o_orderkey", "o_custkey", "c_name"),
      rule)
      .select(col("o_orderkey"), col("o_custkey"), col("c_name").as("fake_b"))
    val joined = viaOrders.join(customers, viaOrders("o_custkey") === customers("c_custkey"))
    val origDistinct = tbl(s, dir, "customer").select(countDistinct("c_name")).first().getLong(0)
    // orig → fake is a function: #distinct (orig, fake) pairs == #distinct orig
    val mappingDistinct = Anonymiser(
      tbl(s, dir, "customer").select(col("c_name").as("orig"), col("c_name")),
      rule).select(col("orig"), col("c_name")).distinct().count()
    joined.agg(
      count(lit(1)).as("n_pairs_checked"),
      sum(when(col("fake_a") =!= col("fake_b"), 1L).otherwise(0L)).as("n_violations"),
      lit(origDistinct).as("n_distinct_orig"),
      lit(mappingDistinct).as("n_distinct_mappings"))
  }

  /** O12: faker generators — output-format contracts over many seeds. */
  def o12FakerFormats(s: SparkSession, dir: String): DataFrame = {
    val contracts: Seq[(String, String)] = Seq(
      "name"      -> "^[A-Za-z]+ [A-Za-z]+$",
      "firstName" -> "^[A-Za-z]+$",
      "lastName"  -> "^[A-Za-z]+$",
      "email"     -> "^[^@]+@[^@]+\\.[^@]+$",
      "phone"     -> "^[0-9]{10}$",
      "address"   -> "^[0-9]+ [A-Za-z]+ [A-Za-z]+$",
      "city"      -> "^[A-Za-z]+$",
      "country"   -> "^[A-Za-z ]+$",
      "company"   -> "^[A-Za-z]+ [A-Za-z]+$",
      "uuid"      -> "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$",
      "username"  -> "^[a-z]+[0-9]+$",
      "password"  -> "^.{32}$",
      "ipv4"      -> "^([0-9]{1,3}\\.){3}[0-9]{1,3}$",
      "date"      -> "^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
      "text"      -> "^[A-Z][a-z]*( [a-z]+){9}\\.$",
      "number"    -> "^[0-9]{8}$",
    )
    val seeds = tbl(s, dir, "customer").select(col("c_custkey").as("seed"))
    contracts.map { case (fn, pattern) =>
      val gen = udf((seed: Long) => Faker.generate(fn, seed))
      seeds.select(gen(col("seed")).as("v"))
        .agg(
          sum(when(col("v").rlike(pattern), 1L).otherwise(0L)).as("n_ok"),
          count(lit(1)).as("n_rows"))
        .select(lit(fn).as("function_name"), col("n_ok"), col("n_rows"))
    }.reduce(_.unionAll(_))
  }

  /** O14: truncate — schema only, zero rows. */
  def o14Truncate(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select("c_custkey", "c_name").limit(0)

  /** O15: FK topological sort (Kahn, cycle-tolerant). */
  def o15TopoOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = ParquetSource(s, dir)
    Topo.sortTablesByDependency(src.tables, src.foreignKeys)
      .zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      .toDF("position", "table_name")
  }

  /** The export config used by o16/o21 — exercises truncate, both retain
    * modes, and anonymisation in one pipeline.
    */
  def exportConfig: GraftConfig = GraftConfig(
    Connection("sqlite", file = "fixture"),
    Map(
      "events"   -> TableConfig(truncate = true),
      "orders"   -> TableConfig(retain = RetainAfter("o_orderdate", GraftConfig.parseDate("1998-01-01"))),
      "lineitem" -> TableConfig(retain = RetainCount(5000)),
      "customer" -> TableConfig(columns = Map(
        "c_name" -> FakerRule("name"), "c_mktsegment" -> StaticRule("REDACTED"))),
    ),
    Seq("events", "orders", "lineitem", "customer"))

  /** O16+O17: the SQL-dump sink end-to-end; checkable invariants are the
    * stats + statement counts (exact dump text is golden-tested in the
    * suite).
    */
  def o16DumpStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = new java.io.StringWriter()
    val stats = ExportPipeline.run(
      ParquetSource(s, dir), exportConfig, SqliteDialect, out,
      timestamp = () => "1970-01-01T00:00:00Z")
    val text = out.toString
    val inserts = text.linesIterator.count(_.startsWith("INSERT INTO "))
    val creates = text.linesIterator.count(_.startsWith("CREATE TABLE "))
    val drops = text.linesIterator.count(_.startsWith("DROP TABLE IF EXISTS "))
    Seq((stats.tablesExported, stats.tablesTruncated, stats.rowsExported,
      inserts.toLong, creates.toLong, drops.toLong))
      .toDF("tables_exported", "tables_truncated", "rows_exported",
        "n_insert_stmts", "n_create_stmts", "n_drop_stmts")
  }

  /** O23 [EXT] — dump → DataFrame ROUND-TRIP: export orders through the
    * SQL-dump sink (O16's writer), read the dump back with the
    * splittable DSv2 reader (`sources.SqlDumpSource`, schema inferred
    * from the dump's own CREATE TABLE), and aggregate the result. The
    * oracle computes the same aggregate over the ORIGINAL parquet — a
    * green row proves the whole dump format (DDL, literal codec,
    * statement framing) round-trips losslessly, with the read planned
    * as parallel statement-aligned splits (maxSplitBytes=64k forces
    * multi-split even at fixture scale). Dump write is once per
    * process, gated on a _SUCCESS marker (the qPartitionPrune recipe),
    * so repeated calls time the parallel READ.
    */
  def o23DumpRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val dumpDir = pidScopedPrefix("dumps") +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val dumpFile = new java.io.File(s"$dumpDir/orders.sql")
    val marker = new java.io.File(s"$dumpDir/_SUCCESS")
    if (!marker.exists()) {
      new java.io.File(dumpDir).mkdirs()
      val src = ParquetSource(s, dir)
      val w = new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(dumpFile), java.nio.charset.StandardCharsets.UTF_8)
      try {
        val dw = new DumpWriter(w, MySqlDialect, timestamp = () => "1970-01-01T00:00:00Z")
        dw.writeHeader()
        dw.exportTables(Seq(src.tableMeta("orders") -> Some(src.read("orders"))))
        dw.writeFooter()
      } finally w.close()
      new java.io.FileOutputStream(marker).close()
    }
    s.read.format("graft.sources.SqlDumpSource")
      .option("table", "orders")
      .option("maxSplitBytes", (64 * 1024).toString)
      .load(dumpFile.getPath)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        moneySum(col("o_totalprice")).as("sum_price"),
        max(col("o_orderdate")).as("max_date"),
        countDistinct(col("o_orderstatus")).as("n_status"))
  }

  /** O24 [EXT] — PARALLEL dump sink round-trip: lineitem written as
    * per-partition `part-NNNNN.sql` files by the DSv2 batch sink (no
    * driver funnel — the 100 TB dump path, vs O16/O23's single
    * ordered file), then read back through the splittable scan and
    * aggregated; the oracle aggregates the original parquet. Write is
    * once per process behind the sink's own _SUCCESS marker.
    */
  def o24DumpParallel(s: SparkSession, dir: String): DataFrame = {
    val out = pidScopedPrefix("dumps_par") +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate")
        .write.format("graft.sources.SqlDumpSource")
        .option("table", "lineitem")
        .mode("append").save(out)
    }
    s.read.format("graft.sources.SqlDumpSource")
      .option("table", "lineitem")
      .load(out)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_keys"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        max(col("l_shipdate")).as("max_ship"))
  }

  /** O25 [EXT] — JSONL training-shard export round-trip: the standard
    * LLM-training delivery format, composed with q_shard_layout's
    * size-targeted shards. Docs render to canonical one-line JSON
    * (fixed key order, portable `\\`/`\"`/control escaping), write in
    * parallel as one `shard=N` directory per ~2000-token shard, read
    * back through partition discovery + `from_json`, and aggregate;
    * the oracle aggregates the original parquet and re-derives the
    * shard count from its own running-total window. The md5 content
    * sum proves byte fidelity of the round-tripped text; write happens
    * once per process behind the text sink's `_SUCCESS` marker.
    */
  def o25JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = pidScopedPrefix("jsonl") +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val sharded = graft.sources.Layout
        .shardLayout(d, Seq(col("doc_id")), "n_tokens", target = 2000L)
      val json = graft.export.Jsonl.docLine(col("doc_id"), col("lang"), col("text"))
      sharded.select(col("shard"), json.as("value"))
        .repartition(col("shard"))
        .write.partitionBy("shard").mode("overwrite").text(out)
    }
    val parsed = s.read.text(out)
      .select(col("shard"),
        from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, lang STRING, text STRING")).as("j"))
    parsed.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("j.doc_id")).as("n_keys"),
      countDistinct(col("j.lang")).as("n_langs"),
      sum(length(col("j.text"))).as("sum_chars"),
      sum(conv(substring(md5(col("j.text")), 1, 10), 16, 10).cast("long"))
        .as("sum_text_h"),
      countDistinct(col("shard")).as("n_shards"))
  }

  /** O26 [EXT] — CSV export round-trip: documents written as RFC4180
    * CSV (quote-doubling escape, so any standards-compliant reader —
    * DuckDB `read_csv`, BigQuery load, pandas — ingests the file),
    * read back with an explicit schema, and aggregated; the oracle
    * aggregates the original parquet, so the md5 content sum proves
    * byte fidelity of text through quoting/escaping/embedded newlines.
    *
    * Scale note: the read uses `multiLine=true` because free text can
    * embed newlines, and a multiline CSV file is NOT splittable — each
    * file is one task. The write side compensates the way a 100 TB
    * export must: many moderate files (one per input partition), so
    * parallelism survives file-at-a-time reads. Newline-free exports
    * should drop `multiLine` and regain in-file splits.
    */
  def o26CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = pidScopedPrefix("csv") +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      tbl(s, dir, "documents")
        .write.option("header", "true").option("escape", "\"")
        .mode("overwrite").csv(out)
    }
    s.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"))
      .csv(out)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_keys"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(length(col("text"))).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 10), 16, 10).cast("long"))
          .as("sum_text_h"),
        sum(col("n_chars")).as("sum_n_chars"))
  }

  /** O27 [EXT] — ORC export round-trip: the other columnar format a
    * warehouse migration meets. Orders written as zlib ORC with
    * predicate-pushdown-friendly stripes, read back and aggregated;
    * the oracle aggregates the original parquet — full value fidelity
    * through the format, including decimal-quantised money and
    * timestamp columns (the classic cross-format loss sites).
    */
  def o27OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = pidScopedPrefix("orc") +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      tbl(s, dir, "orders")
        .write.option("compression", "zlib").mode("overwrite").orc(out)
    }
    s.read.orc(out)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        moneySum(col("o_totalprice")).as("sum_price"),
        max(col("o_orderdate")).as("max_date"),
        min(col("o_orderdate")).as("min_date"),
        countDistinct(col("o_orderstatus")).as("n_status"))
  }

  /** O28 [EXT] — k-anonymity / l-diversity audit: the validation an
    * anonymiser's output needs before release. Rows group by their
    * quasi-identifier tuple (nation, market segment); each equivalence
    * class reports its size (k-anonymity: every class ≥ k ⇒ no
    * individual is narrowed below k candidates) and its count of
    * distinct sensitive values — account balance quantised to coarse
    * bands, since raw balances are unique and l-diversity over them is
    * vacuous (l-diversity: a class where every member shares one
    * sensitive value leaks it even at k). One mergeable aggregate; the
    * class count is bounded by the QI domain, metadata-sized.
    */
  def o28KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val l = 2
    val sensitiveBand = floor(col("c_acctbal") / 1000.0).cast("long")
    tbl(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nationkey"),
        col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(sensitiveBand).as("l_distinct"))
      .withColumn("k_ok", col("class_size") >= k)
      .withColumn("l_ok", col("l_distinct") >= l)
  }

  /** O38 [EXT] — t-CLOSENESS audit, the third release gate after
    * o28's k-anonymity/l-diversity: per quasi-identifier class, the
    * total-variation distance between the class's sensitive-value
    * distribution and the global one, as an EXACT RATIONAL —
    * `tvd_num / tvd_den` with `tvd_num = Σ_v |cnt_cv·N − cnt_v·n_c|`
    * and `tvd_den = 2·n_c·N` (cross-multiplied, no floats). Bands a
    * class never exhibits still count; rather than a class×band cross
    * join, the identity `Σ_{v∉class} cnt_v·n_c = n_c·N − Σ_{v∈class}
    * cnt_v·n_c` folds their contribution into `n_c·N`, so the plan is
    * one (class,band) aggregate + two broadcast equi-joins of its
    * metadata-scale rollups. Verdict `t_ok` at t = 0.4 compares
    * `1000·tvd_num ≤ 400·tvd_den` — integer-exact in both engines.
    */
  def o38TCloseness(s: SparkSession, dir: String): DataFrame = {
    val rows = tbl(s, dir, "customer").select(
      col("c_nationkey").cast("int").as("nationkey"),
      col("c_mktsegment").as("mktsegment"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
    val cv = graft.ops.OpCaches.persist(
      rows.groupBy("nationkey", "mktsegment", "band")
        .agg(count(lit(1)).as("cnt_cv")))
    val classTot = cv.groupBy("nationkey", "mktsegment")
      .agg(sum("cnt_cv").as("n_c"))
    val bandTot = cv.groupBy("band").agg(sum("cnt_cv").as("cnt_v"))
    val nTot = broadcast(cv.agg(sum("cnt_cv").as("n_all")))
    cv.join(broadcast(bandTot), "band")
      .join(broadcast(classTot), Seq("nationkey", "mktsegment"))
      .crossJoin(nTot)
      .groupBy("nationkey", "mktsegment")
      .agg(max("n_c").as("class_size"), max("n_all").as("__n"),
        sum(abs(col("cnt_cv") * col("n_all") - col("cnt_v") * col("n_c"))
          - col("cnt_v") * col("n_c")).as("__seen"))
      .select(col("nationkey"), col("mktsegment"), col("class_size"),
        (col("__seen") + col("class_size") * col("__n")).as("tvd_num"),
        (col("class_size") * col("__n") * 2).as("tvd_den"))
      .withColumn("t_ok", col("tvd_num") * 1000 <= col("tvd_den") * 400)
  }

  /** O29 [EXT] — referentially-consistent subsetting (`export.Subset`):
    * a 10% md5-bucket sample of orders, closed over the engine's own
    * FK catalog so every table keeps exactly the rows the sample needs
    * — descendants restrict down (lineitem, then events once customer
    * shrinks), referenced dimensions restrict up (customer, part,
    * supplier, nation, region). The summary row per table carries the
    * kept count AND the dangling-FK count; the closure proof is that
    * every orphan count is zero in BOTH engines.
    */
  def o29SubsetClosure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    val tables = names.map(t => t -> tbl(s, dir, t)).toMap
    val fks = graft.sources.ParquetSource.fixtureForeignKeys
    val kept = graft.export.Subset.closure(tables, fks, "orders",
      graft.ops.Sampling.bucket(col("o_orderkey"), 10) === 0)
    // kept counts AND the per-edge orphan counts (`Subset.orphanEdges`,
    // one (edge, key) aggregate) in ONE action: one job whose independent
    // subtrees overlap, instead of two serial jobs over the same cached
    // closure chain
    val countFrames = names.map(t => kept(t).agg(count(lit(1)).as("__n"))
      .select(lit(t).as("__t"), lit("c").as("__k"), col("__n")))
    val orphans = graft.export.Subset.orphanEdges(kept, fks)
      .select(col("table_name").as("__t"), lit("o").as("__k"), col("n_orphans").as("__n"))
    val rows = (countFrames :+ orphans).reduce(_ unionAll _)
      .groupBy("__t", "__k").agg(sum("__n").as("__s")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    names.map(t => (t, rows((t, "c")), rows.getOrElse((t, "o"), 0L)))
      .toDF("table_name", "n_rows", "n_orphans")
  }

  /** O30 [EXT] — schema-evolution round-trip: a dataset written in two
    * generations (an early slice without `o_orderpriority`, a later
    * slice with it — the drift every long-lived lake accumulates),
    * read back through parquet schema merging and aggregated. Old-
    * generation rows surface the added column as NULL; the aggregate
    * proves both the union semantics and that no rows or values are
    * lost across generations. The oracle computes the same aggregate
    * from the original table by simulating the generation split.
    */
  def o30SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = pidScopedPrefix("evo") +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    if (!new java.io.File(s"$out/_DONE").exists()) {
      val o = tbl(s, dir, "orders")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/gen=0")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      new java.io.FileOutputStream(s"$out/_DONE").close()
    }
    s.read.option("mergeSchema", "true")
      .parquet(s"$out/gen=0", s"$out/gen=1")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        moneySum(col("o_totalprice")).as("sum_price"),
        count(col("o_orderpriority")).as("n_with_priority"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
  }

  /** O17: value → SQL-literal codec as a transform. */
  def o17Codec(s: SparkSession, dir: String): DataFrame = {
    val esc = udf((t: String) => SqlValueCodec.escapeString(t))
    tbl(s, dir, "documents").select(col("doc_id"), esc(col("text")).as("sql_literal"))
  }

  /** O19: stats collection via `df.observe` — per-table retained-row
    * counts gathered as query-attached metrics on the export scans
    * themselves (no second counting job), the Spark form of the
    * reference's exporter stats (exporter.go:24-28, main.go:176-191).
    * Truncated tables are 0 by plan, with no job at all.
    */
  def o19Stats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = ParquetSource(s, dir)
    val rows: Seq[(String, Long)] = exportConfig.tableOrder.map { t =>
      val tc = exportConfig.tableConfig(t)
      if (tc.exists(_.truncate)) t -> 0L
      else {
        val obs = org.apache.spark.sql.Observation()
        src.scan(t, tc.map(_.retain).getOrElse(RetainAll))
          .observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        t -> obs.get("rows").asInstanceOf[Long]
      }
    }
    val m = rows.toMap
    Seq((m("events"), m("orders"), m("lineitem"), m("customer"), rows.map(_._2).sum))
      .toDF("events_rows", "orders_rows", "lineitem_rows", "customer_rows", "total_rows")
  }

  /** O20: config sync — set difference of catalog vs configured tables. */
  def o20Sync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, missing) = ExportPipeline.sync(ParquetSource(s, dir), exportConfig, truncate = false)
    missing.toDF("table_name")
  }

  /** O21: dry-run planner — the compiled per-table plan. */
  def o21DryRun(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = ParquetSource(s, dir)
    // the planner's row counts in ONE action (the o5 pattern) instead
    // of one serial count job per table through meta.rowCount()
    val counts = src.tables
      .map(t => src.read(t).agg(count(lit(1)).as("n"))
        .select(lit(t).as("t"), col("n")))
      .reduce(_ unionAll _).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ExportPipeline.plan(src, exportConfig)
      .zipWithIndex.map { case (p, i) =>
        val action = p.action match {
          case a if a.startsWith("RETAIN-DATE")  => "RETAIN-DATE"
          case a if a.startsWith("RETAIN-COUNT") => "RETAIN-COUNT"
          case a                                 => a
        }
        ((i + 1).toLong, p.meta.name, counts(p.meta.name), action,
          p.anonymisedColumns.size.toLong)
      }
      .toDF("position", "table_name", "n_rows", "action", "n_anon_columns")
  }

  // ----------------------------------------------------------- analytics

  /** TPC-H Q1-shaped pricing summary (groupBy-agg, the canonical
    * partial+final hash aggregate).
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(revenueTerm(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-shaped: 3-way join + agg + deterministic top-N. */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
    val l = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1995-03-15 00:00:00")))
    broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped: 6-way star join + agg — the broadcast-dimension
    * showcase (region/nation/supplier broadcast; fact tables shuffle once).
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val region = tbl(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = tbl(s, dir, "nation")
    val customer = tbl(s, dir, "customer")
    val supplier = tbl(s, dir, "supplier")
    val orders = tbl(s, dir, "orders")
    val lineitem = tbl(s, dir, "lineitem")
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-k aggregation: highest-revenue customers. */
  def qTopCustomers(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(moneySum(col("o_totalprice")).as("total_spent"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("total_spent").desc, col("o_custkey"))
      .limit(25)

  /** Co-located join over bucketed tables: both sides are written
    * bucketed on the join key (one up-front shuffle at write time), so
    * the join itself plans with NO Exchange — the primitive that turns
    * N repeated fact-dimension shuffles into one amortised layout cost
    * at 100 TB. `PlanSpec` asserts the Exchange-free plan; this catalog
    * entry oracle-checks the result.
    */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Bucketing
    // per-process, per-source path AND table names (same recipe as
    // qPartitionPrune): concurrent processes or interleaved fixture dirs
    // can never race on Overwrite-vs-read. The bucketed layout is an
    // amortised ONE-TIME cost, so it is written once per process —
    // repeated calls (bench warm-up + samples) time the co-located JOIN,
    // not the write; reuse is gated on the parquet _SUCCESS marker so a
    // crashed partial write is rewritten, never silently read
    val tag = s"p${ProcessHandle.current().pid()}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    graft.ops.OpCaches.reapDeadCaches("/tmp/graft_bucketed")
    val base = s"/tmp/graft_bucketed/$tag"
    val ordersTbl = s"orders_bkt_$tag"
    val custTbl = s"customer_bkt_$tag"
    def ready(table: String, path: String): Boolean =
      s.catalog.tableExists(table) && new java.io.File(s"$path/_SUCCESS").exists()
    if (!ready(ordersTbl, s"$base/orders_bkt"))
      Bucketing.writeBucketed(
        tbl(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        ordersTbl, s"$base/orders_bkt", Seq("o_custkey"), numBuckets = 8)
    if (!ready(custTbl, s"$base/customer_bkt"))
      Bucketing.writeBucketed(
        tbl(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        custTbl, s"$base/customer_bkt", Seq("c_custkey"), numBuckets = 8)
    Bucketing.table(s, ordersTbl)
      .join(Bucketing.table(s, custTbl), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Partition-pruned scan over a date-partitioned layout: events are
    * written hive-partitioned by day (one up-front pass), then a
    * 3-day-window aggregate reads ONLY those directories — the filter
    * resolves against partition metadata in the driver, so scan cost
    * tracks the queried window, not the table (`PlanSpec` asserts a
    * non-empty PartitionFilters). The oracle runs the same 3-day
    * aggregate over the raw table.
    */
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Layout
    // per-process, per-source path: concurrent processes (and different
    // fixture dirs) can never race on Overwrite-vs-read; within one
    // process the layout is written once and reused, so repeated calls
    // (bench warm-up + samples) time the pruned READ, not the write
    val path = pidScopedPrefix("partitioned") +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "/events"
    // gate reuse on the committer's _SUCCESS marker, not bare directory
    // existence: a crashed prior write leaves a partial layout that
    // would otherwise be silently read on every subsequent run
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      Layout.writeDatePartitioned(tbl(s, dir, "events"), path, "ts")
    val lo = tbl(s, dir, "events").agg(to_date(min(col("ts")))).first().getDate(0)
    Layout.read(s, path)
      .filter(col("p_date") >= lit(lo) && col("p_date") < date_add(lit(lo), 3))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** Z-order clustering demo over events (user_id × event_id): bucket
    * rows by the top bits of their Morton value and show per-cell
    * counts plus the bounding box of both dimensions — the point of
    * the layout: each z-cell covers a BOUNDED range in every
    * dimension, so a two-sided range predicate maps to a contiguous
    * set of cells. Top-20 cells by count, deterministic tiebreak.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Layout
    val x = pmod(col("user_id"), lit(65536L))
    val y = pmod(col("event_id"), lit(65536L))
    tbl(s, dir, "events")
      .withColumn("cell", shiftrightunsigned(Layout.zvalue(x, y, 16), 22))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_rows"),
        min(pmod(col("user_id"), lit(65536L))).as("min_x"),
        max(pmod(col("user_id"), lit(65536L))).as("max_x"),
        min(pmod(col("event_id"), lit(65536L))).as("min_y"),
        max(pmod(col("event_id"), lit(65536L))).as("max_y"))
      .orderBy(col("n_rows").desc, col("cell"))
      .limit(20)
  }

  /** Size-targeted training-shard layout: walk the corpus in doc_id
    * order, cut a new ~2000-token shard at every boundary — the same
    * distributed prefix sum as t14, reused for data layout.
    */
  def qShardLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Layout
    val d = tbl(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    Layout.shardLayout(d, Seq(col("doc_id")), "n_tokens", target = 2000L)
  }

  /** Window functions: per-customer order ranking. */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    tbl(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk").cast("long").as("rnk"))
  }

  /** Window-family breadth in one pass: per-customer order timeline
    * with `lag` (days since the previous order), `ntile` quartile of
    * the timeline, and `percent_rank` by price. Both window specs
    * share the SAME partitioning (o_custkey), so the plan is ONE
    * hash-partition Exchange feeding two in-partition sorts — adding
    * window functions costs sorts, never extra shuffles. All three are
    * deterministic: the timeline order is totalised by (date, key),
    * and percent_rank assigns tied prices identical values.
    */
  def qWindowStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
    tbl(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(seq))
          .cast("long").as("days_since_prev"),
        ntile(4).over(seq).cast("long").as("order_quartile"),
        percent_rank().over(byPrice).as("price_pct_rank"))
  }

  /** RANGE-frame windowing — the interval-bounded frame the ROWS frames
    * above don't exercise: per customer, trailing-7-day spend (orders
    * within 6 days before each order's day, inclusive). RANGE frames
    * are peer-inclusive — same-day orders all see the same total
    * regardless of intra-day order, so the result is deterministic
    * without a unique tiebreak. The frame key is integer epoch days and
    * money routes through DECIMAL, so both engines agree bit-exactly.
    * Plan shape: one hash-partition Exchange on the customer key, one
    * in-partition sort — identical cost to a ROWS frame.
    */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-6, Window.currentRow)
    tbl(s, dir, "orders")
      .withColumn("day",
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long"))
      .withColumn("trailing7_spend",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "day", "trailing7_spend")
  }

  /** Distributed global sort: `orderBy` plans a range-partitioning
    * Exchange (sampled boundaries), so each partition holds a disjoint
    * key range and is sorted locally — the scalable total order (no
    * single-node sort ever happens; plan-asserted). The query emits
    * the INVARIANT as a verdict row — per-partition (min,max) ranges
    * are pairwise disjoint and no row was lost — because partition
    * boundaries themselves are sampling-dependent, not oracle-stable.
    */
  def qGlobalSort(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val parts = tbl(s, dir, "lineitem")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .select(spark_partition_id().as("pid"), key.as("k"))
      .groupBy("pid")
      .agg(count(lit(1)).as("n"), min(col("k")).as("lo"), max(col("k")).as("hi"))
    // n_partitions rows — the single-partition window is metadata-scale
    val w = Window.orderBy(col("pid"))
    parts.withColumn("next_lo", lead(col("lo"), 1).over(w))
      .agg(sum(col("n")).as("total_rows"),
        coalesce(bool_and(col("next_lo").isNull || col("hi") <= col("next_lo")),
          lit(true)).as("ranges_disjoint"))
  }

  /** Full-outer join coverage: per market segment (null for order rows
    * with no matching customer), customers, customers without orders,
    * and order counts — the null-preserving join form the set above
    * doesn't exercise.
    */
  def qOuterJoin(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "full_outer")
      .groupBy(coalesce(col("c_mktsegment"), lit("<none>")).as("segment"))
      .agg(count(col("c_custkey")).as("n_cust_rows"),
        count(when(col("o_orderkey").isNull, lit(1))).as("n_cust_no_orders"),
        count(col("o_orderkey")).as("n_orders"))

  /** Bloom-filter semi-join reduction (`ops.BloomJoin`): revenue of
    * lineitems belonging to high-value orders. The build side (orders
    * over the price cut) is sketched into a Bloom filter with one
    * distributed pass; the probe side (lineitem, the big fact) is
    * pre-filtered by might-contain BEFORE its shuffle, so non-matching
    * rows never enter the join Exchange. The build side carries a
    * merge-join hint to model the 100 TB case this technique exists for
    * — a build side too big to broadcast — and the output is
    * row-identical to the plain join (no false negatives; the join
    * removes false positives), so the oracle is the plain join SQL.
    */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = tbl(s, dir, "orders")
      .filter(col("o_totalprice") > 450000.0)
      .select("o_orderkey", "o_orderpriority")
    val li = tbl(s, dir, "lineitem")
    BloomJoin.bloomFilteredJoin(li, bigOrders, "l_orderkey", "o_orderkey",
        joinHint = Some("merge"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
  }

  /** Running total per customer — the cumulative window-frame form
    * (ROWS UNBOUNDED PRECEDING), deterministic order by (date, key),
    * money through DECIMAL so the running sum is order-exact.
    */
  def qRunningTotal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "orders")
      .withColumn("running_spend",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "running_spend")
  }

  /** Sequence packing — fixed-length training-sequence construction:
    * docs are packed in doc_id order into 2048-token sequences within
    * hash shards (the global-order cumsum would serialise on one
    * partition; per-shard packing is what a distributed pipeline
    * actually does). A doc's sequence = floor(tokens-before-it / 2048).
    * Output per shard: sequences, docs, tokens.
    */
  def qSeqPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "documents")
      .select(col("doc_id"), pmod(col("doc_id"), lit(32L)).as("shard"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      .withColumn("cum", sum(col("ntok")).over(w))
      .withColumn("seq_id", floor((col("cum") - col("ntok")) / lit(2048.0)))
      .groupBy("shard")
      .agg(countDistinct(col("seq_id")).as("n_seqs"),
        count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
  }

  /** Semi join: customers having orders (EXISTS). */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")

  /** Anti join: customers with no orders (NOT EXISTS). */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")

  /** Distinct (shuffle dedup on composite key). */
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select("c_nationkey", "c_mktsegment").distinct()

  /** Set ops: INTERSECT. */
  def qIntersect(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").filter(col("c_acctbal") > 5000).select("c_custkey")
      .intersect(tbl(s, dir, "orders").select(col("o_custkey").as("c_custkey")))

  /** Set ops: EXCEPT. */
  def qExcept(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select("c_custkey")
      .except(tbl(s, dir, "orders").select(col("o_custkey").as("c_custkey")))

  /** Set ops: UNION ALL. */
  def qUnionAll(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "region").select(col("r_name").as("name"))
      .unionAll(tbl(s, dir, "nation").select(col("n_name").as("name")))

  /** ROLLUP grouping sets. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))

  /** Explicit GROUPING SETS — the general lattice rollup/cube are
    * shorthands for.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")),
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))

  /** PIVOT with explicit value list (keeps the plan a single aggregate —
    * no value-discovery pre-pass, the at-scale form).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity")))

  /** The SQL frontend the reference lacks entirely: spark.sql over
    * registered views, with a scalar subquery Catalyst decorrelates.
    * (max/2 as the threshold — exact in FP, unlike avg, so the oracle
    * comparison is bit-stable.)
    */
  def qSqlFrontend(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big
        |FROM orders_v
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders_v) / 2
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** SQL frontend, breadth form: CTE + EXISTS (decorrelated to a semi
    * join by Catalyst) + window ranking in one statement — the ANSI
    * surface the reference (no SQL frontend at all) can't offer. The
    * identical statement runs in DuckDB as its own oracle.
    */
  def qSqlCte(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "customer").createOrReplaceTempView("customer_v")
    tbl(s, dir, "orders").createOrReplaceTempView("orders_v2")
    s.sql(
      """WITH active AS (
        |  SELECT c_custkey, c_mktsegment FROM customer_v c
        |  WHERE EXISTS (SELECT 1 FROM orders_v2 o WHERE o.o_custkey = c.c_custkey)
        |),
        |ranked AS (
        |  SELECT a.c_mktsegment, o.o_orderkey,
        |         row_number() OVER (PARTITION BY a.c_mktsegment
        |                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
        |  FROM active a JOIN orders_v2 o ON o.o_custkey = a.c_custkey
        |)
        |SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, o_orderkey
        |FROM ranked WHERE rnk <= 5""".stripMargin)
  }

  /** Ordered funnel over the event stream: users whose first view is
    * followed (strictly later) by a click, then a purchase after that
    * click — the general N-stage operator ([[graft.ops.Funnel]]) applied
    * to the view→click→purchase sequence. ONE scan of events (the stage
    * filter pushes into the source) and ONE user-keyed shuffle, versus
    * the naive filter+join-per-stage form's three scans and three
    * shuffles (plan-asserted in PlanSpec).
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.stageCounts(tbl(s, dir, "events"),
      "user_id", "event_type", "ts",
      stages = Seq("view", "click", "purchase"),
      names = Seq("n_view", "n_click_after_view", "n_purchase_after_click"))

  /** Q_KS_TEST [EXT] — exact two-sample Kolmogorov–Smirnov
    * (`Experiment.ksTest`): do purchase and click event values come
    * from the same distribution? Integer ECDF-gap statistic over
    * cent-quantised values, α = 0.05 verdict via the squared decision
    * inequality in DECIMAL(38,0) — the q_ab_chisq posture applied to
    * a distributional test.
    */
  def qKsTest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.ksTest(tbl(s, dir, "events"),
      (col("value").cast("decimal(18,2)") * 100).cast("long"),
      col("event_type") === "purchase", col("event_type") === "click")

  /** Q_GINI [EXT] — EXACT Gini coefficient of per-customer lifetime
    * spend, the inequality/concentration statistic every corpus or
    * revenue mix gets audited with: with spend sorted ascending and
    * i the global rank (the t14 distributed prefix sum — never a
    * partitionless window), `G = (2·Σ i·x_i − (n+1)·Σ x_i) /
    * (n·Σ x_i)` — emitted as the exact rational plus its per-mille
    * floor. EVERY product (the per-row i·x as well as n·s1 and the
    * ·1000) forms in DECIMAL(38,0): at SF ≈ 10 the rank×cents rows
    * already sum past 2⁶³ and a LongType Σ i·x would silently wrap
    * under non-ANSI arithmetic while the DuckDB oracle auto-promotes
    * to HUGEINT. The output rational casts back to BIGINT — exact to
    * ~9×10¹⁸ (SF ≈ 100s), NULL (loud, never wrong) beyond.
    */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey").as("k"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("x"))
    graft.ops.Sampling.runningTotal(
        spend.withColumn("__one", lit(1L)), Seq(col("x"), col("k")), "__one")
      .withColumnRenamed("running_total", "i")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("i").cast("decimal(38,0)") * col("x")).as("s2"))
      .withColumn("num_d", col("s2") * 2 -
        (col("n") + 1).cast("decimal(38,0)") * col("s1"))
      .withColumn("den_d", col("n").cast("decimal(38,0)") * col("s1"))
      .select(col("n").as("n_customers"), col("s1").as("total_cents"),
        col("num_d").cast("long").as("gini_num"),
        col("den_d").cast("long").as("gini_den"),
        expr("CAST((num_d * 1000) DIV den_d AS BIGINT)").as("gini_pm"))
  }

  /** Q_LORENZ [EXT] — Lorenz curve deciles of per-customer spend,
    * the concentration profile behind q_gini's single number: rank by
    * the same distributed prefix sum, decile = `((i−1)·10) div n`,
    * then cumulative population / spend shares in integer per-mille.
    * The 10-row cumulative rides runningTotal again (metadata-scale,
    * but the machinery is already partition-shaped) — no
    * partitionless window anywhere.
    */
  def qLorenz(s: SparkSession, dir: String): DataFrame = {
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey").as("k"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("x"))
    val ranked = graft.ops.Sampling.runningTotal(
        spend.withColumn("__one", lit(1L)), Seq(col("x"), col("k")), "__one")
      .withColumnRenamed("running_total", "i")
    // deliberately NOT persisted: both uses re-derive the single row
    // from runningTotal's cached ranked relation, and the bare
    // no-grouping aggregate is what the plan gate recognises as a
    // scalar build
    val tot = broadcast(
      ranked.agg(count(lit(1)).as("n"), sum("x").as("total_cents")))
    val deciles = ranked.crossJoin(tot)
      .withColumn("decile", expr("((i - 1) * 10) DIV n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("x").as("bucket_cents"))
    val cumC = graft.ops.Sampling.runningTotal(
        deciles, Seq(col("decile")), "bucket_cents")
      .withColumnRenamed("running_total", "cum_cents")
    graft.ops.Sampling.runningTotal(cumC, Seq(col("decile")), "n_customers")
      .withColumnRenamed("running_total", "cum_customers")
      .crossJoin(tot)
      .select(col("decile"), col("n_customers"), col("bucket_cents"),
        expr("(cum_customers * 1000) DIV n").as("cum_pop_pm"),
        expr("""CASE WHEN total_cents > 0
               |  THEN (cum_cents * 1000) DIV total_cents END"""
          .stripMargin).as("cum_share_pm"))
  }

  /** Q_SPEARMAN [EXT] — exact Spearman rank correlation between
    * per-customer spend and order count (`Experiment.spearman`):
    * doubled midranks through ties, the n-cancelled rational
    * `A/√(Bx·By)` emitted exactly plus ρ²·10⁶ and the |ρ| > 0.2
    * verdict as a DECIMAL(38,0) inequality.
    */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    val per = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("spend"),
        count(lit(1)).as("n_orders"))
    graft.ops.Experiment.spearman(per, col("spend"), col("n_orders"))
  }

  /** Q_BENFORD [EXT] — Benford first-digit audit of line-item
    * extended prices (`Profiler.benford`): observed leading-digit
    * per-milles vs the nine Benford literals, 15‰ deviation flags —
    * the fraud / synthetic-data screen, one 9-group mergeable
    * aggregate over the scan.
    */
  def qBenford(s: SparkSession, dir: String): DataFrame =
    graft.analyse.Profiler.benford(tbl(s, dir, "lineitem"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))

  /** Q_LAG_FEATURES [EXT] — per-entity LAG/ROLLING feature
    * engineering, the supervised-training-set prep staple: for each
    * event of a deterministic 5% user slice, cent-exact value, the
    * two previous values, the 3-row rolling sum, and the whole-second
    * gap since the user's previous event. All windows partition by
    * `user_id` and total-order by `(ts, event_id)`; the slice filter
    * is on the PARTITION KEY, so Catalyst pushes it below the one
    * user-keyed Exchange and the window state never exceeds a single
    * user's history.
    */
  def qLagFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    tbl(s, dir, "events")
      .filter(pmod(col("user_id"), lit(20)) === 0)
      .withColumn("value_cents",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("lag1_cents", lag("value_cents", 1).over(w))
      .withColumn("lag2_cents", lag("value_cents", 2).over(w))
      .withColumn("roll3_cents",
        sum("value_cents").over(w.rowsBetween(-2, 0)))
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__prev_us", lag("__us", 1).over(w))
      .withColumn("gap_s", expr("(__us - __prev_us) DIV 1000000"))
      .select("user_id", "event_id", "value_cents", "lag1_cents",
        "lag2_cents", "roll3_cents", "gap_s")
  }

  /** Q_ATTRIBUTION [EXT] — LAST-TOUCH attribution: each purchase is
    * credited to the user's most recent preceding view/click (the
    * marketing-analytics staple), then purchases and cent-exact value
    * roll up per credited touch type ('none' when nothing precedes).
    * One user-keyed shuffle; the credited touch is a running
    * `last(..., ignoreNulls)` over the (ts, event_id)-total-ordered
    * per-user frame — an incrementally-evaluated growing frame, never
    * a per-row rescan, and partitioned by user so no single task sees
    * more than one user's history.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tbl(s, dir, "events")
      .withColumn("last_touch",
        last(when(col("event_type").isin("view", "click"),
          col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("last_touch"), lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("value_cents"))
  }

  /** JSON extraction from the events props column. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n_events"))

  /** Tumbling-window aggregation (batch form of the streaming op). */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Gap-based sessionisation via window functions (micros-exact gap). */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    EventsStream.sessionizeBatch(tbl(s, dir, "events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))

  /** As-of join (operator Spark lacks natively): for each order, the
    * customer's most recent other order strictly before it — probe time
    * is the order date minus one day, matched with `>=` against the
    * per-(customer, date) aggregated order table.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val probes = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderdate") - expr("INTERVAL 1 DAY")).as("probe_ts"))
    val refs = tbl(s, dir, "orders")
      .groupBy(col("o_custkey").as("r_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("prev_orderkey"))
    AsOfJoin.asOf(probes, refs,
        leftKey = "o_custkey", rightKey = "r_custkey",
        leftTime = "probe_ts", rightTime = "o_orderdate",
        payload = Seq("prev_orderkey"))
      .select("o_orderkey", "prev_orderkey")
  }

  /** Range join (no equi key): per order, lineitems shipped within 7
    * days of the order date — bucketed into an equi join instead of a
    * nested-loop plan.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame =
    RangeJoin.countInRange(
      tbl(s, dir, "orders").select("o_orderkey", "o_orderdate"),
      tbl(s, dir, "lineitem").select("l_shipdate"),
      leftTime = "o_orderdate", rightTime = "l_shipdate",
      windowSec = 7L * 24 * 3600)
      .select("o_orderkey", "n_in_range")

  /** Skew-safe salted aggregation — two-phase, result identical to the
    * direct groupBy (which is the oracle).
    */
  def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(
      tbl(s, dir, "events")
        .withColumn("v", col("value").cast("decimal(18,2)")),
      keyCols = Seq("event_type"),
      sums = Seq(Skew.SumSpec("v", "sum_value")))
      .select(col("event_type"), col("n_rows"),
        col("sum_value").cast("double").as("sum_value"))

  /** CUBE grouping sets. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))

  /** Exact interpolated percentiles. */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        min(col("o_totalprice")).as("pmin"),
        max(col("o_totalprice")).as("pmax"))

  /** HLL sketch with a soundness bound: the approximate distinct count
    * must land within 5% of the exact count, which IS the oracle-checked
    * output (plus the exact count itself).
    */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .agg(
        countDistinct(col("l_orderkey")).as("exact_distinct"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      .select(
        col("exact_distinct"),
        (abs(col("approx") - col("exact_distinct")).cast("double") /
          col("exact_distinct") <= 0.05).as("within_5pct"))

  /** O13: rule validation — unknown faker functions warn, known pass. */
  def o13ValidateRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cfg = GraftConfig(
      Connection("sqlite", file = "fixture"),
      Map(
        "customer" -> TableConfig(columns = Map(
          "c_name" -> FakerRule("name"), "c_mktsegment" -> FakerRule("notAFunction"))),
        "supplier" -> TableConfig(columns = Map("s_name" -> FakerRule("bogusFn")))),
      Seq("customer", "supplier"))
    Anonymiser.validateRules(cfg).toDF("warning")
  }

  /** O18: identifier quoting per dialect, incl. embedded-quote doubling. */
  def o18QuoteIdentifiers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val samples = Seq("users", "weird`name", "weird\"name", "CamelCase")
    (for {
      d <- graft.dialect.Dialect.all
      id <- samples
    } yield (d.name, id, d.quoteIdentifier(id)))
      .toDF("dialect", "identifier", "quoted")
  }

  /** O22: config load — YAML text through the parser to a compiled plan
    * summary (truncate flag, retain mode, rule kinds).
    */
  def o22ConfigLoad(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yaml =
      """connection:
        |  type: sqlite
        |  file: /tmp/db.sqlite
        |configuration:
        |  events:
        |    truncate: true
        |  orders:
        |    retain:
        |      column_name: o_orderdate
        |      after_date: "1998-01-01"
        |  lineitem:
        |    retain: 5000
        |  customer:
        |    columns:
        |      c_name: "{{faker.name}}"
        |      c_mktsegment: REDACTED
        |      c_acctbal: null
        |""".stripMargin
    val cfg = GraftConfig.parse(yaml)
    cfg.tableOrder.map { t =>
      val tc = cfg.configuration(t)
      val retain = tc.retain match {
        case RetainAll         => "all"
        case RetainCount(n)    => s"count:$n"
        case RetainAfter(c, d) => s"after:$c:${d.toString.stripSuffix("Z")}"
      }
      val rules = tc.columns.toSeq.sortBy(_._1).map {
        case (c, NullRule)      => s"$c=null"
        case (c, FakerRule(f))  => s"$c=faker.$f"
        case (c, StaticRule(_)) => s"$c=static"
      }.mkString(",")
      (t, tc.truncate, retain, rules)
    }.toDF("table_name", "is_truncate", "retain", "rules")
  }

  // ------------------------------------------------------- dedup / text

  /** Exact dedup by normalised content digest. */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")

  /** D15 [EXT] — keep-rows exact dedup: the corpus with ONE surviving
    * row (the min doc_id) per normalised-content fingerprint — d1's
    * terminal form, and exactly the stage the composed pipelines run.
    * One mergeable `groupBy(fp).agg(min(struct(...)))` aggregate
    * (`Dedup.exactCanonicalRows`), never a fingerprint-partitioned
    * window: a viral duplicate collapses map-side instead of
    * funnelling through one task.
    */
  def d15ExactKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.exactCanonicalRows(
      tbl(s, dir, "documents").select("doc_id", "lang", "source", "n_chars", "text"),
      "doc_id", TextAnalysis.fingerprint(col("text")))
      .select("doc_id", "lang", "source", "n_chars")

  /** MinHash + LSH banding + exact verify (≡ exact threshold join). */
  def d2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.8)

  /** SimHash + pigeonhole blocking, verified at J=1.0 (identical shingle
    * sets ⇒ Hamming 0 ⇒ exact blocking recall).
    */
  def d3Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(tbl(s, dir, "documents"), "doc_id", "text",
      maxHamming = 3, threshold = 1.0)

  /** Exact n-gram Jaccard threshold join via the cost-based chooser:
    * count-based intersection when the exactly-computed candidate
    * volume Σ df(s)·(df(s)−1)/2 is affordable (this templated fixture:
    * mean df ≈ 10, count-based measured 3× faster), PPJoin prefix
    * filtering once a frequent-shingle head would make the self-join
    * explode — the plan that survives a 100× scale-up of a real web
    * corpus. Both plans are output-identical (spec-asserted in
    * `OpsSpec`).
    */
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsAuto(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.5)

  /** D4's FORCED-PREFIX branch as its own gated key: the chooser picks
    * the count join at both fixture SFs (the corpus is templated), so
    * without this the PPJoin plan would only ever be spec-tested —
    * here it runs against the SAME exact oracle at every gated SF.
    */
  def d4JaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.5)

  /** D4's OUTPUT-BUDGET contract (`Dedup.capPairsPerDoc`): every doc
    * keeps its single best match (budget 1 — BINDING at both gated
    * SFs: max pair degree is 2 at sf0.01, 3 at sf0.1, so pairs are
    * genuinely dropped and the tie-break path runs). This is the
    * shipped answer to true-output quadratic growth on a hot template
    * corpus — output ≤ k·n rows by contract; the oracle replays the
    * two-sided top-k exactly.
    */
  def d4JaccardCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsAuto(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.5, maxPairsPerDoc = Some(1))

  /** Incremental dedup: near-dup pairs touching the "new batch"
    * (doc_id ≡ 0 mod 5 as the batch marker) — banding buckets anchored
    * on new members, never corpus×corpus.
    */
  def d6IncrementalDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupsIncremental(tbl(s, dir, "documents"), "doc_id", "text",
      isNew = id => pmod(id, lit(5)) === 0, threshold = 0.8)
      .select("id_a", "id_b", "jaccard")

  /** Duplicate clusters: connected components over the verified minhash
    * near-dup pairs — (doc_id, cluster_id = component min).
    */
  def d7DupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusters(
      Dedup.minhashNearDups(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.8))

  /** Benchmark-contamination summary: eval set = the `test` split of
    * `q_train_split`'s md5-bucket assignment (bucket ≥ 95 — the same
    * portable hash, so the decontamination pass checks exactly the docs
    * the split holds out) against the TRAIN split only (bucket < 90 —
    * val docs are neither side; counting them as train would misreport
    * train contamination). Per eval doc: how many train docs share
    * ≥ 5 word 3-grams with it, the largest overlap, and the total.
    */
  def d8Contamination(s: SparkSession, dir: String): DataFrame = {
    val bucket = (id: Column) => Sampling.bucket(id, 100)
    Dedup.contamination(
        tbl(s, dir, "documents")
          .filter(bucket(col("doc_id")) < 90 || bucket(col("doc_id")) >= 95),
        "doc_id", "text", isEval = id => bucket(id) >= 95, minShared = 5)
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_train_matches"),
        max(col("shared")).as("max_shared"),
        sum(col("shared")).as("total_shared"))
  }

  /** Winnowing (MOSS) near-dup pairs: fingerprint-set Jaccard ≥ 0.5
    * over the portable-hash winnowing fingerprints (t5's fingerprint
    * pass promoted to a dedup JOIN) — candidates from shared
    * fingerprints, scored on exact fingerprint overlap.
    */
  def d9WinnowingDups(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingNearDups(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.5, portableHash = true)

  /** Cluster-collapse dedup — the terminal op the whole near-dup
    * pipeline exists for: one canonical doc (the cluster-min id)
    * survives per duplicate cluster, unclustered docs pass through.
    * Composes d2's verified near-dup pairs and d7's connected
    * components; the dropped-id set is small relative to the corpus
    * (it IS the duplicate mass), so the anti join broadcasts under AQE
    * and the corpus never shuffles.
    */
  def d10DedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val clusters = Dedup.clusters(
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8))
    val dropped = clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Bloom-prefiltered incremental exact screen: docs of the new batch
    * (doc_id ≡ 0 mod 5, d6's marker) genuinely new against the
    * historical corpus by normalized-text fingerprint, one canonical
    * per batch fingerprint. The fixture plants no exact dups, so the
    * correct answer here is "every batch doc survives" — the value
    * verified is the full bloom → broadcast-semi → anti route ending in
    * exactly the SQL answer; the dropping behavior (planted dups, bloom
    * vs fallback route equality, adversarial fpp) is spec-asserted in
    * `OpsSpec`.
    */
  def d11BloomScreen(s: SparkSession, dir: String): DataFrame =
    Dedup.bloomScreenNew(tbl(s, dir, "documents"), "doc_id", "text",
      isNew = id => pmod(id, lit(5)) === 0)
      .select(col("doc_id"), col("lang"), col("source"))

  /** SemDeDup-style embedding-space dedup (Abbas et al. 2023's
    * semantic-dedup recipe, computed EXACTLY): connected components of
    * the cosine≥τ graph over embeddings, keep the min-id vector per
    * component, pass unclustered vectors through. Composition of the
    * d5 pair chooser (broadcast kernel small / blocked-IVF cell join
    * large — never all-pairs at scale) and the d7 component machinery
    * (driver union-find under the edge budget, O(log d)-round label
    * propagation above it); the corpus itself never shuffles — dropped
    * ids come back as a broadcast anti join, the d10 shape.
    */
  def d12SemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val clusters = Dedup.clusters(
      Similarity.cosineNearDupPairsAuto(emb, threshold = 0.45))
    val dropped = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("vec_id"))
    emb.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Exact duplicated-span detection (Lee et al. ExactSubstr, shingle-
    * join formulation): maximal merged spans of 5-token grams occurring
    * ≥ 2 times anywhere in the corpus. Token indices 0-based inclusive.
    */
  def d13DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(tbl(s, dir, "documents"), "doc_id", "text", k = 5)
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))

  /** Keep-first exact-substring strip: repeat occurrences of duplicated
    * 5-token grams are removed from the text, the globally-first
    * occurrence of each gram survives. One output row per input doc.
    */
  def d14SpanStrip(s: SparkSession, dir: String): DataFrame =
    Dedup.stripDupSpans(tbl(s, dir, "documents"), "doc_id", "text", k = 5)
      .select(col("id").as("doc_id"), col("clean_text"),
        col("n_tokens_kept"), col("n_tokens_dropped"))

  /** Embedding cosine near-dup pairs (exact threshold join), via the
    * cost-based chooser: broadcast kernel under the row budget, blocked
    * IVF-cell pair join (no driver materialisation, no cartesian) above
    * it — the plan shapes are asserted separately in `PlanSpec`.
    */
  def d5EmbeddingDups(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsAuto(tbl(s, dir, "embeddings"), threshold = 0.45)
      .select("id_a", "id_b")

  /** D5's FORCED-BLOCKED branch (broadcast budget 0): the IVF-cell
    * block-pair join — the 100 TB path the chooser only takes past the
    * broadcast budget — hash-gated against the same exact oracle at
    * every fixture SF instead of only when the corpus outgrows the
    * broadcast plan.
    */
  def d5EmbeddingBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsAuto(tbl(s, dir, "embeddings"), threshold = 0.45,
        broadcastMaxRows = 0)
      .select("id_a", "id_b")

  /** D5's OUTPUT-BUDGET contract: `Dedup.capPairsPerDoc` over the exact
    * cosine pair relation — the d4/d18 cap proven to compose across
    * pair FAMILIES (embedding pairs, not shingle pairs). τ = 0.35 so
    * budget 1 is BINDING at both gated SFs (max pair degree 6 at
    * sf0.01, 11 at sf0.1 — pairs are genuinely dropped and the
    * tie-break path runs); ranking by the kernel's cosine is
    * cross-engine exact (same left-to-right double fold as DuckDB's
    * `list_cosine_similarity` — the s1/s16 precedent). This is the
    * shipped answer to d5's probed ~n² true-pair growth at the sf10
    * decade (103× pairs for 10× data, SCALING.md round 11):
    * output ≤ k·n rows by contract however dense the cosine graph.
    */
  def d5EmbeddingCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.capPairsPerDoc(
        Similarity.cosineNearDupPairsAuto(tbl(s, dir, "embeddings"), threshold = 0.35),
        col("sim"), k = 1)
      .select("id_a", "id_b")

  /** D5's FORCED-BLOCKED + CAPPED composition (broadcast budget 0):
    * the IVF-cell block-pair join feeding `capPairsPerDoc` — at the
    * fixture SFs the chooser always takes the broadcast branch, so
    * without this key the blocked half of the capped query would never
    * be hash-gated (the `d5_embedding_blocked` pattern applied to the
    * cap). Shares `d5_embedding_capped`'s oracle verbatim — the
    * blocked join is exact, so both branches must match it.
    */
  def d5EmbeddingCappedBlocked(s: SparkSession, dir: String): DataFrame =
    Dedup.capPairsPerDoc(
        Similarity.cosineNearDupPairsAuto(tbl(s, dir, "embeddings"), threshold = 0.35,
          broadcastMaxRows = 0),
        col("sim"), k = 1)
      .select("id_a", "id_b")

  /** D5's SUB-QUADRATIC scale path — LSH-candidate + exact-verify
    * embedding pairs (`Similarity.cosineNearDupPairsAnn`: size-derived
    * bits hold bucket load ~constant, so candidate volume is ~n·L·T
    * where the exact family's true-pair volume is probed ~n²), composed
    * with the d4/d18/d5 output cap, and gated by the s2/s17-style
    * recall contract: exact pairs touching the 50 probe docs come from
    * a broadcast range search (O(probes·n) — linear, never the n² pair
    * relation), and the POOLED recall of the ANN relation over them
    * must clear 0.70 (measured 1.000 at BOTH oracle SFs under the
    * bits-derived multi-probe default — 0.911/0.877 in the pure-base
    * form; the fixture's τ = 0.35 regime is sign-LSH-adversarial, see
    * the operator's Scaladoc).
    * Everything is deterministic (splitmix64 hyperplanes, exact
    * verify), so the verdict row is stable and DuckDB re-derives
    * n_exact; `cap_ok` asserts the cap's output contract held
    * end-to-end on the ANN relation (≤ k·n rows after
    * `capPairsPerDoc` — a kept pair is charged to at least one
    * endpoint's top-k, so per-doc degree may exceed k but the total
    * cannot exceed k·n).
    */
  def d5EmbeddingAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val ann = graft.ops.OpCaches.persist(
      Similarity.cosineNearDupPairsAnn(emb, threshold = 0.35))
    val capped = Dedup.capPairsPerDoc(ann, col("sim"), k = 1)
    val probes = emb.filter(col("vec_id") < 50)
    val exact = Similarity.rangeSearch(emb, probes, threshold = 0.35)
      .select(least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"))
      .distinct()
    val found = exact.join(ann.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_capped"))))
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_docs"))))
      .select(col("n_exact"),
        (col("n_found") * 1000 >= col("n_exact") * 700).as("recall_ok"),
        (col("n_capped") <= col("n_docs")).as("cap_ok"))
  }

  /** Brute-force exact cosine top-k for a broadcast query set. */
  def s1KnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 10)
  }

  /** Threshold range search (cosine ≥ 0.3) for the first 10 vectors —
    * shuffle-free: queries broadcast, one narrow corpus scan, no window.
    */
  def s5RangeSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 10), threshold = 0.3)
  }

  /** JL sparse-sign projection 64 → 16 dims, portable md5 sign matrix;
    * long-format output so each component is independently oracle-
    * checked (the DuckDB twin re-derives the signs from md5 itself).
    */
  def s6RandomProjection(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(tbl(s, dir, "embeddings"), dOut = 16)
      .select(col("id").as("vec_id"), col("dim"), col("value"))

  /** The ANN keys' recall verdict: one row per query in `q` (its
    * `vec_id`s), `recall_ok` = the share of its exact brute-force top-10
    * over `emb` that `ann` (query_id, neighbor_id) found is ≥ `floor`.
    * A deterministic row, so DuckDB checks it like any other.
    */
  private def recallVerdict(emb: DataFrame, q: DataFrame, ann: DataFrame,
                            floor: Double): DataFrame = {
    val exact = Similarity.bruteForceTopK(emb, q, k = 10)
    val hits = ann.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    q.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 10.0 >= floor).as("recall_ok"))
  }

  /** LSH-bucketed ANN top-k with an oracle-checkable contract: the ANN
    * result is joined against the exact brute-force top-10 INSIDE the
    * query, and each query row emits whether recall@10 clears the 0.35
    * floor (≥ 4 true neighbours found while probing 9 of 16 buckets
    * with the query-adaptive multi-probe sequence; measured min recall
    * 0.4 at sf0.001, sf0.01 and sf0.1, MEASUREMENTS.md round 9).
    * Everything is deterministic (fixed hyperplanes, tie-broken
    * windows), so the verdict row is stable and DuckDB-checkable — the
    * same soundness-bound trick as `q_approx_distinct`. The fixture
    * vectors are near-orthogonal (top-10 cos ≈ 0.4), the adversarial
    * regime for sign-LSH, hence the wide buckets (bits = 4) and the
    * floor rather than a high-recall bound; recall on the high-cosine
    * workload LSH targets is asserted in `OpsSpec` with planted dups.
    */
  def s2KnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val ann = Similarity.lshTopK(emb, q, k = 10, bits = 4, probes = 8)
    recallVerdict(emb, q, ann, 0.35)
  }

  /** IVF ANN run at nprobe = nlist: exhaustive probing makes it exact
    * (so it shares s1's SQL oracle); the nprobe < nlist approximate
    * scale path is asserted by recall in the test suite.
    */
  def s3KnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 10, nlist = 8, nprobe = 8)
  }

  /** S8 [EXT] — PERSISTED IVF index: built once on disk
    * (cell-partitioned parquet = the inverted file, `ops.VectorIndex`),
    * then queried with partition pruning — only probed cell
    * directories are scanned (plan-asserted). nprobe=8 of nlist=64:
    * the probed cells are ⅛ of the partitions (spec-asserted via the
    * scan's numFiles metric — the pruning ratio is REAL, not just a
    * filter in the plan), and the recall verdict clears the 0.25
    * floor at all fixture SFs (measured min 0.30, MEASUREMENTS.md
    * round 9).
    */
  def s8KnnPersisted(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val out = cachedBuild(s, "vindex", dir)(
      graft.ops.VectorIndex.buildIvf(emb, _, nlist = 64))
    val q = emb.filter(col("vec_id") < 10)
    val ann = graft.ops.VectorIndex.queryIvf(s, out, q, k = 10, nprobe = 8)
    recallVerdict(emb, q, ann, 0.25)
  }

  /** Product-quantization ANN with the s2-style oracle contract: PQ
    * codes (16 B/vector, 16× compression) + asymmetric-distance top-k,
    * verdict row = recall@10 vs the exact in-query brute force clears
    * the 0.25 floor (measured min 0.30 across sf0.001/0.01/0.1,
    * MEASUREMENTS.md round 9; deterministic codebooks →
    * stable verdict).
    */
  def s4KnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val ann = Similarity.pqTopK(emb, q, k = 10, m = 16, codebookBits = 6)
    recallVerdict(emb, q, ann, 0.25)
  }

  /** S9 [EXT] — two-stage ANN: s4's PQ ADC stage nominates a 50-deep
    * shortlist, the shortlist's raw vectors are re-scored with exact
    * cosine, final top-10 is the exact order (the production "refine"
    * pass). Verdict contract like s4, but the floor is HIGHER (0.65 vs
    * s4's 0.25; measured min 0.70) — re-ranking must demonstrably buy
    * recall, not just run.
    */
  def s9KnnRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val ann = Similarity.pqRerankTopK(emb, q, k = 10, shortlist = 50,
      m = 16, codebookBits = 6)
    recallVerdict(emb, q, ann, 0.65)
  }

  /** S10 [EXT] — diversity sampling: cluster-balanced subset via
    * md5-sign LSH cells (16 cells, ≤ 8 vectors each, deterministic md5
    * draw). The md5 hyperplane family keeps even this approximate
    * space partition hash-exact against the DuckDB twin.
    */
  def s10DiverseSample(s: SparkSession, dir: String): DataFrame =
    Similarity.diverseSample(tbl(s, dir, "embeddings"), bits = 4, perBucket = 8)

  /** S11 [EXT] — incremental IVF maintenance: the index builds on 80%
    * of the corpus, the remaining 20% APPENDS without retraining
    * (`VectorIndex.appendIvf` — assignment against the frozen on-disk
    * centroids, dynamic-partition append into the existing cell
    * directories). Queries then run against the maintained index with
    * the s8 recall-verdict contract over the FULL corpus — appended
    * vectors must be findable.
    */
  def s11IvfAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val out = cachedBuild(s, "vindex_inc", dir) { o =>
      graft.ops.VectorIndex.buildIvf(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), o, nlist = 64)
      graft.ops.VectorIndex.appendIvf(
        s, o, emb.filter(pmod(col("vec_id"), lit(5)) === 0))
    }
    val q = emb.filter(col("vec_id") < 10)
    // nprobe 16 of 64 (round-10 retune from 8, MEASUREMENTS.md round 10:
    // min recall 0.60/0.50/0.40 across SFs vs 0.30/0.30/0.20 — the floor rises to
    // 0.35 for double the probed cells, still 1/4 of the inverted file)
    val ann = graft.ops.VectorIndex.queryIvf(s, out, q, k = 10, nprobe = 16)
    recallVerdict(emb, q, ann, 0.35)
  }

  /** S12 [EXT] — scalar-quantised (int8) ANN: per-dimension byte
    * quantisation from one mergeable min/max aggregate, asymmetric
    * scoring over the 4×-smaller encoded scan; recall verdict floor
    * 0.85 (measured min 0.90) — SQ8 must demonstrably out-recall the
    * 8-byte PQ codes (s4's floor is 0.25).
    */
  def s12KnnSq8(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val ann = Similarity.sq8TopK(emb, q, k = 10)
    recallVerdict(emb, q, ann, 0.85)
  }

  /** S13 [EXT] — filtered vector search: exact top-k among label-0
    * vectors only (`Similarity.filteredTopK`) — the PRE-filter form,
    * recall 1 by construction (post-filtering an ANN shortlist starves
    * recall under selective predicates); the label predicate reaches
    * the parquet scan as a pushed filter.
    */
  def s13FilteredKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 10), k = 10,
      corpusFilter = col("label") === 0)
  }

  /** G1 [EXT] — supplier influence rank: PageRank over the symmetrised
    * customer–supplier co-purchase graph (edge weight = lineitem
    * count), 3 supersteps, top-10 suppliers. Integer micro-rank
    * arithmetic makes the iterative computation hash-exact across
    * engines ([[graft.ops.Graph.pageRank]]); the edge relation
    * shuffles once and every superstep reuses its cached layout.
    */
  def g1SupplierRank(s: SparkSession, dir: String): DataFrame =
    // 2^21-edge walk cap (vs the 2^17 default): g1's co-purchase
    // graph is 97k edges at sf0.01 but 1.17M at sf0.1, and the
    // distributed superstep loop pays ~6s of per-stage scheduling at
    // fixture scale. The real driver cost of a 2M-edge walk is the
    // BOXED form — ~2M GenericRows plus the walk's per-iteration
    // HashMaps, several hundred MB of transient heap, not the ~60MB
    // serialized transfer — so the cap is heap-derived downward on
    // small drivers (DriverBudget: needs ≥ 2^21·288B·16 ≈ 9.7GB of
    // driver heap for the full cap) and declines past it either way
    g1SupplierRankImpl(s, dir,
      driverWalkMaxEdges = DriverBudget.graphWalkEdges(1L << 21))

  /** Package-private so `PlanSpec` can assert the DISTRIBUTED superstep
    * plan's cache-reuse property with the fixture-scale driver walk
    * disabled (the catalog default takes the walk at this size).
    */
  private[graft] def g1SupplierRankImpl(s: SparkSession, dir: String,
                                        driverWalkMaxEdges: Long): DataFrame = {
    val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ords = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // integer node ids (customer 2k, supplier 2k+1) keep every shuffle,
    // sort and aggregate in the rank loop off strings; the readable
    // label comes back in the final 10-row projection.
    val kv = li.join(ords, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
    // Driver-FIRST shortcut (round 12): when the heap budget admits the
    // walk anyway, hand it the RAW fact rows — one bounded executeTake
    // instead of [pair-aggregate shuffle + probe aggregate + collect of
    // the symmetrised, 2x-bigger edge relation]. The (a,b) → count
    // aggregation is a driver hash map producing exactly the multiset
    // `groupBy(a,b).count()` would (integer counts — no order
    // sensitivity), both directions then feed the SAME indexed
    // recursion (`Graph.walkLongEdges`). Decline — budget exceeded,
    // null endpoint, overflow inside the walk — falls through to the
    // unchanged distributed construction, which pageRank's own
    // (generic) walk chooser still fronts. Measured at sf0.1: the
    // front end drops from ~1.1s (agg 0.7 + probe 0.15 + collect 0.26)
    // to the 0.25s raw collect + ~0.1s driver fold.
    val maxRaw = driverWalkMaxEdges / 2 // each raw row yields 2 walk edges
    // o_orderkey is unique, so the inner join emits at most one row
    // per lineitem row — lineitem's metadata-only parquet count is an
    // EXACT upper bound on the raw relation, making the over-budget
    // decline free instead of paying a wasted 1M-row executeTake
    // (measured 10.9s at sf1, where the walk always declines)
    val probe = if (maxRaw <= 0 || li.count() > maxRaw) None else DriverBudget.probe(kv, maxRaw)
    val walked: Option[DataFrame] = probe.flatMap { rows =>
      if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else {
        val agg = new scala.collection.mutable.HashMap[(Long, Long), Long]
        rows.foreach { r =>
          val k = (r.getLong(0), r.getLong(1))
          agg.update(k, agg.getOrElse(k, 0L) + 1L)
        }
        val tup = new Array[(Long, Long, Long)](agg.size * 2)
        var i = 0
        agg.foreach { case ((a, b), w) =>
          tup(i) = (a, b, w); tup(i + 1) = (b, a, w); i += 2
        }
        graft.ops.Graph.walkLongEdges(s, tup, iters = 3)
      }
    }
    DriverBudget.recordWalk("g1SupplierRank", probe.map(_.length.toLong), maxRaw,
      walked.isDefined)
    // distributed construction: the pair aggregate persists so the
    // symmetrising union reads it once instead of re-running the fact
    // join per branch. (An explode-before-one-aggregate symmetrisation
    // was measured SLOWER — 3.2s vs 1.6s cold — the doubled aggregate
    // input costs more than the second cache read saves.)
    walked.getOrElse {
      val e0 = graft.ops.OpCaches.persist(
        kv.groupBy("a", "b").agg(count(lit(1)).as("w")))
      val edges = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst"), col("w")))
      graft.ops.Graph.pageRank(edges, iters = 3,
        driverWalkMaxEdges = driverWalkMaxEdges)
    }
      .filter(pmod(col("node"), lit(2)) === 1)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(10)
      .select(concat(lit("s:"), expr("(node - 1) DIV 2").cast("string")).as("node"),
        col("rank_micro"))
  }

  /** IVF-PQ ANN (IVFADC): s3's coarse-cell routing composed with s4's
    * residual PQ compression + asymmetric-distance scoring — the
    * billion-vector configuration. Probes 6 of 8 cells with 8x256
    * codebooks (round-10 retune: the old 4-probe/16x64 point sat at a
    * measured-tight 0.2 min recall; MEASUREMENTS.md round 10: +2 probes and
    * coarser-but-deeper codebooks buy min 0.50/0.40/0.30 across the
    * three SFs for ~no extra candidate volume), so unlike s3 this is
    * genuinely approximate on BOTH axes (routing and codes); verdict
    * contract like s2/s4: recall@10 vs the exact in-query brute force
    * clears the 0.25 floor (measured-min 0.30 minus margin).
    */
  def s7KnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val ann = Similarity.ivfPqTopK(emb, q, k = 10, nlist = 8, nprobe = 6,
      m = 8, codebookBits = 8)
    recallVerdict(emb, q, ann, 0.25)
  }

  /** The media → features → ANN composition a training-data pipeline
    * runs end-to-end, over REAL pixels: genuine PNG payloads, ImageIO
    * decode, 16-bin grayscale histogram features (L2-normalised at
    * float precision — DuckDB re-derives the identical vectors from
    * the formula pixels) feeding IVF top-k run exact (nprobe = nlist).
    */
  def mm4FeatureKnn(s: SparkSession, dir: String): DataFrame = {
    // persist: the feature relation feeds the IVF corpus AND the query
    // side — without it every consumer re-runs the PNG decode kernel
    // over the whole asset table
    val feats = graft.ops.OpCaches.persist(Multimodal.imageFeatures(
      Multimodal.imageAssetsFromDocuments(tbl(s, dir, "documents"))))
    Similarity.ivfTopK(feats, feats.filter(col("vec_id") < 10), k = 10, nlist = 8, nprobe = 8)
  }

  /** First-seen dedup per (user_id, event_type) — batch form; the
    * flatMapGroupsWithState streaming form is asserted equal in
    * StreamingSpec.
    */
  def st1FirstSeen(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.firstSeenDedupBatch(tbl(s, dir, "events"))

  /** Stream-stream interval join (`EventsStream.clickToPurchase`, one
    * definition for both modes; the streaming run is asserted equal in
    * StreamingSpec): purchases within 30 min of a same-user click.
    */
  def st2IntervalJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.clickToPurchase(tbl(s, dir, "events"), "inner")

  /** Latest-per-key materialised view, batch form (streaming
    * `mapGroupsWithState` form asserted equal in StreamingSpec) — the
    * streaming twin of q_cdc_apply's latest-wins step.
    */
  def st3LatestState(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.latestPerUserBatch(tbl(s, dir, "events"))

  /** Watermark-bounded streaming dedup, batch form (the streaming
    * `dropDuplicatesWithinWatermark` form asserted equal in
    * StreamingSpec): the distinct (user, event_type) key set.
    */
  def st4DedupKeys(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.dedupKeysBatch(tbl(s, dir, "events"))

  /** Streaming SCD2 history, batch form (the `flatMapGroupsWithState`
    * interval-emission form asserted equal in StreamingSpec): each
    * user's run-length-compressed event_type sequence as closed
    * validity intervals.
    */
  def st5Scd2(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.scd2Batch(tbl(s, dir, "events"))

  /** Stream-static ingest screen (`DocsStream.screenNew`, one
    * definition for both modes; the streaming run is asserted equal in
    * StreamingSpec): arriving docs (doc_id ≡ 0 mod 5, the d6/
    * d11 batch marker) whose fingerprint has no match in the static
    * history fingerprint table. Stateless in streaming — no watermark,
    * no state store; the static side is the maintained artifact.
    */
  def st6ScreenStream(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val histFps = graft.streaming.DocsStream.historyFingerprints(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    graft.streaming.DocsStream.screenNew(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), histFps)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** ST7 [EXT] — streaming CDC upsert round-trip through the
    * merge-on-read [[graft.streaming.KeyedTable]] sink: the customer
    * snapshot seeds the base generation, events arrive as three delta
    * batches, batch 1 is REPLAYED (must commit as a no-op — the
    * streaming-restart path), a compaction folds mid-stream, and a
    * post-GC replay of a folded batch is refused by the compaction
    * watermark (monotonic-batchId contract — the rows are already in
    * the base). The maintained table then reads back as the latest
    * state per user — users without events keep their snapshot row.
    */
  def st7CdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val snapshot = tbl(s, dir, "customer").select(
      col("c_custkey").as("user_id"), lit("snapshot").as("src"),
      col("c_acctbal").as("value"), lit(-1L).as("ts_us"), lit(-1L).as("eid"))
    val ev = tbl(s, dir, "events").select(
      col("user_id"), lit("event").as("src"), col("value"),
      unix_micros(col("ts")).as("ts_us"), col("event_id").as("eid"))
    def batch(b: Int) = ev.filter(pmod(col("eid"), lit(3)) === b)
    def tableAt(out: String) = new graft.streaming.KeyedTable(
      s, out, Seq("user_id"), Seq("ts_us", "eid"))
    val out = cachedBuild(s, "upsert", dir) { out =>
      val table = tableAt(out)
      table.initBase(snapshot)
      require(table.upsert(batch(0), 0) && table.upsert(batch(1), 1),
        "fresh deltas must commit")
      require(!table.upsert(batch(1), 1),
        "replayed delta must be a no-op")
      table.compact()
      require(table.upsert(batch(2), 2), "post-compaction delta must commit")
      table.vacuum()
      // replay batch 1 AFTER vacuum dropped its delta: its id sits at
      // the compaction watermark, so the upsert is a refused no-op —
      // the rows are already folded into the live base
      require(!table.upsert(batch(1), 1),
        "post-GC replay below the watermark must be a no-op")
    }
    tableAt(out).read().select(col("user_id"), col("src"),
      col("eid").as("latest_event_id"), col("value").as("latest_value"))
  }

  /** ST9 [EXT] — left-outer interval join (`EventsStream.clickToPurchase`;
    * the streaming run's watermark-expiry null emissions are asserted
    * against this in `StreamingSpec`): every click with the purchases it converted to
    * within 30 minutes, null when unconverted.
    */
  def st9OuterInterval(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.clickToPurchase(tbl(s, dir, "events"), "left")

  /** ST8 [EXT] — time travel on the merge-on-read table: three delta
    * batches land and a compaction folds them into a new generation,
    * then `readAsOf(1)` reconstructs the pre-batch-2 state from the
    * RETAINED history (base-0 + deltas 0,1) — generation watermarks
    * (`_MAX_BATCH`) pick the newest base at-or-below the asked batch.
    * History survives compaction by design; only `vacuum()` trades it
    * away (st7 exercises that side).
    */
  def st8TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val snapshot = tbl(s, dir, "customer").select(
      col("c_custkey").as("user_id"), lit("snapshot").as("src"),
      col("c_acctbal").as("value"), lit(-1L).as("ts_us"), lit(-1L).as("eid"))
    val ev = tbl(s, dir, "events").select(
      col("user_id"), lit("event").as("src"), col("value"),
      unix_micros(col("ts")).as("ts_us"), col("event_id").as("eid"))
    def tableAt(out: String) = new graft.streaming.KeyedTable(
      s, out, Seq("user_id"), Seq("ts_us", "eid"))
    val out = cachedBuild(s, "timetravel", dir) { out =>
      val table = tableAt(out)
      table.initBase(snapshot)
      (0 to 2).foreach(b =>
        table.upsert(ev.filter(pmod(col("eid"), lit(3)) === b), b))
      table.compact() // folds all three; base-0 + deltas remain as history
    }
    tableAt(out).readAsOf(1).select(col("user_id"), col("src"),
      col("eid").as("latest_event_id"), col("value").as("latest_value"))
  }

  /** ST11 [EXT] — CDC diff between two as-of versions of the
    * merge-on-read table (`KeyedTable.diff`, the `table_changes`
    * primitive): the base is seeded with only the EVEN-keyed half of
    * the customer snapshot, three event delta batches land and a
    * compaction folds them, then `diff(-1, 2)` reports every user whose
    * resolved state changed between the initial snapshot and batch 2 —
    * op 'I' for odd-keyed users (absent at the from-version), 'U' for
    * even-keyed ones, each with the post-image payload. Candidate keys
    * come from the touched deltas only, and both as-of unions are
    * semi-joined down to them before resolution.
    */
  /** The st11/st16 shared fixture: a keyed table seeded from even
    * customers, upserted with three event batches split by
    * `event_id mod 3`, then compacted (history retained).
    */
  private def diffTableFixture(s: SparkSession, dir: String): String = {
    val snapshot = tbl(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(2)) === 0).select(
        col("c_custkey").as("user_id"), lit("snapshot").as("src"),
        col("c_acctbal").as("value"), lit(-1L).as("ts_us"), lit(-1L).as("eid"))
    val ev = tbl(s, dir, "events").select(
      col("user_id"), lit("event").as("src"), col("value"),
      unix_micros(col("ts")).as("ts_us"), col("event_id").as("eid"))
    cachedBuild(s, "diff", dir) { out =>
      val table = new graft.streaming.KeyedTable(
        s, out, Seq("user_id"), Seq("ts_us", "eid"))
      table.initBase(snapshot)
      (0 to 2).foreach(b =>
        table.upsert(ev.filter(pmod(col("eid"), lit(3)) === b), b))
      table.compact() // history (base-0 + deltas) retained for the diff
    }
  }

  def st11TableDiff(s: SparkSession, dir: String): DataFrame = {
    val out = diffTableFixture(s, dir)
    new graft.streaming.KeyedTable(s, out, Seq("user_id"), Seq("ts_us", "eid"))
      .diff(-1L, 2L)
      .select(col("op"), col("user_id"), col("src"),
        col("eid").as("latest_event_id"), col("value").as("latest_value"))
  }

  /** ST13 [EXT] — continuous anonymised replication
    * (`EventsStream.anonymise`, one definition for both modes; the
    * streaming run is asserted row-identical in StreamingSpec): the
    * reference's anonymise op on an event stream — consistent
    * stateless pseudonyms (o11 recipe) + t7 PII scrub of the payload.
    */
  def st13AnonymiseStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.anonymise(tbl(s, dir, "events"))

  /** ST15 [EXT] — tombstone DELETES in the merge-on-read keyed table:
    * deletes are last-writer-wins writes like any other (a delete
    * versioned below a concurrent write loses), tombstones survive
    * compaction so stragglers stay dead, and reads hide them. The
    * fixture deletes every user ≡ 0 mod 4 with a winning version and
    * every user ≡ 2 mod 4 with a LOSING version — the oracle's
    * resolved state must show exactly the first group gone.
    */
  def st15TableDelete(s: SparkSession, dir: String): DataFrame = {
    val snapshot = tbl(s, dir, "customer").select(
      col("c_custkey").as("user_id"), lit("snapshot").as("src"),
      col("c_acctbal").as("value"), lit(-1L).as("ts_us"), lit(-1L).as("eid"))
    val ev = tbl(s, dir, "events").select(
      col("user_id"), lit("event").as("src"), col("value"),
      unix_micros(col("ts")).as("ts_us"), col("event_id").as("eid"))
      .filter(pmod(col("eid"), lit(3)) === 0)
    val winners = tbl(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(4)) === 0)
      .select(col("c_custkey").as("user_id"),
        lit(Long.MaxValue).as("ts_us"), lit(Long.MaxValue).as("eid"))
    val losers = tbl(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(4)) === 2)
      .select(col("c_custkey").as("user_id"),
        lit(-2L).as("ts_us"), lit(-2L).as("eid"))
    def tableAt(out: String) = new graft.streaming.KeyedTable(
      s, out, Seq("user_id"), Seq("ts_us", "eid"))
    val out = cachedBuild(s, "ktdelete", dir) { o =>
      val table = tableAt(o)
      table.initBase(snapshot)
      require(table.upsert(ev, 0))
      require(table.delete(winners.unionAll(losers), 1))
      table.compact() // tombstones must survive the fold
    }
    tableAt(out).read().select(col("user_id"), col("src"),
      col("eid").as("latest_event_id"), col("value").as("latest_value"))
  }

  /** ST16 [EXT] — change-data-feed read of the keyed table: the raw
    * committed writes, batch-stamped via partition discovery over the
    * `delta=<id>` commit layout (`KeyedTable.changes`; streaming twin
    * `changesStream` asserted row-identical in StreamingSpec). The
    * per-batch summary the oracle can recompute from the event split
    * that built the fixture — equality proves the feed carries exactly
    * the writes, no loss, no duplication, correct batch attribution.
    */
  def st16TableCdf(s: SparkSession, dir: String): DataFrame = {
    val out = diffTableFixture(s, dir)
    new graft.streaming.KeyedTable(s, out, Seq("user_id"), Seq("ts_us", "eid"))
      .changes()
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("eid")).as("min_eid"),
        max(col("eid")).as("max_eid"))
  }

  /** T21 [EXT] — corpus cleaning pass (`TextAnalysis.cleanText`): tag
    * strip, control-char squash, whitespace collapse — the stage that
    * runs before any dedup/quality op in a scrape pipeline. Pure
    * narrow map; the md5 keeps the compare payload small while still
    * pinning every byte of the cleaned text.
    */
  def t21CleanText(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cleanText(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("n_raw"), col("n_clean"),
        md5(col("clean_text")).as("clean_md5"))

  /** O31 [EXT] — k-anonymity ENFORCEMENT (o28 only measures): bottom-up
    * full-domain generalisation over the ladder
    * (nation, segment) → (region, segment) → (segment) → suppressed,
    * k=10 (`Generalise.kAnonymize`). Output is the per-class census of
    * the rewritten table; the oracle replays the ladder in SQL, so the
    * compare proves level assignment row-for-row, not just counts.
    */
  def o31Generalize(s: SparkSession, dir: String): DataFrame = {
    val n = tbl(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val base = tbl(s, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
    val lv0 = concat(lit("n:"), col("c_nationkey").cast("string"),
      lit(":"), col("c_mktsegment"))
    val lv1 = concat(lit("r:"), col("n_regionkey").cast("string"),
      lit(":"), col("c_mktsegment"))
    val lv2 = col("c_mktsegment")
    graft.anonymise.Generalise.kAnonymize(base, Seq(lv0, lv1, lv2), k = 10)
      .groupBy(col("qi_value"), col("gen_level"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** O32 [EXT] — join-preserving pseudonymisation: customer keys
    * replaced by consistent keyed pseudonyms INDEPENDENTLY in two
    * tables (`Anonymiser.pseudonym` — no shared state), then joined on
    * the pseudonym. The oracle computes the same aggregate from the
    * RAW key join, so equality proves referential integrity survives
    * anonymisation (the cross-table generalisation of o11's per-column
    * consistency). Scale: the pseudonym is a narrow map; the join
    * shuffles on the pseudonym exactly as the raw join would on the
    * key — anonymisation costs nothing in plan shape.
    */
  def o32PseudonymJoin(s: SparkSession, dir: String): DataFrame = {
    def p(c: Column) = graft.anonymise.Anonymiser.pseudonym(c, "graft:")
    val cust = tbl(s, dir, "customer")
      .select(p(col("c_custkey")).as("cust_pseud"), col("c_mktsegment"))
    val ord = tbl(s, dir, "orders")
      .select(p(col("o_custkey")).as("cust_pseud"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    ord.join(cust, "cust_pseud")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("cust_pseud")).as("n_custs"),
        sum(col("price") * 100).cast("long").as("sum_cents"))
  }

  /** MM7 [EXT] — shot-boundary detection over REAL decoded video
    * frames (`Multimodal.sceneChanges`): length-prefixed genuine PNG
    * frames, per-frame ImageIO pixel decode, 16-bin histograms,
    * integer L1 distances between consecutive frames, cuts above the
    * threshold. The oracle re-derives every histogram bin and distance
    * from the formula pixels the frames were encoded with.
    */
  def mm7SceneChanges(s: SparkSession, dir: String): DataFrame =
    Multimodal.sceneChanges(
      Multimodal.videoAssetsFromDocuments(tbl(s, dir, "documents")),
      threshold = 72L)

  /** Q_MAD_OUTLIERS [EXT] — robust outlier census per market segment
    * (`RobustStats.madOutlierSummary`): exact median and MAD of
    * account balances in cents, computed at HISTOGRAM scale (never the
    * `percentile` buffer-every-value trap), with doubled/quadrupled
    * integer encodings so even-count interpolation stays exact.
    */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.RobustStats.madOutlierSummary(
      tbl(s, dir, "customer"), col("c_mktsegment"),
      (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))

  /** S16 [EXT] — MMR diversity re-ranking (`Similarity.mmrTopK`):
    * top-5 of each query's 10-deep exact-cosine shortlist, greedily
    * de-redundified at λ = 1/2. The oracle unrolls the five greedy
    * steps in SQL over the same shortlist and pairwise similarities —
    * identical picks because every double is the same bit-exact
    * cosine fold and ties break by id.
    */
  def s16Mmr(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 10),
      shortlist = 10, k = 5)
  }

  /** Q_CALIBRATION [EXT] — model-score CALIBRATION table, the
    * evaluation every trained filter needs before it gates a corpus:
    * docs ranked globally by the t16 classifier logit via the t14
    * distributed prefix sum (never a partitionless window at data
    * scale — here rank rides `Sampling.runningTotal`), cut into
    * deciles with integer boundary arithmetic, each decile reporting
    * its size, positive-label count, and per-mille positive rate.
    * The (deterministic) label is "document mentions 'the'" — any
    * boolean works; the machinery is the operator.
    */
  def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val scored = graft.ops.OpCaches.persist(
      TextAnalysis.classifierScore(docs)
        .select(col("doc_id"), col("logit_micro")))
    val lab = docs.select(col("doc_id"),
      (instr(col("text"), "the") > 0).as("label"))
    val n = broadcast(scored.agg(count(lit(1)).as("__n")))
    graft.ops.Sampling.runningTotal(
        scored.withColumn("__one", lit(1L)),
        Seq(col("logit_micro"), col("doc_id")), "__one")
      .withColumnRenamed("running_total", "pos")
      .join(lab, "doc_id").crossJoin(n)
      .withColumn("decile", expr("((pos - 1) * 10) DIV __n").cast("int"))
      .groupBy("decile").agg(
        count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("rate_pm", expr("(n_pos * 1000) DIV n"))
  }

  /** Q_AUC [EXT] — EXACT ROC-AUC of the t16 classifier against the
    * q_calibration label, the other half of model evaluation: the
    * Mann–Whitney rank-sum with midrank tie handling, all integer.
    * Scores collapse to one `(count, positives)` row per DISTINCT
    * logit; the cumulative count below each score comes from the t14
    * range-partitioned prefix sum (never a partitionless window).
    * Midranks double to stay integral: a tie group of size g after c
    * rows has rank_x2 = 2c + g + 1, so Σ_pos rank_x2 = Σ_s p_s·(2·run_s
    * − n_s + 1) and AUC = (Σ_pos rank_x2 − n_pos(n_pos+1)) /
    * (2·n_pos·n_neg) — emitted as the exact rational `auc_num_x2 /
    * (2·auc_den)` plus its per-mille floor.
    */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val scored = TextAnalysis.classifierScore(docs)
      .select(col("doc_id"), col("logit_micro"))
    val lab = docs.select(col("doc_id"),
      (instr(col("text"), "the") > 0).as("label"))
    val per = scored.join(lab, "doc_id")
      .groupBy("logit_micro")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("p"))
    graft.ops.Sampling.runningTotal(per, Seq(col("logit_micro")), "n")
      .agg(sum(col("p")).as("__np"), sum(col("n") - col("p")).as("__nn"),
        sum(col("p") * (col("running_total") * 2 - col("n") + 1))
          .as("__rs"))
      .select(col("__np").as("n_pos"), col("__nn").as("n_neg"),
        (col("__rs") - col("__np") * (col("__np") + 1)).as("auc_num_x2"),
        (col("__np") * col("__nn")).as("auc_den"))
      .withColumn("auc_pm", when(col("auc_den") > 0,
        expr("(auc_num_x2 * 1000) DIV (auc_den * 2)")))
  }

  /** T25 [EXT] — n-gram novelty scoring (`TextAnalysis.ngramNovelty`):
    * per-doc fraction of distinct 5-gram shingles occurring in at
    * least one other document — the memorization/boilerplate signal a
    * training mix monitors. The oracle re-derives shingles, gram
    * document frequencies, and the per-mille score.
    */
  def t25Novelty(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(tbl(s, dir, "documents"))

  /** Q_SEASONAL_MAD [EXT] — day-of-week seasonal profile of event
    * values with robust outlier counts: `madOutlierSummary` over an
    * INTEGER segment (Sunday-origin weekday, the generic-segment
    * path), exact medians/MADs on count histograms. Spark's
    * `dayofweek` is 1-origin, DuckDB's 0-origin — the engine shifts.
    */
  def qSeasonalMad(s: SparkSession, dir: String): DataFrame =
    graft.ops.RobustStats.madOutlierSummary(
      tbl(s, dir, "events"), (dayofweek(col("ts")) - 1).cast("long"),
      (col("value").cast("decimal(18,2)") * 100).cast("long"))

  /** Q_TRANSITIONS [EXT] — first-order Markov transition matrix over
    * per-user event sequences (`Funnel.transitionMatrix`): adjacent-
    * pair counts plus integer micro-unit probabilities. One event-
    * table shuffle (the per-user window), then metadata-scale
    * aggregates.
    */
  def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.transitionMatrix(tbl(s, dir, "events"))

  /** O34 [EXT] — right-to-be-forgotten erasure
    * (`Subset.eraseCascade`): a 5% victim set of customers is erased
    * together with every transitive FK descendant (their orders, those
    * orders' lineitems, their events) while referenced dimensions stay
    * intact — the GDPR deletion the anonymiser's domain ultimately
    * serves. The summary carries per-table before/deleted/after counts
    * AND the post-erasure orphan count; the oracle recomputes the
    * cascade with NOT EXISTS chains, so the compare proves both the
    * deletion extent (nothing extra, nothing missed) and closure after.
    */
  def o34Forget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    val tables = names.map(t => t -> tbl(s, dir, t)).toMap
    val fks = graft.sources.ParquetSource.fixtureForeignKeys
    val kept = graft.export.Subset.eraseCascade(tables, fks, "customer",
      graft.ops.Sampling.bucket(col("c_custkey"), 20) === 0)
    // ALL the audit numbers — 16 before/after counts AND the per-edge
    // orphan counts (`Subset.orphanEdges`, one (edge, key) aggregate) —
    // in ONE action: the scheduler overlaps every independent subtree
    // inside one job, where counts-then-orphans ran two serial jobs over
    // the same cached closure chain
    val countFrames = names.map { t =>
      tables(t).agg(count(lit(1)).as("__n"))
        .select(lit(t).as("__t"), lit("b").as("__k"), col("__n"))
        .unionAll(kept(t).agg(count(lit(1)).as("__n"))
          .select(lit(t).as("__t"), lit("a").as("__k"), col("__n")))
    }
    val orphans = graft.export.Subset.orphanEdges(kept, fks)
      .select(col("table_name").as("__t"), lit("o").as("__k"), col("n_orphans").as("__n"))
    val rows = (countFrames :+ orphans).reduce(_ unionAll _)
      .groupBy("__t", "__k").agg(sum("__n").as("__s")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    names.map { t =>
      val before = rows((t, "b")); val after = rows((t, "a"))
      (t, before, before - after, after, rows.getOrElse((t, "o"), 0L))
    }.toDF("table_name", "n_before", "n_deleted", "n_after", "n_orphans")
  }

  /** ST18 [EXT] — the NATIVE `session_window` operator
    * (`EventsStream.sessionWindow`, one definition for both modes; its
    * streaming run is asserted against `sessionizeBatch` in
    * StreamingSpec). The
    * oracle replays the merge semantics as gap islands with the
    * end-exclusive `>=` break and `session_end = last + gap`, so the
    * operator's exact window contract — not just session counts — is
    * hash-checked against q_sessionize's independent formulation.
    */
  def st18SessionWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.sessionWindow(tbl(s, dir, "events"))

  /** O35 [EXT] — minimisation AT SOURCE (`anonymise.MaskedViews`):
    * per-dialect `CREATE VIEW` DDL applying the masking rules inside
    * the database — NULLs keep their type, statics become literals,
    * faker columns become the engine's keyed pseudonym re-expressed in
    * the dialect's own functions (SQLite, lacking MD5, degrades to a
    * visible constant). Driver-side string assembly over the o3 column
    * catalog; the oracle pins the exact DDL per dialect.
    */
  def o35MaskedViews(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = ParquetSource(s, dir)
    val rules: Map[String, ColumnRule] = Map(
      "c_name" -> FakerRule("name"),
      "c_mktsegment" -> StaticRule("REDACTED"),
      "c_acctbal" -> NullRule)
    graft.dialect.Dialect.all.map { d =>
      (d.name, "customer", graft.anonymise.MaskedViews.viewDDL(
        d, "customer", src.columns("customer"), rules))
    }.toDF("dialect", "table_name", "view_sql")
  }

  /** Q_AB_CHISQ [EXT] — experiment analysis (`Experiment.abChisq`):
    * md5-bucket variant split, distinct-user conversion cells, and the
    * Pearson χ² significance verdict evaluated as an exact polynomial
    * inequality in DECIMAL(38,0) — no transcendental p-value anywhere,
    * so the verdict is bit-portable and the oracle replays the whole
    * test.
    */
  def qAbChisq(s: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.abChisq(tbl(s, dir, "events"))

  /** S15 [EXT] — DISTRIBUTED k-means (`Clustering.kmeansInt`): three
    * Lloyd rounds over the 16-bin stub-decode histograms, k=4,
    * integer-exact end to end (integer distances, cid-tiebroken
    * argmin, truncated-integer centroid means, carry-over on empty
    * clusters), so the whole clustering trajectory — every centroid
    * coordinate and member count per round — is hash-checked against
    * the oracle's unrolled replay.
    */
  def s15KmeansInt(s: SparkSession, dir: String): DataFrame = {
    val hexd = "0123456789abcdef"
    val feats = tbl(s, dir, "documents")
      .withColumn("_dg", md5(col("text")))
      .select(col("doc_id"), array(hexd.map(c =>
        (lit(32L) - length(replace(col("_dg"), lit(c.toString), lit(""))))
          .cast("long")): _*).as("fv"))
    graft.ops.Clustering.kmeansInt(feats, k = 4, rounds = 3, dim = 16)
  }

  /** T23 [EXT] — batch perceptron training
    * (`TextAnalysis.perceptronTrain`): three epochs of the integer-
    * exact distributed training loop on (bias, token count, punct‰,
    * digit‰) features against the `lang == en` label. The oracle
    * unrolls the three epochs in SQL, so the whole training
    * TRAJECTORY — weights and misclassified counts per epoch — is
    * hash-checked, not just the final model.
    */
  def t23Perceptron(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.perceptronTrain(tbl(s, dir, "documents"))

  /** D19 [EXT] — content-defined chunking dedup
    * (`Dedup.cdcChunkStats`): rolling-hash chunk boundaries (k=3
    * grams, divisor 16) and cross-document chunk-hash dedup — the
    * storage-dedup recipe that finds shared material an insertion
    * would shift out of every fixed window. One token shuffle; the
    * oracle replays boundaries, chunks and dedup in SQL windows.
    */
  def d19CdcChunks(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunkStats(tbl(s, dir, "documents"))

  /** S14 [EXT] — hybrid lexical+vector retrieval with reciprocal-rank
    * fusion (`Similarity.hybridRrf`): the first-10 documents query
    * both their token sets and their embeddings; each side's top-50
    * shortlist fuses by integer RRF. The oracle re-derives both
    * rankings and the fusion bit-for-bit.
    */
  def s14HybridRrf(s: SparkSession, dir: String): DataFrame =
    Similarity.hybridRrf(tbl(s, dir, "documents"), tbl(s, dir, "embeddings"))

  /** T22 [EXT] — BPE training, three merge rounds
    * (`TextAnalysis.bpeTrain`): the merge loop t20 takes one step of,
    * run at vocabulary scale with deterministic argmax ties. The
    * oracle unrolls the three rounds in SQL (the marker-rewrite
    * `replace` has identical leftmost-non-overlapping semantics in
    * both engines).
    */
  def t22BpeTrain(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTrain(tbl(s, dir, "documents"))

  /** T24 [EXT] — BPE ENCODING (`TextAnalysis.bpeEncode`): apply the
    * t22 merge table back to the corpus and account tokens per
    * document with the REAL tokenizer — pre-token, letter, and
    * post-merge BPE token counts. Encoding runs at vocabulary scale
    * (the corpus collapses once; merges rewrite the vocab with `w0`
    * riding along as the join-back key); the oracle unrolls the same
    * three rounds and re-encodes in SQL.
    */
  def t24BpeEncode(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeEncode(tbl(s, dir, "documents"))

  /** O33 [EXT] — Warner's randomized response: per-row local-DP
    * perturbation of a boolean attribute with an md5-bucket coin
    * (`Anonymiser.randomizedResponse`, m=4 → truth kept w.p. 3/4),
    * plus the unbiased estimator per segment. Everything integer-
    * exact: est_x2 = 4·reported − n is twice the estimate, err_x2 its
    * signed distance from twice the true count — the oracle replays
    * coin, mechanism and estimator bit-for-bit.
    */
  /** ER1 [EXT] — record linkage / entity resolution
    * (`ops.Linkage`): a deterministically-corrupted twin of `customer`
    * (md5 coin: half get `5→S` name typos, half `9→0` phone typos)
    * links back to the clean table through TWO blocking passes —
    * (nation, phone-prefix) catches the name-typo half, (nation,
    * name-suffix) the phone-typo half — then integer Fellegi–Sunter
    * scoring (bounded `levenshtein` agreement weights) and
    * best-match-per-record selection as one max-struct aggregate.
    * Everything is deterministic, so the oracle replays corruption,
    * blocking, scoring, and selection exactly.
    */
  // the fixture has no phone column — synthesize one deterministically
  // from the key (both engines derive the identical string), then
  // corrupt it like any other contact field
  private def er1Registry(s: SparkSession, dir: String): DataFrame = {
    val digits = lpad((col("c_custkey") * 7919L % 10000000000L).cast("string"),
      10, "0")
    val phone = concat(substring(digits, 1, 3), lit("-"),
      substring(digits, 4, 3), lit("-"), substring(digits, 7, 4))
    tbl(s, dir, "customer").withColumn("c_phone", phone)
  }

  /** The er1 dirty feed: the md5 coin typos names for half the rows
    * and phones for the other half.
    */
  private def er1Feed(c: DataFrame): DataFrame = {
    val coin = graft.ops.Sampling.bucket(col("c_custkey"), 2)
    c.select(
      col("c_custkey").as("d_id"),
      when(coin === 0, replace(col("c_name"), lit("5"), lit("S")))
        .otherwise(col("c_name")).as("d_name"),
      when(coin === 1, replace(col("c_phone"), lit("9"), lit("0")))
        .otherwise(col("c_phone")).as("d_phone"),
      col("c_nationkey").as("d_nation"))
  }

  /** The feed and registry with their block-key columns attached. */
  private def er1Keyed(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = er1Registry(s, dir)
    val dirty = er1Feed(c)
      .withColumn("d_blk_phone", concat(col("d_nation").cast("string"),
        lit(":"), substring(col("d_phone"), 1, 9)))
      .withColumn("d_blk_name", concat(col("d_nation").cast("string"),
        lit(":"), substring(col("d_name"), 13, 6)))
    val clean = c
      .select(col("c_custkey"), col("c_name"), col("c_phone"), col("c_nationkey"))
      .withColumn("c_blk_phone", concat(col("c_nationkey").cast("string"),
        lit(":"), substring(col("c_phone"), 1, 9)))
      .withColumn("c_blk_name", concat(col("c_nationkey").cast("string"),
        lit(":"), substring(col("c_name"), 13, 6)))
    (dirty, clean)
  }

  /** The er1 Fellegi–Sunter agreement score, shared by every linkage
    * key that scores er1-shaped candidates.
    */
  private def er1Score: Column =
    graft.ops.Linkage.editWeight(col("d_name"), col("c_name"), 30L, 6L) +
      when(col("d_phone") === col("c_phone"), lit(20L))
        .otherwise(graft.ops.Linkage.editWeight(col("d_phone"), col("c_phone"), 20L, 4L)) +
      when(col("d_nation") === col("c_nationkey"), lit(5L)).otherwise(lit(0L))

  /** Blocked + scored + selected matches, `(d_id, matched_id, score)`. */
  private def er1Matches(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage
    val (dirty, clean) = er1Keyed(s, dir)
    val cand = Linkage.blockedCandidates(dirty, clean,
      Seq("d_blk_phone" -> "c_blk_phone", "d_blk_name" -> "c_blk_name"))
    Linkage.bestMatches(cand.withColumn("score", er1Score),
        "d_id", "c_custkey", "score", 35L)
      .withColumnRenamed("c_custkey", "matched_id")
  }

  def er1RecordLinkage(s: SparkSession, dir: String): DataFrame =
    er1Matches(s, dir)

  /** ER5 [EXT] — frequency-capped blocking
    * (`Linkage.cappedBlockedCandidates`): er1's two informative passes
    * plus a deliberately saturated third (nation-only — the
    * everyone-named-SMITH block) under a 1000-pairs-per-key budget.
    * The audit row per pass carries joinable-key count, capped-key
    * count and KEPT candidate volume (Σ nd·nc over allowed keys — the
    * join's exact output size); the union row adds the end-to-end
    * outcome on the capped candidates (best matches ≥ 35, true-match
    * count vs the known origin key). At the oracle SFs the cap BINDS:
    * every nation block exceeds the budget and is skipped wholesale,
    * while phone/name blocks (nd·nc ≤ 4) ride through — so the gate
    * hash-checks the skip logic, not a vacuous pass-through. This is
    * the linkage family's scale path: er1's sf100 block-key aliasing
    * (probed 1.206 B phone candidates, SCALING.md) is exactly the
    * volume this cap bounds to ≤ maxPairs·#keys.
    */
  def er5BlockCap(s: SparkSession, dir: String): DataFrame = {
    val cap = 1000L
    val (d0, c0) = er1Keyed(s, dir)
    val dirty = graft.ops.OpCaches.persist(
      d0.withColumn("d_blk_nation", col("d_nation").cast("string")))
    val clean = graft.ops.OpCaches.persist(
      c0.withColumn("c_blk_nation", col("c_nationkey").cast("string")))
    val passes = Seq(("name", "d_blk_name", "c_blk_name"),
      ("nation", "d_blk_nation", "c_blk_nation"),
      ("phone", "d_blk_phone", "c_blk_phone"))
    def keyStats(lk: String, rk: String): DataFrame =
      dirty.groupBy(col(lk).as("__k")).agg(count(lit(1)).as("__nd"))
        .join(clean.groupBy(col(rk).as("__k")).agg(count(lit(1)).as("__nc")), "__k")
    val passRows = passes.map { case (nm, lk, rk) =>
      keyStats(lk, rk).agg(
        count(lit(1)).as("n_keys"),
        sum(when(col("__nd") * col("__nc") > cap, 1L).otherwise(0L))
          .as("n_keys_capped"),
        coalesce(sum(when(col("__nd") * col("__nc") <= cap,
          col("__nd") * col("__nc"))), lit(0L)).as("n_candidates"))
        .select(lit(nm).as("pass"), col("n_keys"), col("n_keys_capped"),
          col("n_candidates"), lit(0L).as("n_matches"), lit(0L).as("n_true"))
    }.reduce(_ unionByName _)
    val cand = graft.ops.Linkage.cappedBlockedCandidates(dirty, clean,
      passes.map { case (_, lk, rk) => lk -> rk }, cap)
    val matches = graft.ops.Linkage.bestMatches(
      cand.withColumn("score", er1Score), "d_id", "c_custkey", "score", 35L)
    val unionRow = passRows
      .agg(sum("n_keys").as("n_keys"), sum("n_keys_capped").as("n_keys_capped"),
        sum("n_candidates").as("n_candidates"))
      .crossJoin(broadcast(matches.agg(count(lit(1)).as("n_matches"),
        coalesce(sum(when(col("d_id") === col("c_custkey"), 1L).otherwise(0L)),
          lit(0L)).as("n_true"))))
      .select(lit("union").as("pass"), col("n_keys"), col("n_keys_capped"),
        col("n_candidates"), col("n_matches"), col("n_true"))
    passRows.unionByName(unionRow).orderBy("pass")
  }

  /** ER3 [EXT] — BLOCKING-QUALITY audit, the evaluation every blocking
    * scheme needs before trusting a linkage: per pass and for the
    * union, candidate-pair volume, true matches recovered (ground
    * truth = the feed's known origin key), pairs-completeness
    * (recall) and reduction ratio vs the full cross product, in
    * integer per-mille. One equi-join + one aggregate per pass —
    * the audit costs what the blocking costs.
    */
  def er3BlockingQuality(s: SparkSession, dir: String): DataFrame = {
    val (dirty, clean) = er1Keyed(s, dir)
    val d = graft.ops.OpCaches.persist(dirty)
    val c = graft.ops.OpCaches.persist(clean)
    val totals = broadcast(d.agg(count(lit(1)).as("nd"))
      .crossJoin(c.agg(count(lit(1)).as("nc"))))
    def pairs(lk: String, rk: String): DataFrame =
      d.join(c, d(lk) === c(rk)).select(col("d_id"), col("c_custkey"))
    def stats(name: String, p: DataFrame): DataFrame =
      p.distinct()
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("d_id") === col("c_custkey"), 1L).otherwise(0L))
            .as("n_true_found"))
        .crossJoin(totals)
        .select(lit(name).as("pass"), col("n_candidates"), col("n_true_found"),
          expr("(n_true_found * 1000) DIV nd").as("recall_pm"),
          expr("((nd * nc - n_candidates) * 1000) DIV (nd * nc)")
            .as("reduction_pm"))
    val a = pairs("d_blk_phone", "c_blk_phone")
    val b = pairs("d_blk_name", "c_blk_name")
    stats("phone", a)
      .unionByName(stats("name", b))
      .unionByName(stats("union", a.unionByName(b)))
  }

  /** ER4 [EXT] — INCREMENTAL linkage, the daily-feed shape of MDM:
    * a small new batch (a 4% returning slice of the er1 feed plus
    * walk-ins whose names match nothing) links against the FULL
    * registry with the BATCH side broadcast, so the master table
    * never shuffles — the asymmetry that makes incremental linkage
    * cheap at 100 TB (er1 re-links everything; er4 pays only
    * batch-sized work per feed). Unmatched records surface with
    * `is_new = true` — the upsert decision the golden table needs.
    * Walk-ins still BLOCK on their intact phone key (candidates
    * exist!) but score ≤ 25 < 35, exercising the threshold, not just
    * the blocking.
    */
  def er4IncrementalLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage
    val (dirtyAll, clean) = er1Keyed(s, dir)
    val returning = dirtyAll.filter(pmod(col("d_id"), lit(25)) === 0)
    val walkIns = returning.select(
        (col("d_id") + lit(1000000000L)).as("d_id"),
        md5(col("d_name")).as("d_name"),
        col("d_phone"), col("d_nation"), col("d_blk_phone"))
      .withColumn("d_blk_name", concat(col("d_nation").cast("string"),
        lit(":"), substring(col("d_name"), 13, 6)))
    val batch = graft.ops.OpCaches.persist(
      returning.unionByName(walkIns))
    val cand = Linkage.blockedCandidates(broadcast(batch), clean,
      Seq("d_blk_phone" -> "c_blk_phone", "d_blk_name" -> "c_blk_name"))
    val scored = cand.withColumn("score",
      Linkage.editWeight(col("d_name"), col("c_name"), 30L, 6L) +
        when(col("d_phone") === col("c_phone"), lit(20L))
          .otherwise(Linkage.editWeight(col("d_phone"), col("c_phone"), 20L, 4L)) +
        when(col("d_nation") === col("c_nationkey"), lit(5L)).otherwise(lit(0L)))
    val matches = Linkage.bestMatches(scored, "d_id", "c_custkey", "score", 35L)
      .withColumnRenamed("c_custkey", "matched_id")
    batch.select("d_id")
      .join(broadcast(matches), Seq("d_id"), "left")
      .select(col("d_id"), col("matched_id"), col("score"),
        col("matched_id").isNull.as("is_new"))
  }

  /** P5 [EXT] — the MASTER-DATA pipeline capstone: dirty feed →
    * blocked linkage (er1) → survivorship consolidation (er2's
    * goldenRecords) → pseudonymised golden table (the o32 recipe) →
    * per-segment summary. A fifth of registry names are missing; the
    * linked feed fills them, and `n_name_from_feed` counts exactly
    * those fills — the pipeline's observable value-add. Every stage
    * keeps its standalone plan shape; the composition is end-to-end
    * hash-exact against the oracle's replay.
    */
  def p5LinkPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Linkage, Sampling}
    import graft.ops.Linkage.Survivorship
    val coin5 = Sampling.bucket(col("c_custkey"), 5)
    val regRec = tbl(s, dir, "customer").select(
      col("c_custkey").as("entity"), lit(1L).as("prio"),
      when(coin5 === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal_cents"))
    val feedRec = er1Feed(er1Registry(s, dir))
      .join(er1Matches(s, dir), "d_id")
      .select(col("matched_id").as("entity"), lit(2L).as("prio"),
        col("d_name").as("name"), lit(null).cast("long").as("bal_cents"))
    val golden = Linkage.goldenRecords(regRec.unionByName(feedRec), "entity",
      Seq("name" -> Survivorship.FirstNonNull("prio"),
        "bal_cents" -> Survivorship.MaxValue))
    val meta = tbl(s, dir, "customer").select(
      col("c_custkey").as("entity"), col("c_mktsegment").as("segment"),
      (coin5 === 0).as("reg_name_missing"))
    golden.join(meta, "entity")
      .withColumn("pseud",
        graft.anonymise.Anonymiser.pseudonym(col("name"), "p5:"))
      .groupBy("segment").agg(
        count(lit(1)).as("n_entities"),
        sum(when(col("name").isNotNull, 1L).otherwise(0L)).as("n_named"),
        sum(when(col("reg_name_missing") && col("name").isNotNull, 1L)
          .otherwise(0L)).as("n_name_from_feed"),
        sum(col("bal_cents")).as("bal_sum_cents"),
        countDistinct(col("pseud")).as("n_pseudonyms"))
  }

  /** O37 [EXT] — dataset-version DRIFT report (`analyse.Drift`): the
    * data-contract check between two versions of `customer` — v2
    * deterministically drops a column, adds one, nulls a third of one
    * column's values, and loses a tenth of its rows. Schema deltas are
    * driver-side metadata; profile deltas (row/null/exact-distinct
    * counts) come from ONE aggregate pass per version. All-integer
    * statistics; the oracle replays the evolution and both profiles.
    */
  def o37Drift(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sampling
    val c = tbl(s, dir, "customer")
    val coin3 = Sampling.bucket(col("c_custkey"), 3)
    val coin10 = Sampling.bucket(col("c_custkey"), 10)
    val v2 = c.filter(coin10 =!= 0).drop("c_mktsegment")
      .withColumn("c_loyalty", pmod(col("c_custkey"), lit(5L)).cast("int"))
      .withColumn("c_acctbal",
        when(coin3 === 0, lit(null)).otherwise(col("c_acctbal")))
    graft.analyse.Drift.driftReport(c, v2)
  }

  /** ER2 [EXT] — golden-record consolidation
    * (`Linkage.goldenRecords`): three deterministic "source systems"
    * over `customer` (CRM: trusted names but segment-less and stale
    * balances, with some names missing; billing: complete but
    * name-typo'd; legacy: a coin-selected subset, lower-cased), merged
    * per entity under explicit survivorship — names/segments from the
    * most-trusted non-null source, balance by freshness (max). One
    * mergeable aggregate; the oracle replays sources and rules, with
    * `FirstNonNull` re-expressed as a min over `'prio:value'` strings
    * (equivalent to the engine's struct min for 1-digit priorities).
    */
  def er2GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage
    import graft.ops.Linkage.Survivorship
    val coin = graft.ops.Sampling.bucket(col("c_custkey"), 3)
    val c = tbl(s, dir, "customer").select(
      col("c_custkey").as("entity"), col("c_name"), col("c_mktsegment"),
      (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"),
      coin.as("coin"))
    val crm = c.select(col("entity"), lit(1L).as("prio"),
      when(col("coin") === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      lit(null).cast("string").as("segment"),
      (col("cents") - 100L).as("bal_cents"))
    val billing = c.select(col("entity"), lit(2L).as("prio"),
      replace(col("c_name"), lit("5"), lit("S")).as("name"),
      col("c_mktsegment").as("segment"), col("cents").as("bal_cents"))
    val legacy = c.filter(col("coin") === 2)
      .select(col("entity"), lit(3L).as("prio"),
        lower(col("c_name")).as("name"),
        col("c_mktsegment").as("segment"),
        (col("cents") - 50L).as("bal_cents"))
    Linkage.goldenRecords(
      crm.unionByName(billing).unionByName(legacy), "entity",
      Seq("name" -> Survivorship.FirstNonNull("prio"),
        "segment" -> Survivorship.FirstNonNull("prio"),
        "bal_cents" -> Survivorship.MaxValue))
  }

  /** O36 [EXT] — differentially-private group-count release
    * (`Anonymiser.dpCounts`): per-segment customer counts perturbed by
    * the (ln 2, 2/3072)-DP truncated discrete-Laplace ladder, noise
    * drawn deterministically from the md5 bucket of salt‖group (the
    * seeded-release rationale of o11/o33). The oracle replays the
    * draw and the ladder via the SAME generated CASE text, so the two
    * engines cannot drift.
    */
  def o36DpCounts(s: SparkSession, dir: String): DataFrame =
    graft.anonymise.Anonymiser
      .dpCounts(tbl(s, dir, "customer"), col("c_mktsegment"))
      .withColumnRenamed("grp", "segment")

  def o33RandomizedResponse(s: SparkSession, dir: String): DataFrame = {
    val truth = col("c_acctbal") > 5000.0
    val rep = graft.anonymise.Anonymiser
      .randomizedResponse(col("c_custkey"), truth, modulus = 4)
    tbl(s, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
        truth.as("truth"), rep.as("rep"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(when(col("truth"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("rep"), 1L).otherwise(0L)).as("n_reported"))
      .withColumn("est_x2", lit(4L) * col("n_reported") - col("n"))
      .withColumn("err_x2", col("est_x2") - lit(2L) * col("n_true"))
  }

  /** ST17 [EXT] — CDC replication through the change feed: a replica
    * keyed table is built from the primary's base snapshot plus its
    * `changes()` feed re-applied batch by batch, then read. The output
    * equals the primary's resolved state (the st11 oracle shape), so
    * the compare proves the feed is a COMPLETE account of the writes —
    * base + CDF reconstructs the table exactly, which is the property
    * a downstream replication tail depends on.
    */
  def st17CdfReplication(s: SparkSession, dir: String): DataFrame = {
    val primaryDir = diffTableFixture(s, dir)
    def t(d: String) = new graft.streaming.KeyedTable(
      s, d, Seq("user_id"), Seq("ts_us", "eid"))
    val out = cachedBuild(s, "cdfrepl", dir) { o =>
      val primary = t(primaryDir)
      val replica = t(o)
      replica.initBase(primary.readAsOf(-1L))
      replica.applyChanges(primary.changes())
    }
    t(out).read().select(col("user_id"), col("src"),
      col("eid").as("latest_event_id"), col("value").as("latest_value"))
  }

  /** P4 [EXT] — the PRIVACY pipeline capstone, composing the round's
    * anonymisation transforms with the minimiser's core export path:
    * (1) referentially-consistent SUBSET (10% order anchor, FK
    * closure — the o29 machinery), (2) k-anonymity enforcement over
    * the subset's customers (the o31 ladder at k=5 — subset first,
    * THEN generalise: class sizes must reflect what is actually
    * released), (3) join-preserving key pseudonymisation of customers
    * and orders (o32), (4) the release summary per published QI class.
    * The oracle replays subset + ladder in SQL and joins on RAW keys —
    * equality proves the pseudonymised release carries exactly the
    * statistics of the identified one.
    *
    * Scale: the subset is semi-join closure (broadcast key
    * projections); generalisation is census-scale; the pseudonym join
    * shuffles the kept orders once — no stage is heavier than its
    * standalone form.
    */
  def p4PrivacyPipeline(s: SparkSession, dir: String): DataFrame = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    val tables = names.map(t => t -> tbl(s, dir, t)).toMap
    val kept = graft.export.Subset.closure(tables,
      graft.sources.ParquetSource.fixtureForeignKeys, "orders",
      graft.ops.Sampling.bucket(col("o_orderkey"), 10) === 0)
    val kn = kept("nation").select(col("n_nationkey"), col("n_regionkey"))
    val kc = kept("customer")
      .join(broadcast(kn), col("c_nationkey") === col("n_nationkey"))
    val ladder = Seq(
      concat(lit("n:"), col("c_nationkey").cast("string"), lit(":"), col("c_mktsegment")),
      concat(lit("r:"), col("n_regionkey").cast("string"), lit(":"), col("c_mktsegment")),
      col("c_mktsegment"))
    def p(c: Column) = graft.anonymise.Anonymiser.pseudonym(c, "p4:")
    val gen = graft.anonymise.Generalise.kAnonymize(kc, ladder, k = 5)
      .select(p(col("c_custkey")).as("pseud"),
        col("qi_value"), col("gen_level"))
    val ko = kept("orders").select(p(col("o_custkey")).as("pseud"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    ko.join(gen, "pseud")
      .groupBy(col("qi_value"), col("gen_level"))
      .agg(countDistinct(col("pseud")).as("n_custs"),
        count(lit(1)).as("n_orders"),
        sum(col("price") * 100).cast("long").as("sum_cents"))
  }

  /** ST14 [EXT] — per-user CUSUM drift vs a fixed 50.00 target, batch
    * form (streaming `mapGroupsWithState` form asserted row-identical
    * in StreamingSpec — the fixed reference value is what makes the
    * detector streamable: three longs of state per key).
    */
  def st14UserDrift(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.userDriftBatch(tbl(s, dir, "events"))

  /** ST19 [EXT] — late-data audit, batch form (streaming twin
    * asserted row-identical in StreamingSpec): per user, events whose
    * event time trails the user's event-time high-water mark by more
    * than the 1-hour allowance at arrival, plus the worst lateness —
    * the loss a 1-hour watermark would cause, measured before
    * choosing it. The fixture arrives perfectly ordered, so arrival
    * order is hash-permuted (portable md5 key) to simulate network
    * reordering; the oracle replays permutation, high-water mark, and
    * counters.
    */
  def st19LateAudit(s: SparkSession, dir: String): DataFrame = {
    val arrival = graft.ops.Sampling.bucket(col("event_id"), 1 << 20) *
      lit(1099511627776L) + col("event_id")
    graft.streaming.EventsStream.lateEventAuditBatch(tbl(s, dir, "events"), arrival)
  }

  /** ST12 [EXT] — per-day heavy hitters via a Misra–Gries sketch
    * maintained by the streaming state store (`EventsStream.windowTopK`,
    * one definition for both modes; the streaming run is asserted
    * guarantee-equal in StreamingSpec). The verdict
    * joins each day's sketch against that day's exact counts: every
    * item above n/(budget+1) must sit in the sketch, and the sketch
    * must stay within budget — the merge-order-invariant guarantee,
    * which is the only deterministic contract an MG sketch offers
    * (the q_approx_topk posture, windowed).
    */
  def st12WindowTopk(s: SparkSession, dir: String): DataFrame = {
    val budget = graft.streaming.EventsStream.TopKBudget
    val ev = tbl(s, dir, "events")
    val sketches = graft.streaming.EventsStream.windowTopK(ev)
    val exact = ev.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val tot = exact.groupBy("day").agg(sum("cnt").as("n"))
    exact.join(tot, "day")
      .filter(col("cnt").cast("double") >
        col("n").cast("double") / lit((budget + 1).toDouble))
      .join(sketches, "day")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_heavy"),
        bool_and(map_contains_key(col("mg"), col("event_type")))
          .as("all_heavy_in_sketch"),
        bool_and(size(map_keys(col("mg"))) <= budget).as("sketch_within_budget"))
  }

  /** D17 [EXT] — PERSISTED incremental ingest screen
    * (`ops.ScreenIndex`): the maintained-artifact form of d11's bloom —
    * history was scanned once at seeding; each batch screens against
    * the on-disk sketch with a narrow probe filter, zero history IO.
    * Output is the deterministic verdict: exact batch/new-fingerprint
    * counts plus two invariants the bloom must satisfy — no false
    * negatives (nothing emitted matches history exactly) and the
    * false-positive attrition within 3× the configured fpp.
    */
  def d17BloomPersisted(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val out = cachedBuild(s, "screenidx", dir) { out =>
      new graft.ops.ScreenIndex(s, out, expectedItems = 1L << 18)
        .ingest(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")
      ()
    }
    val idx = new graft.ops.ScreenIndex(s, out)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val emitted = idx.screen(batch, "doc_id", "text")
    val fp = TextAnalysis.fingerprint(col("text"))
    val histFps = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(fp.as("fp")).distinct()
    val batchFps = batch.select(fp.as("fp")).distinct()
    val trueNew = batchFps.join(histFps, Seq("fp"), "left_anti")
    val emittedFps = emitted.select(fp.as("fp"))
    batch.agg(count(lit(1)).as("n_batch"))
      .crossJoin(trueNew.agg(count(lit(1)).as("n_new_fps")))
      .crossJoin(emittedFps.join(histFps, Seq("fp"), "left_semi")
        .agg(count(lit(1)).as("n_fn")))
      .crossJoin(emittedFps.agg(count(lit(1)).as("n_emitted")))
      .select(col("n_batch"), col("n_new_fps"),
        (col("n_fn") === 0).as("no_false_negatives"),
        (col("n_new_fps") - col("n_emitted") >= 0 &&
          col("n_new_fps") - col("n_emitted") <=
            ceil(lit(0.03) * col("n_batch")).cast("long")).as("fp_within_budget"))
  }

  /** D18 [EXT] — asymmetric containment pairs at 0.8: the doc-quoted-
    * inside-doc signal symmetric Jaccard structurally misses; both
    * directions reported. Cost-based chooser (`Dedup
    * .ngramContainmentPairsAuto`): exact count-join while the measured
    * candidate volume stays within budget (this fixture: ~28/doc at
    * sf0.01, ~253/doc at sf0.1 — both exact, so the oracle compares
    * hash-exact), MinHash band screen + exact verify past it
    * (engages at the sf1 rehearsal's ~2.8k/doc — SCALING.md round 10).
    */
  def d18Containment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairsAuto(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.8)

  /** D18's FORCED-SCREEN branch (candidate budget 0): MinHash band
    * candidates + exact containment verify — the branch the chooser
    * only takes past the budget (sf1's ~2.8k candidates/doc), gated
    * here against the EXACT containment oracle at the fixture SFs.
    * Green is the recall statement itself: the screen recovered every
    * true pair, hash-recorded in CORRECTNESS instead of probe-asserted.
    */
  def d18ContainmentScreen(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairsAuto(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.8, candidateBudgetPerDoc = 0)

  /** D18's OUTPUT-BUDGET contract — the d4 cap applied to the
    * asymmetric metric, ranked by the dominant direction
    * greatest(c_ab, c_ba); budget 1, binding at both gated SFs.
    */
  def d18ContainmentCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairsAuto(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.8, maxPairsPerDoc = Some(1))

  /** T19 [EXT] — PMI collocation mining: top-50 bigrams by pointwise
    * mutual information at count ≥ 5, integer-exact via the t15/t9
    * quantise-once micro-bit recipe; selection via
    * TakeOrderedAndProject, never a vocabulary sort.
    */
  def t19Collocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(tbl(s, dir, "documents"))

  /** T20 [EXT] — one BPE training step: top-50 adjacent symbol pairs
    * by corpus frequency over alphanumeric-run pre-tokens. The corpus
    * collapses to its vocabulary (one mergeable count) BEFORE the pair
    * explode, so pair counting runs at vocabulary scale.
    */
  def t20BpePairs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairs(tbl(s, dir, "documents"))

  /** Q_FORWARD_FILL [EXT] — time-series regularisation: each user's
    * sparse event values onto an hourly grid with last-observation-
    * carried-forward (`TimeSeries.forwardFill`). Per-bucket latest via
    * one mergeable max-struct aggregate; the fill window partitions by
    * user over the aggregated grid (span-bounded state, never
    * event-count-bounded).
    */
  def q_forwardFill(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.forwardFill(
      tbl(s, dir, "events"), "user_id", "ts", "value",
      orderCols = Seq("ts", "event_id"), stepSec = 3600L)
      .select(col("user_id"), col("bucket_ts"),
        col("value_filled"), col("is_observed"))

  /** Q_INTERPOLATE [EXT] — linear interpolation onto the hourly grid:
    * forward fill's twin for continuous signals; gap buckets take the
    * straight line between surrounding observations, written in the
    * exact expression shape the oracle computes so doubles match
    * bit-for-bit.
    */
  def q_interpolate(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.interpolate(
      tbl(s, dir, "events"), "user_id", "ts", "value",
      orderCols = Seq("ts", "event_id"), stepSec = 3600L)
      .select(col("user_id"), col("bucket_ts"),
        col("value_interp"), col("is_observed"))

  /** T18 [EXT] — character-entropy quality signal: exact integer n·H in
    * micro-bits per doc (quantise-once-then-integer-sum, the t9 recipe
    * applied per row) plus the 4.0-bits/char gate. Narrow kernel, zero
    * shuffle; the JVM/DuckDB log2 quantisation agreement is pinned by a
    * DuckDB-generated golden table in `OpsSpec`.
    */
  def t18CharEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("n_codepoints"),
        col("entropy_microbits"), col("r_entropy"))

  /** Text quality features + composite score. */
  def t1TextStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withQualityFeatures(tbl(s, dir, "documents"))
      .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
        "mean_token_len", "quality_score")

  /** Language-ID heuristic — predicted language counts. */
  def t2LangId(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"))

  /** BPE-ish regex token counting. */
  def t3TokenCounts(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
      TextAnalysis.regexTokenCount(col("text")).cast("long").as("n_bpe_tokens"))

  /** Document fingerprinting (normalised digest). */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  /** Winnowing rolling fingerprints (one row per selected hash), with
    * the portable md5-derived hash so DuckDB reproduces every value.
    */
  def t5Winnowing(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowingFingerprints(tbl(s, dir, "documents"), "doc_id", "text",
        portableHash = true)
      .select(col("id").as("doc_id"), col("fp"))

  /** Gopher-style word-level repetition filters (exact integer ratios —
    * deterministic doubles).
    */
  def t6Repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRepetition(tbl(s, dir, "documents"))
      .select(col("id").as("doc_id"), col("top_word_frac"),
        col("top_bigram_frac"), col("dup_trigram_frac"))

  /** The full training-data preparation pipeline as ONE composed query —
    * every stage is an operator the catalog already verifies in
    * isolation: quality filter (t1's score ≥ 0.5) → PII scrub (t7) →
    * exact dedup on the scrubbed fingerprint (d1's key, min-id
    * canonical) → reproducible split (q_train_split's bucket) →
    * per-split doc/token counts. Narrow maps end-to-end except one
    * mergeable keep-canonical aggregate on the content fingerprint
    * (`Dedup.exactCanonicalRows` — partial min collapses a hot
    * fingerprint map-side; never a fingerprint-partitioned window,
    * which would funnel a viral duplicate through one task) and the
    * final 3-row aggregate.
    */
  def p1Pipeline(s: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.withQualityFeatures(tbl(s, dir, "documents"))
      .filter(col("quality_score") >= 0.5)
    val scrubbed = TextAnalysis.scrubPii(quality)
    // project to the dedup-relevant trio BEFORE the keep-canonical
    // aggregate: every row of a fingerprint shares the same scrubbed
    // text, so the token count is computed pre-dedup and the aggregate
    // sorts/shuffles ~24-byte rows instead of full documents (Catalyst
    // can't push this projection itself — the struct-min references
    // every input column)
    val slim = scrubbed.select(col("doc_id"),
      TextAnalysis.tokenCount(col("scrubbed")).cast("long").as("n_tok"),
      TextAnalysis.fingerprint(col("scrubbed")).as("__fp"))
    val canon = Dedup.exactCanonicalRows(slim, "doc_id", col("__fp"))
    val bucket = Sampling.bucket(col("doc_id"), 100)
    canon
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** P2 [EXT] — the modern pretraining-data recipe (RefinedWeb/FineWeb
    * shape) composed end-to-end from round-4/5 operators, each stage
    * independently oracle-verified elsewhere: Gopher hard gates (t12)
    * → linear-classifier filter (t16, vocab rebuilt on the gate
    * survivors) → exact-fingerprint dedup keeping the min-id canonical
    * (the skew-safe `Dedup.exactCanonicalRows` aggregate, not a
    * fingerprint window) → per-source domain cap (t11 machinery, ≤40)
    * → token-budget
    * prefix by classifier logit (t14 distributed prefix sum, 20k
    * tokens) → per-source summary. Every stage is integer/boolean/md5
    * deterministic, so the composition is hash-exact vs the stitched
    * SQL twin.
    */
  def p2Pipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    // persist the gate survivors ONCE: the classifier consumes this
    // relation twice (vocabulary census + scoring pass) and the join
    // below a third time — without the persist each consumer re-runs
    // the whole Gopher gate subtree over the corpus
    val gated = graft.ops.OpCaches.persist(
      TextAnalysis.gopherQualityFilter(docs).filter(col("keep"))
        .select(docs.columns.toIndexedSeq.map(col): _*))
    val scores = TextAnalysis.classifierScore(gated)
    val filtered = gated.join(
      scores.filter(col("pass")).select("doc_id", "n_tok", "logit_micro"), "doc_id")
    // same pre-dedup projection trick as p1: the canonical-row aggregate
    // only needs the columns the rest of the pipeline consumes
    val slim = filtered.select(
      col("doc_id"), col("source"), col("n_tok"), col("logit_micro"),
      TextAnalysis.fingerprint(col("text")).as("__fp"))
    val canon = Dedup.exactCanonicalRows(slim, "doc_id", col("__fp")).drop("__fp")
    // `capped` is consumed twice (the token-budget prefix sum AND the
    // final join) — persist or the whole gate→classifier→dedup→cap
    // chain runs twice
    val capped = graft.ops.OpCaches.persist(
      Sampling.domainCap(canon, "doc_id", "source", k = 40))
    val chosen = Sampling.tokenBudgetPrefix(
      capped.select(col("doc_id"), col("logit_micro"), col("n_tok")),
      "doc_id", "logit_micro", "n_tok", budget = 20000L)
    capped.join(chosen.select(col("id").as("doc_id")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("logit_micro")).as("sum_logit_micro"))
  }

  /** P3 [EXT] — the INCREMENTAL ingest pipeline, composed end-to-end:
    * an arriving batch (doc_id ≡ 0 mod 5) screens against history via
    * the d11 bloom-prefiltered EXACT screen (history scanned twice,
    * shuffled never), survivors pass the Gopher hard gates (t12) and
    * the PII scrub (t7), and the accepted intake summarises per
    * language. This is the shape a continuously-fed corpus runs every
    * batch: dedup against everything already ingested, gate, scrub,
    * account. Each stage inherits its standalone plan-asserted shape;
    * the summary's md5 content sum makes the whole composition
    * hash-checkable against a stitched SQL twin.
    */
  def p3IngestPipeline(s: SparkSession, dir: String): DataFrame = {
    val screened = Dedup.bloomScreenNew(tbl(s, dir, "documents"),
      "doc_id", "text", isNew = id => pmod(id, lit(5)) === 0)
    val gated = TextAnalysis.gopherQualityFilter(screened).filter(col("keep"))
    val scrubbed = TextAnalysis.scrubPii(gated)
    scrubbed.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("sum_tokens"),
      sum(col("n_pii")).as("sum_pii"),
      sum(conv(substring(md5(col("scrubbed")), 1, 10), 16, 10).cast("long"))
        .as("sum_scrub_h"))
  }

  /** Column profile of the events table (bigint/string columns — the
    * types whose min/max render identically in both engines).
    */
  def q_profile(s: SparkSession, dir: String): DataFrame =
    graft.analyse.Profiler.profile(tbl(s, dir, "events"),
      Seq("event_id", "user_id", "event_type", "props"))

  /** Q_HISTOGRAM [EXT] — equi-width price histogram (20 bins): money
    * quantised to cents through DECIMAL(18,2) so both engines bin with
    * identical long arithmetic; two mergeable aggregates, min/max
    * broadcast back.
    */
  def q_histogram(s: SparkSession, dir: String): DataFrame =
    graft.analyse.Profiler.histogram(tbl(s, dir, "lineitem"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
      bins = 20)

  /** Q_COHORT_RETENTION [EXT] — weekly cohort retention matrix over the
    * events table: users cohorted by first active week, counted per
    * week-offset they return (`ops.Funnel.cohortRetention`).
    */
  def q_cohortRetention(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.cohortRetention(tbl(s, dir, "events"))

  /** G2 [EXT] — triangle count over the supplier AFFINITY graph: each
    * supplier links to its 3 strongest co-purchase partners (most
    * shared customers, deterministic ties), which keeps the projection
    * SPARSE at every scale — an absolute shared-count threshold
    * degenerates to a complete graph on dense synthetic data (measured:
    * C(n,3) triangles, the wedge join at its worst). Counting runs
    * through the degree-oriented wedge join (`Graph.triangleCount`) —
    * every triangle generated exactly once from its orientation-minimal
    * apex, wedge volume Σ outdeg² instead of Σ deg². The oracle
    * brute-forces the u<v triangle join on the same edge set.
    */
  /** The g2/g3 fixture graph: top-3-partner supplier affinity edges
    * (directed u → its 3 strongest co-purchase partners).
    */
  private def affinityEdges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ords = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // persist the (customer, supplier) relation: BOTH self-join sides
    // read it (unpersisted, each side re-runs the fact join + distinct
    // and the pair join has to sort-merge two recomputed exchanges;
    // persisted, AQE sees the cached relation's true size and
    // broadcasts one side of the pair join — measured 3.6s → ~2.4s per
    // graph query at sf0.1, and at scale the fact join runs once, not
    // twice)
    val cs = graft.ops.OpCaches.persist(
      li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sk")).distinct())
    // the projection join is the op's real cost: compute each unordered
    // pair ONCE (u < v) and mirror the aggregate, instead of joining
    // both directions — halves the join volume and the aggregate state
    // (measured 6.7s → ~3.5s at sf0.1)
    val half = graft.ops.OpCaches.persist(
      cs.as("a").join(cs.as("b"),
          col("a.c") === col("b.c") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
        .agg(count(lit(1)).as("shared")))
    val shared = half.unionAll(
      half.select(col("v").as("u"), col("u").as("v"), col("shared")))
    // top-3 per u as a BOUNDED mergeable aggregate (TopKByWeightAgg):
    // the r12 collect_list + sort_array + slice form accumulated EVERY
    // candidate co-supplier per u in one aggregation buffer before the
    // slice — on a skewed 100 TB graph a hub node's whole adjacency
    // sits in a single ObjectHashAggregate entry (which does not spill
    // per-group) and every candidate crosses the exchange. The bounded
    // aggregator's partial keeps ≤3 entries per (u, map task), so the
    // plan shows partial_topkbyweightagg BEFORE the exchange and the
    // shuffle carries ≤3 (weight,id) pairs per node per task instead
    // of the full mirrored pair relation; reduce-side merge state is
    // ≤3 entries per node. Rank order (shared desc, v asc) is the same
    // total order; verified identical edges (OPTIMIZATION_r13.md §2),
    // time-neutral at sf0.1 (the win is state/shuffle bounds at scale).
    val top3 = graft.functions.TopKByWeightAgg(3)
    shared
      .groupBy(col("u"))
      .agg(top3(col("shared"), col("v")).as("top"))
      .select(col("u").as("src"), explode(col("top")).as("dst"))
  }

  def g2Triangles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleCount(affinityEdges(s, dir))

  /** G3 [EXT] — multi-source BFS reachability (`Graph.kHop`): minimum
    * hop counts within 3 hops of the seed suppliers (suppkey ≡ 0
    * mod 50) along the directed affinity edges, reported as nodes per
    * hop ring. The oracle unrolls the three frontier expansions with
    * the same anti-join pruning.
    */
  def g3KHop(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.ops.OpCaches.persist(affinityEdges(s, dir))
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val seeds = nodes.filter(pmod(col("node"), lit(50L)) === 0)
    graft.ops.Graph.kHop(edges, seeds, maxHops = 3)
      .groupBy("hop").agg(count(lit(1)).as("n_nodes"))
  }

  /** G4 [EXT] — weakly connected components of the supplier affinity
    * graph as a first-class graph query: `Dedup.clusters` (the
    * guarded union-find / label-propagation chooser that powers
    * d7/d12) labels every node with its component-min id, then a
    * per-component size census. The oracle replays the affinity
    * projection and resolves components with a recursive reach CTE
    * (the d7 recipe).
    */
  def g4Components(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.clusters(affinityEdges(s, dir), "src", "dst")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_nodes"))

  /** Q_TREND [EXT] — Mann–Kendall monotone-trend test over daily
    * purchase volume (`TimeSeries.mannKendall`): integer S statistic
    * from the calendar-bounded bucket self-join, tie-corrected
    * variance ×18 kept integral, and the two-sided α = 0.05 verdict
    * as the squared inequality `11250·S² ≥ 2401·σ²·18` — the
    * monitoring question ("is volume drifting up?") answered with no
    * floats and no p-value tables.
    */
  def qTrend(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.mannKendall(
      tbl(s, dir, "events").filter(col("event_type") === "purchase"), "ts")

  /** Q_SRM [EXT] — sample-ratio-mismatch audit (`Experiment.srmCheck`):
    * the md5-coin cohorts of the q_ab_chisq experiment checked against
    * their designed 50/50 split with the exact χ²(1) polynomial
    * `1000·(n_a−n_b)² ≥ 3841·n` in DECIMAL(38,0) — the gate a trusted
    * experimentation platform runs BEFORE reading any metric.
    */
  def qSrm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.srmCheck(tbl(s, dir, "events"))

  /** Q_BOOTSTRAP_CI [EXT] — deterministic Poisson bootstrap CI for
    * mean customer spend (`Experiment.bootstrapCiMean`): B = 40
    * replicas weight each customer by a Poisson(1) draw taken from
    * the portable md5 coin (per-mille bucket vs the exact pmf prefix),
    * replica means are integers, and the CI is the order statistics
    * at ranks 2 / B−1 — a bit-reproducible bootstrap the oracle
    * replays weight-for-weight.
    */
  def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey").as("k"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("x"))
    graft.ops.Experiment.bootstrapCiMean(spend, "k", "x")
  }

  /** Q_BASKET_RULES [EXT] — association rules on the q_basket_pairs
    * itemsets: per-direction confidence (per-mille) and lift (ppm, in
    * DECIMAL(38,0) — support·n_baskets·10⁶ overflows a long at scale),
    * top-20 by lift. The A-priori prefilter keeps the pair self-join
    * over frequent items only; supports and the basket total are
    * mergeable aggregates; the final cut is TakeOrderedAndProject.
    */
  def qBasketRules(s: SparkSession, dir: String): DataFrame = {
    val minSupport = 3L
    val items = graft.ops.OpCaches.persist(
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
    val nBaskets = broadcast(
      items.select("o").distinct().agg(count(lit(1)).as("n_baskets")))
    val sup = graft.ops.OpCaches.persist(
      items.groupBy("p").agg(count(lit(1)).as("sup")))
    val frequent = sup.filter(col("sup") * 2 >= minSupport)
    val filtered = items.join(broadcast(frequent.select("p")), "p")
    val pairs = filtered.as("a").join(filtered.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("part_a"), col("b.p").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(sup.select(col("p").as("part_a"), col("sup").as("sup_a")), "part_a")
      .join(sup.select(col("p").as("part_b"), col("sup").as("sup_b")), "part_b")
      .crossJoin(nBaskets)
      .select(col("part_a"), col("part_b"), col("support"),
        col("sup_a"), col("sup_b"),
        expr("(support * 1000) DIV sup_a").as("conf_a2b_pm"),
        expr("(support * 1000) DIV sup_b").as("conf_b2a_pm"),
        expr("""CAST((CAST(support AS DECIMAL(38,0)) * n_baskets * 1000000)
               |     DIV (CAST(sup_a AS DECIMAL(38,0)) * sup_b) AS BIGINT)"""
          .stripMargin).as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Q_FUNNEL_WINDOW [EXT] — the q_funnel stages under a 3-day
    * max-gap deadline (`Funnel.windowedStageCounts`): click within 3
    * days of a view, purchase within 3 days of THAT click. Exact
    * existence semantics via the two-slot reachability DP (greedy
    * earliest-chain is provably wrong under deadlines — see the op
    * doc); the oracle is the equivalent per-stage EXISTS chain.
    */
  def qFunnelWindow(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.windowedStageCounts(tbl(s, dir, "events"),
      "user_id", "event_type", "ts",
      stages = Seq("view", "click", "purchase"), maxGapSec = 3L * 86400,
      names = Seq("n_view", "n_click_3d", "n_purchase_3d"))

  /** O39 [EXT] — subject-access-request export (GDPR Art. 15), the
    * privacy-toolkit twin of o34's right-to-be-forgotten: every row
    * holding a subject's data across the FK-linked tables
    * (customer → orders → lineitem), normalised to one
    * `(table_name, row_pk, subject_key, column_name, value)` entity
    * dump a DPO can hand over. Values render through the same
    * engine-portable forms the dump codec uses (DECIMAL(18,2) for
    * money, ISO dates); subjects here are `c_custkey ≡ 7 (mod 1000)`.
    *
    * Scale shape: the subject set is tiny by contract (a SAR names
    * people, not cohorts) — it BROADCASTS to orders, the matched
    * order keys broadcast to lineitem (two broadcast equi-joins, the
    * fact tables never shuffle), and the unpivot is a narrow `stack`.
    */
  def o39SubjectExport(s: SparkSession, dir: String): DataFrame = {
    val subj = tbl(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(1000L)) === 7)
    val cust = subj.select(
      lit("customer").as("table_name"),
      col("c_custkey").cast("string").as("row_pk"),
      col("c_custkey").as("subject_key"),
      expr("""stack(4,
             |  'c_name', c_name,
             |  'c_nationkey', CAST(c_nationkey AS STRING),
             |  'c_acctbal', CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING),
             |  'c_mktsegment', c_mktsegment) AS (column_name, value)"""
        .stripMargin))
    val sOrders = graft.ops.OpCaches.persist(
      tbl(s, dir, "orders").join(broadcast(subj.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey")))
    val ords = sOrders.select(
      lit("orders").as("table_name"),
      col("o_orderkey").cast("string").as("row_pk"),
      col("o_custkey").as("subject_key"),
      expr("""stack(3,
             |  'o_orderstatus', o_orderstatus,
             |  'o_totalprice', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING),
             |  'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS STRING))
             |  AS (column_name, value)""".stripMargin))
    val li = tbl(s, dir, "lineitem")
      .join(broadcast(sOrders.select(col("o_orderkey").as("so"),
          col("o_custkey").as("sk"))),
        col("l_orderkey") === col("so"))
      .select(
        lit("lineitem").as("table_name"),
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")).as("row_pk"),
        col("sk").as("subject_key"),
        expr("""stack(3,
               |  'l_partkey', CAST(l_partkey AS STRING),
               |  'l_quantity', CAST(CAST(l_quantity AS DECIMAL(18,2)) AS STRING),
               |  'l_extendedprice', CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING))
               |  AS (column_name, value)""".stripMargin))
    cust.unionByName(ords).unionByName(li)
  }

  /** T26 [EXT] — RAG chunk table (`TextAnalysis.chunks`): overlapping
    * 64-token windows at stride 48 with 0-based offsets and the
    * portable md5-prefix content fingerprint — a pure narrow map
    * (zero shuffle at any corpus size); the oracle re-derives every
    * window and hash.
    */
  def t26Chunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunks(tbl(s, dir, "documents"))

  /** T27 [EXT] — green-list watermark audit
    * (`TextAnalysis.watermarkAudit`): per-document green-token count
    * under the md5 coin with the exact χ²(1) flag
    * `1000·(2g−n)² ≥ 3841·n` — the detection side of green/red LLM
    * watermarking, zero-shuffle narrow map; the oracle replays coin
    * and verdict bit-for-bit.
    */
  def t27Watermark(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.watermarkAudit(tbl(s, dir, "documents"))

  /** T28 [EXT] — tokenizer fertility by language: the t24 BPE
    * accounting aggregated per `lang` — BPE tokens per pre-token and
    * chars per BPE token in per-mille, THE cross-lingual tokenizer
    * health metric (a language with high fertility is under-served by
    * the vocabulary). Encoding stays a vocabulary-scale computation
    * (t24); this adds one mergeable per-lang aggregate.
    */
  def t28Fertility(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    TextAnalysis.bpeEncode(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_pretokens").as("n_pretokens"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        sum("n_chars").as("n_chars"))
      .withColumn("fertility_pm",
        when(col("n_pretokens") > 0,
          expr("(n_bpe_tokens * 1000) DIV n_pretokens")))
      .withColumn("chars_per_tok_pm",
        when(col("n_bpe_tokens") > 0,
          expr("(n_chars * 1000) DIV n_bpe_tokens")))
  }

  /** S17 [EXT] — all-corpus kNN GRAPH (`Similarity.knnGraph`): every
    * vector's top-10 via LSH bucket SELF-joins (3 independent tables,
    * 3 bits) — no broadcast of the corpus, no cross join, candidate
    * volume Σ|bucket|² instead of n². Catalog contract = the s2-style
    * recall verdict on the sampled nodes (vec_id < 10) against the
    * exact brute-force top-10; raw recall is asserted in the suite.
    */
  def s17KnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    // 4 hyperplane tables (round-10 retune from 3, MEASUREMENTS.md round
    // 10: min recall 0.40/0.40/0.50 across SFs vs 0.30/0.20/0.40 — one more
    // table buys the floor up to 0.35 for +1/3 bucket-join volume)
    val graph = Similarity.knnGraph(emb, k = 10, bits = 3, tables = 4)
    recallVerdict(emb, emb.filter(col("vec_id") < 10),
      graph.select(col("src").as("query_id"), col("dst").as("neighbor_id")), 0.35)
  }

  /** Q_CONFORMAL [EXT] — split-conformal prediction interval
    * (`Experiment.splitConformal`): per-event-type integer mean fit on
    * the calibration half (event_id ≡ 0 mod 2), nonconformity
    * `|cents − pred|`, q̂ at α = 0.1 from the score-domain prefix sum,
    * coverage audited on the held-out half — the distribution-free
    * model-eval wrapper, bit-portable end to end.
    */
  def qConformal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.splitConformal(tbl(s, dir, "events"),
      "event_type",
      (col("value").cast("decimal(18,2)") * 100).cast("long"),
      pmod(col("event_id"), lit(2L)) === 0, alphaPm = 100)

  /** Q_DID [EXT] — difference-in-differences
    * (`Experiment.diffInDiff`): md5-coin treatment, mid-month cutoff,
    * per-cell integer means in cents, DiD as the double difference —
    * the quasi-experimental estimator with every number exact.
    */
  def qDid(s: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.diffInDiff(tbl(s, dir, "events"),
      "user_id", "ts",
      (col("value").cast("decimal(18,2)") * 100).cast("long"),
      cutoff = "2024-01-16 00:00:00")

  /** Q_RFM [EXT] — RFM customer segmentation: recency (days since
    * last order vs the global max date), frequency (order count) and
    * monetary (spend cents) each quintile-scored 1–5 by GLOBAL rank
    * via the t14 distributed prefix sum (three chained runningTotals —
    * never a partitionless window), then the classic 125-cell segment
    * census. Score = `((i−1)·5) div n + 1` ascending (recency
    * reversed so 5 = most recent); ties broken by customer key, so
    * both engines bucket identically.
    */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val per = tbl(s, dir, "orders")
      .groupBy(col("o_custkey").as("k"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("f"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("m"))
    val tot = broadcast(
      per.agg(count(lit(1)).as("n"), max("last_d").as("gmax")))
    val base = per.crossJoin(tot)
      .withColumn("r_days", datediff(col("gmax"), col("last_d")))
      .withColumn("__one", lit(1L))
    val s1 = graft.ops.Sampling.runningTotal(base,
      Seq(col("r_days"), col("k")), "__one")
      .withColumnRenamed("running_total", "ir")
    val s2 = graft.ops.Sampling.runningTotal(s1,
      Seq(col("f"), col("k")), "__one")
      .withColumnRenamed("running_total", "if_")
    val s3 = graft.ops.Sampling.runningTotal(s2,
      Seq(col("m"), col("k")), "__one")
      .withColumnRenamed("running_total", "im")
    s3.select(
        expr("5 - ((ir - 1) * 5) DIV n").as("r_score"),
        expr("((if_ - 1) * 5) DIV n + 1").as("f_score"),
        expr("((im - 1) * 5) DIV n + 1").as("m_score"),
        col("m"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), sum("m").as("monetary_cents"))
  }

  /** O40 [EXT] — retention-policy audit, the MINIMISER's scheduled
    * sweep as a dry-run preview (o21's posture applied to a date
    * policy): orders older than the cutoff expire, their lineitems
    * CASCADE (the o34/Topo FK direction), referenced dimensions are
    * retained. Per table: total, expired, retained counts. The
    * lineitem expiry flag rides a key-sized equi join on the expired
    * order keys — the fact table scans once and never shuffles more
    * than that join.
    */
  def o40RetentionAudit(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01 00:00:00").cast("timestamp")
    val orders = tbl(s, dir, "orders")
    val ordersRow = orders
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderdate") < cutoff, 1L).otherwise(0L))
          .as("n_expired"))
      .select(lit("orders").as("table_name"), col("n_rows"), col("n_expired"))
    val liRow = tbl(s, dir, "lineitem").select(col("l_orderkey"))
      .join(orders.filter(col("o_orderdate") < cutoff)
          .select(col("o_orderkey").as("l_orderkey"), lit(1L).as("__e")),
        Seq("l_orderkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("__e"), lit(0L))).as("n_expired"))
      .select(lit("lineitem").as("table_name"), col("n_rows"), col("n_expired"))
    val custRow = tbl(s, dir, "customer")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("customer").as("table_name"), col("n_rows"),
        lit(0L).as("n_expired"))
    ordersRow.unionByName(liRow).unionByName(custRow)
      .withColumn("n_retained", col("n_rows") - col("n_expired"))
  }

  /** ST20 [EXT] — streaming RAG chunking (`TextAnalysis.chunks`, which
    * takes a streaming frame as it is; stream == batch asserted in
    * StreamingSpec): the t26 chunk table as a STATELESS streaming
    * projection — non-overlapping 32-token windows, the indexing-feed
    * shape.
    */
  def st20Chunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunks(tbl(s, dir, "documents"), size = 32, stride = 32)

  /** G5 [EXT] — local clustering coefficient per supplier
    * (`Graph.clusteringCoefficient`): per-node triangle tallies from
    * the g2 degree-oriented wedge join, `2T/(deg(deg−1))` in integer
    * per-mille, NULL below degree 2. The oracle brute-forces the
    * triangle join and the three-corner tally on the same edge set.
    */
  def g5Clustering(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.clusteringCoefficient(affinityEdges(s, dir))

  /** O41 [EXT] — format-preserving consistent pseudonymisation
    * (`Anonymiser.formatPreserving`): digits→digits, letters→case-
    * preserving letters, punctuation fixed — the masking that keeps
    * format validators and fixed-width parsers working; shifts are
    * md5-bucketed per (key, position, whole value), so the o11
    * consistency contract holds with zero state and the oracle
    * replays every character.
    */
  def o41Fpe(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(col("c_custkey"),
      Anonymiser.formatPreserving(col("c_name")).as("name_pseud"))

  /** Q_POWER [EXT] — A/B power analysis (`Experiment.powerMde`): the
    * minimum detectable effect of the running experiment at α = 0.05 /
    * power 0.8, emitted SQUARED in per-mille² so no √ ever evaluates
    * (28016²/10⁸ is the exact z-sum rational), plus the
    * `obs_diff_pm² ≥ mde_pm2` "big enough for what it saw" verdict —
    * the design-side complement of q_ab_chisq.
    */
  def qPower(s: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.powerMde(tbl(s, dir, "events"))

  /** Q_RETURNED_ITEMS [EXT] — the TPC-H Q10 revenue-at-risk shape:
    * per-customer revenue lost to returned lineitems, exact to the
    * micro-dollar (`cents × (10000 − discount_bp)` summed in
    * DECIMAL(38,0) — no float money anywhere), top-20 by lost revenue
    * via TakeOrderedAndProject. The return-flag filter pushes into
    * the lineitem scan.
    */
  def qReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"),
        (col("l_discount").cast("decimal(6,4)") * 10000)
          .cast("long").as("bp"))
    li.join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum((col("cents") * (lit(10000L) - col("bp")))
          .cast("decimal(38,0)")).as("rev_d"),
        count(lit(1)).as("n_items"))
      .select(col("o_custkey"), col("rev_d").cast("long").as("lost_rev_micro"),
        col("n_items"))
      .orderBy(col("lost_rev_micro").desc, col("o_custkey"))
      .limit(20)
  }

  /** Q_LARGE_ORDERS [EXT] — the TPC-H Q18 large-volume-order shape:
    * orders whose total quantity exceeds 200 units, quantity exact in
    * hundredths, top-20 by volume. One join, one mergeable aggregate,
    * a HAVING filter, TakeOrderedAndProject.
    */
  def qLargeOrders(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_quantity").cast("decimal(18,2)") * 100)
          .cast("long").as("q100"))
      .join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"))
      .agg(sum("q100").as("total_qty_x100"), count(lit(1)).as("n_items"))
      .filter(col("total_qty_x100") > 20000L)
      .orderBy(col("total_qty_x100").desc, col("o_orderkey"))
      .limit(20)

  /** Q_ABN_CHISQ [EXT] — A/B/n conversion homogeneity
    * (`Experiment.abnChisq`, k = 4 md5-coin variants): the χ²
    * homogeneity test WITH per-variant diagnostics — each arm's
    * contribution `Dᵢ²/(nᵢ·C·(N−C))` in deterministic truncated ppm,
    * the verdict against χ²₀.₉₅,₃·10⁶. Shows WHICH variant deviates,
    * not just that something does.
    */
  def qAbnChisq(s: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.abnChisq(tbl(s, dir, "events"))

  /** Q_COHORT_LTV [EXT] — cumulative revenue per signup cohort over
    * weeks since signup (`Funnel.cohortLtv`): the growth-team
    * triangle table, cents-exact, cumulative via a cohort-keyed
    * calendar-bounded window, per-user LTV by truncating division.
    */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.cohortLtv(tbl(s, dir, "events"),
      valueCents = (col("value").cast("decimal(18,2)") * 100).cast("long"))

  /** Q_FORECAST_BACKTEST [EXT] — seasonal-naive forecast backtest
    * (`TimeSeries.seasonalNaiveBacktest`): predict each day's volume
    * with the same weekday last week, score integer MAE and WAPE
    * per-mille — the baseline any forecasting deployment must beat,
    * computed entirely on the calendar-bounded daily aggregate.
    */
  def qForecastBacktest(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.seasonalNaiveBacktest(tbl(s, dir, "events"), "ts")

  /** ST21 [EXT] — streaming watermark screen (`TextAnalysis.watermarkAudit`,
    * which takes a streaming frame as it is; stream == batch asserted in
    * StreamingSpec): the t27 audit as an alerting feed — only flagged
    * documents are emitted, stateless.
    */
  def st21WatermarkScreen(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.watermarkAudit(tbl(s, dir, "documents")).filter(col("flagged"))

  /** P6 [EXT] — the RAG INDEXING pipeline composed end-to-end: length
    * gate → 32-token chunking (t26) → exact chunk-level dedup (min
    * (doc, idx) canonical per content fingerprint — boilerplate
    * collapses at CHUNK granularity, which document-level dedup
    * structurally misses) → lexical retrieval for a query set (the s14
    * lexical side at chunk granularity): distinct-token overlap,
    * top-3 chunks per query. Every stage deterministic, so the whole
    * composition is hash-exact against the stitched SQL twin.
    *
    * Scale shape: chunking is a narrow map; the dedup is ONE
    * fp-keyed mergeable min-struct; chunk tokens re-slice from the
    * gated docs through an equi join; the query side broadcasts
    * (queries are constant-bounded); the final cut is a per-query
    * window over the overlap counts.
    */
  def p6RagPipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = tbl(s, dir, "documents")
    val tk = TextAnalysis.tokens(col("text"))
    val gated = graft.ops.OpCaches.persist(
      docs.filter(size(tk).between(50, 5000))
        .select(col("doc_id"), tk.as("tk")))
    val chunks = TextAnalysis.chunks(
      docs.filter(size(tk).between(50, 5000)), size = 32, stride = 32)
    val canon = chunks.groupBy("chunk_fp")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.chunk_idx").as("chunk_idx"))
    val ct = canon.join(gated, "doc_id")
      .select(col("doc_id"), col("chunk_idx"),
        explode(array_distinct(slice(col("tk"),
          (col("chunk_idx") * 32 + 1).cast("int"), lit(32)))).as("token"))
    val qt = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(tk)).as("token"))
    val overlap = ct.join(broadcast(qt), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id", "chunk_idx")
      .agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_shared").desc, col("doc_id"), col("chunk_idx"))
    overlap.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_idx"),
        col("n_shared"))
  }

  /** O42 [EXT] — data-minimisation audit
    * (`Profiler.minimisationAudit`): per column, null saturation /
    * cardinality / modal share with the `drop_candidate` flag — the
    * GDPR minimisation principle as a mechanical report over portable
    * value renderings. One (column, value)-keyed shuffle per table.
    */
  def o42Minimisation(s: SparkSession, dir: String): DataFrame = {
    val cust = graft.analyse.Profiler.minimisationAudit(
      tbl(s, dir, "customer"), "customer", Seq(
        "c_name" -> col("c_name"),
        "c_nationkey" -> col("c_nationkey").cast("string"),
        "c_mktsegment" -> col("c_mktsegment"),
        "c_acctbal" -> col("c_acctbal").cast("decimal(18,2)").cast("string")))
    val ords = graft.analyse.Profiler.minimisationAudit(
      tbl(s, dir, "orders"), "orders", Seq(
        "o_orderstatus" -> col("o_orderstatus"),
        "o_orderpriority" -> col("o_orderpriority")))
    cust.unionByName(ords)
  }

  /** Q_CORPUS_REPORT [EXT] — the one-row corpus health dashboard a
    * data curator reads before anything trains: doc and token volume,
    * exact-dup rate (d1 fingerprints), language spread with the top
    * language's share, mean document length, and the watermark-flag
    * count — each number a single-row mergeable aggregate, stitched
    * with scalar broadcast crosses (gate-safe by construction).
    */
  def qCorpusReport(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val tk = TextAnalysis.tokens(col("text"))
    val base = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tk).cast("long")).as("total_tokens"))
    val uniq = docs.agg(
      countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique_docs"))
    val langs = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("lang"))).as("m"))
      .select(col("n_langs"), col("m.lang").as("top_lang"),
        col("m.c").as("__top_c"))
    val wm = TextAnalysis.watermarkAudit(docs)
      .agg(sum(when(col("flagged"), 1L).otherwise(0L))
        .as("n_watermark_flagged"))
    base.crossJoin(broadcast(uniq)).crossJoin(broadcast(langs))
      .crossJoin(broadcast(wm))
      .select(col("n_docs"), col("total_tokens"), col("n_unique_docs"),
        expr("((n_docs - n_unique_docs) * 1000) DIV n_docs").as("dup_rate_pm"),
        expr("total_tokens DIV n_docs").as("mean_doc_tokens"),
        col("n_langs"), col("top_lang"),
        expr("(__top_c * 1000) DIV n_docs").as("top_lang_share_pm"),
        col("n_watermark_flagged"))
  }

  /** Q_BASKET_PAIRS [EXT] — frequent-itemset pair mining (the A-priori
    * first join): parts bought together in one order, top-20 pairs by
    * support. The A-priori downward-closure prefilter does the scale
    * work: items below half the pair minimum support CANNOT form a
    * frequent pair, so they drop BEFORE the pair self-join — the
    * candidate volume Σ basket² runs over filtered baskets only. Pair
    * generation is an order-keyed self-join (a < b), bounded by basket
    * size, never a corpus cross join; counts are one mergeable
    * aggregate and the final cut is TakeOrderedAndProject.
    */
  def q_basketPairs(s: SparkSession, dir: String): DataFrame = {
    val minSupport = 3L
    // persisted: the frequency census reads it once and the pair
    // self-join reads it twice more — unpersisted, each consumer
    // re-runs the lineitem scan + distinct (the q_basket_rules persist
    // discipline applied here too)
    val items = graft.ops.OpCaches.persist(tbl(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
    val frequent = items.groupBy("p").agg(count(lit(1)).as("sup"))
      .filter(col("sup") * 2 >= minSupport)
    val filtered = items.join(broadcast(frequent.select("p")), "p")
    val pairs = filtered.as("a").join(filtered.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("part_a"), col("b.p").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs.orderBy(col("support").desc, col("part_a"), col("part_b")).limit(20)
  }

  /** Q_TIME_WEIGHTED [EXT] — time-weighted average value per user over
    * the irregular event series (the TWAP primitive): each observation
    * weights by its holding interval to the next same-user event. ALL
    * integer: values quantise to cents, intervals to whole seconds,
    * and the average emits in 10⁻⁴-dollar units via truncating
    * division — a decimal→double cast at the end was measured to
    * differ between engines in the last ulp (the two engines round
    * wide decimals to double through different paths), so no float
    * ever appears.
    */
  def q_timeWeighted(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val withNext = tbl(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("t", expr("unix_micros(ts) DIV 1000000"))
      .withColumn("nt", lead(col("t"), 1).over(byUser))
      .filter(col("nt").isNotNull)
      .withColumn("dt", col("nt") - col("t"))
      .withColumn("cents", (col("value").cast("decimal(18,2)") * 100).cast("long"))
    withNext.groupBy("user_id")
      .agg(sum(col("cents") * col("dt")).as("wsum"), sum(col("dt")).as("tspan"))
      .filter(col("tspan") > 0)
      .select(col("user_id"),
        expr("(wsum * 100) DIV tspan").as("twa_e4"),
        col("tspan").as("span_seconds"))
  }

  /** Q_CHANGEPOINT [EXT] — CUSUM drift detection over daily event
    * volume (`ops.TimeSeries.cusumChangepoints`): the sequential
    * recurrence replaced exactly by the prefix-min identity, integer
    * micro-scaled so both engines agree bit-for-bit.
    */
  def q_changepoint(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.cusumChangepoints(tbl(s, dir, "events"), "ts", "day")

  /** Deequ-style expectations over the fixture: completeness,
    * uniqueness, domain membership, a row invariant, an array-dim
    * contract, and orders→customer referential integrity — single-scan
    * rule aggregates plus one key-sized anti join.
    */
  def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.analyse.Expectations._
    val docs = evaluate(tbl(s, dir, "documents"), "documents", Seq(
      notNull("doc_id"), unique("doc_id"), notNull("text"),
      inSet("lang", Seq("en", "de", "fr", "es", "zh")),
      satisfies("chars_match", "n_chars", col("n_chars") === length(col("text")))))
    val emb = evaluate(tbl(s, dir, "embeddings"), "embeddings", Seq(
      notNull("vec_id"), unique("vec_id"),
      satisfies("dim_64", "embedding", size(col("embedding")) === 64)))
    val ri = refIntegrity(tbl(s, dir, "orders"), "o_custkey",
      tbl(s, dir, "customer"), "c_custkey", "orders")
    docs.unionAll(emb).unionAll(ri)
  }

  /** CDC changelog application over the customer snapshot: updates,
    * deletes, inserts, and a two-step same-key update proving
    * latest-seq-wins. The changelog is derived deterministically from
    * the snapshot itself (key mod 10) so both engines build the
    * identical increment.
    */
  def q_cdcApply(s: SparkSession, dir: String): DataFrame = {
    val snap = tbl(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    def m(r: Int) = snap.filter(pmod(col("c_custkey"), lit(10)) === r)
    val changes =
      m(0).select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
          lit(1L).as("seq"), lit("U").as("op"))
        .unionByName(m(1).select(col("c_custkey"),
          lit(null).cast("double").as("c_acctbal"), lit(1L).as("seq"), lit("D").as("op")))
        .unionByName(m(2).select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit(42.0).as("c_acctbal"), lit(1L).as("seq"), lit("I").as("op")))
        .unionByName(m(3).select(col("c_custkey"), lit(1.0).as("c_acctbal"),
          lit(1L).as("seq"), lit("U").as("op")))
        .unionByName(m(3).select(col("c_custkey"), lit(2.0).as("c_acctbal"),
          lit(2L).as("seq"), lit("U").as("op")))
    Cdc.applyChangelog(snap, changes, "c_custkey")
  }

  /** SCD Type-2 dimension history via `Cdc.scd2Merge`: current customer
    * balances as the version-0 dim, a same-point correction wave
    * (eff 0, keys %25==0 — exercises change-wins-over-dim) and two
    * later change waves (eff 1 for %10==0, eff 2 for %20==0), merged
    * into validity intervals. Balances ride DECIMAL(12,2) through the
    * arithmetic and render to DOUBLE at the end (oracle-exact).
    */
  def q_scd2(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal").cast("decimal(12,2)").as("bal"))
    def wave(mod: Int, eff: Long, newBal: Column) =
      cust.filter(pmod(col("c_custkey"), lit(mod)) === 0)
        .select(col("c_custkey"), newBal.cast("decimal(12,2)").as("bal"),
          lit(eff).as("eff"))
    val dim = cust.withColumn("eff", lit(0L))
    val changes =
      wave(25, 0L, lit(java.math.BigDecimal.ZERO))
        .unionByName(wave(10, 1L, col("bal") + lit(50)))
        .unionByName(wave(20, 2L, col("bal") + lit(100)))
    Cdc.scd2Merge(dim, changes, "c_custkey", "eff")
      .select(col("c_custkey"), col("bal").cast("double").as("bal"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Skew-safe salted fact⊳dim join: lineitem×supplier through
    * `Skew.saltedJoin` (every supplier is "hot" at the fixture's
    * threshold, so the salted path actually exercises), aggregated per
    * nation. Output equals the plain join (also spec-asserted directly).
    */
  def q_skewJoin(s: SparkSession, dir: String): DataFrame = {
    val sup = tbl(s, dir, "supplier")
      .withColumnRenamed("s_suppkey", "l_suppkey")
      .select("l_suppkey", "s_nationkey")
    Skew.saltedJoin(tbl(s, dir, "lineitem"), sup, "l_suppkey",
        numSalts = 8, hotKeyThreshold = 100, maxHotKeys = 10000)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** Stratified sample for a training mix: per-language keep rates
    * (per-mille) applied via the portable md5 bucket, summarised as
    * (lang, n_total, n_sampled, tokens_sampled). The mix up-weights
    * en and down-weights zh the way a pre-training data recipe does.
    */
  def q_stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val mix = Map("en" -> 500, "de" -> 250, "fr" -> 125, "es" -> 63, "zh" -> 32)
    Sampling.withSampleFlag(tbl(s, dir, "documents"), "doc_id", "lang", mix)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("sampled"), lit(1))).as("n_sampled"),
        sum(when(col("sampled"), TextAnalysis.tokenCount(col("text")).cast("long"))
          .otherwise(lit(0L))).as("tokens_sampled"))
  }

  /** Deterministic epoch upsampling for a training mix — per-source
    * fractional-epoch weights (the LLaMA-recipe sampling-proportion
    * shape): heavy sources repeat 2.5×, mid 1×, light 0.7×, tail 0.25×,
    * every repeat tagged with a 1-based copy index. Full repeated rows
    * verified (not just counts), so the oracle pins both the
    * multiplicity arithmetic and the copy numbering.
    */
  def qUpsampleMix(s: SparkSession, dir: String): DataFrame = {
    val weights =
      (0 to 4).map(i => s"src$i" -> 2500).toMap ++
      (5 to 9).map(i => s"src$i" -> 1000).toMap ++
      (10 to 14).map(i => s"src$i" -> 700).toMap ++
      (15 to 19).map(i => s"src$i" -> 250).toMap
    Sampling.upsampleByWeight(
      tbl(s, dir, "documents").select("doc_id", "source"),
      "doc_id", "source", weights, defaultPerMille = 0)
      .select(col("doc_id"), col("source"), col("copy").cast("long").as("copy"))
  }

  /** Weighted sample (Efraimidis–Spirakis A-ES) of 100 documents with
    * probability ∝ document length — the soft quality-upweighting
    * primitive of a training-mix recipe. Deterministic via the portable
    * hash + quantised-key ranking, so the oracle selects the identical
    * set; distributed as a TakeOrderedAndProject top-k.
    */
  def q_weightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            (length(col("text")) + lit(1)).cast("double").as("wt")),
        "doc_id", "wt", k = 100)
      .select(col("doc_id"), col("lang"), col("wt"))

  /** Approximate heavy hitters via a mergeable Misra–Gries sketch
    * (`functions.MisraGriesAgg`, budget 64): at 100 TB the sketch pass
    * is the ONLY pass — bounded state per partition, one aggregate
    * shuffle of sketch-sized rows. Here the query also runs the exact
    * counts and emits the MG *guarantee* as a deterministic verdict
    * row (every token with frequency > n/(budget+1) is in the sketch;
    * sketch size ≤ budget) — the guarantee holds for ANY merge order,
    * which is what makes a nondeterministically-merged cluster
    * computation oracle-checkable (the s2 recall-verdict pattern).
    */
  def q_approxTopk(s: SparkSession, dir: String): DataFrame = {
    val budget = 64
    val toks = graft.ops.Partitioning.ensureParallelism(
        tbl(s, dir, "documents").select(col("text")))
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val sketch = toks.agg(
      graft.functions.MisraGriesAgg.column(col("token"), budget).as("mg"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val stats = exact.agg(sum(col("cnt")).as("n")).crossJoin(sketch)
    exact.crossJoin(broadcast(stats))
      .filter(col("cnt").cast("double") >
        col("n").cast("double") / lit((budget + 1).toDouble))
      .select(col("token"), map_contains_key(col("mg"), col("token")).as("found"),
        (size(map_keys(col("mg"))) <= budget).as("size_ok"))
      .agg(count(lit(1)).as("n_heavy"),
        // bool_and over zero rows is NULL; a heavy-hitter-free corpus
        // (nothing above n/65) must still read as a satisfied guarantee
        coalesce(bool_and(col("found")), lit(true)).as("all_heavy_in_sketch"),
        coalesce(bool_and(col("size_ok")), lit(true)).as("sketch_within_budget"))
  }

  /** Count–min sketch frequency estimates, verdict-checked: Spark's
    * mergeable `count_min_sketch` (fixed seed) estimates the count of
    * each of the top-20 tokens; a CMS never undercounts, and with
    * depth-many independent rows each estimate stays within ε·N with
    * confidence 1−δ. Both properties are checked against the exact
    * counts and emitted as a deterministic verdict row (the sketch's
    * raw counters depend on merge order; the GUARANTEE does not — the
    * q_approx_topk recipe). At 100 TB the sketch pass is the only
    * pass; the exact side exists to check the guarantee.
    */
  def q_approxCms(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.ops.OpCaches.persist(
      graft.ops.Partitioning.ensureParallelism(
          tbl(s, dir, "documents").select(col("text")))
        .select(explode(TextAnalysis.tokens(col("text"))).as("token")))
    val skBytes = toks
      .agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]](0)
    val bc = s.sparkContext.broadcast(
      org.apache.spark.util.sketch.CountMinSketch.readFrom(skBytes))
    val est = udf((t: String) => bc.value.estimateCount(t))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val stats = exact.agg(sum(col("cnt")).as("n"))
    exact.orderBy(col("cnt").desc, col("token")).limit(20)
      .withColumn("est", est(col("token")))
      .crossJoin(broadcast(stats))
      .agg(count(lit(1)).as("n_checked"),
        coalesce(bool_and(col("est") >= col("cnt")), lit(true))
          .as("never_undercounts"),
        coalesce(bool_and(col("est") <= col("cnt")
            + ceil(col("n").cast("double") * 0.001).cast("long")), lit(true))
          .as("all_within_eps"))
  }

  /** Approximate median via Spark's mergeable Greenwald–Khanna quantile
    * sketch (`percentile_approx`, accuracy 100 ⇒ rank error ≤ 1%).
    * Like `q_approx_topk`, the sketch value itself depends on merge
    * order, but its GUARANTEE does not — so the query emits a verdict:
    * the number of rows ≤ the approximate median must sit within the
    * rank-error band around n/2 (±2% for tie slack). At 100 TB the
    * sketch pass is the only pass; the exact rank count here exists to
    * check the guarantee.
    */
  def q_approxQuantile(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders").select(col("o_totalprice"))
    val stats = o.agg(
      percentile_approx(col("o_totalprice"), lit(0.5), lit(100)).as("p50a"),
      count(lit(1)).as("n"))
    // tie-robust verdict: with heavy ties the returned value's rank is
    // an INTERVAL [rank_lt, rank_le] (rows strictly below / at-or-below
    // p50a); the GK guarantee holds iff that interval overlaps the
    // rank-error band around n/2 — counting only rank_le would flag a
    // legitimate sketch answer as out-of-band whenever a tie mass
    // straddles the median
    o.crossJoin(broadcast(stats))
      .agg(max(col("n")).as("n_rows"),
        sum(when(col("o_totalprice") < col("p50a"), 1L).otherwise(0L)).as("rank_lt"),
        sum(when(col("o_totalprice") <= col("p50a"), 1L).otherwise(0L)).as("rank_le"))
      .select(col("n_rows"),
        (col("rank_le") >= col("n_rows") * 0.48 &&
          col("rank_lt") <= col("n_rows") * 0.52).as("rank_within_band"))
  }

  /** Corpus top-100 tokens — the vocabulary heavy-hitter pass. */
  def t8TopTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTerms(tbl(s, dir, "documents"), k = 100)

  /** Corpus-unigram surprisal per document (perplexity-proxy quality
    * score, `TextAnalysis.unigramSurprisal`) — integer micro-bit
    * quantisation makes the transcendental math oracle-exact.
    */
  def t9Surprisal(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramSurprisal(tbl(s, dir, "documents"))

  /** Bigram-LM surprisal per document (the KenLM/CCNet perplexity-
    * filter shape with the corpus as its own LM) — same integer
    * micro-bit recipe as t9, bigrams built by a NARROW array zip.
    */
  def t15BigramSurprisal(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramSurprisal(tbl(s, dir, "documents"))

  /** Fasttext-style linear quality-classifier inference: broadcast
    * vocab→weight table + one doc aggregate (`TextAnalysis.
    * classifierScore`) — model-based filtering with the model as data,
    * weights deterministic so the twin rebuilds them bit-exactly.
    */
  def t16ClassifierScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierScore(tbl(s, dir, "documents"))

  /** CCNet perplexity partition: head/middle/tail thirds of the corpus
    * by unigram surprisal, ranked via the distributed prefix sum
    * (never a partitionless window) — `TextAnalysis.perplexityBuckets`.
    */
  def t17PplBuckets(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBuckets(tbl(s, dir, "documents"))

  /** Per-document TF-IDF keyword extraction (top-3 terms, integer
    * micro-bit scoring — hash-exact vs the SQL twin).
    */
  def t10TfidfKeywords(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfKeywords(tbl(s, dir, "documents"))

  /** Water-filling rebalance of the corpus to a target language mix
    * (en-heavy): the largest deterministic subsample hitting the
    * proportions, binding group kept whole up to floor rounding.
    */
  def t13MixRebalance(s: SparkSession, dir: String): DataFrame =
    Sampling.mixRebalance(tbl(s, dir, "documents"), "doc_id", "lang",
      Map("en" -> 0.4, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15))
      .select(col("doc_id"), col("lang"))

  /** Token-budget selection: the best docs by t1's quality score until
    * 30% of the corpus' tokens are spent — the distributed prefix-sum
    * pattern (range partition + per-partition running sums + metadata-
    * scale offset broadcast), never a single-task global window.
    */
  def t14TokenBudget(s: SparkSession, dir: String): DataFrame = {
    // persist the NARROW (id, score, tokens) projection: without it the
    // quality-feature tokenisation map — the query's dominant cost —
    // runs THREE times (the budget sum, runningTotal's range-partition
    // SAMPLING pass, and the ranked-cache build). Cached it runs once;
    // the cache is 3 slim columns, never the text (round-12 cost
    // account, MEASUREMENTS.md).
    val q = graft.ops.OpCaches.persist(
      TextAnalysis.withQualityFeatures(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("quality_score"), col("n_tokens")))
    val budget = q.agg(sum("n_tokens")).head().getLong(0) * 3 / 10
    Sampling.tokenBudgetPrefix(q, "doc_id", "quality_score", "n_tokens", budget)
      .select(col("id").as("doc_id"), col("rank").as("quality_score"),
        col("tokens").as("n_tokens"), col("running_total"))
  }

  /** Gopher-style hard quality gates with a per-rule audit trail
    * (which rule rejected what), scan-speed narrow map.
    */
  def t12QualityFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherQualityFilter(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("r_len"), col("r_mean_len"), col("r_stopwords"),
        col("r_symbol"), col("r_digit"), col("r_alpha"), col("keep"))

  /** Per-domain document cap (C4-style): at most 10 docs per source,
    * selected by the portable md5 order — skew-safe two-phase top-k
    * per key, result identical to the one-phase window.
    */
  def t11DomainCap(s: SparkSession, dir: String): DataFrame =
    Sampling.domainCap(tbl(s, dir, "documents"), "doc_id", "source", k = 10)
      .select(col("doc_id"), col("source"), col("lang"))

  /** PII scrub over the documents table (RE2-safe patterns, identical
    * in DuckDB — masking is oracle-checked byte-for-byte).
    */
  def t7PiiScrub(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scrubPii(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("n_pii"), md5(col("scrubbed")).as("scrubbed_md5"))

  /** Reproducible train/val/test split: md5-derived bucket per doc (the
    * portable-hash recipe), 90/5/5, with per-split doc and token
    * counts. Deterministic across engines AND across cluster sizes —
    * the property a training pipeline needs so a re-run or a different
    * partitioning yields the identical split.
    */
  def q_trainSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = Sampling.bucket(col("doc_id"), 100)
    tbl(s, dir, "documents")
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }

  /** Group-leakage-safe split: the q_train_split recipe keyed by the
    * GROUP (source domain), not the document — all docs from one
    * source land in one fold, the property that stops near-duplicate
    * train/test leakage through shared boilerplate. Emits per-split
    * source/doc/token counts plus, for contrast, how many sources the
    * doc-keyed split would scatter across folds (`leaky_sources` —
    * the audit number that motivates group splitting; the group-keyed
    * assignment itself cannot leak by construction).
    */
  def qGroupSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
    def splitOf(b: Column) =
      when(b < 90, "train").when(b < 95, "val").otherwise("test")
    // the doc-keyed counterfactual: a source "leaks" when its docs land
    // in more than one fold — metadata-scale after the per-source agg
    val leaky = docs
      .select(col("source"), splitOf(Sampling.bucket(col("doc_id"), 100)).as("sp"))
      .groupBy("source").agg(countDistinct(col("sp")).as("n_splits"))
      .agg(sum(when(col("n_splits") > 1, 1L).otherwise(0L)).as("leaky_sources"))
    docs.withColumn("split", splitOf(Sampling.bucket(col("source"), 100)))
      .groupBy("split")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .crossJoin(broadcast(leaky))
      .orderBy("split")
  }

  /** Padding-waste audit for sequence packing: token-length histogram
    * in power-of-2 buckets with the tokens wasted if every doc were
    * padded to its bucket ceiling — the number that decides between
    * bucketed padding and cross-doc packing (q_seq_pack) at training
    * time. The bucket ceiling is PURE INTEGER in both engines —
    * `1 << bitlength(ntok−1)` via the binary-string length, never a
    * float log2 whose boundary rounding could differ.
    */
  def qPackWaste(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      .filter(col("ntok") > 0)
      .withColumn("bucket",
        when(col("ntok") <= 1L, 1L)
          .otherwise(expr("shiftleft(1L, CAST(length(bin(ntok - 1)) AS INT))")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
        sum(col("bucket") - col("ntok")).as("wasted_tokens"))
      .withColumn("waste_ppm", expr(
        "CAST((CAST(wasted_tokens AS DECIMAL(38,0)) * 1000000) DIV (CAST(n_docs AS DECIMAL(38,0)) * bucket) AS BIGINT)"))
      .orderBy("bucket")

  /** Cross-source syndication matrix: for every pair of source
    * domains, how many NEAR-duplicate document pairs (the d2
    * minhash+LSH pair relation, exact-Jaccard-verified at 0.8) span
    * them — the audit that finds mirror sites and syndication networks
    * so a mix designer can collapse them before they double-count in
    * the training distribution. The matrix rides on the pair relation
    * (already banding-bounded), two doc-grain dimension joins, and one
    * mergeable count at source-pair grain — bounded by the source
    * dimension squared, never corpus rows.
    */
  def d20MirrorMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    def src(id: String, as: String) =
      docs.select(col("doc_id").as(id), col("source").as(as))
    Dedup.minhashNearDups(docs, "doc_id", "text")
      .join(src("__ia", "sa"), col("id_a") === col("__ia"))
      .join(src("__ib", "sb"), col("id_b") === col("__ib"))
      .filter(col("sa") =!= col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_neardup_pairs"))
      .orderBy(col("n_neardup_pairs").desc, col("source_a"), col("source_b"))
  }

  /** Referential-integrity audit over the declared FK graph (the
    * reference's own o4 metadata): per FK edge, the count of child
    * rows whose non-null key has no parent — the subset audit
    * (`Subset.orphanEdges`, one (edge, key) aggregate) over the
    * unrestricted tables, the schema-scale check a FK-aware exporter
    * runs before trusting topological order (the FK surface of
    * reference internal/database/driver.go:18-55, which O15's topo
    * sort consumes — this op audits that the declared edges hold).
    */
  def o43FkOrphans(s: SparkSession, dir: String): DataFrame = {
    val fks = sources.ParquetSource(s, dir).foreignKeys
    val tables = fks.flatMap(f => Seq(f.table, f.referencedTable)).distinct
      .map(t => t -> tbl(s, dir, t)).toMap
    graft.export.Subset.orphanEdges(tables, fks).orderBy("table_name", "column_name")
  }

  /** MM1 [EXT] — REAL container metadata over genuine mixed-media
    * payloads (BMP / PCM WAV / ISO-BMFF MP4, `Multimodal
    * .assetsFromDocuments`): every output field is parsed back OUT of
    * the container bytes — image dims from the BMP header, audio
    * duration from the RIFF fmt/data chunks, video duration/dims from
    * the mvhd/tkhd box walk (90 kHz timescale conversion included).
    * The oracle predicts each field analytically from the construction
    * parameters, so agreement proves the parsers read back exactly
    * what the writers encoded — including `n_bytes`, the closed-form
    * container size (BMP `1078+h·ceil4(w)`, WAV `44+data`, MP4
    * `244+mdat`). The payload-byte md5 checksum is computed but not
    * compared (no SQL engine can re-encode the containers).
    */
  def mm1DecodeMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(Multimodal.assetsFromDocuments(tbl(s, dir, "documents")))
      .select("asset_id", "media_type", "n_bytes", "width", "height",
        "duration_ms")

  /** MM3 [EXT] — REAL aspect-preserving resize (`Multimodal
    * .resizeImages`): ImageIO pixel decode, exact-integer output box,
    * nearest-neighbour sampling, and an integer checksum of the
    * resized raster the oracle re-derives pixel by pixel.
    */
  def mm3ResizeSpec(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImages(
      Multimodal.imageAssetsFromDocuments(tbl(s, dir, "documents")),
      maxSide = 16)
      .select("asset_id", "width", "height", "out_width", "out_height",
        "resized_sum")

  /** Frame-sampling spec for the video subset. */
  def mm2FrameSamples(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSamples(
      Multimodal.decodeMeta(Multimodal.assetsFromDocuments(tbl(s, dir, "documents"))),
      everyMs = 1000L)
      .groupBy("asset_id").agg(count(lit(1)).as("n_frames"))

  /** MM5 [EXT] — REAL audio container parsing (the mm1 image-header
    * counterpart): synthesise genuine PCM WAV payloads from the fixture
    * (format parameters derived from doc_id, sample data from the
    * text bytes), then decode channels / sample rate / bit depth /
    * data length / duration back out of the RIFF structure with the
    * pure-JVM `Multimodal.WavHeaders` walk. The oracle predicts every
    * field analytically from the construction parameters — agreement
    * means the parser read back exactly what the writer encoded.
    */
  def mm5AudioMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioMeta(
      Multimodal.audioAssetsFromDocuments(tbl(s, dir, "documents")))
      .select("asset_id", "channels", "sample_rate", "bits_per_sample",
        "data_bytes", "duration_ms")

  /** MM6 [EXT] — perceptual-hash image near-dup over REAL pixels,
    * re-pointed (round 11) at the 64-BIT aHash contract
    * (`Multimodal.nearDupsFromHashes64`): the previous
    * 16-bin hash saturated its 2^16 code space past ~10^4 images and
    * the TRUE hamming-≤2 pair set went quadratic (measured 101× pairs
    * for 10× data, SCALING.md round 10) — a contract-level scale bug, now
    * retired from the catalog along with its `scaling_allowlist`
    * entry. The fixture has no organic 64-bit near-dups (honest:
    * every image is genuinely distinct), so the gate plants
    * deterministic companions — every 16th asset's REAL decoded hash
    * re-enters under a shifted id with one bit flipped — making the
    * banding + hamming machinery non-vacuous at every SF while output
    * stays linear in the corpus. The oracle re-derives every hash bit
    * from the formula pixels, replays the plant, and brute-forces the
    * pair set the pigeonhole banding must find exactly.
    */
  def mm6ImageNearDups(s: SparkSession, dir: String): DataFrame = {
    val ah = Multimodal.imageAHash64(
      Multimodal.imageAssetsFromDocuments(tbl(s, dir, "documents")))
    // flipped bit = (asset_id DIV 16) mod 64 — consecutive planted ids
    // walk the whole 64-bit range, so the shift's sign-bit case
    // (bit 63 → Long.MinValue) is exercised at any non-trivial SF
    val companions = ah.filter(pmod(col("asset_id"), lit(16)) === 0)
      .select((col("asset_id") + lit(1L << 40)).as("asset_id"),
        col("ahash64").bitwiseXOR(
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(asset_id DIV 16, 64) AS INT))"))
          .as("ahash64"))
    Multimodal.nearDupsFromHashes64(ah.unionByName(companions), maxDist = 2)
  }

  /** MM10 [EXT] — the REAL 64-bit average hash over decoded pixels
    * (`Multimodal.imageAHash64`): exact-integer 8×8 downsample + the
    * cross-multiplied mean test, every bit SQL-re-derived from the
    * formula pixels. This is the only image near-dup hash: a 16-bin
    * histogram hash (mm6 before round 11) saturates its 2^16 code
    * space past ~10^4 images (measured 20x at the sf1 step, true-output
    * growth), a 64-bit code holds discrimination to ~10^9.
    */
  def mm10Ahash64(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageAHash64(
      Multimodal.imageAssetsFromDocuments(tbl(s, dir, "documents")))

  /** ST22 [EXT] — streaming multimodal ingest summary: the mm1
    * real-container decode as a continuous feed (`streaming
    * .AssetsStream` — `Multimodal.decodeMeta` is a stateless narrow
    * decode that serves a stream as it is, payloads never shuffle,
    * stream == batch spec-asserted), gated here in batch:
    * per-media-type counts, byte volume and dimension/duration maxima,
    * every input field analytically predicted by the oracle.
    */
  def st22MediaSummary(s: SparkSession, dir: String): DataFrame =
    graft.streaming.AssetsStream.mediaSummaryBatch(tbl(s, dir, "documents"))

  /** MM9 [EXT] — demuxer sample-table metadata over real ISO-BMFF
    * bytes: the video assets carry genuine stts/stsz/mdhd tables
    * (`Multimodal.videoSampleAssetsFromDocuments`) and every output
    * field — frame count, constant frame delta, media timescale and
    * duration, exact integer fps (timescale·1000 div delta), sample
    * size distribution, closed-form container byte length — is parsed
    * back out of the box tree (`Mp4Boxes.parseSamples`). The oracle
    * predicts all of them analytically from the construction params.
    */
  def mm9VideoSamples(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoSamples(
      Multimodal.videoSampleAssetsFromDocuments(tbl(s, dir, "documents")))

  /** MM8 [EXT] — REAL audio sample decode (`Multimodal
    * .decodeAudioLevels`): the synthesised PCM WAVs open through the
    * JDK's own `javax.sound.sampled` decoder and each asset reports
    * exact integer level stats (sample count, peak amplitude, energy)
    * that the oracle predicts analytically from the construction bytes.
    */
  def mm8AudioLevels(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioLevels(
      Multimodal.audioAssetsFromDocuments(tbl(s, dir, "documents")))

  /** D16 [EXT] — C4-style segment-level dedup: every non-overlapping
    * 10-token segment seen more than once in the corpus is stripped
    * except its globally-first occurrence; docs reassemble from their
    * surviving segments. One row per input doc.
    */
  def d16SegmentDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(tbl(s, dir, "documents"), "doc_id", "text", seg = 10)
      .select(col("id").as("doc_id"), col("clean_text"),
        col("n_seg_kept"), col("n_seg_dropped"))

  /** ST10 [EXT] — streaming NEAR-dup ingest screen
    * (`DocsStream.nearDupScreen`, one definition for both modes; the
    * streaming run is asserted equal in `StreamingSpec`): arriving docs
    * (doc_id ≡ 0 mod 5, the st6/d6 batch marker) that share no
    * portable-MinHash LSH band with the static corpus band table —
    * certainly-below-threshold docs admitted without an exact check.
    * Stateless per band in streaming; the band table is the maintained
    * artifact. The md5 hash family makes even this approximate op
    * hash-exact against its DuckDB twin.
    */
  def st10NearDupScreen(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    // the band table is the MAINTAINED artifact (built once, appended on
    // every accepted ingest) — persisting here mirrors that: without it
    // each of the 4 band anti-joins would re-run the corpus banding
    // (measured 4x the query cost at sf0.1)
    val bands = graft.ops.OpCaches.persist(graft.streaming.DocsStream.corpusBandKeys(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)))
    graft.streaming.DocsStream.nearDupScreen(
      Partitioning.ensureParallelism(docs.filter(pmod(col("doc_id"), lit(5)) === 0)),
      bands)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  // ------------------------------------------- TPC-H shape completion
  // The remaining canonical TPC-H query shapes, adapted to the fixture
  // star schema (no partsupp; reduced columns). Together with
  // Q1/Q3/Q5/Q10/Q18 (q1_pricing_summary, q3_shipping_priority,
  // q5_local_supplier, q_returned_items, q_large_orders) this covers
  // every distinct plan shape in the benchmark: EXISTS semi joins,
  // double-correlated NOT EXISTS, scalar subqueries, disjunctive
  // predicate pushdown, correlated aggregates, count-distinct over
  // fact-derived pairs. Money stays in the integer cents/bp discipline
  // (micro = cents·(10000−bp), a 10⁻⁶-dollar unit) so every result is
  // hash-exact against the DuckDB twin.

  /** Exact discounted line revenue in 10⁻⁶-dollar integer units —
    * cents × (10000 − discount_bp) — the one shared money expression of
    * every TPC-H revenue shape, defined once so a precision change
    * cannot miss a site. Per-row magnitude ≤ ~10¹¹, safely inside a
    * long; SUMS must still go through DECIMAL(38,0) at the call site.
    */
  private def discountedMicro: Column =
    (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long") *
      (lit(10000L) - (col("l_discount").cast("decimal(6,4)") * 10000).cast("long"))

  /** Q4 shape — order-priority checking: orders in one quarter with at
    * least one lineitem shipped >10 days after the order date (the
    * commit-date adaptation), counted per priority. The EXISTS lowers
    * to a LEFT SEMI join with a non-equi conjunct; the quarter filter
    * pushes into the orders scan.
    */
  def qOrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-10-01 00:00:00")))
    val l = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 10 DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q7 shape — volume shipping between two nations: revenue flow
    * supplier-nation → customer-nation per ship year, both directions.
    * The two broadcast dimension chains (supplier→nation,
    * customer→nation) hang off the one fact-fact shuffle join.
    */
  def qVolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val nat = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val li = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).cast("long").as("l_year"),
        discountedMicro
          .as("micro"))
    val sup = broadcast(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      .filter(col("supp_nation").isin("NATION_1", "NATION_2")))
    val cust = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
      .filter(col("cust_nation").isin("NATION_1", "NATION_2"))
    val ords = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("micro").cast("decimal(38,0)")).cast("long").as("rev_micro"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8 shape — national market share: of the PROMO-part revenue ASIA
    * customers generated per order year, the ppm supplied by NATION_3.
    * The share is a truncating integer division of two micro sums, so
    * the approximate-looking ratio is exact in both engines.
    */
  def qMarketShare(s: SparkSession, dir: String): DataFrame = {
    val nat = tbl(s, dir, "nation")
    val asiaCust = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nat.join(tbl(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA").select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ords = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    val promo = broadcast(tbl(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey")))
    val sup = broadcast(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name")))
    tbl(s, dir, "lineitem")
      .join(promo, col("l_partkey") === col("p_partkey"))
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("o_year"),
        discountedMicro
          .cast("decimal(38,0)").as("micro"),
        when(col("n_name") === "NATION_3", lit(1L)).otherwise(lit(0L)).as("is_n3"))
      .groupBy("o_year")
      .agg(sum("micro").cast("long").as("total_micro"),
        sum(col("micro") * col("is_n3")).cast("long").as("n3_micro"))
      .withColumn("share_ppm",
        expr("CAST((CAST(n3_micro AS DECIMAL(38,0)) * 1000000) DIV total_micro AS BIGINT)"))
      .orderBy("o_year")
  }

  /** Q9 shape — product-type profit: for parts whose name contains
    * "red", profit = revenue − 80 % of retail cost, per supplier
    * nation per order year. Unit is 10⁻⁷ dollars: `10·micro −
    * 8·q100·retail_cents`, formed in DECIMAL(38,0) so the signed sum
    * can never wrap.
    */
  def qProductProfit(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(tbl(s, dir, "part").filter(col("p_name").contains("red"))
      .select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long").as("retail_cents")))
    val sup = broadcast(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name")))
    val ords = tbl(s, dir, "orders").select(col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"))
    tbl(s, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), col("o_year"),
        (discountedMicro
          .cast("decimal(38,0)") * 10 -
          (col("l_quantity").cast("decimal(18,2)") * 100).cast("long") *
            col("retail_cents").cast("decimal(38,0)") * 8).as("profit_d"))
      .groupBy("n_name", "o_year")
      .agg(sum("profit_d").cast("long").as("profit_e7"))
      .orderBy("n_name", "o_year")
  }

  /** Q12 shape — late-shipment priority audit per line status (the
    * ship-mode adaptation): 1997 shipments, counting high-priority
    * (URGENT/HIGH) vs other orders. One fact-fact join, a two-branch
    * conditional aggregate.
    */
  def qShipmodePriority(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")

  /** Q14 shape — promo revenue share: the ppm of one month's revenue
    * earned by PROMO-type parts, as a truncating integer division of
    * micro sums (exact where the canonical 100·promo/total double is
    * not portable).
    */
  def qPromoRevenue(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-09-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-10-01 00:00:00")))
      .join(broadcast(tbl(s, dir, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .select(discountedMicro
          .cast("decimal(38,0)").as("micro"),
        when(col("p_type") === "PROMO", lit(1L)).otherwise(lit(0L)).as("is_promo"))
      .agg(sum(col("micro") * col("is_promo")).cast("long").as("promo_micro"),
        sum("micro").cast("long").as("total_micro"))
      .withColumn("promo_ppm",
        expr("CAST((CAST(promo_micro AS DECIMAL(38,0)) * 1000000) DIV total_micro AS BIGINT)"))

  /** Q17 shape — small-quantity-order revenue: lineitems whose
    * quantity is under 20 % of their part's average, total revenue and
    * row count. The correlated scalar subquery becomes a per-part
    * aggregate joined back to the fact; the average is the truncating
    * `sum DIV n` in hundredths so the threshold is integer-exact.
    */
  def qSmallQty(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem").select(col("l_partkey"),
      (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("q100"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val avg = li.groupBy("l_partkey")
      .agg(expr("sum(q100) DIV count(*)").as("avg100"))
      .withColumnRenamed("l_partkey", "a_partkey")
    li.join(avg, col("l_partkey") === col("a_partkey"))
      .filter(col("q100") * 5 < col("avg100"))
      .agg(sum(col("cents").cast("decimal(38,0)")).cast("long").as("small_rev_cents"),
        count(lit(1)).as("n_items"))
  }

  /** Q19 shape — disjunctive predicate pushdown: revenue over the OR
    * of three (brand, size-range, quantity-range) blocks. The
    * brand/size disjunction reaches the part scan; quantities compare
    * in exact hundredths.
    */
  def qDisjunctive(s: SparkSession, dir: String): DataFrame = {
    val p = broadcast(tbl(s, dir, "part")
      .filter((col("p_brand") === "Brand#4" && col("p_size").between(1, 15)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(10, 30)) ||
        (col("p_brand") === "Brand#25" && col("p_size").between(20, 50)))
      .select(col("p_partkey"), col("p_brand")))
    tbl(s, dir, "lineitem")
      .select(col("l_partkey"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("q100"),
        discountedMicro
          .cast("decimal(38,0)").as("micro"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter((col("p_brand") === "Brand#4" && col("q100").between(100L, 2000L)) ||
        (col("p_brand") === "Brand#19" && col("q100").between(1000L, 3000L)) ||
        (col("p_brand") === "Brand#25" && col("q100").between(2000L, 4000L)))
      .agg(sum("micro").cast("long").as("rev_micro"), count(lit(1)).as("n_items"))
  }

  /** Q21 shape — the supplier who kept the order waiting: in
    * finished multi-supplier orders, the unique supplier whose last
    * shipment was the order's last shipment (the double-correlated
    * EXISTS / NOT EXISTS pair, lowered to two mergeable aggregates and
    * a metadata-scale join — no correlated re-scan of the fact).
    */
  def qWaitingOrders(s: SparkSession, dir: String): DataFrame = {
    // The orderkey repartition is the plan's ONE fact shuffle: hash
    // partitioning on l_orderkey alone satisfies the (orderkey,
    // suppkey) aggregate, the per-order roll-up, their join, and the
    // sole-waiter aggregate below — four stages, one Exchange.
    val li = tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .repartition(col("l_orderkey"))
    val perSupp = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("supp_max"))
    val perOrd = perSupp.groupBy("l_orderkey")
      .agg(countDistinct("l_suppkey").as("n_supp"), max("supp_max").as("ord_max"))
    // supp_max >= ord_max, not ===: ord_max is the max over supp_max,
    // so the two are equivalent — but an equality would be extracted
    // into the join keys, re-shuffling both order-grain sides on
    // (max, orderkey) and discarding the co-partitioning; the
    // inequality stays a residual filter on the orderkey-only join.
    val late = perSupp.join(perOrd, "l_orderkey")
      .filter(col("n_supp") > 1 && col("supp_max") >= col("ord_max"))
    // exactly ONE supplier may attain the order max for it to be "the"
    // waiter — ties mean shared blame and drop the order (Q21's NOT
    // EXISTS l3 clause)
    val sole = late.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_late"), min("l_suppkey").as("l_suppkey"))
      .filter(col("n_late") === 1)
    sole.groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("l_suppkey"))
      .limit(10)
      .select(concat(lit("Supplier#"), format_string("%09d", col("l_suppkey")))
        .as("s_name"), col("numwait"))
  }

  /** Q22 shape — idle rich customers: above-average-balance customers
    * who never ordered, per nation. The scalar subquery (average
    * positive balance, truncating integer cents) broadcasts; the NOT
    * EXISTS is a left-anti join on the orders key projection.
    */
  def qIdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("int").as("nationkey"),
      (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val avgPos = cust.filter(col("cents") > 0)
      .agg(expr("sum(cents) DIV count(*)").as("avg_cents"))
    cust.crossJoin(broadcast(avgPos))
      .filter(col("cents") > col("avg_cents"))
      .join(tbl(s, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("nationkey")
      .agg(count(lit(1)).as("numcust"),
        sum(col("cents").cast("decimal(38,0)")).cast("long").as("totacctbal_cents"))
      .orderBy("nationkey")
  }

  /** Q2 shape — minimum-cost supplier per brand (the partsupp-free
    * adaptation: "cost" is the account balance of suppliers who have
    * actually shipped the brand): the correlated MIN lowers to one
    * mergeable min-struct aggregate over the distinct (brand,
    * supplier) pairs — the d10 canonical-min discipline, never a
    * per-brand window sort.
    */
  def qMinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val pairs = tbl(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_suppkey")).distinct()
    pairs.join(broadcast(tbl(s, dir, "supplier").select(col("s_suppkey"),
        (col("s_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand")
      .agg(min(struct(col("cents"), col("s_suppkey"))).as("m"))
      .select(col("p_brand"), col("m.s_suppkey").as("s_suppkey"),
        col("m.cents").as("acctbal_cents"))
      .orderBy("p_brand")
  }

  /** Q16 shape — supplier breadth per (brand, type), excluding
    * suppliers in deficit (the complaint-list adaptation as an
    * anti join): distinct-supplier counts from the fact's (part,
    * supplier) pairs, top-20. The count-distinct is a two-level
    * aggregate — pairs dedup map-side before the count shuffle.
    */
  def qSupplierCount(s: SparkSession, dir: String): DataFrame = {
    val bad = tbl(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    tbl(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
      .limit(20)
  }

  /** Q6 shape — the forecast-revenue delta: one filtered scan, one
    * global aggregate, zero joins. The whole point of the shape is
    * pushdown: all three predicates (date range, discount band,
    * quantity cap) reach the parquet scan as comparisons on raw
    * columns; micro = cents·bp is computed only on surviving rows.
    */
  def qForecastRevenue(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select((col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("q100"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        (col("l_discount").cast("decimal(6,4)") * 10000).cast("long").as("bp"))
      .filter(col("bp").between(500L, 700L) && col("q100") < 2400L)
      .agg(sum((col("cents") * col("bp")).cast("decimal(38,0)")).cast("long")
          .as("rev_micro"),
        count(lit(1)).as("n_items"))

  /** Q13 shape — customer order-count distribution, zero-order
    * customers included: a right-outer-flavoured join (customer side
    * preserved) followed by two stacked aggregates at different
    * grains. count(o_custkey) — not count(*) — is what makes the
    * never-ordered bucket land on 0.
    */
  def qCustdist(s: SparkSession, dir: String): DataFrame = {
    // Aggregate orders to (custkey, count) BEFORE the outer join: the
    // partial count combines map-side, so raw order rows never cross a
    // shuffle — at 100 TB the orders fact dwarfs the customer dim and
    // joining first would shuffle it whole. The join then moves only
    // customer keys and count pairs; never-ordered customers surface
    // via the coalesce-to-0 on the preserved side.
    val cnt = tbl(s, dir, "orders").select(col("o_custkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    tbl(s, dir, "customer").select(col("c_custkey"))
      .join(cnt, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q15 shape — top supplier(s) by one quarter's revenue: the view +
    * scalar-subquery-max pattern. The per-supplier revenue aggregate
    * is computed once and reused for both the max and the final
    * filter (one shuffle; the 1-row max broadcasts back). Ties all
    * surface, per the canonical query.
    */
  def qTopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-10-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .groupBy("l_suppkey")
      .agg(sum(discountedMicro
          .cast("decimal(38,0)")).cast("long").as("total_rev_micro"))
    rev.crossJoin(broadcast(rev.agg(max("total_rev_micro").as("mx"))))
      .filter(col("total_rev_micro") === col("mx"))
      .join(broadcast(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_micro"))
      .orderBy("s_suppkey")
  }

  /** Q20 shape — dominant suppliers of "red" parts (the partsupp-free
    * adaptation: a supplier qualifies when its 1997 shipped quantity
    * of some red part exceeds half that part's total): two stacked
    * mergeable aggregates at (part, supplier) then (part) grain — the
    * correlated comparison is a join between the two, never a
    * re-scan — and the distinct supplier set joins the dimension.
    */
  def qDominantSupplier(s: SparkSession, dir: String): DataFrame = {
    val red = broadcast(tbl(s, dir, "part")
      .filter(col("p_name").contains("red")).select(col("p_partkey")))
    // One explicit partkey repartition feeds every grain: hash
    // partitioning on l_partkey alone satisfies the clustered
    // distribution of the (partkey, suppkey) aggregate, the partkey
    // roll-up, AND the correlating join — so the three stages share a
    // single Exchange instead of three, and AQE reuses it across the
    // two references to pairQ.
    val pairQ = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(red, col("l_partkey") === col("p_partkey"))
      .repartition(col("l_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum((col("l_quantity").cast("decimal(18,2)") * 100).cast("long"))
        .as("pair_q100"))
    val partQ = pairQ.groupBy("l_partkey")
      .agg(sum("pair_q100").as("part_q100"))
    pairQ.join(partQ, "l_partkey")
      .filter(col("pair_q100") * 2 > col("part_q100"))
      .select("l_suppkey").distinct()
      .join(broadcast(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  /** Inter-labeler agreement between the corpus's two quality
    * labelers — the Gopher heuristic gate (t12's `keep`) and the
    * hashed-vocabulary classifier (t16's `pass`): Cohen's κ in exact
    * ppm plus McNemar's paired-difference verdict, the label-QA audit
    * run before trusting either gate to filter 100 TB.
    */
  def qKappa(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.ops.Experiment.labelerAgreement(
      TextAnalysis.gopherQualityFilter(docs).select(col("doc_id"), col("keep")),
      "doc_id", "keep",
      TextAnalysis.classifierScore(docs).select(col("doc_id"), col("pass")),
      "doc_id", "pass")
  }

  /** All queries, keyed for the driver harness. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "o1_tables"          -> (o1Tables _),
    "o2_ddl"             -> (o2Ddl _),
    "o3_columns"         -> (o3Columns _),
    "o4_foreign_keys"    -> (o4ForeignKeys _),
    "o5_row_counts"      -> (o5RowCounts _),
    "o6_scan_project"    -> (o6ScanProject _),
    "o7_filter_date"     -> (o7FilterDate _),
    "o8_limit"           -> (o8Limit _),
    "o9_batching"        -> (o9Batching _),
    "o10_anonymise_rules" -> (o10AnonymiseRules _),
    "o11_consistency"    -> (o11Consistency _),
    "o12_faker_formats"  -> (o12FakerFormats _),
    "o13_validate_rules" -> (o13ValidateRules _),
    "o14_truncate"       -> (o14Truncate _),
    "o15_topo_order"     -> (o15TopoOrder _),
    "o16_dump_stats"     -> (o16DumpStats _),
    "o23_dump_roundtrip" -> (o23DumpRoundtrip _),
    "o24_dump_parallel"  -> (o24DumpParallel _),
    "o25_jsonl_roundtrip" -> (o25JsonlRoundtrip _),
    "o26_csv_roundtrip"  -> (o26CsvRoundtrip _),
    "o27_orc_roundtrip"  -> (o27OrcRoundtrip _),
    "o28_k_anonymity"    -> (o28KAnonymity _),
    "o29_subset_closure" -> (o29SubsetClosure _),
    "o30_schema_evolution" -> (o30SchemaEvolution _),
    "o17_codec"          -> (o17Codec _),
    "o19_stats"          -> (o19Stats _),
    "o20_sync"           -> (o20Sync _),
    "o18_quote_identifiers" -> (o18QuoteIdentifiers _),
    "o21_dry_run"        -> (o21DryRun _),
    "o22_config_load"    -> (o22ConfigLoad _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier"  -> (q5LocalSupplier _),
    "q_top_customers"    -> (qTopCustomers _),
    "q_bucketed_join"    -> (qBucketedJoin _),
    "q_partition_prune"  -> (qPartitionPrune _),
    "q_outer_join"       -> (qOuterJoin _),
    "q_bloom_join"       -> (qBloomJoin _),
    "q_forward_fill"     -> (q_forwardFill _),
    "q_interpolate"      -> (q_interpolate _),
    "q_running_total"    -> (qRunningTotal _),
    "q_seq_pack"         -> (qSeqPack _),
    "q_approx_topk"      -> (q_approxTopk _),
    "q_approx_cms"       -> (q_approxCms _),
    "st3_latest_state"   -> (st3LatestState _),
    "st4_dedup_keys"     -> (st4DedupKeys _),
    "st5_scd2_stream"    -> (st5Scd2 _),
    "st6_screen_stream"  -> (st6ScreenStream _),
    "st7_cdc_upsert"     -> (st7CdcUpsert _),
    "st8_time_travel"    -> (st8TimeTravel _),
    "st9_outer_interval" -> (st9OuterInterval _),
    "q_global_sort"      -> (qGlobalSort _),
    "q_sql_cte"          -> (qSqlCte _),
    "q_approx_quantile"  -> (q_approxQuantile _),
    "q_zorder"           -> (qZorder _),
    "q_shard_layout"     -> (qShardLayout _),
    "q_funnel"           -> (qFunnel _),
    "q_window_rank"      -> (qWindowRank _),
    "q_window_stats"     -> (qWindowStats _),
    "q_window_range"     -> (qWindowRange _),
    "q_semi_join"        -> (qSemiJoin _),
    "q_anti_join"        -> (qAntiJoin _),
    "q_distinct"         -> (qDistinct _),
    "q_intersect"        -> (qIntersect _),
    "q_except"           -> (qExcept _),
    "q_union_all"        -> (qUnionAll _),
    "q_rollup"           -> (qRollup _),
    "q_grouping_sets"    -> (qGroupingSets _),
    "q_pivot"            -> (qPivot _),
    "q_sql_frontend"     -> (qSqlFrontend _),
    "q_json_extract"     -> (qJsonExtract _),
    "q_events_hourly"    -> (qEventsHourly _),
    "q_sessionize"       -> (qSessionize _),
    "q_asof_join"        -> (qAsofJoin _),
    "q_range_join"       -> (qRangeJoin _),
    "q_salted_agg"       -> (qSaltedAgg _),
    "q_cube"             -> (qCube _),
    "q_percentiles"      -> (qPercentiles _),
    "q_approx_distinct"  -> (qApproxDistinct _),
    "d1_exact_dedup"     -> (d1ExactDedup _),
    "d2_minhash_lsh"     -> (d2MinhashLsh _),
    "d3_simhash"         -> (d3Simhash _),
    "d4_ngram_jaccard"   -> (d4NgramJaccard _),
    "d4_jaccard_prefix"  -> (d4JaccardPrefix _),
    "d4_jaccard_capped"  -> (d4JaccardCapped _),
    "d5_embedding_dups"  -> (d5EmbeddingDups _),
    "d5_embedding_blocked" -> (d5EmbeddingBlocked _),
    "d5_embedding_capped" -> (d5EmbeddingCapped _),
    "d5_embedding_capped_blocked" -> (d5EmbeddingCappedBlocked _),
    "d5_embedding_ann"   -> (d5EmbeddingAnn _),
    "d6_incremental_dedup" -> (d6IncrementalDedup _),
    "d7_dup_clusters"    -> (d7DupClusters _),
    "d8_contamination"   -> (d8Contamination _),
    "d9_winnowing_dups"  -> (d9WinnowingDups _),
    "d10_dedup_canonical" -> (d10DedupCanonical _),
    "d11_bloom_screen"   -> (d11BloomScreen _),
    "d12_semdedup"       -> (d12SemDedup _),
    "d13_dup_spans"      -> (d13DupSpans _),
    "d14_span_strip"     -> (d14SpanStrip _),
    "d15_exact_keep"     -> (d15ExactKeep _),
    "s1_knn_brute"       -> (s1KnnBrute _),
    "s2_knn_lsh"         -> (s2KnnLsh _),
    "s3_knn_ivf"         -> (s3KnnIvf _),
    "s4_knn_pq"          -> (s4KnnPq _),
    "s5_range_search"    -> (s5RangeSearch _),
    "s6_random_projection" -> (s6RandomProjection _),
    "s7_knn_ivfpq"       -> (s7KnnIvfPq _),
    "s8_knn_persisted"   -> (s8KnnPersisted _),
    "s9_knn_rerank"      -> (s9KnnRerank _),
    "s10_diverse_sample" -> (s10DiverseSample _),
    "s11_ivf_append"     -> (s11IvfAppend _),
    "s12_knn_sq8"        -> (s12KnnSq8 _),
    "s13_filtered_knn"   -> (s13FilteredKnn _),
    "g1_supplier_rank"   -> (g1SupplierRank _),
    "g2_triangles"       -> (g2Triangles _),
    "st1_first_seen"     -> (st1FirstSeen _),
    "st2_interval_join"  -> (st2IntervalJoin _),
    "t1_text_stats"      -> (t1TextStats _),
    "t2_lang_id"         -> (t2LangId _),
    "t3_token_counts"    -> (t3TokenCounts _),
    "t4_fingerprint"     -> (t4Fingerprint _),
    "t5_winnowing"       -> (t5Winnowing _),
    "t6_repetition"      -> (t6Repetition _),
    "t7_pii_scrub"       -> (t7PiiScrub _),
    "t8_top_terms"       -> (t8TopTerms _),
    "t9_surprisal"       -> (t9Surprisal _),
    "t15_bigram_surprisal" -> (t15BigramSurprisal _),
    "t16_classifier_score" -> (t16ClassifierScore _),
    "t17_ppl_buckets"    -> (t17PplBuckets _),
    "t18_char_entropy"   -> (t18CharEntropy _),
    "t19_collocations"   -> (t19Collocations _),
    "t20_bpe_pairs"      -> (t20BpePairs _),
    "t10_tfidf_keywords" -> (t10TfidfKeywords _),
    "t11_domain_cap"     -> (t11DomainCap _),
    "t12_quality_filter" -> (t12QualityFilter _),
    "t13_mix_rebalance"  -> (t13MixRebalance _),
    "t14_token_budget"   -> (t14TokenBudget _),
    "q_stratified_sample" -> (q_stratifiedSample _),
    "q_upsample_mix"     -> (qUpsampleMix _),
    "q_weighted_sample"  -> (q_weightedSample _),
    "q_skew_join"        -> (q_skewJoin _),
    "q_cdc_apply"        -> (q_cdcApply _),
    "q_scd2"             -> (q_scd2 _),
    "q_profile"          -> (q_profile _),
    "q_histogram"        -> (q_histogram _),
    "q_cohort_retention" -> (q_cohortRetention _),
    "q_changepoint"      -> (q_changepoint _),
    "q_basket_pairs"     -> (q_basketPairs _),
    "q_time_weighted"    -> (q_timeWeighted _),
    "q_expectations"     -> (qExpectations _),
    "p1_pipeline"        -> (p1Pipeline _),
    "p2_pipeline"        -> (p2Pipeline _),
    "p3_ingest_pipeline" -> (p3IngestPipeline _),
    "q_train_split"      -> (q_trainSplit _),
    "mm1_decode_meta"    -> (mm1DecodeMeta _),
    "mm3_resize_spec"    -> (mm3ResizeSpec _),
    "mm4_feature_knn"    -> (mm4FeatureKnn _),
    "mm2_frame_samples"  -> (mm2FrameSamples _),
    "mm5_audio_meta"     -> (mm5AudioMeta _),
    "mm6_image_neardup"  -> (mm6ImageNearDups _),
    "mm8_audio_levels"   -> (mm8AudioLevels _),
    "mm9_video_samples"  -> (mm9VideoSamples _),
    "st22_media_summary" -> (st22MediaSummary _),
    "mm10_ahash64"       -> (mm10Ahash64 _),
    "d16_segment_dedup"  -> (d16SegmentDedup _),
    "d17_bloom_persisted" -> (d17BloomPersisted _),
    "d18_containment"    -> (d18Containment _),
    "d18_containment_screen" -> (d18ContainmentScreen _),
    "d18_containment_capped" -> (d18ContainmentCapped _),
    "st10_neardup_screen" -> (st10NearDupScreen _),
    "st11_table_diff"    -> (st11TableDiff _),
    "st12_window_topk"   -> (st12WindowTopk _),
    "st13_anonymise_stream" -> (st13AnonymiseStream _),
    "st14_user_drift"    -> (st14UserDrift _),
    "st15_table_delete"  -> (st15TableDelete _),
    "st16_table_cdf"     -> (st16TableCdf _),
    "t21_clean_text"     -> (t21CleanText _),
    "o31_generalize"     -> (o31Generalize _),
    "q_transitions"      -> (qTransitions _),
    "o32_pseudonym_join" -> (o32PseudonymJoin _),
    "mm7_scene_changes"  -> (mm7SceneChanges _),
    "q_mad_outliers"     -> (qMadOutliers _),
    "p4_privacy_pipeline" -> (p4PrivacyPipeline _),
    "o33_randomized_response" -> (o33RandomizedResponse _),
    "st17_cdf_replication" -> (st17CdfReplication _),
    "t22_bpe_train"      -> (t22BpeTrain _),
    "o34_forget"         -> (o34Forget _),
    "s14_hybrid_rrf"     -> (s14HybridRrf _),
    "d19_cdc_chunks"     -> (d19CdcChunks _),
    "t23_perceptron"     -> (t23Perceptron _),
    "s15_kmeans"         -> (s15KmeansInt _),
    "q_ab_chisq"         -> (qAbChisq _),
    "o35_masked_views"   -> (o35MaskedViews _),
    "st18_session_window" -> (st18SessionWindow _),
    "t24_bpe_encode"     -> (t24BpeEncode _),
    "o36_dp_counts"      -> (o36DpCounts _),
    "er1_record_linkage" -> (er1RecordLinkage _),
    "er5_block_cap"      -> (er5BlockCap _),
    "g3_khop"            -> (g3KHop _),
    "er2_golden_record"  -> (er2GoldenRecord _),
    "q_seasonal_mad"     -> (qSeasonalMad _),
    "s16_mmr"            -> (s16Mmr _),
    "q_calibration"      -> (qCalibration _),
    "o37_drift"          -> (o37Drift _),
    "p5_link_pipeline"   -> (p5LinkPipeline _),
    "t25_novelty"        -> (t25Novelty _),
    "st19_late_audit"    -> (st19LateAudit _),
    "er3_blocking_quality" -> (er3BlockingQuality _),
    "o38_t_closeness"    -> (o38TCloseness _),
    "q_auc"              -> (qAuc _),
    "q_attribution"      -> (qAttribution _),
    "q_lag_features"     -> (qLagFeatures _),
    "er4_incremental_linkage" -> (er4IncrementalLinkage _),
    "q_ks_test"          -> (qKsTest _),
    "q_gini"             -> (qGini _),
    "q_lorenz"           -> (qLorenz _),
    "q_spearman"         -> (qSpearman _),
    "q_benford"          -> (qBenford _),
    "g4_components"      -> (g4Components _),
    "q_trend"            -> (qTrend _),
    "q_srm"              -> (qSrm _),
    "q_bootstrap_ci"     -> (qBootstrapCi _),
    "q_basket_rules"     -> (qBasketRules _),
    "q_funnel_window"    -> (qFunnelWindow _),
    "o39_subject_export" -> (o39SubjectExport _),
    "t26_chunks"         -> (t26Chunks _),
    "t27_watermark"      -> (t27Watermark _),
    "t28_fertility"      -> (t28Fertility _),
    "s17_knn_graph"      -> (s17KnnGraph _),
    "q_conformal"        -> (qConformal _),
    "q_did"              -> (qDid _),
    "q_rfm"              -> (qRfm _),
    "o40_retention_audit" -> (o40RetentionAudit _),
    "st20_chunks"        -> (st20Chunks _),
    "g5_clustering"      -> (g5Clustering _),
    "o41_fpe"            -> (o41Fpe _),
    "q_power"            -> (qPower _),
    "q_returned_items"   -> (qReturnedItems _),
    "q_large_orders"     -> (qLargeOrders _),
    "q_order_priority"   -> (qOrderPriority _),
    "q_volume_shipping"  -> (qVolumeShipping _),
    "q_market_share"     -> (qMarketShare _),
    "q_product_profit"   -> (qProductProfit _),
    "q_shipmode_priority" -> (qShipmodePriority _),
    "q_promo_revenue"    -> (qPromoRevenue _),
    "q_small_qty"        -> (qSmallQty _),
    "q_disjunctive"      -> (qDisjunctive _),
    "q_waiting_orders"   -> (qWaitingOrders _),
    "q_idle_customers"   -> (qIdleCustomers _),
    "q_min_cost_supplier" -> (qMinCostSupplier _),
    "q_supplier_count"   -> (qSupplierCount _),
    "q_forecast_revenue" -> (qForecastRevenue _),
    "q_custdist"         -> (qCustdist _),
    "q_top_supplier"     -> (qTopSupplier _),
    "q_dominant_supplier" -> (qDominantSupplier _),
    "q_kappa"            -> (qKappa _),
    "q_group_split"      -> (qGroupSplit _),
    "q_pack_waste"       -> (qPackWaste _),
    "d20_mirror_matrix"  -> (d20MirrorMatrix _),
    "o43_fk_orphans"     -> (o43FkOrphans _),
    "q_abn_chisq"        -> (qAbnChisq _),
    "q_cohort_ltv"       -> (qCohortLtv _),
    "q_forecast_backtest" -> (qForecastBacktest _),
    "st21_watermark_screen" -> (st21WatermarkScreen _),
    "p6_rag_pipeline"    -> (p6RagPipeline _),
    "o42_minimisation"   -> (o42Minimisation _),
    "q_corpus_report"    -> (qCorpusReport _),
  )
}
