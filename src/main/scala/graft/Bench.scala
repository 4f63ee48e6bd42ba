package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":…,"value":…,"queries":{…},"sf":…}.
  *
  * Each query is fully materialised (count of the result after the whole
  * plan runs — results are small aggregates/pair-sets, so the measured
  * time is the distributed work, not driver IO). One warm-up run of a
  * small query amortises session/codegen start-up out of the numbers.
  */
object Bench {
  /** Full bench set: every catalog query (sorted) plus the end-to-end
    * export pipeline — the bench covers the ENTIRE catalog by
    * construction, so a regression in any query is visible per-round.
    */
  val headline: Seq[String] =
    GraftQueries.all.keys.toSeq.sorted :+ "anonymise_export"

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the suite — for quiet-host
    // re-measures of flagged queries without paying a full catalog run
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must fail fast, not yield a successful-looking
    // empty/partial run
    only.foreach { f =>
      val bad = f -- headline.toSet
      require(bad.isEmpty, s"SPARK_GRAFT_BENCH_ONLY names not in catalog: ${bad.mkString(", ")}")
    }
    val suite = only.fold(headline)(f => headline.filter(f.contains))
    // SPARK_GRAFT_BENCH_MODE=consecutive samples each query back-to-back
    // (warm-up + 3 timed) instead of suite-interleaved passes: generated
    // classes stay hot between samples, so this measures the STEADY-STATE
    // per-query cost a long-running cluster sees (the r2 protocol).
    // Interleaved (default) decorrelates from host-contention episodes
    // but pays a per-sample re-JIT when the catalog cycles the 100-entry
    // codegen cache — both numbers are real; they answer different
    // questions (see MEASUREMENTS.md).
    val consecutive = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("consecutive")
    // SPARK_GRAFT_BENCH_PASSES=N (default 3): timed passes after the
    // untimed warm-up pass. The sf10 rehearsal runs multi-minute
    // queries where 3 passes would push the sweep past the session —
    // both sides of a ratio must use the SAME pass count.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    require(passes >= 1 && passes <= 10, "SPARK_GRAFT_BENCH_PASSES must be 1..10")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Let AQE pick the POST-shuffle partition count from measured
    // map output instead of pinning it to the core count: with
    // shuffle.partitions=32 a 100x-bigger shuffle (the sf10
    // rehearsal's shingle joins) packs ~30x more rows per hash
    // aggregate partition and spills — measured 17x for 10x data on
    // d4 until this. But a flat 8x-cores headroom taxes the
    // iterative-fixpoint family at SMALL inputs: every superstep of a
    // label-propagation/prefix-sum loop pays 256-task scheduling on a
    // tiny shuffle AQE can't fully coalesce away (measured round 11:
    // t17/t22/g4 1.5-2x at sf0.1). So size the knob from the input,
    // exactly as on a real cluster: ~8 MiB of input per initial
    // partition (the shingle families fan input out ~30x, so that is
    // ~0.25 GiB of worst-case shuffle per partition), clamped to
    // [1x, 8x] cores. sf0.1 (17 MB) keeps 1x cores; sf10 (1.8 GB)
    // gets ~7x cores and stays linear.
    // SPARK_GRAFT_BENCH_INITPARTS overrides for A/B attribution of
    // AQE-headroom effects (e.g. the d12 fixpoint regression probe).
    def inputBytes(dir: String): Long = {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    }
    val initParts: Int = sys.env.get("SPARK_GRAFT_BENCH_INITPARTS") match {
      case Some(v) =>
        // fail at the knob, not with an opaque session-build error
        val n = try v.toInt catch {
          case _: NumberFormatException =>
            sys.error(s"SPARK_GRAFT_BENCH_INITPARTS must be an integer, got: $v")
        }
        require(n >= 1, s"SPARK_GRAFT_BENCH_INITPARTS must be >= 1, got: $n")
        n
      case None =>
        val c = GraftSession.cpus
        val derived = inputBytes(sfDir) / (8L << 20)
        math.max(c, math.min(8L * c, derived)).toInt
    }
    // Generated-class cache sized for the catalog: the default 100-entry
    // codegen cache thrashes on a 268-query suite — every interleaved
    // pass re-compiles (Janino + C2) every plan's generated classes, so
    // the measured steady-state is really the re-JIT overhead. 4096
    // entries lets a long-lived session (exactly what a production
    // cluster running this catalog is) keep its generated classes warm;
    // the cache holds weak class references, so this costs bounded
    // metadata, not heap data. Scale-independent (per-plan, not
    // per-row); override for A/B with SPARK_GRAFT_CODEGEN_CACHE.
    val codegenCache = sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096")
    val spark = GraftSession.get(GraftSession.builder()
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initParts.toString)
      .config("spark.sql.codegen.cache.maxEntries", codegenCache))
    System.err.println(s"[bench] initialPartitionNum=$initParts sfDir=$sfDir")

    // warm-up: session, codegen, parquet footer reads
    GraftQueries.q1PricingSummary(spark, sfDir).count()

    /** The full anonymise-and-dump pipeline (the reference's main job):
      * measured as a bench entry of its own, writing to a null sink.
      */
    def anonymiseExport(): Long = {
      val nullOut = new java.io.Writer {
        override def write(cbuf: Array[Char], off: Int, len: Int): Unit = ()
        override def flush(): Unit = ()
        override def close(): Unit = ()
      }
      val stats = graft.export.ExportPipeline.run(
        graft.sources.ParquetSource(spark, sfDir),
        GraftQueries.exportConfig, graft.dialect.SqliteDialect, nullOut)
      stats.rowsExported
    }

    // Sampling protocol: one untimed warm-up PASS over the whole suite
    // (the first execution of a plan pays Catalyst optimization +
    // Janino/C2 codegen, measured up to 20s for wide-aggregate plans —
    // amortised to nothing on a long-running cluster), then three timed
    // passes; a query's number is its minimum across passes. Passes are
    // INTERLEAVED (suite-at-a-time, not query-at-a-time) because this
    // host has external CPU-contention episodes lasting minutes:
    // consecutive per-query samples all land inside one episode and the
    // min never recovers (measured: d2 at 0.9s clean vs 15.7s with
    // query-consecutive sampling during an episode, identical code) —
    // interleaving puts a query's samples minutes apart, so one episode
    // can poison at most one pass's worth of any query.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        if (name == "anonymise_export") anonymiseExport()
        else GraftQueries.all(name)(spark, sfDir).count()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
      }
      (System.nanoTime() - t0) / 1e9
    }
    def sample(pass: Int, name: String): Unit = {
      val t = once(name)
      if (pass > 0)
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      // release operator-internal caches BETWEEN query executions:
      // every sample carries the query's own cache-build cost (the
      // honest per-query number; keeps the storage pool flat), and no
      // query ever reuses a neighbour's intermediates
      graft.ops.OpCaches.releaseAll()
      // JIT code-cache occupancy: exhaustion (flushing + hot-method
      // eviction) is the one JVM-state failure mode that has produced
      // 10-25× per-query degradation late in a bench run — keep it
      // visible next to every sample, with the pass for correlating
      // contention episodes across the run.
      val ccUsed = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .stream().filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
        .mapToLong(_.getUsage.getUsed).sum() >> 20
      // 1-min system load: this host has EXTERNAL contention episodes
      // lasting minutes (measured 12x on the same query back-to-back);
      // load >> the bench's own 32 threads marks a poisoned sample, so
      // a flagged min can be re-measured instead of committed
      val load = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      System.err.println(f"[bench] pass=$pass $name $t%.3fs codecache=${ccUsed}m load=$load%.0f")
    }
    if (consecutive)
      suite.foreach(name => (0 to passes).foreach(pass => sample(pass, name)))
    else
      for (pass <- 0 to passes) suite.foreach(name => sample(pass, name))
    val results = suite.map(name => name -> best(name))
    // a failed query's elapsed-to-failure is NOT a benchmark time: report
    // it as -1 and list it in "errors" so a fast failure can never be
    // mistaken for a fast run by a JSON-only consumer
    def entry(k: String, v: Double): String = {
      val shown = if (failed.contains(k)) -1.0 else v
      "\"" + k + "\":" + f"$shown%.3f"
    }
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (k, v) if !failed.contains(k) => v }.sum
    val qs = results.map((entry _).tupled).mkString("{", ",", "}")
    // The stdout line carries the FULL per-query map; the identical line
    // lands in BENCH_full.json for the committed per-round artifact.
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(fullLine)
    spark.stop()
  }
}
