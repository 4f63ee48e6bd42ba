package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, HashJoin}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.util.QueryExecutionListener

import graft.anonymise.Anonymiser
import graft.config.RetainAll
import graft.export.ExportPipeline
import graft.sources.ParquetSource

/** The catalog runner: times every catalog key (plus `export_file`, the
  * `graft export` path into a real file) and digests the plan that ran.
  *
  * {{{graft.Bench [sfDir] [--out BENCH_full.json] [--passes N] [--plans-dir DIR] [key …]}}}
  *
  * Each sample is one `write.format("noop")` of the key's frame: the
  * whole output is computed, so Catalyst prunes nothing the user would
  * get. Its wall time and its final physical plan's structural [[digest]]
  * come from that one execution. The run prints one JSON line and writes
  * it to `--out`: per-key minimum seconds (−1 for a key that failed, also
  * listed under `errors`), `"timing": "noop"`, and per-key
  * `{hash, nodes, exchanges}` under `plans`. `--plans-dir` also writes
  * each key's formatted final plan to `<key>.txt`.
  */
object Bench {
  /** Every catalog key, sorted, then the export into a file. */
  val headline: Seq[String] =
    GraftQueries.all.keys.toSeq.sorted :+ "export_file"

  /** A plan's structural digest, with its operator and exchange counts. */
  final case class Digest(hash: String, nodes: Int, exchanges: Int)

  /** One execution of a key: its wall time and the query executions it
    * ran (one for a catalog key, one per exported table for `export_file`).
    */
  final case class Sample(seconds: Double, executions: Seq[QueryExecution]) {
    def digest: Digest = Bench.digest(executions.map(_.executedPlan))
    def formatted: String = executions.map(_.explainString(FormattedMode)).mkString("\n")
  }

  /** Runs keys on `spark` over the fixture at `sfDir`. Holds a
    * `QueryExecutionListener` until closed: the noop write's
    * `QueryExecution` reaches it with the final adaptive plan.
    */
  final class Runner(spark: SparkSession, sfDir: String) extends AutoCloseable {
    private val written = new AtomicReference[QueryExecution]()
    private val listener = new QueryExecutionListener {
      // a v2 overwrite is the noop save; actions a key runs while it is
      // built (collects, chooser pre-passes) report other names
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") written.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    def run(key: String): Sample =
      if (key == "export_file") exportFile()
      else {
        written.set(null)
        val t0 = System.nanoTime()
        GraftQueries.all(key)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val seconds = (System.nanoTime() - t0) / 1e9
        GraftShims.drainListenerBus(spark)
        val qe = written.get()
        require(qe != null, s"$key: no QueryExecution reported for its noop write")
        Sample(seconds, Seq(qe))
      }

    /** `ExportPipeline.run` into a file under the first `SPARK_LOCAL_DIRS`
      * entry (else `java.io.tmpdir`), deleted afterwards. The export drains
      * RDDs that no listener sees, so the digest covers each exported
      * table's frame planned as the pipeline builds it.
      */
    private def exportFile(): Sample = {
      val dir = Paths.get(sys.env.get("SPARK_LOCAL_DIRS").map(_.split(',').head)
        .getOrElse(System.getProperty("java.io.tmpdir")))
      Files.createDirectories(dir)
      val file = Files.createTempFile(dir, "graft-bench-export-", ".sql")
      try {
        val cfg = GraftQueries.exportConfig
        val t0 = System.nanoTime()
        val source = ParquetSource(spark, sfDir)
        val out = new java.io.OutputStreamWriter(Files.newOutputStream(file), UTF_8)
        try ExportPipeline.run(source, cfg, graft.dialect.SqliteDialect, out)
        finally out.close()
        val seconds = (System.nanoTime() - t0) / 1e9
        val frames = ExportPipeline.plan(source, cfg).filterNot(_.config.exists(_.truncate)).map { p =>
          val retained = source.scan(p.meta.name, p.config.map(_.retain).getOrElse(RetainAll))
          p.config.map(Anonymiser(retained, _)).getOrElse(retained)
        }
        Sample(seconds, frames.map(_.queryExecution))
      } finally Files.deleteIfExists(file)
    }

    override def close(): Unit = spark.listenerManager.unregister(listener)
  }

  /** The operator below AQE's wrappers: an adaptive plan's current
    * (after execution, final) plan, a query stage's plan.
    */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case s: QueryStageExec => unwrap(s.plan)
    case other => other
  }

  /** Every operator of `p` below AQE's wrappers, subquery plans included. */
  def operators(p: SparkPlan): Seq[SparkPlan] = {
    val op = unwrap(p)
    op +: (op.children ++ op.subqueries).flatMap(operators)
  }

  /** MD5 over the plans' operator trees: per operator its class, a join's
    * type and build side, an exchange's partitioning kind and partition
    * count, and whether an AQE shuffle read coalesced or split skew.
    * Expression text, ids, paths, literals and seeds are left out, so two
    * executions of one plan shape digest alike; a `Union`'s children are
    * taken in digest order.
    */
  def digest(plans: Seq[SparkPlan]): Digest = {
    def hashOf(p: SparkPlan): String = {
      val op = unwrap(p)
      val kids = (op.children ++ op.subqueries).map(hashOf)
      md5(label(op) + (if (op.isInstanceOf[UnionExec]) kids.sorted else kids).mkString("(", ",", ")"))
    }
    val ops = plans.flatMap(operators)
    Digest(md5(plans.map(hashOf).mkString(",")), ops.size, ops.count(_.isInstanceOf[Exchange]))
  }

  private def simpleName(x: AnyRef): String = x.getClass.getSimpleName.stripSuffix("$")

  private def label(op: SparkPlan): String = simpleName(op) + (op match {
    case j: HashJoin => s" ${simpleName(j.joinType)} ${j.buildSide}"
    case j: BroadcastNestedLoopJoinExec => s" ${simpleName(j.joinType)} ${j.buildSide}"
    case j: BaseJoinExec => s" ${simpleName(j.joinType)}"
    case e: Exchange =>
      val part: Partitioning = e.outputPartitioning
      s" ${simpleName(part)} ${part.numPartitions}"
    case r: AQEShuffleReadExec => s" coalesced=${r.hasCoalescedPartition} skew=${r.hasSkewedPartition}"
    case _ => ""
  })

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  private final case class Args(sfDir: String, out: String, passes: Int,
                                plansDir: Option[Path], keys: Seq[String])

  private def parse(args: List[String], a: Args, positional: List[String]): Args = args match {
    case "--out" :: v :: rest => parse(rest, a.copy(out = v), positional)
    case "--passes" :: v :: rest => parse(rest, a.copy(passes = v.toInt), positional)
    case "--plans-dir" :: v :: rest => parse(rest, a.copy(plansDir = Some(Paths.get(v))), positional)
    case flag :: _ if flag.startsWith("--") =>
      sys.error(s"unknown or incomplete option $flag; usage: " +
        "graft.Bench [sfDir] [--out FILE] [--passes N] [--plans-dir DIR] [key …]")
    case v :: rest => parse(rest, a, positional :+ v)
    case Nil => positional match {
      case Nil => a
      case dir :: keys => a.copy(sfDir = dir, keys = keys)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toList,
      Args("/root/testdata/sf0.1", "BENCH_full.json", 3, None, Nil), Nil)
    require(a.passes >= 1 && a.passes <= 10, "--passes must be 1..10")
    require(Files.isDirectory(Paths.get(a.sfDir)), s"not a fixture directory: ${a.sfDir}")
    // a typo'd key must fail fast, not yield a successful-looking
    // partial run
    val bad = a.keys.filterNot(headline.contains)
    require(bad.isEmpty, s"keys not in catalog: ${bad.mkString(", ")}")
    val suite = if (a.keys.isEmpty) headline else headline.filter(a.keys.contains)

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
    val inputBytes = {
      val s = Files.walk(Paths.get(a.sfDir))
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
    val c = GraftSession.cpus
    val initParts = math.max(c, math.min(8L * c, inputBytes / (8L << 20))).toInt
    // Generated-class cache sized for the catalog: the default 100-entry
    // codegen cache thrashes on a 268-key suite — every interleaved
    // pass re-compiles (Janino + C2) every plan's generated classes, so
    // the measured steady-state is really the re-JIT overhead. 4096
    // entries lets a long-lived session (exactly what a production
    // cluster running this catalog is) keep its generated classes warm;
    // the cache holds weak class references, so this costs bounded
    // metadata, not heap data.
    val spark = GraftSession.get(GraftSession.builder()
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", initParts.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096"))
    System.err.println(s"[bench] initialPartitionNum=$initParts sfDir=${a.sfDir}")
    val line = try measure(spark, a.sfDir, suite, a.passes, a.plansDir) finally spark.stop()
    Files.write(Paths.get(a.out), (line + "\n").getBytes(UTF_8))
    println(line)
  }

  /** Runs `suite` on `spark` by the sampling protocol below and returns
    * the artifact's JSON line; with `plansDir`, each key's formatted plan
    * of its best sample is written there as `<key>.txt`.
    */
  def measure(spark: SparkSession, sfDir: String, suite: Seq[String], passes: Int,
              plansDir: Option[Path]): String = {
    plansDir.foreach(Files.createDirectories(_))
    // Sampling protocol: one untimed warm-up PASS over the whole suite
    // (the first execution of a plan pays Catalyst optimization +
    // Janino/C2 codegen, measured up to 20s for wide-aggregate plans —
    // amortised to nothing on a long-running cluster), then the timed
    // passes; a key's number is its minimum across passes, and its
    // digest is that sample's. Passes are INTERLEAVED (suite-at-a-time,
    // not key-at-a-time) because this host has external CPU-contention
    // episodes lasting minutes: consecutive per-key samples all land
    // inside one episode and the min never recovers (measured: d2 at
    // 0.9s clean vs 15.7s with key-consecutive sampling during an
    // episode, identical code) — interleaving puts a key's samples
    // minutes apart, so one episode can poison at most one pass's worth
    // of any key.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val best = scala.collection.mutable.Map.empty[String, (Double, Digest)]
    val runner = new Runner(spark, sfDir)
    try for (pass <- 0 to passes; name <- suite) {
      val shown = try {
        val s = runner.run(name)
        val d = s.digest
        if (pass > 0 && best.get(name).forall(s.seconds < _._1)) {
          best(name) = (s.seconds, d)
          plansDir.foreach(dir => Files.writeString(dir.resolve(s"$name.txt"), s.formatted))
        }
        f"${s.seconds}%.3fs ${d.hash}"
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        "failed"
      }
      // release operator-internal caches BETWEEN key executions:
      // every sample carries the key's own cache-build cost (the
      // honest per-key number; keeps the storage pool flat), and no
      // key ever reuses a neighbour's intermediates
      graft.ops.OpCaches.releaseAll()
      // JIT code-cache occupancy: exhaustion (flushing + hot-method
      // eviction) is the one JVM-state failure mode that has produced
      // 10-25× per-key degradation late in a bench run — keep it
      // visible next to every sample, with the pass for correlating
      // contention episodes across the run.
      val ccUsed = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .stream().filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
        .mapToLong(_.getUsage.getUsed).sum() >> 20
      // 1-min system load: load far above the core count marks a
      // sample taken during an external contention episode, so a
      // flagged min can be re-measured instead of committed
      val load = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      System.err.println(f"[bench] pass=$pass $name $shown codecache=${ccUsed}m load=$load%.0f")
    } finally runner.close()

    // a failed key's elapsed-to-failure is NOT a benchmark time: report
    // it as -1 and list it in "errors" so a fast failure can never be
    // mistaken for a fast run by a JSON-only consumer
    def seconds(k: String): Double =
      if (failed.contains(k)) -1.0 else best.get(k).fold(-1.0)(_._1)
    val total = suite.map(seconds).filter(_ >= 0).sum
    val qs = suite.map(k => "\"" + k + "\":" + f"${seconds(k)}%.3f").mkString("{", ",", "}")
    val plans = suite.map { k =>
      val d = best.get(k).fold(Digest("ERROR", -1, -1))(_._2)
      s""""$k":{"hash":"${d.hash}","nodes":${d.nodes},"exchanges":${d.exchanges}}"""
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","timing":"noop","plans":$plans}"""
  }
}
