package graftbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.config.GraftConfig

/** One benchmark JVM: set up a session the way `graft` does, run one
  * cold job, then warm jobs back to back (a closed loop with a single
  * client) for the given number of seconds, and write what it measured
  * as JSON. `run.py` launches it, derives the metrics and checks the
  * outputs.
  *
  *   BenchMain --inputs in.json --out result.json --seconds S --trace 0|1
  *             --launch-ns <epoch ns the launcher started the JVM>
  *
  * Verification artefacts go to `<work_dir>/verify`.
  */
object BenchMain {

  final case class Job(i: Int, phase: String, wallS: Double, heapMb: Double,
                       out: JobOutput, spark: Option[Map[String, Double]])

  def main(args: Array[String]): Unit = {
    val mainNs = Clock.now()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val in = readInputs(a("inputs"))
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors

    // the CLI's session settings (graft.Main.buildSession) at this host's core count
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyNs = Clock.now()

    val tracer = new Tracer(trace)
    val probe = new SparkProbe
    val w = Jobs(spark, in)
    val configLoadS = {
      val t0 = System.nanoTime()
      GraftConfig.load(in.configPath)
      (System.nanoTime() - t0) / 1e9
    }

    val jobs = ArrayBuffer.empty[Job]
    def run(phase: String, traced: Boolean): Unit = {
      val i = jobs.size
      tracer.job = i
      // the cold job starts right after set-up, as a CLI run's does
      if (phase != "cold") {
        System.gc()
        Jit.settle()
      }
      Heap.reset()
      val counters = new SparkCounters
      if (traced) probe.current = counters
      val t0 = Clock.now()
      val out = tracer.span("job")(w.job(i))
      val t1 = Clock.now()
      val heap = Heap.peakMb
      val sm = if (!traced) None else {
        org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
        Some(sparkMetrics(counters, t0, t1, cores))
      }
      val j = Job(i, phase, (t1 - t0) / 1e9, heap, out, sm)
      System.err.println(f"[bench] ${in.workload} job $i ($phase) ${j.wallS}%.3f s")
      jobs += j
    }

    val cg = Codegen.mark()
    run("cold", traced = false)
    val coldCodegenS = Codegen.secondsSince(cg)

    val layers = new Layers
    val loopT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    // the first job after the cold one still rides the steepest part of
    // the JIT warm-up; it is reported but kept out of the warm figures
    run("warmup", traced = false)
    if (!trace) {
      while (elapsed < seconds || jobs.count(_.phase == "warm") < 3) run("warm", traced = false)
    } else {
      // two thirds: untraced and traced jobs in ABBA order, so a JIT
      // warm-up trend weighs on both alike; the last third: layer passes
      var k = 0
      while (elapsed < 2 * seconds / 3 || k % 4 != 0) {
        if (k % 4 == 0 || k % 4 == 3) run("warm", traced = false)
        else traced(spark, probe)(run("traced", traced = true))
        k += 1
      }
      var passes = 0
      while (elapsed < seconds || passes < 2) {
        tracer.job = 1000 + passes
        traced(spark, probe)(tracer.span("layers")(w.layerPass(tracer, probe, layers)))
        passes += 1
      }
    }

    val selfTest = w.selfTest()
    val verify = new File(in.workDir, "verify")
    verify.mkdirs()
    w.writeVerification(verify.getPath)
    val doneNs = Clock.now()
    spark.stop()

    val result = Map(
      "workload" -> in.workload,
      "cores" -> cores,
      "launch_ns" -> a("launch-ns").toLong,
      "main_ns" -> mainNs,
      "ready_ns" -> readyNs,
      "done_ns" -> doneNs,
      "config_load_s" -> configLoadS,
      "cold_codegen_s" -> coldCodegenS,
      "self_test" -> selfTest,
      "jobs" -> jobs.map(jobJson).toSeq,
      "layers" -> layers.values.map { case (k, v) => k -> v.toSeq }.toMap,
      "spans" -> tracer.all.map(s =>
        Map("id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
          "parent" -> s.parent, "job" -> s.job)))
    java.nio.file.Files.writeString(new File(a("out")).toPath, Json.write(result))
  }

  /** Runs `body` with the probe registered as Spark and query listener. */
  private def traced[T](spark: SparkSession, p: SparkProbe)(body: => T): T = {
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    try body
    finally {
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
  }

  private def sparkMetrics(c: SparkCounters, t0: Long, t1: Long, cores: Int): Map[String, Double] = {
    val wall = (t1 - t0) / 1e9
    val active = Intervals.unionWithin(c.jobIntervals, t0, t1) / 1e9
    val activeUnclipped = Intervals.unionWithin(c.jobIntervals, Long.MinValue, Long.MaxValue) / 1e9
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.job_active_s" -> active,
      "spark.job_outside_s" -> (activeUnclipped - active),
      "spark.driver_s" -> (wall - active),
      "spark.executor_run_s" -> c.executorRunMs / 1e3,
      "spark.executor_cpu_s" -> c.executorCpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.core_util" -> (c.executorRunMs / 1e3) / (wall * cores),
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.task_skew" -> c.taskSkew,
      "spark.task_failures" -> c.taskFailures.toDouble,
      "spark.plan_listener_s" -> c.planNs / 1e9)
  }

  private def jobJson(j: Job): Map[String, Any] = Map(
    "i" -> j.i, "phase" -> j.phase, "wall_s" -> j.wallS, "heap_mb" -> j.heapMb,
    "rows" -> j.out.rows, "out_bytes" -> j.out.outBytes,
    "ops" -> j.out.ops.map(o => Map("name" -> o.name, "ok" -> o.ok, "error" -> o.error, "s" -> o.seconds)),
    "digests" -> j.out.digests.map { case (t, d) =>
      t -> Map("sha256" -> d.sha256, "rows" -> d.rows, "bytes" -> d.bytes) },
    "spark" -> j.spark.getOrElse(Map.empty))

  private def readInputs(path: String): Inputs = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    Inputs(
      workload = n.get("workload").asText(),
      dataDir = n.get("data_dir").asText(),
      workDir = n.get("work_dir").asText(),
      configPath = n.get("config_path").asText(),
      batchSize = n.get("batch_size").asInt(),
      anchor = n.get("anchor").asText(),
      pct = n.get("pct").asInt(),
      knnIds = n.get("knn_ids").elements().asScala.map(_.asLong()).toSeq)
  }
}

/** Minimal JSON writer for the result: maps, sequences, strings, numbers. */
object Json {
  def write(v: Any): String = v match {
    case null                => "null"
    case s: String           => Jobs.json(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number           => n.toString
    case m: Map[_, _]        => m.map { case (k, x) => Jobs.json(k.toString) + ": " + write(x) }
                                  .mkString("{", ", ", "}")
    case s: Iterable[_]      => s.map(write).mkString("[", ", ", "]")
    case other               => Jobs.json(other.toString)
  }
}
