package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.execution.ProjectExec
import org.scalatest.funsuite.AnyFunSuite

/** The catalog runner: each key's time and plan digest come from one
  * noop execution, the digest is stable across executions of one plan
  * and moves with a join strategy, and the timed plan computes the
  * key's whole output.
  */
class BenchSpec extends AnyFunSuite with SparkSuite {

  private def withRunner[T](body: Bench.Runner => T): T = {
    val runner = new Bench.Runner(spark, sfDir)
    try body(runner) finally { runner.close(); graft.ops.OpCaches.releaseAll() }
  }

  test("digests of distinct-aggregate and round-trip keys are stable across executions") {
    withRunner { r =>
      for (key <- Seq("o23_dump_roundtrip", "o24_dump_parallel", "o25_jsonl_roundtrip",
                      "o26_csv_roundtrip", "o30_schema_evolution", "q_profile")) {
        val first = r.run(key).digest
        graft.ops.OpCaches.releaseAll()
        assert(r.run(key).digest == first, key)
        graft.ops.OpCaches.releaseAll()
      }
    }
  }

  test("q5's digest moves when its broadcast joins become sort-merge joins") {
    val key = "q5_local_supplier"
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(conf)
    withRunner { r =>
      val broadcast = r.run(key)
      assert(broadcast.formatted.contains("BroadcastHashJoin"))
      spark.conf.set(conf, "-1")
      val sortMerge = try r.run(key) finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
      assert(sortMerge.formatted.contains("SortMergeJoin"))
      assert(sortMerge.digest.hash != broadcast.digest.hash)
    }
  }

  test("the timed plan projects every output column, not a pruned scan") {
    withRunner { r =>
      for (key <- Seq("t4_fingerprint", "t7_pii_scrub", "t21_clean_text")) {
        val columns = GraftQueries.all(key)(spark, sfDir).columns.toSet
        val projects = r.run(key).executions.flatMap(qe => Bench.operators(qe.executedPlan))
          .collect { case p: ProjectExec => p }
        assert(projects.exists(p => columns.subsetOf(p.output.map(_.name).toSet) &&
          p.projectList.exists(_.isInstanceOf[Alias])), s"$key: ${projects.mkString("\n")}")
      }
    }
  }

  test("one run writes times, digests and plans for catalog keys and export_file") {
    val plansDir = Files.createTempDirectory("bench_plans")
    val exportDir = Paths.get(sys.env.get("SPARK_LOCAL_DIRS").map(_.split(',').head)
      .getOrElse(System.getProperty("java.io.tmpdir")))
    def exportFiles: Set[String] = Option(exportDir.toFile.list())
      .fold(Set.empty[String])(_.toSet.filter(_.startsWith("graft-bench-export-")))
    val before = exportFiles
    val keys = Seq("t7_pii_scrub", "export_file")
    val line = Bench.measure(spark, sfDir, keys, passes = 1, Some(plansDir))
    assert(exportFiles == before, "the export's file is deleted after the run")
    val doc = org.json4s.jackson.JsonMethods.parse(line)
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    assert((doc \ "timing").extract[String] == "noop")
    assert((doc \ "errors").extract[Seq[String]].isEmpty)
    for (k <- keys) {
      assert((doc \ "queries" \ k).extract[Double] > 0, k)
      assert((doc \ "plans" \ k \ "hash").extract[String].matches("[0-9a-f]{32}"), k)
      assert((doc \ "plans" \ k \ "nodes").extract[Int] > 1, k)
      assert(Files.readString(plansDir.resolve(s"$k.txt")).contains("Project"), k)
    }
  }
}
