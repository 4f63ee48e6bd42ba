package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` output for named catalog queries —
  * the optimization-round evidence artifact (`plans/rN/<q>_before.txt`
  * / `_after.txt`). Args: <sfDir> <outDir> <suffix> [query...]
  * (no query names = every catalog key).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [query...]")
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
                else GraftQueries.all.keys.toSeq.sorted
    val unknown = names.filterNot(GraftQueries.all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try {
        val df = GraftQueries.all(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), formatted)
        graft.ops.OpCaches.releaseAll()
        System.err.println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
