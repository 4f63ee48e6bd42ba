package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional: further args name specific queries (dev iteration only —
    // the driver always runs the full catalog)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — a typo here would " +
        "silently verify nothing")
    // compare_oracle.py scores every result dir it finds on disk: a
    // filtered run into a dir holding OTHER queries' results would get
    // those stale siblings scored as if fresh — refuse.
    if (only.nonEmpty) {
      val stale = Option(new java.io.File(outDir).list()).getOrElse(Array.empty)
        .filter(d => SparkEntry.queries.contains(d) && !only(d))
      require(stale.isEmpty,
        s"outDir has results for other queries (${stale.take(3).mkString(", ")}…) — " +
          "use a fresh outDir for filtered runs; stale siblings would be scored as fresh")
    }
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any partial/stale output so a failed query can never be
        // scored against a previous run's result
        val dir = new java.io.File(s"$outDir/$name")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(dir)
      }
      // caching scope: each query's operator-internal persists are
      // released once its action finished — the storage pool stays flat
      // across the 90-query run instead of growing to LRU pressure
      graft.ops.OpCaches.releaseAll()
      System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
