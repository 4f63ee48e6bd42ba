package graft
import java.nio.file.{Files, Paths}

/** Per-query physical-plan digests: one stable hash per catalog query,
  * committed per round (`PLANS_r{N}.json`) so a bench-ratio shift can be
  * split into plan drift vs environment drift in one diff
  * (`tools/plan_delta.py PLANS_rA.json PLANS_rB.json`).
  *
  * The digest is md5 over the EXECUTED plan string with the unstable
  * parts normalized away: expression ids, plan ids, per-process /tmp
  * cache paths (pid + fixture-mtime keyed), pid-tagged temp-view names,
  * UUIDs, and the anonymiser's per-run seeds. Two rounds with identical
  * digests ran identical plans — any residual time delta is the host.
  * Alongside the hash: node and Exchange counts, cheap structural
  * signals that make a drift's direction readable without replaying.
  *
  * Set SPARK_GRAFT_PLANS_DUMP=dir to also write each query's normalized
  * plan text (for diffing the actual trees when a digest DOES move).
  */
object Plans {
  /** Strip everything that legitimately varies across processes/rounds
    * while preserving every structural property of the plan.
    */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#_")                       // expression ids
    .replaceAll("plan_id=\\d+", "plan_id=_")
    .replaceAll("exprId=\\d+", "exprId=_")
    .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda\\$_") // JIT-assigned lambda class
    .replaceAll("@[0-9a-f]{6,12}\\b", "@_")          // object identity hashes
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "_UUID_")
    .replaceAll("/tmp/graft_[A-Za-z0-9_./=\\-]*", "/tmp/graft_NORM")
    .replaceAll("/tmp/[A-Za-z0-9_]*graft[A-Za-z0-9_./=\\-]*", "/tmp/graft_NORM")
    // FileScan's Location metadata value is TRUNCATED to a fixed char
    // budget, so the surviving prefix of a /tmp-keyed path list depends
    // on the LENGTH of the pid/mtime digits in the paths before it —
    // the path-token rules above can't normalize a path the truncation
    // cut mid-token ("file:/tmp/graf..."). Collapse the whole bracketed
    // location list when it points under /tmp (the per-process fixture
    // caches); fixture-table locations are stable absolute paths and
    // stay in the digest.
    .replaceAll("(Location: [A-Za-z]*FileIndex\\([^)]*\\))\\[[^\\n]*?/tmp/[^\\n]*?(?=, PartitionFilters)",
      "$1[/tmp/LOCATION_NORM]")
    .replaceAll("p\\d+_+[A-Za-z0-9_.]*sf[0-9.]+[A-Za-z0-9_.]*", "pNORM")
    .replaceAll("_m\\d{10,}", "_mNORM")              // fixture-mtime cache keys
    .replaceAll("seed=-?\\d+", "seed=_")
    // NamedLambdaVariable names carry a process-global counter assigned
    // at expression-creation order — adding ANY query renumbers every
    // later query's higher-order-function lambdas (x_78 → x_91) with
    // zero plan change. Scrub the counter, keep the variable's base
    // name. No trailing `#` anchor: inside TRUNCATED plan strings
    // (FileScan's elided DataFilters) the counter appears cut off
    // mid-token.
    .replaceAll("\\blambda ([A-Za-z]+)_\\d+", "lambda $1_N")
    .replaceAll("-?\\d{15,}", "_BIGLIT_")            // epoch-derived literals
    .replaceAll("\\*\\(\\d+\\)", "*(_)")             // whole-stage-codegen ids
    .replaceAll("(Broadcast|Shuffle|TableCache)QueryStage \\d+", "$1QueryStage _")
    // RewriteDistinctAggregates assigns each distinct-column group a gid
    // whose NUMBER follows exprId-map iteration order — a pure label
    // permutation across otherwise identical plans. Scrub the labels
    // (structure — branch count, null patterns — is untouched).
    .replaceAll("gid#_ = \\d+", "gid#_ = _")
    .linesIterator.map(l =>
      if (l.contains("+- Expand [[")) l.replaceAll("\\b\\d\\b", "_") else l)
    .mkString("\n")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = if (args.length > 1) args(1) else "PLANS.json"
    val dump = sys.env.get("SPARK_GRAFT_PLANS_DUMP")
    val spark = GraftSession.get()
    dump.foreach(d => new java.io.File(d).mkdirs())
    val entries = GraftQueries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val norm = normalize(fn(spark, sfDir).queryExecution.executedPlan.toString)
        val hash = java.security.MessageDigest.getInstance("MD5")
          .digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        val nodes = norm.linesIterator.count(_.exists(!_.isWhitespace))
        val exchanges = "Exchange".r.findAllIn(norm).size
        dump.foreach(d => Files.writeString(Paths.get(s"$d/$name.txt"), norm))
        graft.ops.OpCaches.releaseAll()
        System.err.println(s"[plans] $name $hash nodes=$nodes exchanges=$exchanges")
        Some(s""""$name": {"hash": "$hash", "nodes": $nodes, "exchanges": $exchanges}""")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
          Some(s""""$name": {"hash": "ERROR", "nodes": -1, "exchanges": -1}""")
      }
    }
    Files.writeString(Paths.get(outPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    System.err.println(s"[plans] wrote ${entries.size} digests to $outPath")
    spark.stop()
  }
}
