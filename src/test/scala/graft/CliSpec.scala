package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI test — the layer the reference lacks entirely
  * (SURVEY.md §5: "no end-to-end CLI test"): run `graft export` against
  * the sf0.001 fixture through the real Main entry point and assert on
  * the dump it writes.
  */
class CliSpec extends AnyFunSuite with SparkSuite {

  private def writeTemp(name: String, content: String): String = {
    val p = Files.createTempFile(s"graft_cli_$name", ".yaml")
    Files.writeString(p, content)
    p.toString
  }

  private val config = writeTemp("cfg",
    """connection:
      |  type: sqlite
      |  file: fixture
      |configuration:
      |  events:
      |    truncate: true
      |  lineitem:
      |    retain: 100
      |  customer:
      |    columns:
      |      c_name: "{{faker.name}}"
      |      c_mktsegment: "REDACTED"
      |""".stripMargin)

  test("graft export writes a complete dump through the CLI path") {
    val out = Files.createTempFile("graft_cli_out", ".sql").toString
    Main.main(Array("export", "-c", config, "-o", out,
      "--source", "parquet:/root/testdata/sf0.001"))
    val dump = Files.readString(Paths.get(out))
    // dialect framing + DDL for every fixture table
    assert(dump.contains("PRAGMA foreign_keys = OFF;"))
    assert(dump.contains("CREATE TABLE \"customer\""))
    // truncate: DDL present, no INSERT
    assert(dump.contains("CREATE TABLE \"events\""))
    assert(!dump.contains("INSERT INTO \"events\""))
    // retain-count honoured
    val lineitemInserts = dump.linesIterator
      .filter(_.startsWith("INSERT INTO \"lineitem\"")).toList
    assert(lineitemInserts.nonEmpty)
    // static rule visible in the dump, original segment values gone
    assert(dump.contains("REDACTED"))
    assert(!dump.contains("AUTOMOBILE"), "anonymised column leaked original values")
  }

  test("graft export on an embedded caller's session leaves its settings alone") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val out = Files.createTempFile("graft_cli_conf", ".sql").toString
      Main.main(Array("export", "-c", config, "-o", out,
        "--source", "parquet:/root/testdata/sf0.001"))
      assert(spark.conf.get(key) == "3")
    } finally spark.conf.set(key, before)
  }

  test("graft export --dry-run plans without writing data") {
    val out = Files.createTempFile("graft_cli_dry", ".sql").toString
    Main.main(Array("export", "-c", config, "-o", out, "--dry-run",
      "--source", "parquet:/root/testdata/sf0.001"))
    val dump = Files.readString(Paths.get(out))
    assert(!dump.contains("INSERT INTO"), "dry run must not export rows")
  }

  test("graft sync preserves a JSON config's format (save-by-extension)") {
    val p = Files.createTempFile("graft_cli_sync", ".json")
    Files.writeString(p,
      """{
        |  "connection": {"type": "sqlite", "file": "fixture"},
        |  "configuration": {
        |    "customer": {"columns": {"c_name": "{{faker.name}}"}},
        |    "lineitem": {"retain": 100}
        |  }
        |}
        |""".stripMargin)
    Main.main(Array("sync", "-c", p.toString,
      "--source", "parquet:/root/testdata/sf0.001"))
    val text = Files.readString(p)
    // still JSON, not silently converted to YAML (config.go:276-299)
    assert(text.trim.startsWith("{"), s"sync rewrote JSON as non-JSON:\n$text")
    // strict JSON parse (snakeyaml would also accept YAML — use a real
    // JSON parser to prove format preservation)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(text)
    assert(root.get("connection").get("type").asText() == "sqlite")
    val tables = root.get("configuration")
    // previously-configured tables kept their settings…
    assert(tables.get("customer").get("columns").get("c_name").asText() == "{{faker.name}}")
    assert(tables.get("lineitem").get("retain").asInt() == 100)
    // …and every fixture table the config lacked was added by the sync
    for (t <- Seq("region", "nation", "orders", "documents", "embeddings", "events"))
      assert(tables.has(t), s"sync did not add missing table $t")
    // round-trip: the synced JSON file loads back identically
    val reloaded = graft.config.GraftConfig.load(p.toString)
    assert(reloaded.tableConfig("lineitem").exists(_.retain == graft.config.RetainCount(100)))
    assert(reloaded.configuration.size == tables.size())
  }

  test("graft subset exports a referentially-consistent anonymised fraction") {
    // plain config (no truncates/retains — the subset does the shrinking)
    val cfg = writeTemp("subset_cfg",
      """connection:
        |  type: sqlite
        |  file: fixture
        |configuration:
        |  customer:
        |    columns:
        |      c_name: "{{faker.name}}"
        |""".stripMargin)
    val out = Files.createTempFile("graft_cli_subset", ".sql").toString
    val cachedBefore = org.apache.spark.sql.graftshim.GraftShims.cachedEntries(spark)
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Main.main(Array("subset", "-c", cfg, "-o", out, "--anchor", "orders",
      "--pct", "20", "--source", "parquet:/root/testdata/sf0.001"))
    finally System.setErr(stderr)
    // the summary line names the closure's branch: the fixture's keys
    // fit the driver budget
    assert(err.toString.contains(
      s"closure=driver key_rows=") && err.toString.contains(
      s"budget=${graft.export.Subset.KeyBudget}"), err.toString)
    // nothing the closure persisted outlives the command
    assert(org.apache.spark.sql.graftshim.GraftShims.cachedEntries(spark) == cachedBefore)
    val dump = Files.readString(Paths.get(out))
    assert(dump.contains("INSERT INTO \"orders\"") &&
      dump.contains("INSERT INTO \"lineitem\""))
    // read the dump back through the engine's own splittable source and
    // assert the closure: a real fraction of orders, and every dumped
    // lineitem's order key among the dumped orders
    def table(t: String) = spark.read.format("graft.sources.SqlDumpSource")
      .option("table", t).load(out)
    val full = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").count()
    val keptOrders = table("orders").select("o_orderkey")
    val n = keptOrders.count()
    assert(n > 0 && n < full, s"subset kept $n of $full orders")
    val dangling = table("lineitem").join(keptOrders,
      org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"), "left_anti").count()
    assert(dangling == 0, s"$dangling lineitems dangle in the dumped subset")
    // anonymisation still applied inside the subset pipeline
    assert(!dump.contains("Customer#"), "anonymised c_name leaked originals")
  }

  test("graft forget erases victims + descendants; dump stays closed; dimensions intact") {
    import org.apache.spark.sql.functions.col
    val cfg = writeTemp("forget_cfg",
      """connection:
        |  type: sqlite
        |  file: fixture
        |configuration:
        |  customer:
        |    columns:
        |      c_name: "{{faker.name}}"
        |""".stripMargin)
    val out = Files.createTempFile("graft_cli_forget", ".sql").toString
    Main.main(Array("forget", "-c", cfg, "-o", out, "--anchor", "customer",
      "--pct", "20", "--source", "parquet:/root/testdata/sf0.001"))
    def table(t: String) = spark.read.format("graft.sources.SqlDumpSource")
      .option("table", t).load(out)
    def fixture(t: String) = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
    // a real fraction of customers erased, and exactly the victim set
    val victims = fixture("customer")
      .filter(graft.ops.Sampling.bucket(col("c_custkey"), 100) < 20)
      .select("c_custkey")
    val nVictims = victims.count()
    assert(nVictims > 0)
    assert(table("customer").count() == fixture("customer").count() - nVictims)
    assert(table("customer").join(victims, Seq("c_custkey"), "left_semi").count() == 0,
      "a victim survived the erasure")
    // cascade: no order of an erased customer, no dangling lineitem
    assert(table("orders").join(victims,
      col("o_custkey") === col("c_custkey"), "left_semi").count() == 0)
    val dangling = table("lineitem").join(table("orders").select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    assert(dangling == 0, s"$dangling lineitems dangle after the erasure")
    // dimensions never shrink on an erasure
    assert(table("nation").count() == fixture("nation").count())
  }

  test("graft export of a column the dump cannot carry fails and leaves no dump") {
    import org.apache.spark.sql.functions.{col, lit, map}
    val dir = Files.createTempDirectory("graft_cli_map").toString
    spark.range(3).select(col("id"), map(lit("k"), col("id").cast("int")).as("attrs"))
      .write.parquet(s"$dir/things.parquet")
    val out = Paths.get(Files.createTempDirectory("graft_cli_map_out").toString, "out.sql")
    val e = intercept[Exception](Main.main(Array("export", "-c", config, "-o", out.toString,
      "--source", s"parquet:$dir")))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toList
    assert(messages.exists(m => m != null && m.contains("attrs")), messages)
    assert(!Files.exists(out), "a failed export left a dump behind")
    assert(out.getParent.toFile.list().isEmpty, "a failed export left a partial file")
  }

  test("drift: identical versions exit 0, an evolved version exits 1") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val same = Main.runDrift("/root/testdata/sf0.001/customer.parquet",
      "/root/testdata/sf0.001/customer.parquet")
    assert(same == 0)
    // evolve: drop a column, null some values
    val dir = Files.createTempDirectory("graft_cli_drift").toString
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .drop("c_mktsegment")
      .withColumn("c_acctbal",
        when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_acctbal")))
      .write.mode("overwrite").parquet(dir)
    val changed = Main.runDrift("/root/testdata/sf0.001/customer.parquet", dir)
    assert(changed == 1)
  }
}
