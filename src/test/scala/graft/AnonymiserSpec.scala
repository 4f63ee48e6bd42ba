package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.anonymise.Anonymiser
import graft.config._

/** Anonymisation semantics ported from the reference's tests
  * (/root/reference/internal/anonymiser/anonymiser_test.go:25-270):
  * null/static/faker rules, missing-column skip, consistency mapping, and
  * the equivalence of the two distributed consistency strategies.
  */
class AnonymiserSpec extends AnyFunSuite with SparkSuite {

  private lazy val customer = spark.read.parquet(s"$sfDir/customer.parquet")

  test("null rule sets NULL, keeps type (anonymiser_test.go: null rule)") {
    val out = Anonymiser(customer, TableConfig(columns = Map("c_acctbal" -> NullRule)))
    assert(out.schema("c_acctbal").dataType == org.apache.spark.sql.types.DoubleType)
    assert(out.filter(col("c_acctbal").isNotNull).count() == 0)
  }

  test("static rule replaces every value") {
    val out = Anonymiser(customer,
      TableConfig(columns = Map("c_mktsegment" -> StaticRule("REDACTED"))))
    assert(out.filter(col("c_mktsegment") =!= "REDACTED").count() == 0)
  }

  test("configured-but-absent column is skipped (anonymiser_test.go missing col)") {
    val out = Anonymiser(customer,
      TableConfig(columns = Map("no_such_column" -> StaticRule("x"))))
    assert(out.columns.toSeq == customer.columns.toSeq)
  }

  test("faker rule: values replaced, consistent per input, format holds") {
    val out = Anonymiser(customer, TableConfig(columns = Map("c_name" -> FakerRule("name"))))
      .select(col("c_name")).collect().map(_.getString(0))
    assert(out.forall(_.matches("^[A-Za-z]+ [A-Za-z]+$")))
    // same input → same output: re-run yields identical values
    val out2 = Anonymiser(customer, TableConfig(columns = Map("c_name" -> FakerRule("name"))))
      .select(col("c_name")).collect().map(_.getString(0))
    assert(out.sameElements(out2))
  }

  test("consistency across tables: same column name + value → same fake (README.md:305-307)") {
    val a = Anonymiser(
      customer.select(col("c_name")),
      TableConfig(columns = Map("c_name" -> FakerRule("email"))))
    val b = Anonymiser(
      customer.select(col("c_name")).limit(50),
      TableConfig(columns = Map("c_name" -> FakerRule("email"))))
    // b's fakes must be a subset of a's (same seeds)
    assert(b.except(a).count() == 0)
  }

  test("unknown faker function → empty string (faker.go:45-52)") {
    val out = Anonymiser(customer, TableConfig(columns = Map("c_name" -> FakerRule("bogus"))))
    assert(out.filter(col("c_name") =!= "").count() == 0)
  }

  test("pseudonym: deterministic, format-stable, key-injective, salt-separated") {
    val p = Anonymiser.pseudonym(col("c_custkey"), "s1:")
    val out = customer.select(col("c_custkey"), p.as("ps"))
    // 16 lowercase hex chars
    assert(out.filter(!col("ps").rlike("^[0-9a-f]{16}$")).count() == 0)
    // same key → same pseudonym (pure column expression), distinct keys
    // → distinct pseudonyms at fixture scale (no collisions)
    assert(out.select("ps").distinct().count() == out.select("c_custkey").distinct().count())
    // a different salt produces an unlinkable pseudonym domain
    val other = customer.select(col("c_custkey"),
      Anonymiser.pseudonym(col("c_custkey"), "s2:").as("ps2"))
    val linked = out.join(other, "c_custkey")
      .filter(col("ps") === col("ps2")).count()
    assert(linked == 0)
  }

  test("randomizedResponse: flips exactly the bucket-0 rows; estimator identity; m<3 rejected") {
    import graft.ops.Sampling
    val truth = col("c_acctbal") > 5000.0
    val out = customer.select(col("c_custkey"), truth.as("truth"),
      Anonymiser.randomizedResponse(col("c_custkey"), truth).as("rep"),
      (Sampling.bucket(col("c_custkey"), 4) === 0).as("flip"))
    // the mechanism is exactly coin-driven negation
    assert(out.filter(col("flip") && (col("rep") === col("truth"))).count() == 0)
    assert(out.filter(!col("flip") && (col("rep") =!= col("truth"))).count() == 0)
    // count accounting: reported = kept-true + flipped-false — the
    // identity the o33 estimator (est_x2 = 4·reported − n) stands on
    val agg = out.agg(
      sum(when(col("truth"), 1L).otherwise(0L)).as("t"),
      sum(when(col("rep"), 1L).otherwise(0L)).as("r"),
      sum(when(col("flip") && col("truth"), 1L).otherwise(0L)).as("ft"),
      sum(when(col("flip") && !col("truth"), 1L).otherwise(0L)).as("ff"))
      .first()
    val (t, r, ft, ff) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    assert(r == t - ft + ff)
    intercept[IllegalArgumentException] {
      Anonymiser.randomizedResponse(col("c_custkey"), truth, modulus = 2)
    }
  }

  test("maskedViews: quote-doubling safe, unruled columns pass through, sqlite degrades loudly") {
    import graft.anonymise.MaskedViews
    import graft.analyse.ColumnInfo
    import graft.dialect.{MySqlDialect, PostgresDialect, SqliteDialect}
    val cols = Seq(
      ColumnInfo("id", "BIGINT", false),
      ColumnInfo("we`ird\"col", "TEXT", true),
      ColumnInfo("secret", "TEXT", true))
    val rules: Map[String, ColumnRule] = Map(
      "secret" -> FakerRule("name"),
      "we`ird\"col" -> StaticRule("it's"))
    val my = MaskedViews.viewDDL(MySqlDialect, "t", cols, rules)
    // embedded backtick doubled; static's quote doubled; pass-through intact
    assert(my.contains("`we``ird\"col`"))
    assert(my.contains("'it''s'"))
    assert(my.contains("SELECT `id`,"))
    assert(my.contains("MD5(CONCAT('graft:', CAST(`secret` AS CHAR)))"))
    val pg = MaskedViews.viewDDL(PostgresDialect, "t", cols, rules)
    assert(pg.contains("\"we`ird\"\"col\"") && pg.contains("CAST(\"secret\" AS TEXT)"))
    val lite = MaskedViews.viewDDL(SqliteDialect, "t", cols, rules)
    assert(lite.contains("'***' AS \"secret\""))
    assert(lite.startsWith("DROP VIEW IF EXISTS"))
  }

  test("maskedViews: NullRule casts use each dialect's own CAST vocabulary") {
    import graft.anonymise.MaskedViews
    import graft.analyse.ColumnInfo
    import graft.dialect.{MySqlDialect, PostgresDialect, SqliteDialect}
    val cols = Seq(
      ColumnInfo("name", "TEXT", true),
      ColumnInfo("uid", "BIGINT", false),
      ColumnInfo("score", "DOUBLE PRECISION", true),
      ColumnInfo("bal", "DECIMAL(12,2)", true))
    val rules: Map[String, ColumnRule] =
      cols.map(c => c.name -> (NullRule: ColumnRule)).toMap
    // MySQL CAST never accepts TEXT/BIGINT/DOUBLE PRECISION as targets
    val my = MaskedViews.viewDDL(MySqlDialect, "t", cols, rules)
    assert(my.contains("CAST(NULL AS CHAR) AS `name`"))
    assert(my.contains("CAST(NULL AS SIGNED) AS `uid`"))
    assert(my.contains("CAST(NULL AS DOUBLE) AS `score`"))
    assert(my.contains("CAST(NULL AS DECIMAL(12,2)) AS `bal`"))
    // Postgres and SQLite take the portable names verbatim
    val pg = MaskedViews.viewDDL(PostgresDialect, "t", cols, rules)
    assert(pg.contains("CAST(NULL AS TEXT) AS \"name\""))
    assert(pg.contains("CAST(NULL AS BIGINT) AS \"uid\""))
    assert(pg.contains("CAST(NULL AS DOUBLE PRECISION) AS \"score\""))
    val lite = MaskedViews.viewDDL(SqliteDialect, "t", cols, rules)
    assert(lite.contains("CAST(NULL AS TEXT) AS \"name\""))
    assert(lite.contains("CAST(NULL AS BIGINT) AS \"uid\""))
  }

  // --- Generalise.kAnonymize (the enforcement transform, o31) ---

  private def ladderFixture = {
    import spark.implicits._
    // a: 5 rows in X; b: 2 in X; c: 2 in Y; d: 1 in Y — at k=3:
    //  - "a" settles at level 0 (5 ≥ 3)
    //  - X's remainder is only b's 2 rows (bottom-up: a does NOT
    //    coarsen), so X fails level 1 while Y's remainder c+d = 3 passes
    //  - b's rows reach the top level with count 2 < 3 → suppressed
    val rows = Seq.fill(5)(("a", "X")) ++ Seq.fill(2)(("b", "X")) ++
      Seq.fill(2)(("c", "Y")) ++ Seq.fill(1)(("d", "Y"))
    rows.toDF("fine", "coarse")
  }

  private def ladder = Seq(col("fine"), col("coarse"), lit("all"))

  test("kAnonymize: settle finest, coarsen remainder together, suppress at top (k=3)") {
    import spark.implicits._
    val out = graft.anonymise.Generalise.kAnonymize(ladderFixture, ladder, k = 3)
      .select("fine", "qi_value", "gen_level")
      .as[(String, String, Int)].collect().toSet
    assert(out == Set(
      ("a", "a", 0),   // k-safe at the finest level
      ("c", "Y", 1), ("d", "Y", 1), // remainder classes pool at level 1
      ("b", "*", 3)))  // undersized even at the coarsest → suppressed
  }

  test("kAnonymize: driver walk and distributed walk produce the identical mapping") {
    import graft.ops.DriverBudget
    val viaDriver = graft.anonymise.Generalise.kAnonymize(ladderFixture, ladder, k = 3)
    // four finest classes: a, b, c and d
    assert(DriverBudget.last("kAnonymize").get == DriverBudget.Decision("kAnonymize",
      Some(4L), graft.anonymise.Generalise.DriverWalkMaxClasses, DriverBudget.Driver))
    // bound 0 forces the distributed census walk
    val viaDist = graft.anonymise.Generalise.kAnonymize(ladderFixture, ladder,
      k = 3, driverWalkMaxClasses = 0L)
    assert(DriverBudget.last("kAnonymize").get ==
      DriverBudget.Decision("kAnonymize", None, 0L, DriverBudget.Distributed))
    assert(viaDriver.exceptAll(viaDist).count() == 0)
    assert(viaDist.exceptAll(viaDriver).count() == 0)
  }

  test("kAnonymize: null ladder value fails loudly on both paths") {
    import spark.implicits._
    val df = Seq(("a", "X"), (null, "X")).toDF("fine", "coarse")
    val lv = Seq(col("fine"), col("coarse"))
    intercept[IllegalArgumentException] {
      graft.anonymise.Generalise.kAnonymize(df, lv, k = 1).collect()
    }
    intercept[IllegalArgumentException] {
      graft.anonymise.Generalise.kAnonymize(df, lv, k = 1,
        driverWalkMaxClasses = 0L).collect()
    }
  }

  test("kAnonymize: every published class is k-anonymous on the o31 fixture ladder") {
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey"), col("n_regionkey"))
    val base = customer.join(n, col("c_nationkey") === col("n_nationkey"))
    val k = 3 // sf0.001 classes are tiny; the catalog uses 10 at sf0.01
    val out = graft.anonymise.Generalise.kAnonymize(base, Seq(
      concat(lit("n:"), col("c_nationkey").cast("string"), lit(":"), col("c_mktsegment")),
      concat(lit("r:"), col("n_regionkey").cast("string"), lit(":"), col("c_mktsegment")),
      col("c_mktsegment")), k)
    // no row lost or duplicated by the rewrite
    assert(out.count() == base.count())
    val undersized = out.filter(col("gen_level") < 3)
      .groupBy("qi_value", "gen_level").count()
      .filter(col("count") < k).count()
    assert(undersized == 0, "a published (non-suppressed) class below k")
  }
}
