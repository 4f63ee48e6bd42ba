package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** The native CosineSimilarity expression: interpreted eval vs codegen vs
  * the JVM kernel must agree bit-exactly; SQL registration via
  * GraftExtensions.
  */
class FunctionsSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("expression matches the JVM kernel bit-exactly on real vectors") {
    import spark.implicits._
    val pairs = emb.limit(20).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val df = emb.limit(20).select(col("vec_id").as("ida"), col("embedding").as("va"))
      .crossJoin(emb.limit(20).select(col("vec_id").as("idb"), col("embedding").as("vb")))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .select("ida", "idb", "sim")
    val got = df.as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val byId = pairs.toMap
    for (((a, b), s) <- got) {
      val want = Similarity.cosineKernel(byId(a), byId(b))
      assert(s == want, s"pair ($a,$b)")
    }
  }

  test("codegen and interpreted paths agree") {
    val df = emb.limit(50)
      .select(Similarity.cosine(col("embedding"), reverse(col("embedding"))).as("s"))
    val withCodegen = df.collect().map(_.getDouble(0))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false") {
      val interpreted = df.collect().map(_.getDouble(0))
      assert(withCodegen.sameElements(interpreted))
    }
  }

  test("null array elements yield NULL, identically in codegen and interpreted paths") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(1f), Some(2f))),
      (2L, Seq[Option[Float]](Some(1f), None),     Seq[Option[Float]](Some(1f), Some(2f))),
      (3L, Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](None, Some(2f))),
    ).toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    def run(): Map[Long, Option[Double]] =
      df.select(col("id"), Similarity.cosine(col("a"), col("b")).as("s"))
        .as[(Long, Option[Double])].collect().toMap
    val codegen = run()
    assert(codegen(1L).isDefined && codegen(2L).isEmpty && codegen(3L).isEmpty)
    withSQLConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(run() == codegen, "interpreted path diverged from codegen on null elements")
    }
  }

  test("mismatched lengths fold over the common prefix in both paths") {
    import spark.implicits._
    val df = Seq((1L, Array(1f, 2f, 3f), Array(1f, 2f))).toDF("id", "a", "b")
    def run(): Double =
      df.select(Similarity.cosine(col("a"), col("b")).as("s")).head().getDouble(0)
    val want = Similarity.cosineKernel(Array(1f, 2f, 3f), Array(1f, 2f))
    assert(run() == want)
    withSQLConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(run() == want)
    }
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("cosine_similarity is SQL-callable via GraftExtensions") {
    new graft.plans.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions {})
    // register directly on the live session (builder extensions need a
    // fresh session; the function builder itself is what we exercise)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1)),
      "scala_udf")
    emb.limit(5).createOrReplaceTempView("emb_test")
    val out = spark.sql(
      """SELECT a.vec_id, cosine_similarity(a.embedding, b.embedding) AS sim
        |FROM emb_test a JOIN emb_test b ON a.vec_id < b.vec_id""".stripMargin)
    assert(out.count() == 10)
    assert(out.filter(col("sim").isNull).count() == 0)
  }

  test("graft_bucket and jaccard are SQL-callable and match the DataFrame recipes") {
    import spark.implicits._
    import graft.ops.{Dedup, Sampling}
    // register the builders on the live session (as above, the builder
    // function itself is what we exercise)
    val ext = new graft.plans.GraftExtensions()
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bucket", exprs => ext.bucketExpr(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaccard", exprs => ext.jaccardExpr(exprs(0), exprs(1)), "scala_udf")

    (1L to 50L).toDF("id").createOrReplaceTempView("ids_test")
    val sqlBuckets = spark.sql(
      "SELECT id, graft_bucket(id, 1000) AS b FROM ids_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dfBuckets = (1L to 50L).toDF("id")
      .select(col("id"), Sampling.bucketPerMille(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlBuckets == dfBuckets)

    Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .createOrReplaceTempView("jac_test")
    val viaSql = spark.sql("SELECT jaccard(x, y) AS j FROM jac_test")
      .collect().head.getDouble(0)
    val viaDf = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
      .collect().head.getDouble(0)
    assert(viaSql == viaDf && math.abs(viaSql - 0.5) < 1e-12)
  }

  test("graft_fingerprint is SQL-callable and matches TextAnalysis.fingerprint") {
    import spark.implicits._
    val ext = new graft.plans.GraftExtensions()
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_fingerprint", exprs => ext.fingerprintExpr(exprs(0)), "scala_udf")
    val texts = Seq("  Hello   World ", "a\tb\nc", "same same", "")
    texts.toDF("t").createOrReplaceTempView("fp_test")
    val viaSql = spark.sql("SELECT graft_fingerprint(t) AS fp FROM fp_test")
      .collect().map(_.getString(0)).toSeq
    val viaDf = texts.toDF("t")
      .select(graft.ops.TextAnalysis.fingerprint(col("t")).as("fp"))
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == viaDf)
    // normalization is real: collapsed whitespace and case fold converge
    assert(viaSql(0) == viaDf(0))
    val conv = spark.sql(
      "SELECT graft_fingerprint('HELLO WORLD') = graft_fingerprint('  hello   world ') AS eq")
      .collect().head.getBoolean(0)
    assert(conv)
  }

  test("type check rejects non-float arrays") {
    val bad = emb.select(col("vec_id"))
    assertThrows[org.apache.spark.sql.AnalysisException] {
      bad.select(Similarity.cosine(col("vec_id"), col("vec_id"))).collect()
    }
  }

  test("self-similarity is 1.0") {
    val out = emb.limit(10)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("s"))
      .collect().map(_.getDouble(0))
    assert(out.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("graft_pseudonym and graft_clean_text are SQL-callable and match the DataFrame recipes") {
    import spark.implicits._
    val ext = new graft.plans.GraftExtensions()
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pseudonym", exprs => ext.pseudonymExpr(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_clean_text", exprs => ext.cleanTextExpr(exprs(0)), "scala_udf")
    (1L to 20L).toDF("id").createOrReplaceTempView("ps_test")
    val viaSql = spark.sql(
      "SELECT id, graft_pseudonym(id, 's:') AS p FROM ps_test")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaDf = (1L to 20L).toDF("id")
      .select(col("id"),
        graft.anonymise.Anonymiser.pseudonym(col("id"), "s:").as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql == viaDf)
    val texts = Seq("<b>Hi</b>\tthere  world ", "a < b and b > a", "")
    texts.toDF("t").createOrReplaceTempView("ct_test")
    val sqlClean = spark.sql("SELECT graft_clean_text(t) AS c FROM ct_test")
      .collect().map(_.getString(0)).toSeq
    val dfClean = texts.toDF("t")
      .select(graft.ops.TextAnalysis.cleanedText(col("t")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(sqlClean == dfClean)
    assert(sqlClean == Seq("Hi there world", "a a", ""))
  }

  test("graft_bucket and graft_pseudonym reject a non-constant modulus or salt") {
    import spark.implicits._
    val ext = new graft.plans.GraftExtensions()
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bucket", exprs => ext.bucketExpr(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pseudonym", exprs => ext.pseudonymExpr(exprs(0), exprs(1)), "scala_udf")
    (1 to 5).map(i => (i, s"s$i")).toDF("id", "salt").createOrReplaceTempView("args_test")
    for (q <- Seq("SELECT graft_bucket(id, id) FROM args_test",
                  "SELECT graft_bucket(id, NULL) FROM args_test",
                  "SELECT graft_pseudonym(id, salt) FROM args_test")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getCondition == "NON_FOLDABLE_ARGUMENT", q)
    }
    // a constant expression folds: same buckets as the literal
    assert(spark.sql("SELECT graft_bucket(id, 10 * 100) = graft_bucket(id, 1000) FROM args_test")
      .collect().forall(_.getBoolean(0)))
  }

  test("TopKByWeightAgg equals sort-then-slice semantics across partitionings") {
    import spark.implicits._
    // group sizes 0..8 (below, at, and above k=3), weights with ties so
    // the id tiebreak is exercised, ids unique per group
    val rows = for {
      g <- 0L until 37L
      i <- 0L until (g % 9)
    } yield (g, graft.anonymise.Faker.mix64(g * 131 + i) & 0x1fL, i)
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (-r._2, r._3)).toSeq.sorted.take(3).map(_._2)
    }
    val top3 = graft.functions.TopKByWeightAgg(3)
    // 1 partition (reduce only), many partitions (merge paths), and a
    // pre-shuffle repartition (every partial holds a slice of each group)
    for (nPart <- Seq(1, 4, 16)) {
      val df = rows.toDF("g", "w", "id").repartition(nPart)
      val got = df.groupBy(col("g")).agg(top3(col("w"), col("id")).as("top"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(got.keySet == expected.keySet)
      for ((g, want) <- expected)
        assert(got(g) == want, s"group $g at $nPart partitions")
    }
  }

  test("TopKByWeightAgg rejects a negative weight and still ranks weight 0") {
    import spark.implicits._
    val top2 = graft.functions.TopKByWeightAgg(2)
    def top(rows: Seq[(Long, Long)]): Seq[Long] =
      rows.toDF("w", "id").agg(top2(col("w"), col("id"))).as[Seq[Long]].head()
    for (w <- Seq(-1L, Long.MinValue)) {
      val e = intercept[Exception](top(Seq((3L, 1L), (w, 2L))))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage))
      assert(messages.exists(_.contains(s"got weight $w")), s"weight $w: $e")
    }
    assert(top(Seq((0L, 5L), (0L, 4L), (2L, 9L))) == Seq(9L, 4L))
    assert(top(Seq((0L, 7L))) == Seq(7L))
  }
}
