package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Cdc, Dedup, DriverBudget, Multimodal, RangeJoin, Sampling, Similarity, TextAnalysis}

/** Behavioural specs for the LLM-pipeline operators: LSH candidate
  * recall against exact baselines, ANN recall vs brute force, kernel
  * determinism, and edge cases.
  */
class OpsSpec extends AnyFunSuite with SparkSuite {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  /** The branch the chooser `op` recorded on its latest call. */
  private def branchOf(op: String): String = DriverBudget.last(op).get.branch
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("scd2Merge: intervals chain, change wins at equal effective point") {
    import spark.implicits._
    val dim = Seq((1L, "v0", 0L), (2L, "w0", 0L)).toDF("k", "v", "eff")
    val chg = Seq(
      (1L, "v0fix", 0L), // same-point correction: must REPLACE dim's v0
      (1L, "v1", 5L),
      (1L, "v2", 9L),
      (2L, "w1", 3L)).toDF("k", "v", "eff")
    val out = Cdc.scd2Merge(dim, chg, "k", "eff")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
      .toSet
    assert(out == Set(
      (1L, "v0fix", 0L, Some(5L), false),
      (1L, "v1", 5L, Some(9L), false),
      (1L, "v2", 9L, None, true),
      (2L, "w0", 0L, Some(3L), false),
      (2L, "w1", 3L, None, true)))
  }

  test("weightedSample: exactly k, deterministic, weight-proportional") {
    import spark.implicits._
    // 100 heavy (w=200) + 900 light (w=1) rows: A-ES inclusion odds per
    // heavy row vastly exceed a light row's
    val df = (1L to 1000L).map(i =>
      (i, if (i <= 100) 200.0 else 1.0)).toDF("id", "w")
    val s1 = Sampling.weightedSample(df, "id", "w", k = 100)
      .select("id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.weightedSample(df, "id", "w", k = 100)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "selection must be deterministic")
    assert(s1.size == 100)
    val heavy = s1.count(_ <= 100)
    // expected heavy share ≈ 97% under these odds; even a bad draw of
    // the deterministic hash stays far above a uniform sample's ~10
    assert(heavy > 70, s"heavy rows selected: $heavy of 100")
    // repartitioning must not change the selection
    val s3 = Sampling.weightedSample(df.repartition(7), "id", "w", k = 100)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s3 == s1)
  }

  test("minhash LSH output equals the exact threshold join") {
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
  }

  test("simhash at J=1.0 finds exactly the identical-shingle-set pairs") {
    import spark.implicits._
    // no two fixture documents share a shingle set, so plant some:
    // copies under new ids, and two different texts with one 3-gram set
    val planted = docs.select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(Seq((2000001L, "x y z x y z"), (2000002L, "x y z x y z x y z"))
        .toDF("doc_id", "text"))
    val sim = Dedup.simhashNearDups(planted, "doc_id", "text", maxHamming = 3, threshold = 1.0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 1.0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 1000000L), (1L, 1000001L), (2L, 1000002L), (2000001L, 2000002L))
      .subsetOf(exact), s"planted pairs missing from the exact join: $exact")
    assert(sim == exact)
    graft.ops.OpCaches.releaseAll()
  }

  test("exact dedup: dup_count sums to row count; canonical ids unique") {
    val out = Dedup.exact(docs, "doc_id", "text")
    val total = out.agg(sum("dup_count")).first().getLong(0)
    assert(total == docs.count())
    assert(out.select("canonical_id").distinct().count() == out.count())
  }

  test("exactCanonicalRows: min-id row survives per key, columns intact, window-free") {
    import spark.implicits._
    // a hot key (5 dups) plus singletons; extra payload columns ride along
    val rows = Seq(
      (7L, "dup", "p7"), (3L, "dup", "p3"), (9L, "dup", "p9"),
      (5L, "dup", "p5"), (4L, "dup", "p4"),
      (1L, "solo-a", "p1"), (2L, "solo-b", "p2"))
      .toDF("id", "text", "payload").repartition(4)
    val out = Dedup.exactCanonicalRows(rows, "id", col("text"))
    assert(out.columns.toSeq == Seq("id", "text", "payload"), "column order preserved")
    val got = out.as[(Long, String, String)].collect().toSet
    assert(got == Set((3L, "dup", "p3"), (1L, "solo-a", "p1"), (2L, "solo-b", "p2")),
      s"min-id canonical per key expected, got $got")
    // identical to the window formulation it replaces, without the window
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("partial_min"), "must be a mergeable partial+final aggregate")
  }

  test("shingle kernel: edge cases") {
    assert(Dedup.shingleKernel("", 3).isEmpty)
    assert(Dedup.shingleKernel("one two", 3).isEmpty)
    assert(Dedup.shingleKernel("a b c", 3).toSeq == Seq("a b c"))
    assert(Dedup.shingleKernel("  a   b  c d  ", 3).toSeq == Seq("a b c", "b c d"))
    assert(Dedup.shingleKernel("x y x y x y", 2).toSeq == Seq("x y", "y x")) // distinct
  }

  test("LSH ANN recalls planted near-duplicates (the workload LSH targets)") {
    import spark.implicits._
    // random-hyperplane LSH finds HIGH-cosine neighbours; the fixture's
    // vectors are near-orthogonal (top-10 cos ≈ 0.4, bucket-collision
    // probability ≈ chance), so the meaningful recall test plants true
    // near-duplicates: query = corpus vector + small deterministic noise.
    val base = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val queries = base.map { case (id, v) =>
      val noisy = v.zipWithIndex.map { case (x, i) =>
        x + 0.02f * (graft.anonymise.Faker.mix64(id * 131 + i) % 1000) / 1000f
      }
      (id + 100000L, noisy)
    }.toSeq.toDF("vec_id", "embedding")
    val ann = Similarity.lshTopK(emb, queries, k = 3, bits = 8, probes = 4)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = base.count { case (id, _) => ann.get(id + 100000L).contains(id) }
    val recall = hits.toDouble / base.length
    assert(recall >= 0.6, s"recall=$recall (found $hits of ${base.length} planted dups)")
  }

  test("LSH buckets on every dimension of a 128-dim vector, not the first 64") {
    import spark.implicits._
    // the query (id 0) and its true neighbour (id 1) agree on the large
    // last 64 components and are opposite on the small first 64; the
    // distractors (ids 2..5) copy the query's first 64 and negate the
    // last 64. Hyperplanes cut on all 128 components put 0 and 1 in one
    // bucket; planes cut on the first 64 only would pair 0 with the
    // distractors and never with 1.
    val head = Array.tabulate(64)(j => ((j % 7) - 3 + 0.5f) * 0.01f)
    val tail = Array.tabulate(64)(j => 10f + (j % 5))
    val vecs = Seq(
      0L -> (head ++ tail),
      1L -> (head.map(-_) ++ tail)) ++
      (2L to 5L).map(id => id -> (head.map(_ * id) ++ tail.map(-_)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(df, df.filter(col("vec_id") === 0L), k = 1,
        bits = 8, probes = 0)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 1L)))
  }

  test("exact top-k operators agree row for row: ties by neighbour id, no self hit, int rank") {
    import spark.implicits._
    // 12 vectors, each base vector three times, so sims tie within a
    // base; k = 4 cuts query 0's list inside the tie group {1, 5, 9}
    val base = Array(Array(1f, 0f, 0f, 0f), Array(1f, 1f, 0f, 0f),
      Array(0f, 1f, 1f, 0f), Array(1f, 0f, 1f, 1f))
    val vecs = (0L until 12L).map(id => id -> base((id % 4).toInt))
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val k = 4
    val want = (0L until 3L).flatMap { qid =>
      vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, Similarity.cosineKernel(base((qid % 4).toInt), v)) }
        .sortBy { case (id, sim) => (-sim, id) }.take(k)
        .zipWithIndex.map { case ((id, _), r) => (qid, r + 1, id) }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_topk_parity").toString
    graft.ops.VectorIndex.buildIvf(corpus, dir, nlist = 3)
    val ops = Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(corpus, queries, k),
      "ivfTopK" -> Similarity.ivfTopK(corpus, queries, k, nlist = 3, nprobe = 3),
      "filteredTopK" -> Similarity.filteredTopK(corpus, queries, k, corpusFilter = lit(true)),
      "queryIvf" -> graft.ops.VectorIndex.queryIvf(spark, dir, queries, k, nprobe = 3))
    for ((name, df) <- ops) {
      assert(df.schema("rank").dataType == org.apache.spark.sql.types.IntegerType, name)
      val got = df.select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
        .collect().sorted.toSeq
      assert(got == want, name)
    }
  }

  test("embedding near-dup pairs match per-pair kernel recomputation") {
    import spark.implicits._
    val pairs = Similarity.cosineNearDupPairs(emb, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    for ((a, b, s) <- pairs) {
      assert(s == Similarity.cosineKernel(vecs(a), vecs(b)))
      assert(s >= 0.4)
      assert(a < b)
    }
  }

  test("blocked near-dup join equals the broadcast form (forced chunking)") {
    // tiny maxBlock forces multi-chunk cells, exercising the same-cell
    // cross-chunk and intra-chunk pair paths; sims must be bit-identical
    val blocked = Similarity.cosineNearDupPairs(emb, threshold = 0.4, nlist = 4, maxBlock = 16)
      .select("id_a", "id_b", "sim")
    val bcast = Similarity.cosineNearDupPairsBroadcast(emb, threshold = 0.4)
      .select("id_a", "id_b", "sim")
    assert(blocked.exceptAll(bcast).count() == 0, "blocked join produced extra pairs")
    assert(bcast.exceptAll(blocked).count() == 0, "blocked join lost pairs")
    assert(bcast.count() > 0, "fixture should contain near-dup pairs at t=0.4")
  }

  test("ANN near-dup pairs: subset of exact, verified sims, full recall on planted dups") {
    import spark.implicits._
    // the fixture regime (τ=0.4, near-orthogonal vectors) — ANN output
    // must be a SUBSET of the exact pair set with bit-identical sims
    // (candidates are LSH-proposed but every pair is exact-verified)
    val ann = Similarity.cosineNearDupPairsAnn(emb, threshold = 0.4)
      .select("id_a", "id_b", "sim")
    val exact = Similarity.cosineNearDupPairsBroadcast(emb, threshold = 0.4)
      .select("id_a", "id_b", "sim")
    assert(ann.exceptAll(exact).count() == 0,
      "ANN emitted a pair the exact join does not contain")
    // the production regime LSH targets: planted HIGH-cosine near-dups
    // (tiny perturbations of a base vector) must be found with recall 1
    // even with the chunk-split path forced (maxBlock = 8)
    val rng = new scala.util.Random(7)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val planted = (0L until 40L).map { i =>
      val v = base.clone()
      v(i.toInt % 64) = v(i.toInt % 64) + 0.01f * (i % 5 + 1)
      (i, v)
    } ++ (40L until 120L).map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat)))
    val df = planted.toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupPairsAnn(df, threshold = 0.95, maxBlock = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = Similarity.cosineNearDupPairsBroadcast(df, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "planted cluster should produce pairs at t=0.95")
    assert(got == want,
      s"high-cosine recall must be 1.0: missed ${(want -- got).size} of ${want.size}")
  }

  test("ANN near-dup pairs: multi-probe is monotone over the pure-base form") {
    // every base-base collision survives probing (base rows are still
    // emitted into the same buckets and all chunk pairs are scored), so
    // probes > 0 can only ADD verified pairs — recall never regresses
    val base0 = Similarity.cosineNearDupPairsAnn(emb, threshold = 0.4, probes = 0)
      .select("id_a", "id_b", "sim")
    val probed = Similarity.cosineNearDupPairsAnn(emb, threshold = 0.4, probes = 2)
      .select("id_a", "id_b", "sim")
    assert(base0.exceptAll(probed).count() == 0,
      "multi-probe lost a pair the pure-base form finds")
    assert(probed.count() >= base0.count())
  }

  test("language-id is deterministic and covers the marker languages") {
    val out1 = docs.withColumn("l", TextAnalysis.langId(col("text")))
      .groupBy("l").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out2 = docs.withColumn("l", TextAnalysis.langId(col("text")))
      .groupBy("l").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out1 == out2)
    assert(out1.keySet.subsetOf(Set("en", "de", "fr", "es", "zh", "und")))
  }

  test("text stats: empty and whitespace-only text do not divide by zero") {
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "   "), (3L, "word")).toDF("doc_id", "text")
    val out = TextAnalysis.withQualityFeatures(edge).collect()
    assert(out.length == 3)
    assert(!out.exists(r => r.anyNull && false)) // no exception is the contract
    val tokens = out.map(r => r.getAs[Long]("n_tokens")).toSeq
    assert(tokens == Seq(0L, 0L, 1L))
  }

  test("winnowing signature is stable and shift-tolerant") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val shifted = "PREFIX " + base
    val df = Seq((1L, base), (2L, shifted), (3L, base), (4L, "too few")).toDF("id", "text")
    // each doc's signature: its distinct fingerprints
    val sigs = TextAnalysis.winnowingFingerprints(df, "id", "text").collect()
      .groupBy(_.getLong(0)).map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    assert(sigs(1) == sigs(3)) // deterministic
    assert(!sigs.contains(4L), "docs with fewer than k tokens produce no fingerprints")
    // the shifted doc shares most fingerprint hashes with the original
    val overlap = sigs(1).intersect(sigs(2)).size.toDouble / sigs(1).size
    assert(overlap >= 0.5, s"overlap=$overlap")
    // portable (md5-based) hash selects the same positions deterministically
    val port = TextAnalysis.winnowingFingerprints(df, "id", "text", portableHash = true)
    assert(port.filter(col("id") === 1).count() ==
      port.filter(col("id") === 3).count())
  }

  test("multimodal decode: real container metadata, batch-shaped") {
    val assets = Multimodal.assetsFromDocuments(docs)
    val meta1 = Multimodal.decodeMeta(assets.repartition(7))
    val meta2 = Multimodal.decodeMeta(assets.coalesce(1))
    // how rows arrive never changes results
    assert(meta1.exceptAll(meta2).count() == 0 && meta2.exceptAll(meta1).count() == 0)
    // every synthesised container parses — nothing hits the reject sink
    assert(meta1.count() == docs.count())
    val byType = meta1.groupBy("media_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.keySet == Set("image", "audio", "video"))
    // image dims in the builder's documented range (16 + md5byte % 48)
    val img = meta1.filter(col("media_type") === "image")
    assert(img.filter(col("width") < 16 || col("width") > 63 ||
      col("height") < 16 || col("height") > 63).count() == 0)
    // the BMP payloads are genuine images: javax.imageio decodes them
    // and agrees with the header-parsed dims and the flat fill value
    val asset = Multimodal.assetsFromDocuments(docs)
      .filter(col("media_type") === "image").select("payload", "asset_id")
      .head()
    val bytes = asset.getAs[Array[Byte]](0)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(decoded != null, "ImageIO must decode the BMP payload")
    assert(Multimodal.ImageHeaders.parse(bytes)
      .map(p => (p._2, p._3)) == Some((decoded.getWidth, decoded.getHeight)))
    val fill = decoded.getRaster.getSample(0, 0, 0)
    assert((0 until decoded.getHeight).forall(y => (0 until decoded.getWidth)
      .forall(x => decoded.getRaster.getSample(x, y, 0) == fill)))
  }

  test("mp4 boxes: spec-offset golden bytes, v1 boxes, largesize, round-trip") {
    import Multimodal.Mp4Boxes
    // round-trip: parse reads back exactly what build encoded,
    // including the 90 kHz -> ms timescale conversion
    for ((w, h, ms) <- Seq((320, 180, 5000L), (1340, 1200, 135560L), (1, 1, 0L))) {
      val bytes = Mp4Boxes.build(w, h, ms, Array.fill(13)(0x42.toByte))
      assert(bytes.length == 244 + 13) // closed-form size contract
      assert(Mp4Boxes.parse(bytes) == Some(Mp4Boxes.Mp4Meta(w, h, ms)),
        s"round-trip failed for ${w}x$h $ms ms")
    }
    // independent golden: boxes hand-assembled from ISO 14496-12 field
    // offsets (not via build), with an unknown box between ftyp and
    // moov, VERSION 1 mvhd/tkhd (64-bit timestamps), and an unusual
    // timescale — the parser must honour the spec, not our writer
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val ftyp = be32(16) ++ cc("ftyp") ++ cc("mp42") ++ be32(0)
    val free = be32(12) ++ cc("free") ++ cc("pad!")
    // mvhd v1: ver/flags, creation(8), modification(8), timescale=600,
    // duration=1501 units -> 1501*1000/600 = 2501 ms (integer division)
    val mvhdBody = Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
      be32(600) ++ be64(1501) ++ be32(0x00010000) ++ Array[Byte](1, 0, 0, 0) ++
      be64(0) ++ Array.fill(36)(0.toByte) ++ Array.fill(24)(0.toByte) ++ be32(2)
    val mvhd = be32(8 + mvhdBody.length) ++ cc("mvhd") ++ mvhdBody
    // tkhd v1: ver/flags, creation(8), modification(8), track(4),
    // reserved(4), duration(8), reserved(8), layer/alt/vol/res (8),
    // matrix(36), width/height 16.16
    val tkhdBody = Array[Byte](1, 0, 0, 7) ++ be64(0) ++ be64(0) ++
      be32(1) ++ be32(0) ++ be64(1501) ++ be64(0) ++ Array.fill(8)(0.toByte) ++
      Array.fill(36)(0.toByte) ++ be32(640L << 16) ++ be32(360L << 16)
    val tkhd = be32(8 + tkhdBody.length) ++ cc("tkhd") ++ tkhdBody
    val trak = be32(8 + tkhd.length) ++ cc("trak") ++ tkhd
    val moovChildren = mvhd ++ trak
    // moov uses size==1 LARGESIZE framing (64-bit), legal per spec
    val moov = be32(1) ++ cc("moov") ++ be64(16 + moovChildren.length) ++ moovChildren
    val golden = ftyp ++ free ++ moov
    assert(Mp4Boxes.parse(golden) == Some(Mp4Boxes.Mp4Meta(640, 360, 2501L)),
      s"golden parse got ${Mp4Boxes.parse(golden)}")
    // malformed inputs refuse to parse rather than loop or throw
    assert(Mp4Boxes.parse(Array[Byte]()).isEmpty)
    assert(Mp4Boxes.parse("not an mp4 at all".getBytes).isEmpty)
    assert(Mp4Boxes.parse(golden.take(40)).isEmpty) // truncated moov
    val corrupt = golden.clone(); corrupt(0) = 0x7f // ftyp size overruns buffer
    assert(Mp4Boxes.parse(corrupt).isEmpty)
    // REGRESSION (review round 10): a v1 mvhd whose body is 28..31
    // bytes used to pass a >= 28 guard and read the 64-bit duration
    // past the box (AIOOBE at buffer end). Must decline, not throw.
    for (bodyLen <- 20 to 34) {
      val shortMvhd = be32(8 + bodyLen) ++ cc("mvhd") ++
        (Array[Byte](1, 0, 0, 0) ++ Array.fill(63)(0x11.toByte)).take(bodyLen)
      val doc = ftyp ++ (be32(8 + 8 + bodyLen) ++ cc("moov") ++ shortMvhd)
      val got = try Right(Mp4Boxes.parse(doc)) catch { case e: Throwable => Left(e) }
      assert(got.isRight, s"v1 mvhd body=$bodyLen threw: $got")
      if (bodyLen < 32) assert(got == Right(None), s"short v1 mvhd body=$bodyLen")
    }
  }

  test("mp4 sample tables: stts/stsz/mdhd round-trip, fixed-size and VFR forms") {
    import Multimodal.Mp4Boxes
    val sizes = Array(100, 64, 319, 200, 64)
    val b = Mp4Boxes.buildWithSamples(320, 180, 5000L,
      mediaTimescale = 12800, delta = 512, sizes = sizes)
    assert(b.length == 377 + 4 * sizes.length + sizes.sum) // closed form
    assert(Mp4Boxes.parseSamples(b) == Some(Mp4Boxes.SampleMeta(
      12800L, sizes.length * 512L, sizes.length.toLong, 512L,
      sizes.sum.toLong, 319L)))
    // the movie-level parse still reads the same container's mvhd/tkhd
    assert(Mp4Boxes.parse(b) == Some(Mp4Boxes.Mp4Meta(320, 180, 5000L)))
    // mm1's sample-table-less build has no stbl: parseSamples declines
    assert(Mp4Boxes.parseSamples(
      Mp4Boxes.build(320, 180, 5000L, Array[Byte](1, 2, 3))).isEmpty)
    // hand-assembled stbl variants the writer never emits: a FIXED
    // sample size (stsz sample_size > 0) and a VFR stts (two runs with
    // different deltas -> delta reported as -1)
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ cc(t) ++ body
    val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
      be32(1000) ++ be32(7000) ++ Array[Byte](0x55, 0xc4.toByte, 0, 0))
    val stts = box("stts", be32(0) ++ be32(2) ++
      be32(3) ++ be32(100) ++ be32(4) ++ be32(50)) // two runs: VFR
    val stsz = box("stsz", be32(0) ++ be32(99) ++ be32(7)) // fixed 99 x 7
    val stbl = box("stbl", stts ++ stsz)
    val vfr = box("ftyp", cc("mp42") ++ be32(0)) ++
      box("moov", box("trak", box("mdia", mdhd ++ box("minf", stbl))))
    assert(Mp4Boxes.parseSamples(vfr) == Some(Mp4Boxes.SampleMeta(
      1000L, 7000L, 7L, -1L, 693L, 99L)))

    // MULTI-TRACK files (audio + video — what a foreign muxer emits):
    // fields must scope per trak, the FIRST complete trak wins, and an
    // incomplete leading trak (mdhd but no stbl — mm1's shape) must not
    // donate its timescale to a later trak's sample tables.
    def mdhdBox(ts: Long, dur: Long): Array[Byte] =
      box("mdhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(ts) ++ be32(dur) ++ Array[Byte](0x55, 0xc4.toByte, 0, 0))
    def stblBox(delta: Long, n: Long, fixed: Long): Array[Byte] =
      box("stbl",
        box("stts", be32(0) ++ be32(1) ++ be32(n) ++ be32(delta)) ++
        box("stsz", be32(0) ++ be32(fixed) ++ be32(n)))
    def trak(mdia: Array[Byte]): Array[Byte] = box("trak", box("mdia", mdia))
    val ftypHdr = box("ftyp", cc("mp42") ++ be32(0))
    val trakAudio = trak(mdhdBox(48000, 96000) ++
      box("minf", stblBox(delta = 1024, n = 94, fixed = 4)))
    val trakVideo = trak(mdhdBox(12800, 25600) ++
      box("minf", stblBox(delta = 512, n = 50, fixed = 777)))
    // two complete traks: the first (audio) wins, with ITS fields only
    assert(Mp4Boxes.parseSamples(ftypHdr ++ box("moov", trakAudio ++ trakVideo))
      == Some(Mp4Boxes.SampleMeta(48000L, 96000L, 94L, 1024L, 376L, 4L)))
    // incomplete leading trak (mdhd, no stbl): skipped whole — the
    // result is the SECOND trak's complete meta, not a cross-trak mix
    val trakNoStbl = trak(mdhdBox(90000, 450000))
    assert(Mp4Boxes.parseSamples(ftypHdr ++
      box("moov", trakNoStbl ++ trakVideo)) ==
      Some(Mp4Boxes.SampleMeta(12800L, 25600L, 50L, 512L, 38850L, 777L)))
    // adversarial stsz: fixed and count both near 2^32 — fixed*cnt
    // would wrap Long to a negative total; the trak must decline
    val hugeStbl = box("stbl",
      box("stts", be32(0) ++ be32(1) ++ be32(0xffffffffL) ++ be32(1)) ++
      box("stsz", be32(0) ++ be32(0xffffffffL) ++ be32(0xffffffffL)))
    val hugeDoc = ftypHdr ++ box("moov",
      trak(mdhdBox(1000, 1000) ++ box("minf", hugeStbl)))
    assert(Mp4Boxes.parseSamples(hugeDoc).isEmpty)
  }

  test("image headers: real PNG/JPEG/GIF/BMP bytes parse to exact dims") {
    import spark.implicits._
    // real encoder output (javax.imageio is pure-JVM, headless-safe) —
    // the parser must read the true dimensions from the header bytes
    def encoded(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(java.awt.Color.ORANGE); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt encoder")
      bos.toByteArray
    }
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      ("png", 311, 47), ("jpg", 123, 456), ("gif", 640, 480), ("bmp", 17, 1025)) ++
      // randomized dims per format, including >255 (multi-byte encodings)
      Seq.fill(4)(("png", 1 + rnd.nextInt(2000), 1 + rnd.nextInt(2000))) ++
      Seq.fill(4)(("jpg", 1 + rnd.nextInt(2000), 1 + rnd.nextInt(2000))) ++
      Seq.fill(4)(("gif", 1 + rnd.nextInt(2000), 1 + rnd.nextInt(2000))) ++
      Seq.fill(4)(("bmp", 1 + rnd.nextInt(2000), 1 + rnd.nextInt(2000)))
    for ((fmt, w, h) <- cases) {
      val parsed = Multimodal.ImageHeaders.parse(encoded(fmt, w, h))
      assert(parsed.map(p => (p._2, p._3)) == Some((w, h)),
        s"$fmt ${w}x$h parsed as $parsed")
    }
    // garbage and truncated payloads refuse to parse
    assert(Multimodal.ImageHeaders.parse("not an image".getBytes).isEmpty)
    assert(Multimodal.ImageHeaders.parse(encoded("png", 8, 8).take(12)).isEmpty)
    assert(Multimodal.ImageHeaders.parse(Array[Byte]()).isEmpty)
    // and the Spark decode path surfaces the REAL dims for image assets;
    // an unparseable payload drops (reject-sink posture)
    val assets = Seq(
      (1L, "image", encoded("png", 311, 47)),
      (2L, "image", encoded("jpg", 123, 456)),
      (3L, "image", "plain text payload".getBytes("UTF-8"))) // rejected
      .toDF("asset_id", "media_type", "payload")
    val out = Multimodal.decodeMeta(assets)
      .select("asset_id", "width", "height").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out(1L) == ((311, 47)) && out(2L) == ((123, 456)))
    assert(!out.contains(3L), "non-container payload must drop, not fabricate dims")
  }

  test("wav headers: JDK-encoded and hand-chunked RIFF bytes parse exactly") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    // independent reference encoder: javax.sound writes canonical WAVs
    def jdkWav(channels: Int, rate: Int, frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(rate.toFloat, 16, channels, true, false)
      val pcm = new Array[Byte](frames * channels * 2)
      new scala.util.Random(11).nextBytes(pcm)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    for ((ch, rate, frames) <- Seq((1, 8000, 100), (2, 44100, 999), (2, 22050, 1))) {
      val m = Multimodal.WavHeaders.parse(jdkWav(ch, rate, frames))
        .getOrElse(fail(s"JDK wav $ch/$rate did not parse"))
      assert(m.channels == ch && m.sampleRate == rate && m.bitsPerSample == 16)
      assert(m.dataBytes == frames.toLong * ch * 2)
      assert(m.durationMs == m.dataBytes * 1000 / (rate.toLong * ch * 2))
    }
    // our own writer must emit bytes the JDK decoder accepts (real WAVs,
    // not just self-consistent ones)
    val built = Multimodal.WavHeaders.build(2, 16000, 16, new Array[Byte](64))
    val jdkFmt = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(built)).getFormat
    assert(jdkFmt.getChannels == 2 && jdkFmt.getSampleRate == 16000f)
    // chunk walk: an unknown ODD-sized LIST chunk before fmt must be
    // skipped with the RIFF even-padding rule intact
    val base = Multimodal.WavHeaders.build(1, 8000, 16, Array[Byte](1, 2, 3, 4))
    val list = Array[Byte]('L', 'I', 'S', 'T', 5, 0, 0, 0, 'I', 'N', 'F', 'O', 9, 0)
    val padded = base.take(12) ++ list ++ base.drop(12)
    val lenFixed = java.nio.ByteBuffer.wrap(padded)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    lenFixed.putInt(4, padded.length - 8)
    val m2 = Multimodal.WavHeaders.parse(lenFixed.array())
      .getOrElse(fail("LIST-chunked wav did not parse"))
    assert(m2.sampleRate == 8000 && m2.dataBytes == 4)
    // refusals: garbage, truncated, empty
    assert(Multimodal.WavHeaders.parse("RIFFxxxxNOPE".getBytes).isEmpty)
    assert(Multimodal.WavHeaders.parse(built.take(20)).isEmpty)
    assert(Multimodal.WavHeaders.parse(Array[Byte]()).isEmpty)
  }

  test("audio assets are genuine WAVs and decode is construction-exact") {
    import javax.sound.sampled.AudioSystem
    val assets = Multimodal.audioAssetsFromDocuments(docs.limit(8))
    // every synthesised payload opens in the independent JDK decoder
    assets.collect().foreach { r =>
      val id = r.getLong(0)
      val fmt = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1))).getFormat
      assert(fmt.getChannels == (id % 2 + 1).toInt, s"asset $id channels")
    }
    val meta = Multimodal.decodeAudioMeta(assets)
    assert(meta.count() == 8, "all synthesised WAVs must parse")
    // duration follows the header byte rate exactly
    assert(meta.filter(col("duration_ms") =!=
      floor(col("data_bytes") * 1000 /
        (col("sample_rate") * col("channels") * 2)).cast("long")).count() == 0)
    // how rows arrive never changes results
    val spread = Multimodal.decodeAudioMeta(assets.repartition(7))
    val single = Multimodal.decodeAudioMeta(assets.coalesce(1))
    assert(spread.exceptAll(single).count() == 0 && single.exceptAll(spread).count() == 0)
    assert(meta.exceptAll(single).count() == 0)
  }

  test("segment dedup keeps the globally-first occurrence and reassembles") {
    import spark.implicits._
    val df = Seq(
      (10L, "a b c d e x1 x2 x3 x4 x5"),  // seg0="a b c d e" (first), seg1 unique
      (20L, "a b c d e y1 y2 y3 y4 y5"),  // seg0 duplicated → dropped
      (30L, "z1 z2 z3"),                  // short tail segment, unique
      (40L, "a b c d e")                  // duplicated again → dropped, empty doc
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", seg = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(10L) == (("a b c d e x1 x2 x3 x4 x5", 2, 0)))
    assert(out(20L) == (("y1 y2 y3 y4 y5", 1, 1)))
    assert(out(30L) == (("z1 z2 z3", 1, 0)))
    assert(out(40L) == (("", 0, 1)))
    assert(out.size == 4, "one row per input doc")
    // fixture sanity: segment-level dups exist and the removal is
    // consistent — kept + dropped = ceil(tokens/seg) per doc
    val fx = Dedup.segmentDedup(docs, "doc_id", "text", seg = 10)
    assert(fx.filter(col("n_seg_dropped") > 0).count() > 0)
    val bad = fx.join(docs, fx("id") === docs("doc_id"))
      .filter(col("n_seg_kept") + col("n_seg_dropped") =!=
        ceil(size(split(trim(col("text")), "\\s+")) / lit(10.0)).cast("int"))
    assert(bad.count() == 0)
  }

  test("near-dup band screen: exact dup caught, unrelated passes, short doc passes") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    val arriving = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup → screened
      (101L, "totally different words here completely novel"), // new → passes
      (102L, "tiny doc")                                        // <3 tokens → passes
    ).toDF("doc_id", "text")
    val bands = DocsStream.corpusBandKeys(corpus)
    val out = DocsStream.nearDupScreen(arriving, bands)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(101L, 102L))
    // band table is (band_idx, h) distinct — bounded by 4 rows per corpus doc
    assert(bands.count() <= corpus.count() * 4)
  }

  test("char entropy: JVM quantisation equals the DuckDB-generated golden table") {
    // the golden file was produced by DuckDB's floor(1e6*log2(m)) for
    // m = 1..20000 — line m is Q(m). Any libm divergence between the
    // JVM log intrinsic and DuckDB's would flip a floor boundary here
    // and fail THIS test instead of silently breaking the t18 oracle.
    val golden = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/log2_microbits_1_20000.txt"))
      .getLines().map(_.toLong).toArray
    assert(golden.length == 20000)
    for (m <- 1 to 20000)
      assert(TextAnalysis.log2Microbits(m) == golden(m - 1),
        s"Q($m): jvm=${TextAnalysis.log2Microbits(m)} duckdb=${golden(m - 1)}")
  }

  test("char entropy kernel: exact on analytic cases, order-independent") {
    // uniform over 1 symbol → H = 0
    assert(TextAnalysis.charEntropyKernel("aaaa") == ((4, 0L)))
    // uniform over 2 symbols, n=4: score = 4·(Q(4)−Q(2)) = 4·1e6
    assert(TextAnalysis.charEntropyKernel("abab") == ((4, 4000000L)))
    assert(TextAnalysis.charEntropyKernel("aabb") == ((4, 4000000L)))
    // uniform over 4 symbols, n=4: score = 4·Q(4) = 8e6 (2 bits/char)
    assert(TextAnalysis.charEntropyKernel("abcd") == ((4, 8000000L)))
    assert(TextAnalysis.charEntropyKernel("") == ((0, 0L)))
    // codepoints, not UTF-16 units: an astral char is ONE symbol
    val astral = new String(Character.toChars(0x1F600))
    assert(TextAnalysis.charEntropyKernel(astral * 3) == ((3, 0L)))
    // the 4.0-bit gate splits the fixture both ways
    val e = TextAnalysis.charEntropy(docs)
    assert(e.filter(col("r_entropy")).count() > 0)
    assert(e.filter(!col("r_entropy")).count() > 0)
  }

  test("screen index: persists across opens, screens incrementally, zero false negatives") {
    import spark.implicits._
    import graft.ops.ScreenIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_screenidx").toString
    val a = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "alpha beta gamma")).toDF("doc_id", "text") // 3 dups 1 in-batch
    val emittedA = new ScreenIndex(spark, dir, expectedItems = 4096)
      .ingest(a, "doc_id", "text")
    // in-batch dedup keeps min id; both distinct fingerprints emitted
    assert(emittedA.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // a FRESH instance (new process simulation) sees the committed sketch
    val idx2 = new ScreenIndex(spark, dir)
    val b = Seq((10L, "alpha beta gamma"),   // dup of ingested → screened
      (11L, "eta theta iota"),               // new → emitted
      (12L, "eta theta iota")).toDF("doc_id", "text") // in-batch dup of 11
    val screened = idx2.screen(b, "doc_id", "text")
    assert(screened.select("doc_id").as[Long].collect().toSet == Set(11L))
    // screen() is PURE: same result twice
    assert(idx2.screen(b, "doc_id", "text").select("doc_id")
      .as[Long].collect().toSet == Set(11L))
    // ingest folds batch B in; a third batch now screens against A ∪ B
    idx2.ingest(b, "doc_id", "text")
    val c = Seq((20L, "eta theta iota"), (21L, "kappa lambda mu"))
      .toDF("doc_id", "text")
    val screenedC = new ScreenIndex(spark, dir).screen(c, "doc_id", "text")
    assert(screenedC.select("doc_id").as[Long].collect().toSet == Set(21L))
    // crash debris: a stale hidden temp file must not affect loads
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ".tmp-bloom-deadbeef"), "garbage")
    assert(new ScreenIndex(spark, dir).screen(c, "doc_id", "text")
      .count() == 1)
    // structural invariant on the fixture: nothing emitted may match
    // history exactly (a bloom has no false negatives)
    val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val fixtureDir = java.nio.file.Files.createTempDirectory("graft_screenidx_fx").toString
    val fxIdx = new ScreenIndex(spark, fixtureDir, expectedItems = 1L << 18)
    fxIdx.ingest(hist, "doc_id", "text")
    val emitted = new ScreenIndex(spark, fixtureDir)
      .screen(docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
    val fp = graft.ops.TextAnalysis.fingerprint(col("text"))
    assert(emitted.select(fp.as("fp"))
      .join(hist.select(fp.as("fp")).distinct(), Seq("fp"), "left_semi")
      .count() == 0)
  }

  test("pq rerank: subset of shortlist, exact order, recall >= plain PQ") {
    import spark.implicits._
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val short = Similarity.pqTopK(emb, q, k = 50, m = 16, codebookBits = 6)
    val rer = Similarity.pqRerankTopK(emb, q, k = 10, shortlist = 50,
      m = 16, codebookBits = 6)
    // final candidates all came from the compressed-domain shortlist
    assert(rer.join(short.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_anti").count() == 0)
    // within the shortlist the final order IS the exact cosine order
    val qv = q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exactOrder = short.select("query_id", "neighbor_id")
      .join(qv, "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        "neighbor_id")
      .withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "neighbor_id")
    assert(rer.exceptAll(exactOrder).count() == 0)
    assert(exactOrder.exceptAll(rer).count() == 0)
    // re-ranking buys recall: per-query hit count vs exact top-10 is
    // at least the plain PQ stage's, and strictly better in aggregate
    val exact = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("query_id", "neighbor_id")
    def recall(ann: org.apache.spark.sql.DataFrame): Long =
      ann.select("query_id", "neighbor_id").join(exact,
        Seq("query_id", "neighbor_id")).count()
    val pq10 = Similarity.pqTopK(emb, q, k = 10, m = 16, codebookBits = 6)
    val rPq = recall(pq10); val rRer = recall(rer)
    assert(rRer >= rPq, s"rerank recall $rRer < pq recall $rPq")
    assert(rRer * 10 >= 5 * 100, s"rerank recall@10 ${rRer / 100.0} below 0.5 floor")
  }

  test("forward fill: carries latest observation, tie-breaks within bucket") {
    import spark.implicits._
    import graft.ops.TimeSeries
    // buckets at step=10s: user 1 observes in buckets 0 (twice: the
    // later (ts, seq) must win), skips 1-2, observes 3; user 2 has one
    // observation (degenerate single-bucket grid)
    val df = Seq(
      (1L, 2L, 1L, 10.0),  // bucket 0
      (1L, 8L, 2L, 20.0),  // bucket 0, later ts → wins
      (1L, 8L, 1L, 15.0),  // bucket 0, same ts lower seq → loses
      (1L, 35L, 3L, 40.0), // bucket 3
      (2L, 11L, 4L, 7.0)   // bucket 1
    ).toDF("k", "sec", "seq", "v")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val out = TimeSeries.forwardFill(df, "k", "ts", "v",
        orderCols = Seq("ts", "seq"), stepSec = 10L)
      .select(col("k"), unix_seconds(col("bucket_ts")).as("bs"),
        col("value_filled"), col("is_observed"))
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 0L, 20.0, true),   // in-bucket tiebreak picked the later obs
      (1L, 10L, 20.0, false), // gap: carried forward
      (1L, 20L, 20.0, false),
      (1L, 30L, 40.0, true),
      (2L, 10L, 7.0, true)))
  }

  test("interpolate: exact at observations, linear in gaps") {
    import spark.implicits._
    import graft.ops.TimeSeries
    val df = Seq(
      (1L, 5L, 1L, 10.0),   // bucket 0
      (1L, 42L, 2L, 40.0),  // bucket 4 — gap of 3 buckets
      (1L, 55L, 3L, 0.0)    // bucket 5
    ).toDF("k", "sec", "seq", "v")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val out = TimeSeries.interpolate(df, "k", "ts", "v",
        orderCols = Seq("ts", "seq"), stepSec = 10L)
      .select(unix_seconds(col("bucket_ts")).as("bs"),
        col("value_interp"), col("is_observed"))
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (0L, 10.0, true),
      (10L, 17.5, false), // 10 + 30 * 1/4
      (20L, 25.0, false),
      (30L, 32.5, false),
      (40L, 40.0, true),
      (50L, 0.0, true)))
  }

  test("multimodal resize: real decode, box bounds, checksum matches the formula pixels") {
    import spark.implicits._
    val some = docs.filter(col("doc_id") < 20)
    val resized = Multimodal.resizeImages(
      Multimodal.imageAssetsFromDocuments(some), maxSide = 16)
    assert(resized.count() == some.count(), "every PNG payload must decode")
    assert(resized.filter(col("out_width") > 16 || col("out_height") > 16).count() == 0)
    assert(resized.filter(col("out_width") <= 0 || col("out_height") <= 0).count() == 0)
    // independent re-derivation: the resized checksum recomputed from the
    // DigestPixels formula directly (never touching a PNG) must equal the
    // kernel's ImageIO-decoded result — encode→decode is lossless AND the
    // nearest-neighbour sampling is the documented integer recipe
    val texts = some.select("doc_id", "text").as[(Long, String)].collect().toMap
    val got = resized.select("asset_id", "width", "height", "out_width", "out_height", "resized_sum")
      .as[(Long, Int, Int, Int, Int, Long)].collect()
    for ((id, w, h, ow, oh, sum) <- got) {
      val p = Multimodal.DigestPixels.params(texts(id))
      assert(w == 16 + p(0) % 17 && h == 16 + p(1) % 13, s"dims drifted for $id")
      val px = expectedLumaRaster(id, texts(id), w, h)
      val side = math.max(w, h)
      assert(ow == math.max(1, w * 16 / side) && oh == math.max(1, h * 16 / side))
      var want = 0L
      for (oy <- 0 until oh; ox <- 0 until ow)
        want += px((oy * h / oh) * w + ox * w / ow)
      assert(sum == want, s"checksum drifted for $id")
    }
  }

  /** The fixture's expected decoded-luma raster: even doc_ids are
    * single-channel (the DigestPixels stream verbatim), odd doc_ids are
    * RGB (3 stream bytes per pixel, integer BT.601 collapse) — the same
    * formula the SQL oracle computes.
    */
  private def expectedLumaRaster(id: Long, text: String, w: Int, h: Int): Seq[Int] =
    if (id % 2 == 0) Multimodal.DigestPixels.bytes(text, w * h).toSeq
    else Multimodal.DigestPixels.bytes(text, 3 * w * h).grouped(3)
      .map(c => (77 * c(0) + 150 * c(1) + 29 * c(2) + 128) >> 8).toSeq

  test("range join keeps duplicate left rows as distinct outputs") {
    import spark.implicits._
    val left = Seq(("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:00:00"))
      .toDF("k", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val right = Seq("2024-01-01 00:30:00").toDF("rts")
      .withColumn("rts", col("rts").cast("timestamp"))
    val out = RangeJoin.countInRange(left, right, "ts", "rts", windowSec = 3600)
    assert(out.count() == 2, "identical left rows must not collapse")
    assert(out.select("n_in_range").as[Long].collect().toSeq == Seq(1L, 1L))
  }

  test("PPJoin prefix filtering returns exactly the naive Jaccard join's pairs") {
    val naive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    val pp = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    assert(pp.exceptAll(naive).count() == 0, "prefix join produced extra pairs")
    assert(naive.exceptAll(pp).count() == 0, "prefix filtering lost pairs")
    assert(naive.count() > 0, "fixture should contain near-duplicate pairs at t=0.5")
  }

  test("contamination finds planted eval/train overlaps with exact shared counts") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),   // train
      (2L, "totally different words here nothing shared at"),  // train
      (100L, "alpha beta gamma delta epsilon zeta iota kappa"),// eval: copies 1's prefix
      (101L, "totally unrelated eval document text goes here"),// eval: no 3-gram overlap
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, "doc_id", "text",
        isEval = id => id >= 100, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // naive recount: shared distinct 3-grams between docs 100 and 1
    val expect = Dedup.shingleKernel("alpha beta gamma delta epsilon zeta iota kappa", 3).toSet
      .intersect(Dedup.shingleKernel("alpha beta gamma delta epsilon zeta eta theta", 3).toSet).size
    assert(expect > 0)
    assert(out == Map((100L, 1L) -> expect.toLong),
      "only the planted eval→train pair, with the exact shared-gram count")
  }

  test("profiler: exact nulls/distinct/min/max per column in one pass") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (2L, Some("c"))).toDF("id", "s")
    val out = graft.analyse.Profiler.profile(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out("id") == ((3L, 0L, 2L, "1", "2")))
    assert(out("s") == ((3L, 1L, 2L, "a", "c")))
  }

  test("CDC apply: latest change wins, deletes remove, inserts add, rest pass through") {
    import spark.implicits._
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a1", 1L, "U"), (1L, "a2", 2L, "U"), // two updates: seq 2 wins
      (2L, null.asInstanceOf[String], 1L, "D"), // delete
      (9L, "new", 1L, "I"),                     // insert
    ).toDF("k", "v", "seq", "op")
    val out = Cdc.applyChangelog(snap, changes, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a2", 3L -> "c", 9L -> "new"))
    // delete-then-reinsert at a later seq: the insert wins
    val redo = Seq((3L, "z", 5L, "I"), (3L, null.asInstanceOf[String], 4L, "D"))
      .toDF("k", "v", "seq", "op")
    val out2 = Cdc.applyChangelog(snap, redo, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(3L) == "z" && out2.size == 3)
  }

  test("CDC apply equals a naive in-memory merge on randomized changelogs") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val snapKeys = (1L to 40L).filter(_ => rnd.nextBoolean())
      val snap = snapKeys.map(k => (k, s"s$k"))
      val changes = (1 to 60).map { i =>
        val k = rnd.nextInt(50).toLong + 1
        val op = Seq("I", "U", "D")(rnd.nextInt(3))
        (k, s"c$i", i.toLong, op) // seq = i: unique, monotone
      }
      val expected = {
        val latest = changes.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
        val untouched = snap.filterNot { case (k, _) => latest.contains(k) }
        val upserts = latest.values.toSeq.filter(_._4 != "D").map(c => (c._1, c._2))
        (untouched ++ upserts).toMap
      }
      val out = Cdc.applyChangelog(
          snap.toDF("k", "v"), changes.toDF("k", "v", "seq", "op"), "k")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == expected, s"seed=$seed")
    }
  }

  test("funnel greedy chain: strictly-later transitions, ties and regressions handled") {
    import spark.implicits._
    // u1 completes all 3; u2's click precedes its view (chain stops at view);
    // u3's purchase ties the click timestamp (strictly-later ⇒ not counted);
    // u4 has only a click (no stage-0 event ⇒ no row); u5 views twice —
    // the SECOND view is followed by a click, but greedy anchors on the
    // FIRST view and still catches that click (earliest-completion)
    val evs = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L),
      (3L, "view", 1L), (3L, "click", 2L), (3L, "purchase", 2L),
      (4L, "click", 7L),
      (5L, "view", 1L), (5L, "view", 4L), (5L, "click", 6L)
    ).toDF("user_id", "event_type", "ts")
    val st = graft.ops.Funnel.stageTimes(evs, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(st == Map(
      1L -> Seq(10L, 20L, 30L),
      2L -> Seq(10L),
      3L -> Seq(1L, 2L),
      5L -> Seq(1L, 6L)))
  }

  test("funnel: null timestamps can neither anchor nor advance a chain") {
    import spark.implicits._
    // u1: null-ts view then a click — the null view must NOT anchor, and
    // the click has no preceding valid view ⇒ no row for u1;
    // u2: valid view, null-ts click, valid purchase — the null click must
    // not advance the chain ⇒ chain stops after the view
    val evs = Seq(
      (1L, "view", None: Option[Long]), (1L, "click", Some(20L)),
      (2L, "view", Some(1L)), (2L, "click", None: Option[Long]),
      (2L, "purchase", Some(9L))
    ).toDF("user_id", "event_type", "ts")
    val st = graft.ops.Funnel.stageTimes(evs, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(st == Map(2L -> Seq(1L)), s"got $st")
  }

  test("salted join returns exactly the plain join's rows (hot and cold keys)") {
    import spark.implicits._
    // key 1 is hot (60 rows), keys 2..5 cold; dim has an unmatched key 9
    val fact = ((1 to 60).map(i => (1L, i)) ++ (2L to 5L).map(k => (k, 0))).toDF("k", "v")
    val dim = (Seq(1L, 2L, 3L, 9L)).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, "k").select("k", "v", "name")
    val salted = graft.ops.Skew.saltedJoin(fact, dim, "k",
      numSalts = 4, hotKeyThreshold = 50)
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
    // empty hot set (threshold higher than any frequency) degrades to the plain join
    val cold = graft.ops.Skew.saltedJoin(fact, dim, "k",
      numSalts = 4, hotKeyThreshold = 1000)
    assert(cold.exceptAll(plain).count() == 0 && plain.exceptAll(cold).count() == 0)
  }

  test("zvalue interleaves bits (x even, y odd) and orders locally") {
    import spark.implicits._
    val cases = Seq((3L, 1L, 7L), (0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L),
      (65535L, 0L, 0x5555555555555555L & 0xFFFFFFFFL))
    val df = cases.map { case (x, y, _) => (x, y) }.toDF("x", "y")
    val out = df.select(graft.sources.Layout.zvalue(col("x"), col("y"), 16))
      .collect().map(_.getLong(0)).toSeq
    assert(out == cases.map(_._3), s"got $out")
  }

  test("portable bucket: uniform across moduli, every bucket populated") {
    import spark.implicits._
    val ids = (0L until 10000L).toDF("id")
    for (m <- Seq(100, 1000)) {
      val counts = ids.select(graft.ops.Sampling.bucket(col("id"), m).as("b"))
        .groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts.keySet == (0L until m).toSet, s"mod $m: empty buckets")
      // Poisson-sane bounds: |c - λ| ≤ 6√λ (λ = 10 at m=1000 makes
      // fixed-ratio bounds far too tight)
      val expect = 10000.0 / m
      assert(counts.values.forall(c => math.abs(c - expect) <= 6 * math.sqrt(expect)),
        s"mod $m: worst buckets ${counts.values.min}..${counts.values.max}")
    }
  }

  test("stratified sample is deterministic, respects strata, and tracks target rates") {
    import spark.implicits._
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
    val df = rows.toDF("doc_id", "lang")
    val mix = Map("en" -> 500, "zh" -> 100)
    val s1 = graft.ops.Sampling.stratifiedSample(df, "doc_id", "lang", mix)
      .select("doc_id").as[Long].collect().toSet
    val s2 = graft.ops.Sampling.stratifiedSample(df.repartition(7), "doc_id", "lang", mix)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "sample must not depend on partitioning")
    val en = s1.count(_ % 2 == 0); val zh = s1.count(_ % 2 == 1)
    assert(math.abs(en - 500) < 60, s"en keep-rate ~50% of 1000, got $en")
    assert(math.abs(zh - 100) < 40, s"zh keep-rate ~10% of 1000, got $zh")
    // unknown stratum defaults to dropped
    val other = graft.ops.Sampling.stratifiedSample(
      Seq((1L, "fr")).toDF("doc_id", "lang"), "doc_id", "lang", mix)
    assert(other.count() == 0)
  }

  test("Misra-Gries merge: pairwise sum, (budget+1)-largest cut, non-positives dropped") {
    val agg = new graft.functions.MisraGriesAgg(2)
    def m(kv: (String, Long)*): java.util.HashMap[String, Long] = {
      val h = new java.util.HashMap[String, Long]()
      kv.foreach { case (k, v) => h.put(k, v) }
      h
    }
    // summed: a=10, b=5, c=3 (3 entries > budget 2) -> cut = 3rd largest = 3
    val merged = agg.merge(m("a" -> 6L, "b" -> 5L), m("a" -> 4L, "c" -> 3L))
    assert(agg.finish(merged) == Map("a" -> 7L, "b" -> 2L))
    // within-budget merge is a plain pairwise sum
    val small = agg.merge(m("a" -> 1L), m("b" -> 2L))
    assert(agg.finish(small) == Map("a" -> 1L, "b" -> 2L))
  }

  test("Misra-Gries sketch: heavy items survive any partitioning, estimates are lower bounds") {
    import spark.implicits._
    val budget = 16
    // skewed stream: "hot" appears 500 times, 200 cold tokens ~2 times each
    val stream = Seq.fill(500)("hot") ++
      (1 to 200).flatMap(i => Seq.fill(1 + i % 3)(s"cold$i"))
    val n = stream.size
    for (parts <- Seq(1, 7, 32)) {
      val mg = stream.toDF("token").repartition(parts)
        .agg(graft.functions.MisraGriesAgg.column(col("token"), budget))
        .first().getAs[Map[String, Long]](0)
      assert(mg.size <= budget, s"parts=$parts size=${mg.size}")
      assert(mg.contains("hot"), s"parts=$parts: freq 500 > $n/${budget + 1} must survive")
      assert(mg("hot") <= 500, "MG estimates are lower bounds")
      assert(mg("hot") >= 500 - n / (budget + 1), "error bounded by n/(budget+1)")
    }
  }

  test("topTerms: exact counts, deterministic tie cut at k") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "b a a c c"),
      (2L, "a b d"),
    ).toDF("doc_id", "text")
    // counts: a=3, c=2, b=2, d=1; k=3 cuts inside the (b,c) tie → token order
    val out = TextAnalysis.topTerms(corpus, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
  }

  test("tfidfKeywords: hand-computed integer scores, ascending-token tie-break") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date"),
    ).toDF("doc_id", "text")
    // N=3; df: apple=1, banana=2, cherry=2, date=1
    // idf_micro: log2(3)→1584962, log2(1.5)→584962
    val out = TextAnalysis.tfidfKeywords(corpus)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, 1, "apple", 2L * 1584962L),
      (1L, 2, "banana", 584962L),
      (2L, 1, "banana", 584962L),  // tie with cherry → token asc wins
      (2L, 2, "cherry", 584962L),
      (3L, 1, "cherry", 3L * 584962L),
      (3L, 2, "date", 1584962L),
    ), s"got $out")
  }

  test("PII scrub masks planted emails/SSNs/phones/IPs and counts them") {
    import spark.implicits._
    val planted = Seq(
      (1L, "contact me at jane.doe+x@example.co.uk or 555-867-5309 x"),
      (2L, "ssn 123-45-6789 from 192.168.001.1 twice 10.0.0.255"),
      (3L, "clean text with no pii at all"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_pii"), r.getAs[String]("scrubbed"))))
      .toMap
    assert(out(1L)._1 == 2 && out(1L)._2.contains("<EMAIL>") && out(1L)._2.contains("<PHONE>"))
    assert(out(2L)._1 == 3 && out(2L)._2.contains("<SSN>") &&
      out(2L)._2.sliding(4).count(_ == "<IP>") == 2)
    assert(out(3L)._1 == 0 && out(3L)._2 == "clean text with no pii at all")
    assert(!out.values.exists(v => v._2.contains("@example") || v._2.contains("123-45-6789")),
      "raw PII survived scrubbing")
  }

  test("SimHashAgg signature equals the 64-wide aggregate form bit-for-bit") {
    val sh = docs.limit(200).select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val udafSigs = Dedup.simhashSignatures(sh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the 64-wide `sum(when(bit))` aggregate form: one ±1 counter per
    // bit over the same shingle hashes, the reference the UDAF replaces
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"bit_$b")
    }
    val sig = (0 until 64).map { b =>
      when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
    val wideSigs = Dedup.shingleHashes(sh).groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sig.as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(udafSigs == wideSigs)
  }

  test("dup clusters: label propagation finds transitive components") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), pair 7-8, plus 10-2 joining the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (10L, 2L)).toDF("id_a", "id_b")
    // driverMaxEdges = 0 forces the distributed fixpoint (the thing
    // under test); the driver union-find path is asserted equal below
    val out = Dedup.clusters(pairs, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 10L).forall(out(_) == 1L),
      s"chain component must all take min label 1: $out")
    assert(out(7L) == 7L && out(8L) == 7L)
    // convergence telemetry: recorded rounds, last round changed nothing
    val stats = DriverBudget.last("clusters").get
    assert(stats.branch == DriverBudget.Distributed && stats.size.isEmpty, stats)
    assert(stats.rounds.nonEmpty && stats.rounds.length <= 25)
    assert(stats.rounds.last == 0L,
      s"final round must be the no-change fixpoint check: $stats")
    assert(stats.rounds.init.forall(_ > 0L),
      s"every non-final round must have made progress: $stats")
  }

  test("dup clusters: pointer jumping converges a deep chain in O(log d) rounds") {
    import spark.implicits._
    // a 64-node path has diameter 63: plain min-propagation needs 63
    // rounds and would be cut off by maxIter; path doubling must finish
    // well inside 8 (log2 63 + 2 slack proves doubling is happening)
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs, maxIter = 8, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 64)
    assert(out.values.forall(_ == 1L), s"deep chain did not fully converge: $out")
    assert(branchOf("clusters") == DriverBudget.Distributed)
    assert(DriverBudget.last("clusters").get.rounds.length <= 8)
  }

  test("dup clusters: driver union-find path equals the distributed fixpoint") {
    import spark.implicits._
    // pseudo-random graph: 200 nodes, 150 deterministic edges — several
    // components of varying shape (chains, merges, singletons-with-edge)
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 150).map { _ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)
    }.filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val viaDriver = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(branchOf("clusters") == DriverBudget.Driver, "small graph must take the driver path")
    assert(DriverBudget.last("clusters").get.rounds.isEmpty)
    val viaFixpoint = Dedup.clusters(pairs, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(branchOf("clusters") == DriverBudget.Distributed, "forced path must be distributed")
    assert(DriverBudget.last("clusters").get.rounds.nonEmpty)
    assert(viaDriver == viaFixpoint)
  }

  test("dup clusters: budget fall-throughs label identically on every path") {
    import spark.implicits._
    // duplicate-heavy list: the raw-pair gate (2·|pairs| > budget) fails
    // but the symmetrized-distinct edge count fits — the second check
    // must still take the driver walk
    val dupHeavy = Seq.fill(20)((1L, 2L)).toDF("id_a", "id_b")
    val viaDedupCheck = Dedup.clusters(dupHeavy, driverMaxEdges = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the decision comes from the distinct-edge probe: 2 edges of 10
    assert(DriverBudget.last("clusters").get ==
      DriverBudget.Decision("clusters", Some(2L), 10L, DriverBudget.Driver),
      "distinct edges fit the budget — must still walk on the driver")
    assert(viaDedupCheck == Map(1L -> 1L, 2L -> 1L))
    // genuinely oversized budget: both gates fail, distributed fixpoint
    // runs, labels identical to the driver walk
    val rnd = new scala.util.Random(11)
    val pairs = (1 to 120).map { _ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
    }.filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val viaDriver = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOversized = Dedup.clusters(pairs, driverMaxEdges = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(branchOf("clusters") == DriverBudget.Distributed,
      "an oversized graph must fall through to the distributed fixpoint")
    assert(DriverBudget.last("clusters").get.size.isEmpty, "over budget is 'more than'")
    assert(viaOversized == viaDriver)
    // a null id fits the budget but cannot walk: the distributed fixpoint
    // labels it, on the default budget exactly as when forced
    val withNull = Seq((Option(1L), Option(2L)), (None, Option(3L))).toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.get(0)) -> Option(r.get(1))).toSet
    val nullDefault = labels(Dedup.clusters(withNull))
    assert(DriverBudget.last("clusters").get.branch == DriverBudget.Distributed)
    assert(nullDefault == labels(Dedup.clusters(withNull, driverMaxEdges = 0)))
  }

  test("winnowing near-dups: copies score 1.0, edits stay high, disjoint docs absent") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val edited = ((1 to 40).map(i => s"tok$i").updated(20, "CHANGED")).mkString(" ")
    val corpus = Seq(
      (1L, base), (2L, base),                         // exact copy pair
      (3L, edited),                                   // one-token edit of base
      (4L, (100 to 140).map(i => s"other$i").mkString(" ")), // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup.winnowingNearDups(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0, "identical docs must have fingerprint Jaccard exactly 1")
    assert(out.contains((1L, 3L)) && out((1L, 3L)) < 1.0,
      s"a local edit must keep the pair above threshold but below 1: $out")
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "disjoint doc must produce no pair")
  }

  test("winnowing near-dups: portable-hash variant returns the same pair set") {
    val fast = Dedup.winnowingNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val portable = Dedup.winnowingNearDups(docs, "doc_id", "text",
        threshold = 0.5, portableHash = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // different hash family ⇒ different winnowed SELECTIONS, but on the
    // fixture's planted dups the pair decisions agree
    assert(fast == portable)
    assert(fast.nonEmpty, "fixture should contain winnowing-detectable near-dups")
  }

  test("dedup/similarity ops release internal caches via OpCaches.releaseAll") {
    import org.apache.spark.sql.graftshim.GraftShims
    spark.catalog.clearCache()
    graft.ops.OpCaches.releaseAll() // drain registrations from earlier tests
    Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8).count()
    Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", threshold = 0.8).count()
    assert(GraftShims.cachedEntries(spark) > 0,
      "ops should persist intermediates while their query runs")
    graft.ops.OpCaches.releaseAll()
    assert(GraftShims.cachedEntries(spark) == 0,
      "releaseAll must leave the storage pool empty")
  }

  test("dup clusters: reliable-checkpoint mode produces identical labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (10L, 2L)).toDF("id_a", "id_b")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val out = Dedup.clusters(pairs, checkpointDir = Some(ckDir), driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 10L).forall(out(_) == 1L))
    assert(out(7L) == 7L && out(8L) == 7L)
    // reliable mode must actually have written RDD checkpoint data
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable checkpoint mode wrote no checkpoint files")
  }

  test("dup clusters: unconverged fixpoint fails loudly instead of under-merging") {
    import spark.implicits._
    // a 64-node path cannot converge in 1 round even with doubling
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.clusters(pairs, maxIter = 1, driverMaxEdges = 0).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("incremental dedup equals the full near-dup join filtered to new-touching pairs") {
    val isNew = (id: org.apache.spark.sql.Column) => pmod(id, lit(5)) === 0
    val inc = Dedup.minhashNearDupsIncremental(docs, "doc_id", "text", isNew, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }.toSet
    assert(inc == full)
    assert(inc.nonEmpty, "fixture should contain near-dups touching the new batch")
  }

  test("d4 auto chooser: both branch choices produce the naive join's pairs") {
    val naive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    // default budget: this templated fixture stays under it → count-based branch
    val auto = Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    assert(branchOf("ngramJaccardPairsAuto") == "count")
    // budget 0 forces the PPJoin prefix branch
    val forced = Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", threshold = 0.5,
      candidateBudgetPerDoc = 0).select("id_a", "id_b")
    assert(branchOf("ngramJaccardPairsAuto") == "prefix")
    assert(auto.exceptAll(naive).count() == 0 && naive.exceptAll(auto).count() == 0,
      "auto (count-based branch) diverged from naive")
    assert(forced.exceptAll(naive).count() == 0 && naive.exceptAll(forced).count() == 0,
      "auto (forced prefix branch) diverged from naive")
  }

  test("media features compose into the similarity ops: exact dups → cosine 1") {
    import spark.implicits._
    // the fixture has no byte-identical documents (500 distinct texts),
    // so plant copies under new ids: dedup must find exactly those, and
    // their histograms must be identical → cosine exactly 1
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val feats = Multimodal.imageFeatures(
      Multimodal.imageAssetsFromDocuments(planted))
    val dupPairs = Dedup.exact(planted, "doc_id", "text")
      .filter(col("dup_count") > 1)
      .join(planted.withColumn("fp",
        TextAnalysis.fingerprint(col("text"))), col("fingerprint") === col("fp"))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("canonical_id").as("id_a"), col("doc_id").as("id_b"))
    assert(dupPairs.count() == 10, "dedup should find exactly the planted copies")
    val sims = dupPairs
      .join(feats.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(feats.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .select(Similarity.cosine(col("va"), col("vb")).as("sim"))
      .as[Double].collect()
    assert(sims.forall(s => s > 0.9999), s"min sim = ${sims.min}")
  }

  test("IVF ANN recalls planted near-duplicates") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val queries = base.map { case (id, v) =>
      val noisy = v.zipWithIndex.map { case (x, i) =>
        x + 0.02f * (graft.anonymise.Faker.mix64(id * 131 + i) % 1000) / 1000f
      }
      (id + 100000L, noisy)
    }.toSeq.toDF("vec_id", "embedding")
    val ann = Similarity.ivfTopK(emb, queries, k = 3, nlist = 8, nprobe = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = base.count { case (id, _) => ann.get(id + 100000L).contains(id) }
    val recall = hits.toDouble / base.length
    assert(recall >= 0.8, s"recall=$recall (found $hits of ${base.length})")
  }

  test("PQ ANN recalls planted near-duplicates through 16x-compressed codes") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val queries = base.map { case (id, v) =>
      val noisy = v.zipWithIndex.map { case (x, i) =>
        x + 0.02f * (graft.anonymise.Faker.mix64(id * 131 + i) % 1000) / 1000f
      }
      (id + 100000L, noisy)
    }.toSeq.toDF("vec_id", "embedding")
    val ann = Similarity.pqTopK(emb, queries, k = 3, m = 16, codebookBits = 6)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = base.count { case (id, _) => ann.get(id + 100000L).contains(id) }
    val recall = hits.toDouble / base.length
    assert(recall >= 0.6, s"recall=$recall (found $hits of ${base.length})")
  }

  test("IVF-PQ ANN recalls planted near-duplicates through cells + residual codes") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val queries = base.map { case (id, v) =>
      val noisy = v.zipWithIndex.map { case (x, i) =>
        x + 0.02f * (graft.anonymise.Faker.mix64(id * 131 + i) % 1000) / 1000f
      }
      (id + 100000L, noisy)
    }.toSeq.toDF("vec_id", "embedding")
    // nprobe = nlist isolates the code-quality axis: a planted
    // near-identical query must land in its base vector's cell anyway;
    // residual codes must then rank the base first
    val ann = Similarity.ivfPqTopK(emb, queries, k = 3, nlist = 8, nprobe = 8,
        m = 16, codebookBits = 6)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = base.count { case (id, _) => ann.get(id + 100000L).contains(id) }
    val recall = hits.toDouble / base.length
    assert(recall >= 0.6, s"recall=$recall (found $hits of ${base.length})")
  }

  test("unigram surprisal: integer micro-bit math matches hand computation") {
    import spark.implicits._
    // vocab: c(a)=2, c(b)=2, N=4 → l2n=2e6, l2c=1e6 each; every token
    // carries exactly 1 micro-mega-bit; tokenless docs drop out
    val docs = Seq((1L, "a a b"), (2L, "b"), (3L, "  ")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(1L -> ((3L, 3000000L, 1000000L)),
                      2L -> ((1L, 1000000L, 1000000L))))
  }

  test("bigram surprisal: integer micro-bit math matches hand computation") {
    import spark.implicits._
    // bigram counts: c(a b)=2, c(b a)=1, c(a c)=1; margins c(a·)=3, c(b·)=1
    // l2b: ab=1e6, ba=0, ac=0; l2f: a=⌊log2(3)·1e6⌋=1584962, b=0
    // doc1 = (1584962−1e6) + (0−0) + (1584962−0) = 2169924 over 3 bigrams
    // doc3 has one token → no bigrams → drops out
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(1L -> ((3L, 2169924L, 723308L)),
                      2L -> ((1L, 584962L, 584962L))))
  }

  test("BloomJoin: output row-identical to the plain join; null probe keys dropped") {
    import spark.implicits._
    val probe = Seq(Some(1L), Some(2L), Some(2L), Some(7L), None).zipWithIndex
      .map { case (k, i) => (k, s"p$i") }.toDF("k", "pv")
    val build = Seq((1L, "x"), (2L, "y"), (9L, "z")).toDF("bk", "bv")
    val plain = probe.join(build, probe("k") === build("bk"))
    // fpp=0.5 makes false positives likely even on 3 keys — the join must
    // still remove every one of them
    val bloomed = graft.ops.BloomJoin.bloomFilteredJoin(probe, build, "k", "bk", fpp = 0.5)
    assert(bloomed.columns.toSeq == plain.columns.toSeq)
    assert(bloomed.exceptAll(plain).count() == 0 && plain.exceptAll(bloomed).count() == 0)
  }

  test("BloomJoin: string keys route through mightContainString") {
    import spark.implicits._
    val probe = Seq("a", "b", "zz", "b").toDF("k")
    val build = Seq(("a", 1L), ("c", 2L)).toDF("bk", "bv")
    val plain = probe.join(build, probe("k") === build("bk"))
    val bloomed = graft.ops.BloomJoin.bloomFilteredJoin(probe, build, "k", "bk")
    assert(bloomed.exceptAll(plain).count() == 0 && plain.exceptAll(bloomed).count() == 0)
    // unsupported key types are rejected loudly, not silently passed through
    val bad = Seq(1.5).toDF("k")
    intercept[IllegalArgumentException] {
      graft.ops.BloomJoin.mightContain(bad, "k",
        org.apache.spark.util.sketch.BloomFilter.create(64))
    }
  }

  test("BloomJoin: empty build side yields an empty join, not an NPE") {
    import spark.implicits._
    val probe = Seq(1L, 2L).toDF("k")
    val build = Seq((9L, "z")).toDF("bk", "bv").filter(col("bk") < 0)
    assert(graft.ops.BloomJoin.bloomFilteredJoin(probe, build, "k", "bk").count() == 0)
    // null keys are skipped during construction (parity with stat.bloomFilter)
    val withNulls = Seq(Some(1L), None).map(k => (k, "v")).toDF("bk", "bv")
    val bf = graft.ops.BloomJoin.buildFilter(withNulls, "bk", 64L, 0.01)
    assert(bf.mightContainLong(1L))
  }

  test("bloomScreenNew: drops historical dups (incl. normalization), keeps min-id per batch fp") {
    import spark.implicits._
    // ids ≡ 0 mod 5 are the new batch; hist has "alpha beta gamma"
    // (also present in batch under whitespace/case variation), batch
    // has an internal dup pair (10, 20) and two genuinely new docs
    val corpus = Seq(
      (1L, "alpha beta gamma"),            // hist
      (2L, "delta epsilon"),               // hist
      (5L, "  Alpha   BETA gamma "),       // batch: normalized dup of 1 → dropped
      (10L, "zeta eta theta"),             // batch: new, canonical of {10,20}
      (20L, "zeta eta theta"),             // batch: internal dup of 10 → dropped
      (15L, "iota kappa")                  // batch: new
    ).toDF("doc_id", "text")
    val isNew = (id: org.apache.spark.sql.Column) => pmod(id, lit(5)) === 0
    val out = Dedup.bloomScreenNew(corpus, "doc_id", "text", isNew)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(10L, 15L))
    assert(DriverBudget.last("bloomScreenNew").map(_.branch).contains("broadcast"))
    // bloom route (broadcast) == forced fallback route (shuffle anti),
    // which a budget of 0 takes without counting the candidates
    val fallback = Dedup.bloomScreenNew(corpus, "doc_id", "text", isNew,
      broadcastMaxCandidates = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(DriverBudget.last("bloomScreenNew") ==
      Some(DriverBudget.Decision("bloomScreenNew", None, 0L, "shuffle")))
    assert(fallback == out)
    // adversarial fpp: a bloom that false-positives half the batch only
    // grows the candidate set — the output is still exact
    val noisy = Dedup.bloomScreenNew(corpus, "doc_id", "text", isNew, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(noisy == out)
    // empty history: everything new survives (modulo within-batch dedup)
    val batchOnly = corpus.filter(pmod(col("doc_id"), lit(5)) === 0)
    val noHist = Dedup.bloomScreenNew(batchOnly, "doc_id", "text", isNew)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(noHist == Set(5L, 10L, 15L))
  }

  test("bloomScreenNew == naive anti-join on randomized corpora (planted dups, random fpp)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(60)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
      // short random texts from a small vocab → natural cross-batch and
      // within-batch collisions, plus whitespace/case noise
      val rows = (1L to n.toLong).map { i =>
        val words = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))
        val noise = if (rnd.nextBoolean()) words.mkString("  ").toUpperCase
                    else " " + words.mkString(" ")
        (i, noise)
      }
      val df = rows.toDF("doc_id", "text")
      val isNew = (id: org.apache.spark.sql.Column) => pmod(id, lit(3)) === 0
      val fpp = Seq(0.5, 0.05, 0.01)(trial % 3)
      val out = Dedup.bloomScreenNew(df, "doc_id", "text", isNew, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val fp = TextAnalysis.fingerprint(col("text"))
      val naive = df.filter(pmod(col("doc_id"), lit(3)) === 0).withColumn("fp", fp)
        .join(df.filter(pmod(col("doc_id"), lit(3)) =!= 0).select(fp.as("fp")),
          Seq("fp"), "left_anti")
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out == naive, s"trial=$trial n=$n fpp=$fpp")
    }
  }

  test("bloomScreenNew on the fixture equals the plain anti-join definition") {
    val isNew = (id: org.apache.spark.sql.Column) => pmod(id, lit(5)) === 0
    val out = Dedup.bloomScreenNew(docs, "doc_id", "text", isNew)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fp = TextAnalysis.fingerprint(col("text"))
    val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0).select(fp.as("fp"))
    val naive = docs.filter(pmod(col("doc_id"), lit(5)) === 0).withColumn("fp", fp)
      .join(hist, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == naive && out.nonEmpty)
  }

  test("gopherQualityFilter: each rule rejects its construction; conjunction gates keep") {
    import spark.implicits._
    val fixture = Seq(
      // passes every gate: long enough, normal word shape, stopwords, clean
      (1L, "the cat sat on the mat and it is a fine day for all of us to be here now"),
      (2L, "hi there"),                                   // r_len: 2 tokens < 5
      (3L, "the of 1 2 3 4 5 6 7 8 9 0 11 22 33"),        // r_digit + r_alpha
      (4L, "the !!! ??? *** ### @@@ &&& %%% of it is"),    // r_symbol
      (5L, "cat dog fish bird mouse horse goat sheep")     // r_stopwords: zero markers
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityFilter(fixture)
      .select("doc_id", "r_len", "r_stopwords", "r_symbol", "r_digit", "r_alpha", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6))).toMap
    assert(out(1L) == ((true, true, true, true, true, true)))
    assert(!out(2L)._1 && !out(2L)._6)                     // len gate fails → keep false
    assert(!out(3L)._4 && !out(3L)._5 && !out(3L)._6)      // digit + alpha gates fail
    assert(!out(4L)._3 && !out(4L)._6)                     // symbol gate fails
    assert(!out(5L)._2 && !out(5L)._6)                     // stopword gate fails
    // on the fixture corpus the gates are live in both directions
    val corpus = TextAnalysis.gopherQualityFilter(docs).select("keep")
      .collect().map(_.getBoolean(0))
    assert(corpus.exists(identity) && corpus.exists(!_))
  }

  test("d12 semdedup: component-min canonicals equal driver union-find over the exact pairs") {
    val pairs = Similarity.cosineNearDupPairsAuto(emb, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = allIds.filter(id => find(id) == id)
    val kept = GraftQueries.d12SemDedup(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected && pairs.nonEmpty,
      s"semdedup kept ${kept.size} of ${allIds.size}, expected ${expected.size}")
  }

  test("auto chooser probe: bounded tasks, not a full corpus count") {
    import spark.implicits._
    // 32-partition narrow-scan corpus, probe budget far below the row
    // count: a full count() would launch one task per partition; the
    // head() probe must satisfy itself from the first escalation step
    // (1 or a few tasks). The map keeps the plan shuffle-free but wipes
    // the leaf's row-count statistic, forcing the probe path.
    val df = spark.range(0, 10000, 1, 32).map(i => (i, "x")).toDF("vec_id", "p")
    assert(df.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
      "fixture unexpectedly carries exact stats — probe path not exercised")
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        started.incrementAndGet()
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(!Similarity.fitsInBroadcast(df, "vec_id", maxRows = 100))
      // the chooser's probe job(s) have finished when their JobEnd events
      // arrive; the ordered bus delivers task starts before the job end
      val deadline = System.currentTimeMillis() + 30000
      while (ended.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(ended.get() >= 1, "probe ran no job at all?")
      Thread.sleep(200) // drain any trailing escalation job's events
      assert(started.get() < 32,
        s"probe launched ${started.get()} tasks — looks like a full scan")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(DriverBudget.last("fitsInBroadcast").get ==
      DriverBudget.Decision("fitsInBroadcast", None, 100L, "blocked"))
    // decision flips exactly at the boundary (still bounded probes)
    assert(Similarity.fitsInBroadcast(df, "vec_id", maxRows = 10000))
    assert(DriverBudget.last("fitsInBroadcast").get ==
      DriverBudget.Decision("fitsInBroadcast", Some(10000L), 10000L, "broadcast"))
    assert(!Similarity.fitsInBroadcast(df, "vec_id", maxRows = 9999))
    assert(branchOf("fitsInBroadcast") == "blocked")
    // exact plan statistics decide without a job, and are recorded too
    assert(!Similarity.fitsInBroadcast(spark.range(50).toDF(), "id", maxRows = 49))
    assert(DriverBudget.last("fitsInBroadcast").get ==
      DriverBudget.Decision("fitsInBroadcast", Some(50L), 49L, "blocked"))
  }

  test("upsampleByWeight: multiplicity arithmetic, copy numbering, zero-weight drop") {
    import spark.implicits._
    val df = spark.range(0, 200).toDF("id")
      .withColumn("g", concat(lit("g"), pmod(col("id"), lit(4))))
    val weights = Map("g0" -> 2500, "g1" -> 1000, "g2" -> 700, "g3" -> 0)
    val out = Sampling.upsampleByWeight(df, "id", "g", weights, defaultPerMille = 0)
    // expected multiplicity recomputed independently per row
    val buckets = df.withColumn("b", Sampling.bucketPerMille(col("id")))
      .select("id", "g", "b").as[(Long, String, Long)].collect()
    val expected = buckets.flatMap { case (id, g, b) =>
      val w = weights(g)
      val n = w / 1000 + (if (b < w % 1000) 1 else 0)
      (1 to n).map(c => (id, g, c))
    }.toSet
    val got = out.select(col("id"), col("g"), col("copy"))
      .as[(Long, String, Int)].collect()
    assert(got.length == got.toSet.size, "copies must be distinct per (id, copy)")
    assert(got.toSet == expected)
    // sanity on the shape: every g0 doc ≥2 copies, g1 exactly 1, g3 gone
    val byG = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byG("g0") >= 100 && byG("g1") == 50 && !byG.contains("g3"))
    // fractional epochs land near the target in expectation: g2 = 0.7
    assert(byG("g2") > 20 && byG("g2") < 50)
  }

  test("mixRebalance: water-fill hits the target mix; binding group kept whole") {
    import spark.implicits._
    // 10 a, 6 b, 2 c; targets 50/25/25 → scale = min(20, 24, 8) = 8
    // → limits a=4, b=2, c=2 (c is binding and kept whole)
    val rows = ((1L to 10L).map(i => (i, "a")) ++ (11L to 16L).map(i => (i, "b"))
      ++ Seq((17L, "c"), (18L, "c"))).toDF("id", "g")
    val out = Sampling.mixRebalance(rows, "id", "g",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    val byG = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG == Map("a" -> 4L, "b" -> 2L, "c" -> 2L))
    // deterministic: the selected ids are the md5-least per group
    import org.apache.spark.sql.expressions.Window
    val expected = rows.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(md5(col("id").cast("string")), col("id"))))
      .filter(col("rn") <= when(col("g") === "a", 4).otherwise(2))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out.select("id").collect().map(_.getLong(0)).toSet == expected)
    // a target group with zero rows waters the whole mix down to empty
    val noC = rows.filter(col("g") =!= "c")
    assert(Sampling.mixRebalance(noC, "id", "g",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)).count() == 0L)
    // untargeted groups are dropped, not sampled
    val extra = rows.union(Seq((99L, "junk")).toDF("id", "g"))
    val outE = Sampling.mixRebalance(extra, "id", "g",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    assert(!outE.select("g").collect().map(_.getString(0)).contains("junk"))
  }

  test("mixRebalance: randomized groups — proportions hit floor(scale*w), two-phase == one-phase") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val groups = ('a' to ('a' + 2 + rnd.nextInt(3)).toChar).map(_.toString)
      val sizes = groups.map(g => g -> (1 + rnd.nextInt(40))).toMap
      val weights = groups.map(g => g -> (0.1 + rnd.nextDouble())).toMap
      var id = 0L
      val rows = groups.flatMap(g => (1 to sizes(g)).map { _ => id += 1; (id, g) })
      val df = rows.toDF("id", "g")
      val out = Sampling.mixRebalance(df, "id", "g", weights,
        saltBuckets = 1 + rnd.nextInt(8))
      // exact per-group sizes from the water-fill formula (same doubles)
      val scale = groups.map(g => sizes(g).toDouble / weights(g)).min
      val expectSizes = groups.map(g => g -> math.floor(scale * weights(g)).toLong).toMap
      val gotSizes = out.groupBy("g").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(groups.forall(g => gotSizes.getOrElse(g, 0L) == expectSizes(g)),
        s"trial=$trial got=$gotSizes expected=$expectSizes")
      // selected ids = md5-least per group (one-phase definition)
      val expected = df.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(md5(col("id").cast("string")), col("id"))))
        .collect().filter(r => r.getInt(2) <= expectSizes(r.getString(1)))
        .map(_.getLong(0)).toSet
      assert(out.select("id").collect().map(_.getLong(0)).toSet == expected, s"trial=$trial")
    }
  }

  test("domainCap: two-phase salted top-k equals the one-phase window, any salt count") {
    import org.apache.spark.sql.expressions.Window
    val onePhase = docs.withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .filter(col("rn") <= 3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    for (salts <- Seq(1, 2, 7, 32)) {
      val capped = Sampling.domainCap(docs, "doc_id", "source", k = 3, saltBuckets = salts)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(capped == onePhase, s"saltBuckets=$salts")
    }
    assert(onePhase.nonEmpty)
    // the cap binds: no domain exceeds k, and domains with ≥ k docs hit it
    val counts = Sampling.domainCap(docs, "doc_id", "source", k = 3)
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(counts.forall(_ <= 3) && counts.exists(_ == 3))
  }

  test("Jsonl.docLine round-trips dirty strings through from_json byte-for-byte") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "en", "plain words"),
      (2L, "de", "quote \" and backslash \\ mixed \\\" here"),
      (3L, "fr", "line\nbreak and\ttab"),
      (4L, "es", "trailing backslash \\"),
      (5L, "zh", ""))
    val back = dirty.toDF("doc_id", "lang", "text")
      .select(graft.export.Jsonl.docLine(col("doc_id"), col("lang"), col("text")).as("value"))
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, lang STRING, text STRING")).as("j"))
      .select("j.doc_id", "j.lang", "j.text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == dirty.toSet)
  }

  test("q_approx_cms verdict: both CMS guarantees hold on the fixture") {
    val r = GraftQueries.all("q_approx_cms")(spark, sfDir).collect().head
    assert(r.getLong(0) > 0 && r.getBoolean(1) && r.getBoolean(2))
  }

  test("randomProjection: sign recipe matches Sampling.bucket; JL norm bound holds") {
    import spark.implicits._
    // the JVM portableSign and the SQL-twin bucket recipe must agree
    val fromSql = (0 until 256).toDF("n")
      .select(graft.ops.Sampling.bucket(col("n"), 2)).collect().map(_.getLong(0))
    (0 until 256).foreach { n =>
      val want = if (fromSql(n) == 0L) 1 else -1
      assert(graft.ops.Similarity.portableSign(n) == want, s"n=$n")
    }
    // E[||Px||^2] = dOut * ||x||^2 for a +-1 matrix; the fixture mean
    // ratio must sit near 1 (loose 2-sided bound, deterministic data)
    val ratios = graft.ops.Similarity.randomProjection(emb, dOut = 16)
      .groupBy("id").agg(sum(col("value") * col("value")).as("p2"))
      .join(emb.select(col("vec_id").as("id"),
        aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("x2")), "id")
      .select(col("p2") / (col("x2") * 16)).collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"mean JL ratio $mean")
  }

  test("rangeSearch == in-memory threshold scan on the fixture") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = vecs.filter(_._1 < 10)
    val want = (for {
      (qid, qv) <- queries.toSeq
      (nid, nv) <- vecs.toSeq if nid != qid
      if graft.ops.Similarity.cosineKernel(qv, nv) >= 0.3
    } yield (qid, nid)).toSet
    val got = graft.ops.Similarity
      .rangeSearch(emb, emb.filter(col("vec_id") < 10), threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("Expectations: dirty fixture trips each rule; clean columns pass; RI counts orphans") {
    import spark.implicits._
    import graft.analyse.Expectations._
    val dirty = Seq(
      (Option(1L), Option("en"), 5L, Option("hello")),
      (Option(1L), Option("xx"), 3L, Option("abc")),   // dup id, bad lang
      (None, Option("de"), 2L, None),                  // null id, null text, null-pred invariant
      (Option(3L), None, 9L, Option("bad"))            // null lang (in_set violation), 9 != 3
    ).toDF("id", "lang", "n", "text")
    val rep = evaluate(dirty, "t", Seq(
        notNull("id"), unique("id"), inSet("lang", Seq("en", "de")),
        satisfies("len_match", "n", col("n") === length(col("text")))))
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(rep(("not_null", "id")) == 1L)
    assert(rep(("unique", "id")) == 1L)
    assert(rep(("in_set", "lang")) == 2L)   // 'xx' and NULL
    assert(rep(("len_match", "n")) == 2L)   // 9!=3 and the NULL predicate row
    val ri = refIntegrity(
        Seq(1L, 2L, 7L, 7L).toDF("fk"), "fk",
        Seq(1L, 2L, 3L).toDF("pk"), "pk", "t")
      .collect().head
    assert(ri.getLong(3) == 2L && !ri.getBoolean(4))
    // empty table: zero violations everywhere, never null
    val empty = evaluate(dirty.filter(lit(false)), "t", Seq(notNull("id"), unique("id")))
      .collect().map(_.getLong(3))
    assert(empty.forall(_ == 0L))
  }

  test("shardLayout: straddling row takes its start-offset shard; invariant to partitioning") {
    import spark.implicits._
    // sizes 600+600 fill shard 0 up to 1200; the 900-row STARTS at 1200
    // (shard 1) and straddles into 2100; the next row starts at 2100 (shard 2)
    val rows = Seq((1L, 600L), (2L, 600L), (3L, 900L), (4L, 10L))
    for (parts <- Seq(1, 3)) {
      val df = rows.toDF("doc_id", "n_tokens").repartition(parts)
      val got = graft.sources.Layout
        .shardLayout(df, Seq(col("doc_id")), "n_tokens", target = 1000L)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((1L, 600L, 0L), (2L, 1200L, 0L), (3L, 2100L, 1L), (4L, 2110L, 2L)),
        s"parts=$parts got=$got")
    }
  }

  test("tokenBudgetPrefix == naive global cumsum; invariant to input partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(50)
      val rows = (1L to n.toLong).map(i =>
        (i, rnd.nextInt(5) * 0.25, 1L + rnd.nextInt(40)))
      val naive = {
        var acc = 0L
        rows.sortBy { case (id, r, _) => (-r, id) }.map { case (id, r, t) =>
          acc += t; (id, r, t, acc)
        }
      }
      val budget = naive.map(_._3).sum * (1 + rnd.nextInt(8)) / 10
      val want = naive.takeWhile(_._4 <= budget).toSet
      for (parts <- Seq(1, 3, 7)) {
        val df = rows.toDF("doc_id", "rank", "tokens").repartition(parts)
        val got = graft.ops.Sampling
          .tokenBudgetPrefix(df, "doc_id", "rank", "tokens", budget)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == want, s"trial=$trial parts=$parts budget=$budget")
      }
    }
  }

  /** In-memory reference for dupSpans / stripDupSpans: mark every (or
    * every non-first) occurrence of a k-gram occurring ≥ 2 times in the
    * corpus, merge overlapping/adjacent [pos, pos+k-1] intervals.
    */
  private def naiveSpans(corpus: Seq[(Long, String)], k: Int,
                         keepFirst: Boolean): Map[Long, Seq[(Int, Int)]] = {
    val grams = for {
      (id, t) <- corpus
      toks = t.split("\\s+").filter(_.nonEmpty)
      i <- 0 to toks.length - k
    } yield (id, i, toks.slice(i, i + k).mkString(" "))
    val marked = grams.groupBy(_._3).values.filter(_.size >= 2).toSeq.flatMap { occ =>
      val sorted = occ.sortBy(o => (o._1, o._2))
      (if (keepFirst) sorted.drop(1) else sorted).map(o => (o._1, o._2))
    }
    marked.groupBy(_._1).map { case (id, ps) =>
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (p <- ps.map(_._2).distinct.sorted) {
        if (spans.nonEmpty && p <= spans.last._2 + 1) {
          val (s, e) = spans.remove(spans.length - 1)
          spans += ((s, math.max(e, p + k - 1)))
        } else spans += ((p, p + k - 1))
      }
      id -> spans.toSeq
    }
  }

  test("dupSpans: cross-doc, within-doc, and untouched docs (hand-computed)") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "a b c d e f",            // shares "a b c d" with doc 2
      2L -> "x y a b c d z",
      3L -> "p q r s t u",            // unique — no spans
      4L -> "m n o m n o m n o")     // self-repeating — one full-doc span
    val out = Dedup.dupSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(out == Map(1L -> Seq((0, 3)), 2L -> Seq((2, 5)), 4L -> Seq((0, 8))))
  }

  test("stripDupSpans: keep-first protection, full-dup doc empties, short doc passes") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "a b c d e f",
      2L -> "x y a b c d z",           // repeat of doc 1's grams → "a b c d" stripped
      4L -> "m n o m n o m n o",       // first "m n o" survives, repeats stripped
      5L -> "u v",                     // shorter than k → untouched
      6L -> "q r s t",                 // first copy — untouched
      7L -> "q r s t")                 // exact dup of 6 → fully stripped
    val out = Dedup.stripDupSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("a b c d e f", 6, 0)))
    assert(out(2L) == (("x y z", 3, 4)))
    assert(out(4L) == (("m n o", 3, 6)))
    assert(out(5L) == (("u v", 2, 0)))
    assert(out(6L) == (("q r s t", 4, 0)))
    assert(out(7L) == (("", 0, 4)))
  }

  test("dupSpans / stripDupSpans == naive reference on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 1 to 4) {
      val k = 2 + rnd.nextInt(2)
      val corpus = (1L to (20 + rnd.nextInt(20)).toLong).map { i =>
        i -> Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val df = corpus.toDF("doc_id", "text")
      val gotSpans = Dedup.dupSpans(df, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val wantSpans = naiveSpans(corpus, k, keepFirst = false)
        .filter(_._2.nonEmpty).view.mapValues(_.sorted).toMap
      assert(gotSpans == wantSpans, s"trial=$trial k=$k spans")
      val gotStrip = Dedup.stripDupSpans(df, "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
      val stripRef = naiveSpans(corpus, k, keepFirst = true)
      val wantStrip = corpus.map { case (id, t) =>
        val toks = t.split("\\s+").filter(_.nonEmpty)
        val sp = stripRef.getOrElse(id, Seq.empty)
        val kept = toks.zipWithIndex.collect {
          case (tok, i) if !sp.exists(s => i >= s._1 && i <= s._2) => tok
        }
        id -> ((kept.mkString(" "), kept.length, toks.length - kept.length))
      }.toMap
      assert(gotStrip == wantStrip, s"trial=$trial k=$k strip")
    }
  }

  test("orphan audit: counts exactly the non-null dangling keys per edge and per table") {
    import org.apache.spark.sql.{Row, types => T}
    import graft.analyse.ForeignKey
    import graft.export.Subset
    def frame(fields: (String, T.DataType)*)(rows: Seq[Any]*) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
        T.StructType(fields.map { case (n, t) => T.StructField(n, t) }))
    val tables = Map(
      "p" -> frame("id" -> T.LongType)(Seq(1L), Seq(2L), Seq(3L)),
      "s" -> frame("code" -> T.StringType)(Seq("a"), Seq("b")),
      // two edges: INT pid onto BIGINT p.id, STRING sc onto s.code
      "c" -> frame("pid" -> T.IntegerType, "sc" -> T.StringType)(
        Seq(1, "a"), Seq(4, "a"), Seq(4, "z"), Seq(null, "b"), Seq(2, null), Seq(5, "z")),
      // a clean edge, plus a NULL key
      "d" -> frame("pid" -> T.LongType)(Seq(1L), Seq(3L), Seq(null)),
      // DECIMAL(10,0) onto DECIMAL(12,2): `===` compares 7 and 7.00 equal
      "q" -> frame("amt" -> T.DecimalType(12, 2))(
        Seq(new java.math.BigDecimal("7.00")), Seq(new java.math.BigDecimal("8.50"))),
      "e" -> frame("qa" -> T.DecimalType(10, 0))(
        Seq(new java.math.BigDecimal("7")), Seq(new java.math.BigDecimal("9"))))
    val fks = Seq(ForeignKey("c", "pid", "p", "id"), ForeignKey("c", "sc", "s", "code"),
      ForeignKey("d", "pid", "p", "id"), ForeignKey("e", "qa", "q", "amt"))
    def antiCount(f: ForeignKey): Long =
      tables(f.table).select(col(f.column).as("k")).filter(col("k").isNotNull)
        .join(tables(f.referencedTable).select(col(f.referencedColumn).as("r")),
          col("k") === col("r"), "left_anti").count()
    val want = fks.map(f => (f.table, f.column, f.referencedTable) -> antiCount(f)).toMap
    assert(want.values.toSeq.sorted == Seq(0L, 1L, 2L, 3L), want.toString)
    val edges = Subset.orphanEdges(tables, fks)
    assert(edges.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      "the audit is one aggregate, not a join per edge")
    val got = edges.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(got == want)
    val counts = Subset.orphanCounts(tables, fks)
    assert(counts("d") == 0L, s"a NULL foreign key is not dangling: $counts")
    assert(counts == Map("p" -> 0L, "s" -> 0L, "q" -> 0L, "c" -> 5L, "d" -> 0L, "e" -> 1L))
    // the held-key proof: anchored at a table outside every edge, a
    // closure keeps every other frame as given, so its proof is the
    // audit of these frames
    val z = "z" -> frame("id" -> T.LongType)(Seq(1L))
    def audit(ts: Map[String, org.apache.spark.sql.DataFrame], es: Seq[ForeignKey]) =
      Subset.restrict(ts + z, es, "z", lit(true))
    val eligible = fks.filterNot(_.table == "e")
    val held = audit(tables - "q" - "e", eligible)
    assert(held.decision.branch == DriverBudget.Driver, held.decision.toString)
    assert(held.orphans == Subset.orphanCounts(tables - "q" - "e", eligible) + ("z" -> 0L))
    assert(held.orphans == Map("p" -> 0L, "s" -> 0L, "c" -> 5L, "d" -> 0L, "z" -> 0L))
    // a DECIMAL edge, or a non-deterministic root filter, goes distributed
    val decimal = audit(tables, fks)
    assert(decimal.decision.branch == DriverBudget.Distributed, decimal.decision.toString)
    assert(decimal.orphans == counts + ("z" -> 0L))
    val sampled = Subset.restrict(tables - "q" - "e", eligible, "p", rand(7) < 0.5)
    assert(sampled.decision.branch == DriverBudget.Distributed, sampled.decision.toString)
    assert(sampled.orphans.values.forall(_ == 0L), sampled.orphans.toString)
    graft.ops.OpCaches.releaseAll()
  }

  /** The two closure budgets every closure spec runs at, each with the
    * branch it must record: the default (the held keys of these small
    * inputs fit) and 0, which forces the persisted semi-joins.
    */
  private val closureBudgets =
    Seq(graft.export.Subset.KeyBudget -> DriverBudget.Driver, 0L -> DriverBudget.Distributed)

  test("eraseCascade: victims and descendants gone, survivors and dimensions intact, still closed") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    val tables = names.map(t => t ->
      graft.sources.ParquetSource.normalizeNanoTimestamps(
        spark.read.parquet(s"$sfDir/$t.parquet"))).toMap
    val fks = graft.sources.ParquetSource.fixtureForeignKeys
    val victim = pmod(col("c_custkey"), lit(7)) === 0
    val kept = graft.export.Subset.eraseCascade(tables, fks, "customer", victim)
    // victims gone, survivors untouched
    assert(kept("customer").filter(victim).count() == 0)
    assert(kept("customer").count() == tables("customer").filter(!victim).count())
    // descendants: exactly the rows of surviving parents remain
    val survOrders = tables("orders").join(kept("customer")
      .select(col("c_custkey")), col("o_custkey") === col("c_custkey"), "left_semi")
    assert(kept("orders").exceptAll(survOrders).count() == 0)
    assert(survOrders.exceptAll(kept("orders")).count() == 0)
    // dimensions never shrink on an erasure
    for (t <- Seq("region", "nation", "supplier", "part"))
      assert(kept(t).count() == tables(t).count(), t)
    // and the database is still closed
    val orphans = graft.export.Subset.orphanCounts(kept, fks)
    assert(orphans.values.forall(_ == 0L), orphans.toString)
    graft.ops.OpCaches.releaseAll()
  }

  test("subset closure: zero orphans, dimensions minimal (every kept row referenced)") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    val tables = names.map(t => t ->
      graft.sources.ParquetSource.normalizeNanoTimestamps(
        spark.read.parquet(s"$sfDir/$t.parquet"))).toMap
    val fks = graft.sources.ParquetSource.fixtureForeignKeys
    for ((budget, branch) <- closureBudgets) {
      val cachedBefore = org.apache.spark.sql.graftshim.GraftShims.cachedEntries(spark)
      val r = graft.export.Subset.restrict(tables, fks, "orders",
        pmod(col("o_orderkey"), lit(7)) === 0, keyBudget = budget)
      assert(r.decision.branch == branch, r.decision.toString)
      // the held-key branch persists nothing
      if (branch == DriverBudget.Driver)
        assert(org.apache.spark.sql.graftshim.GraftShims.cachedEntries(spark) == cachedBefore)
      // every table's probe is charged against one budget: the total
      // held fits exactly that total, and one row less goes distributed
      for (total <- r.decision.size) {
        val tight = graft.export.Subset.restrict(tables, fks, "orders",
          pmod(col("o_orderkey"), lit(7)) === 0, keyBudget = total)
        assert(tight.decision == DriverBudget.Decision("subset", Some(total), total,
          DriverBudget.Driver))
        val over = graft.export.Subset.restrict(tables, fks, "orders",
          pmod(col("o_orderkey"), lit(7)) === 0, keyBudget = total - 1)
        assert(over.decision.branch == DriverBudget.Distributed, over.decision.toString)
      }
      val kept = r.kept
      // closed: no dangling FK anywhere, by both proofs
      val orphans = graft.export.Subset.orphanCounts(kept, fks)
      assert(orphans.values.forall(_ == 0L), orphans.toString)
      assert(r.orphans == orphans)
      // minimal: every kept dimension row is referenced by a kept child
      def refd(dim: String, dimKey: String, child: String, childKey: String) =
        kept(dim).join(kept(child).select(col(childKey).as("__k")),
          col(dimKey) === col("__k"), "left_anti").count()
      assert(refd("customer", "c_custkey", "orders", "o_custkey") == 0)
      assert(refd("part", "p_partkey", "lineitem", "l_partkey") == 0)
      assert(refd("supplier", "s_suppkey", "lineitem", "l_suppkey") == 0)
      assert(refd("region", "r_regionkey", "nation", "n_regionkey") == 0)
      // the subset genuinely shrinks the fact chain
      assert(kept("lineitem").count() < tables("lineitem").count())
      assert(kept("events").count() < tables("events").count())
      graft.ops.OpCaches.releaseAll()
    }
  }

  test("subset closure: randomized DAG schemas stay closed, anchored, layout-invariant") {
    import org.apache.spark.sql.{Row, types => T}
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val nT = 4 + rnd.nextInt(3)
      val fks = (1 until nT).flatMap { i =>
        (0 until i).filter(_ => rnd.nextBoolean()).zipWithIndex.map { case (p, e) =>
          graft.analyse.ForeignKey(s"t$i", s"fk${e}_$p", s"t$p", "id")
        }
      }
      val tables = (0 until nT).map { i =>
        val myFks = fks.filter(_.table == s"t$i")
        val schema = T.StructType(
          T.StructField("id", T.LongType) +:
            myFks.map(f => T.StructField(f.column, T.LongType)))
        val rows = (0L until 40L).map(id =>
          Row.fromSeq(id +: myFks.map(_ => rnd.nextInt(40).toLong)))
        s"t$i" -> spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3), schema)
      }.toMap
      val anchor = s"t${rnd.nextInt(nT)}"
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      val byBranch = for ((budget, branch) <- closureBudgets) yield {
        val r = graft.export.Subset.restrict(tables, fks, anchor,
          pmod(col("id"), lit(3)) === 0, keyBudget = budget)
        assert(r.decision.branch == branch, s"trial=$trial ${r.decision}")
        val kept = r.kept
        // closed: zero dangling FK rows anywhere, by both proofs
        val orphans = graft.export.Subset.orphanCounts(kept, fks)
        assert(orphans.values.forall(_ == 0L), s"trial=$trial $orphans")
        assert(r.orphans == orphans, s"trial=$trial")
        // anchored: the anchor keeps exactly its filtered rows
        val keptAnchor = kept(anchor).select("id").collect().map(_.getLong(0)).toSet
        assert(keptAnchor == (0L until 40L).filter(_ % 3 == 0).toSet, s"trial=$trial")
        // restriction: never invents rows
        for ((t, df) <- kept) {
          val ids = df.select("id").collect().map(_.getLong(0)).toSet
          assert(ids.subsetOf((0L until 40L).toSet), s"trial=$trial $t")
        }
        // layout-invariant: an 8-way repartitioned copy closes identically
        val kept2 = graft.export.Subset.restrict(
          tables.map { case (t, df) => t -> df.repartition(8) }, fks, anchor,
          pmod(col("id"), lit(3)) === 0, keyBudget = budget).kept
        for (t <- tables.keys)
          assert(ids(kept(t)) == ids(kept2(t)), s"trial=$trial $t layout drift")
        val keptIds = tables.keys.map(t => t -> ids(kept(t))).toMap
        graft.ops.OpCaches.releaseAll()
        keptIds
      }
      // both branches keep the same rows
      assert(byBranch.distinct.size == 1, s"trial=$trial branch drift")
    }
  }

  test("subset closure: refuses a table its restricted children reference through two columns") {
    import org.apache.spark.sql.{Row, types => T}
    import org.apache.spark.sql.functions.col
    def frame(cols: String*)(rows: Seq[Long]*): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
        T.StructType(cols.map(T.StructField(_, T.LongType))))
    // c1 references p by id and c2 by code; once the anchor restricts
    // both children, p must keep the rows either of them references
    val tables = Map(
      "a"  -> frame("id")(Seq(1L), Seq(2L)),
      "p"  -> frame("id", "code")(Seq(1L, 10L), Seq(2L, 20L)),
      "c1" -> frame("id", "a_id", "p_id")(Seq(1L, 1L, 1L), Seq(2L, 2L, 2L)),
      "c2" -> frame("id", "a_id", "p_code")(Seq(1L, 1L, 20L), Seq(2L, 2L, 10L)))
    val fks = Seq(
      graft.analyse.ForeignKey("c1", "a_id", "a", "id"),
      graft.analyse.ForeignKey("c2", "a_id", "a", "id"),
      graft.analyse.ForeignKey("c1", "p_id", "p", "id"),
      graft.analyse.ForeignKey("c2", "p_code", "p", "code"))
    try {
      val e = intercept[IllegalArgumentException](
        graft.export.Subset.closure(tables, fks, "a", col("id") === 1L))
      assert(e.getMessage.contains("table p") && e.getMessage.contains("(code, id)"), e.getMessage)
      // both branches refuse in the shared sweep, before any decision
      // is recorded
      for ((budget, _) <- closureBudgets) {
        val before = DriverBudget.last("subset")
        val e2 = intercept[IllegalArgumentException](graft.export.Subset.restrict(
          tables, fks, "a", col("id") === 1L, keyBudget = budget))
        assert(e2.getMessage == e.getMessage)
        assert(DriverBudget.last("subset") == before)
      }
    } finally graft.ops.OpCaches.releaseAll()
  }

  test("subset export: the held-key and persisted closures dump identical bytes") {
    import org.apache.spark.sql.functions.col
    import graft.config.{Connection, FakerRule, GraftConfig, TableConfig}
    val source = graft.sources.ParquetSource(spark, sfDir)
    val cfg = GraftConfig(connection = Connection(dbType = "sqlite", file = "fixture"),
      configuration = Map("customer" -> TableConfig(columns = Map("c_name" -> FakerRule("name")))))
    val tables = source.tables.map(t => t -> source.read(t)).toMap
    val dumps = for ((budget, branch) <- closureBudgets) yield {
      val r = graft.export.Subset.restrict(tables, source.foreignKeys, "customer",
        Sampling.bucket(col("c_custkey"), 100) < 10, keyBudget = budget)
      assert(r.decision.branch == branch, r.decision.toString)
      val out = new java.io.StringWriter()
      try graft.export.ExportPipeline.run(new graft.export.SubsetSource(source, r.kept), cfg,
        graft.dialect.SqliteDialect, out, timestamp = () => "T")
      finally graft.ops.OpCaches.releaseAll()
      out.toString
    }
    assert(dumps.head.contains("INSERT INTO \"lineitem\""), dumps.head.take(500))
    assert(dumps.head == dumps.last)
  }

  test("sq8: recall@10 beats PQ and clears the 0.7 verdict floor") {
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
      val hits = ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
        .count()
      hits.toDouble / exact.count()
    }
    val q = emb.filter(col("vec_id") < 10)
    val sq8 = recallOf(Similarity.sq8TopK(emb, q, 10))
    val pq = recallOf(Similarity.pqTopK(emb, q, 10, m = 16, codebookBits = 6))
    assert(sq8 >= 0.7, s"sq8 recall $sq8")
    assert(sq8 >= pq, s"sq8 ($sq8) should not lose to 16B PQ codes ($pq)")
    graft.ops.OpCaches.releaseAll()
  }

  test("cusum: prefix-min identity == sequential fold; planted drift flags") {
    import spark.implicits._
    // 30 quiet days at ~10 events, then 10 days at 60: drift must flag
    val rnd = new scala.util.Random(11)
    val events = (0 until 30).flatMap { d =>
      (0 until 9 + rnd.nextInt(3)).map(i => (d.toLong * 100 + i,
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00")))
    } ++ (0 until 10).flatMap { d =>
      (0 until 60).map(i => (10000L + d * 100 + i,
        java.sql.Timestamp.valueOf(f"2024-02-${d + 1}%02d 12:00:00")))
    }
    val df = events.toDF("event_id", "ts")
    val got = graft.ops.TimeSeries.cusumChangepoints(df, "ts", "day")
      .orderBy("bucket_ts")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // sequential reference: S_i = max(0, S_{i-1} + (n·c_i − total))
    val counts = got.map(_._1)
    val total = counts.sum
    val n = counts.length.toLong
    var s = 0L
    val want = counts.map { c =>
      s = math.max(0L, s + (n * c - total))
      s
    }
    assert(got.map(_._2).toSeq == want.toSeq)
    assert(got.takeWhile(!_._3).length >= 30, "no false alarm in the quiet period")
    assert(got.exists(_._3), "the planted drift must flag")
    // partitioning-invariant
    val re = graft.ops.TimeSeries.cusumChangepoints(df.repartition(7), "ts", "day")
      .orderBy("bucket_ts").collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(re.toSeq == got.toSeq)
  }

  test("mannKendall: hand-computed S/ties/variance; tied series is an honest non-verdict") {
    import spark.implicits._
    def series(counts: Seq[Int]): org.apache.spark.sql.DataFrame =
      counts.zipWithIndex.flatMap { case (c, d) =>
        (0 until c).map(i => (d.toLong * 1000 + i,
          java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d 12:00:00")))
      }.toDF("event_id", "ts")
    // counts [3,3,4,...,13]: every date pair is concordant except the
    // tied first two → S = C(12,2) − 1 = 65; one tie group of 2 →
    // tie18 = 2·1·9 = 18, var_x18 = 12·11·29 − 18 = 3810; the verdict
    // 11250·65² ≥ 2401·3810 holds → significant increasing
    val up = Seq(3, 3) ++ (4 to 13)
    val got = graft.ops.TimeSeries.mannKendall(series(up), "ts").collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_buckets") == 12L)
    assert(r.getAs[Long]("n_distinct") == 11L)
    assert(r.getAs[Long]("s_stat") == 65L)
    assert(r.getAs[Long]("var_x18") == 3810L)
    assert(r.getAs[Boolean]("significant"))
    assert(r.getAs[String]("trend") == "increasing")
    // all-tied series: S = 0 AND var_x18 = 0 (the degenerate guard) →
    // not significant, trend 'none', never a divide-by-zero
    val flat = graft.ops.TimeSeries.mannKendall(series(Seq(5, 5, 5)), "ts").collect().head
    assert(flat.getAs[Long]("s_stat") == 0L)
    assert(flat.getAs[Long]("var_x18") == 0L)
    assert(!flat.getAs[Boolean]("significant"))
    assert(flat.getAs[String]("trend") == "none")
    // decreasing: strictly falling counts → S = −C(5,2) = −10, the
    // perfect monotone |S| = 10 > 1.96σ ≈ 8 (11250·100 ≥ 2401·300)
    val down = graft.ops.TimeSeries.mannKendall(series(Seq(9, 8, 7, 6, 5)), "ts").collect().head
    assert(down.getAs[Long]("s_stat") == -10L)
    assert(down.getAs[Long]("var_x18") == 300L)
    assert(down.getAs[Boolean]("significant"))
    assert(down.getAs[String]("trend") == "decreasing")
    // partitioning-invariant
    val re = graft.ops.TimeSeries.mannKendall(series(up).repartition(7), "ts").collect().head
    assert(re.toSeq == r.toSeq)
    graft.ops.OpCaches.releaseAll()
  }

  test("containment finds the quoted-inside pair symmetric Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 60).map(i => s"filler$i").mkString(" ")
    val df = Seq((1L, short), (2L, long), (3L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    // doc 1 fully contained in doc 2: c_ab = 1.0, but J ≈ |A|/|B| is tiny
    val cont = Dedup.ngramContainmentPairs(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(cont.length == 1)
    assert(cont.head._1 == 1L && cont.head._2 == 2L)
    assert(cont.head._3 == 1.0 && cont.head._4 < 0.2)
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.9)
      .collect()
    assert(jac.isEmpty, "symmetric Jaccard must miss the containment pair")
    graft.ops.OpCaches.releaseAll()
  }

  test("containment auto: exact within budget, screened path verified-subset past it") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    // high-overlap corpus: duplicated template docs (J = 1 pairs), the
    // case both plans must agree on bit-for-bit
    val tpl = (1 to 40).map(i => s"word$i").mkString(" ")
    val dups = Seq((1L, tpl), (2L, tpl), (3L, tpl + " tail extra tokens"),
      (4L, "completely different content entirely unrelated"))
      .toDF("doc_id", "text")
    val exact = rows(Dedup.ngramContainmentPairs(dups, "doc_id", "text", 0.9))
    assert(exact.nonEmpty)
    // generous budget -> the chooser takes the exact plan: identical set
    assert(rows(Dedup.ngramContainmentPairsAuto(dups, "doc_id", "text", 0.9,
      candidateBudgetPerDoc = 1L << 40)) == exact)
    assert(branchOf("ngramContainmentPairsAuto") == "count")
    // zero budget forces the MinHash screen: high-J pairs all survive
    // the 32x2 band curve (collision prob 1 - (1-J^2)^32 ~= 1 here) and
    // the verify stage recomputes the SAME IEEE ratios -> identical set
    assert(rows(Dedup.ngramContainmentPairsAuto(dups, "doc_id", "text", 0.9,
      candidateBudgetPerDoc = 0)) == exact)
    assert(branchOf("ngramContainmentPairsAuto") == "screen")
    // the screen is a candidate SUBSET by construction: on the
    // short-quoted-in-long corpus (J tiny, containment 1.0) the screened
    // result never invents pairs the exact plan lacks
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 60).map(i => s"filler$i").mkString(" ")
    val quoted = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val exactQ = rows(Dedup.ngramContainmentPairs(quoted, "doc_id", "text", 0.9))
    val screenedQ = rows(Dedup.ngramContainmentPairsAuto(quoted, "doc_id", "text", 0.9,
      candidateBudgetPerDoc = 0))
    assert(screenedQ.subsetOf(exactQ),
      s"screen must never invent pairs: $screenedQ vs $exactQ")
    // the fixture documents sit within the shipped 1024/doc budget
    // (measured ~28/doc at sf0.01), so d18 runs the EXACT plan under the
    // correctness gate
    Dedup.ngramContainmentPairsAuto(docs, "doc_id", "text", 0.9)
    val d18 = DriverBudget.last("ngramContainmentPairsAuto").get
    assert(d18.branch == "count" && d18.size.get <= d18.budget, d18)
    graft.ops.OpCaches.releaseAll()
  }

  test("appendIvf: cell contents after append == from-scratch assignment; layout intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx_inc").toString
    val hist = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    graft.ops.VectorIndex.buildIvf(hist, dir, nlist = 8)
    val cellDirsBefore = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    graft.ops.VectorIndex.appendIvf(spark, dir, batch)
    // the maintained index holds exactly the union, each vector in the
    // SAME cell a from-scratch assignment against these centroids gives
    val centroids = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2.map(_.toDouble))
    val wantCells = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) =>
        (id, graft.ops.Similarity.nearestCentroid(centroids, v.map(_.toDouble)))
      }.toSet
    val gotCells = spark.read.parquet(s"$dir/cells")
      .select(col("vid"), col("cell")).as[(Long, Int)].collect().toSet
    assert(gotCells == wantCells)
    // append must not create cells outside the trained layout
    val cellDirsAfter = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirsAfter.subsetOf(cellDirsBefore ++
      wantCells.map(c => s"cell=${c._2}")))
    // queries through the maintained index can return appended vectors
    val q = emb.filter(col("vec_id") < 3)
    val res = graft.ops.VectorIndex.queryIvf(spark, dir, q, k = 10, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(res.exists(_ % 5 == 0), "appended vectors should be findable")
  }

  test("simhashNearDups at maxHamming = 8 == brute-force hamming over the signatures") {
    import spark.implicits._
    val sh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val sigs = Dedup.simhashSignatures(sh).as[(Long, Long)].collect()
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 8
    } yield (a, b)).toSet
    // fixed 4 x 16-bit blocking only proposes pairs that agree on a
    // whole piece; the pigeonhole join's maxHamming + 1 bands must also
    // find a pair that differs in every piece
    def pieces(x: Long) = (0 until 4).map(p => (x >>> (16 * p)) & 0xffffL)
    val sig = sigs.toMap
    assert(want.exists { case (a, b) =>
        pieces(sig(a)).zip(pieces(sig(b))).forall { case (x, y) => x != y } },
      "fixture should hold a pair within 8 bits that differs in all four 16-bit pieces")
    val got = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8, threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want)
    graft.ops.OpCaches.releaseAll()
  }

  test("imageAHash64: duplicates collide, corpus spreads, off-grid edits are invisible") {
    import spark.implicits._
    import graft.ops.Multimodal
    val assets = Multimodal.imageAssetsFromDocuments(docs)
    val hashes = Multimodal.imageAHash64(assets)
      .as[(Long, Long)].collect().toMap
    assert(hashes.size == docs.count(), "every payload must decode")
    // 64-bit codes must actually discriminate — near-total spread at
    // 500 docs (the 16-bin hash's saturation is exactly what this
    // kernel exists to fix)
    assert(hashes.values.toSeq.distinct.size >= hashes.size * 95 / 100,
      s"64-bit hashes should be near-unique at fixture scale")
    // identical payloads under new ids hash identically (parity kept)
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val ph = Multimodal.imageAHash64(Multimodal.imageAssetsFromDocuments(planted))
      .as[(Long, Long)].collect().toMap
    for (id <- 0L until 10L if ph.contains(id))
      assert(ph(id) == ph(id + 1000000L), s"duplicate $id must collide")
    // aHash is a downsample: edits OFF the 8x8 sample grid are
    // invisible; an edit ON a sampled cell moves few bits
    val (w, h) = (17, 19)
    val base = Multimodal.DigestPixels.bytes("ahash-spec", w * h)
    def hashOf(px: Array[Int]): Long = {
      val df = Seq((1L, pngBytes(w, h, px))).toDF("asset_id", "payload")
      Multimodal.imageAHash64(df).as[(Long, Long)].collect().head._2
    }
    val h0 = hashOf(base)
    // find a coordinate that is NOT any of the 64 sample points
    val sampled = (for (i <- 0 until 64) yield ((i / 8) * h / 8) * w + (i % 8) * w / 8).toSet
    val off = (0 until w * h).find(!sampled.contains(_)).get
    val offEdit = base.clone(); offEdit(off) = 255 - offEdit(off)
    assert(hashOf(offEdit) == h0, "off-grid pixel edits must not move the hash")
    val on = sampled.head
    val onEdit = base.clone(); onEdit(on) = if (base(on) < 128) 255 else 0
    val d = java.lang.Long.bitCount(hashOf(onEdit) ^ h0)
    assert(d >= 1 && d <= 8, s"one sampled-cell edit moved $d bits")
    // the 64-bit pair join: pigeonhole banding == brute force, and the
    // planted exact duplicates surface at distance 0
    val got64 = Multimodal.imageNearDups64(
        Multimodal.imageAssetsFromDocuments(planted), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want64 = (for {
      (a, pa) <- ph.toSeq; (b, pb) <- ph.toSeq if a < b
      d = java.lang.Long.bitCount(pa ^ pb) if d <= 2
    } yield (a, b, d)).toSet
    assert(got64 == want64)
    for (id <- 0L until 10L if ph.contains(id))
      assert(got64.contains((id, id + 1000000L, 0)),
        s"planted duplicate $id must pair at distance 0")
    // maxDist = 0: the single 64-bit band (the wrap-guard case) finds
    // exactly the hash-equal pairs
    val got0 = Multimodal.imageNearDups64(
        Multimodal.imageAssetsFromDocuments(planted), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got0 == want64.filter(_._3 == 0).map(t => (t._1, t._2)))
    graft.ops.OpCaches.releaseAll()
  }

  /** Encode a grayscale raster as PNG via the production path (the
    * BufferedImage recipe `grayPng` uses, duplicated here because the
    * builder is private — keep in sync).
    */
  private def pngBytes(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var y = 0; var i = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.getRaster.setSample(x, y, 0, px(i)); i += 1; x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("image assets: ImageIO decode recovers exactly the DigestPixels raster") {
    import spark.implicits._
    val some = docs.filter(col("doc_id") < 8)
    val payloads = Multimodal.imageAssetsFromDocuments(some)
      .as[(Long, Array[Byte])].collect().toMap
    val texts = some.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(payloads.keySet.exists(_ % 2 == 0) && payloads.keySet.exists(_ % 2 == 1),
      "fixture must cover both the gray and the RGB encode paths")
    for ((id, bytes) <- payloads) {
      // genuine PNG container (the real-media contract mm1 relies on)
      assert(Multimodal.ImageHeaders.parse(bytes).exists(_._1 == "png"))
      val (w, h, px) = Multimodal.decodeGray(bytes)
      val p = Multimodal.DigestPixels.params(texts(id))
      assert(w == 16 + p(0) % 17 && h == 16 + p(1) % 13)
      // even ids: the stream verbatim; odd ids: the 3-channel stream
      // collapsed by the integer BT.601 luma — lossless either way
      assert(px.toSeq == expectedLumaRaster(id, texts(id), w, h),
        s"PNG round-trip not lossless for doc $id")
    }
    // undecodable payloads return null → kernels drop them
    assert(Multimodal.decodeGray("not a png".getBytes) == null)
  }

  test("jpeg decode: committed golden pixel table pins the lossy round-trip") {
    // JPEG bytes aren't SQL-derivable (lossy DCT), so the catalog
    // fixtures stay PNG; the JPEG path of the SAME kernels is pinned
    // here by a committed golden instead (the t18 pattern): a
    // deterministic RGB raster (DigestPixels over a fixed key) is
    // ImageIO-JPEG-encoded, decoded back through decodeGray's BT.601
    // collapse, and the resulting lumas must equal the committed table
    // byte for byte. Regenerate (after a deliberate codec change) with
    // the commented one-liner below.
    val key = "graft-jpeg-golden-v1"
    val (w, h) = (24, 16)
    val rgb = Multimodal.DigestPixels.bytes(key, 3 * w * h)
    val jpeg = Multimodal.rgbPng(w, h, rgb, format = "jpg")
    // the container really is JPEG (SOI/SOF markers parse)
    assert(Multimodal.ImageHeaders.parse(jpeg).contains(("jpeg", w, h)))
    val (dw, dh, px) = Multimodal.decodeGray(jpeg)
    assert((dw, dh) == ((w, h)))
    val goldenPath = getClass.getResource("/golden/jpeg_luma_24x16.txt")
    assert(goldenPath != null, "golden missing — regenerate: " +
      "println(px.mkString(\",\")) and commit to src/test/resources/golden/")
    val want = scala.io.Source.fromFile(goldenPath.getPath, "UTF-8")
      .mkString.trim.split(",").map(_.toInt).toSeq
    assert(px.toSeq == want, "JPEG decode drifted from the committed golden")
    // lossy, but close: decoded luma within a tight band of the source
    // raster's own BT.601 collapse (sanity that the codec didn't mangle)
    val src = rgb.grouped(3).map(c => (77 * c(0) + 150 * c(1) + 29 * c(2) + 128) >> 8).toSeq
    val maxErr = px.toSeq.zip(src).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 48, s"JPEG error band blew out: $maxErr")
    // and the downstream feature kernel runs on JPEG payloads unchanged
    import spark.implicits._
    val feats = Multimodal.imageFeatures(Seq((1L, jpeg)).toDF("asset_id", "payload"))
      .as[(Long, Array[Float])].collect()
    assert(feats.length == 1)
    val norm = math.sqrt(feats.head._2.map(v => v.toDouble * v).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("decodeAudioLevels: JDK decoder stats match hand-computed samples") {
    import spark.implicits._
    // two known samples: 0x0201 = 513, 0xFF80 = -128 (LE byte order)
    val data = Array[Byte](0x01, 0x02, 0x80.toByte, 0xff.toByte)
    val wav = Multimodal.WavHeaders.build(1, 8000, 16, data)
    val got = Multimodal.decodeAudioLevels(
      Seq((1L, wav)).toDF("asset_id", "payload"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 513L, 513L * 513L + 128L * 128L)))
    // fixture-wide: javax.sound must open every synthesised WAV and the
    // sample count must match the header's own data accounting
    val assets = Multimodal.audioAssetsFromDocuments(docs.filter(col("doc_id") < 50))
    val levels = Multimodal.decodeAudioLevels(assets)
    val meta = Multimodal.decodeAudioMeta(assets)
    assert(levels.count() == assets.count(), "every WAV must decode")
    assert(levels.join(meta, "asset_id")
      .filter(col("n_samples") * 2 =!= col("data_bytes")).count() == 0)
    graft.ops.OpCaches.releaseAll()
  }

  test("histogram: hand-computed bins; max lands in last bin; partitioning-invariant") {
    import spark.implicits._
    // values 0..9, 5 bins over range 10 → bin = v*5 DIV 10 = v/2
    val df = (0L to 9L).toDF("v")
    val got = graft.analyse.Profiler.histogram(df, col("v"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // degenerate single-value input: everything in bin 0
    val one = graft.analyse.Profiler.histogram(Seq(7L, 7L, 7L).toDF("v"), col("v"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one == Map(0L -> 3L))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val c = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    val a = graft.analyse.Profiler.histogram(li, c, 20).collect().toSeq
    val b = graft.analyse.Profiler.histogram(li.repartition(7), c, 20).collect().toSeq
    assert(a.sortBy(_.getLong(0)) == b.sortBy(_.getLong(0)))
    assert(a.map(_.getLong(1)).sum == li.count())
  }

  test("cohortRetention: offset-0 equals cohort size; totals conserve users") {
    val events = graft.sources.ParquetSource.normalizeNanoTimestamps(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val m = graft.ops.Funnel.cohortRetention(events)
    val rows = m.collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 0L))
    // offset 0 for a cohort = number of users whose first week it is;
    // summing offset-0 counts over all cohorts = total distinct users
    val zeroSum = rows.filter(_._2 == 0L).map(_._3).sum
    assert(zeroSum == events.select("user_id").distinct().count())
    // retention can never exceed the cohort's own size
    val size0 = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    assert(rows.forall(r => r._3 <= size0(r._1)))
  }

  test("bpePairs: vocabulary-weighted pair counts, hand-computed") {
    import spark.implicits._
    // "low" twice + "lower" once + digits run "123" once; "a!" contributes
    // only the single-char word "a" (no pairs)
    val df = Seq(
      (1L, "low low a!"),
      (2L, "lower 123")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairs(df, topK = 10, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // words: low×2, lower×1, a×1, 123×1
    // pairs: lo 2+1=3, ow 2+1=3, we 1, er 1, 12 1, 23 1
    assert(got == Seq(("lo", 3L), ("ow", 3L),
      ("12", 1L), ("23", 1L), ("er", 1L), ("we", 1L)))
    // minCount filters the tail
    val filtered = TextAnalysis.bpePairs(df, topK = 10, minCount = 2L)
      .collect().map(r => r.getString(0)).toSeq
    assert(filtered == Seq("lo", "ow"))
  }

  test("bpePairs: partitioning-invariant on fixture docs") {
    val base = TextAnalysis.bpePairs(docs).collect().toSeq
    val re = TextAnalysis.bpePairs(docs.repartition(7)).collect().toSeq
    assert(base == re)
    assert(base.nonEmpty && base.size <= 50)
  }

  test("diverseSample: per-cell cap holds, equals the one-phase window, invariant to partitioning") {
    import org.apache.spark.sql.expressions.Window
    val got = Similarity.diverseSample(emb, bits = 4, perBucket = 8)
    val rows = got.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val perCell = rows.groupBy(_._2).view.mapValues(_.size)
    assert(perCell.values.forall(_ <= 8), "cell cap violated")
    // one-phase reference: md5-order row_number over the same buckets
    val b = Similarity.signBuckets(emb, 4).select(col("vec_id"), col("bucket"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val want = b.withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
      .select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows.sorted == want.sorted)
    val re = Similarity.diverseSample(emb.repartition(7), bits = 4, perBucket = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows.sorted == re.sorted)
  }

  test("triangleCount == brute force on random graphs; duplicate/reversed edges collapse") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      val n = 8 + rnd.nextInt(8)
      val base = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.35
      } yield (u.toLong, v.toLong))
      // noise: duplicates, reversed direction, self-loops — all must collapse
      val noisy = base ++ base.take(3).map(_.swap) ++ base.take(2) ++
        Seq((1L, 1L), (2L, 2L))
      val got = graft.ops.Graph.triangleCount(
        rnd.shuffle(noisy).toDF("src", "dst"))
        .collect().head
      assert(branchOf("triangles") == DriverBudget.Driver, s"trial=$trial")
      val es = base.toSet
      def has(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
      val want = (for {
        a <- 0L until n.toLong; b <- a + 1 until n.toLong; c <- b + 1 until n.toLong
        if has(a, b) && has(a, c) && has(b, c)
      } yield 1).size
      assert(got.getLong(2) == want.toLong, s"trial=$trial")
      assert(got.getLong(1) == base.size.toLong, s"trial=$trial edges")
      // the guarded driver walk (default) must equal the distributed
      // wedge join (forced with driverWalkMaxEdges = 0), schema and all
      val dist = graft.ops.Graph.triangleCount(
        rnd.shuffle(noisy).toDF("src", "dst"), driverWalkMaxEdges = 0L)
      assert(branchOf("triangles") == DriverBudget.Distributed, s"trial=$trial")
      assert(dist.collect().head == got, s"trial=$trial walk != distributed")
      assert(dist.schema == graft.ops.Graph.triangleCount(
        rnd.shuffle(noisy).toDF("src", "dst")).schema)
      graft.ops.OpCaches.releaseAll()
    }
  }

  test("triangleCount: exotic id types decline the driver walk yet agree with it") {
    import spark.implicits._
    // a 4-clique (4 triangles) with DECIMAL ids whose string forms sort
    // DIFFERENTLY from their numeric order (2.50 vs 10.00 as strings):
    // the old doubleValue/string-tiebreak walk ordering could diverge
    // from Spark's on such keys, so the type guard must route decimals
    // to the distributed plan — and the answer must match the walk
    // running on the same graph relabelled with integral ids.
    val dec = Seq("2.50", "10.00", "7.25", "0.75").map(new java.math.BigDecimal(_))
    val edges = for {
      i <- dec.indices; j <- i + 1 until dec.size
    } yield (dec(i), dec(j))
    val decDf = edges.toDF("src", "dst")
      .select(col("src").cast("decimal(10,2)").as("src"),
        col("dst").cast("decimal(10,2)").as("dst"))
    val got = graft.ops.Graph.triangleCount(decDf).collect().head
    assert(DriverBudget.last("triangles").get ==
      DriverBudget.Decision("triangles", None, DriverBudget.graphWalkEdges(1L << 17),
        DriverBudget.Distributed), "the type guard must decline decimal ids")
    assert(got.getLong(0) == 4L && got.getLong(1) == 6L && got.getLong(2) == 4L)
    // distributed-forced run agrees exactly (the guard really took it)
    assert(graft.ops.Graph.triangleCount(decDf, driverWalkMaxEdges = 0L)
      .collect().head == got)
    // integral and string ids still take the walk and agree with the
    // distributed plan (regression anchor for the guard's accept side)
    val intDf = (for { i <- 0 until 4; j <- i + 1 until 4 } yield (i.toLong, j.toLong))
      .toDF("src", "dst")
    val walkedInt = graft.ops.Graph.triangleCount(intDf)
    assert(branchOf("triangles") == DriverBudget.Driver)
    assert(walkedInt.collect().head ==
      graft.ops.Graph.triangleCount(intDf, driverWalkMaxEdges = 0L).collect().head)
    // INT src, BIGINT dst: least/greatest widen both to one node
    // identity, so the triangle 1-2-3 has 3 nodes, not 6 boxed keys
    val mixed = Seq((1, 2L), (2, 3L), (3, 1L)).toDF("src", "dst")
    assert(graft.ops.Graph.triangleCount(mixed).collect().head.toSeq == Seq(3L, 3L, 1L))
    assert(branchOf("triangles") == DriverBudget.Distributed)
    graft.ops.OpCaches.releaseAll()
  }

  test("pageRank: integer supersteps equal a driver reference; partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 12).map(i => s"n$i")
    val dirEdges = (for {
      _ <- 1 to 30
      a = nodes(rnd.nextInt(nodes.size))
      b = nodes(rnd.nextInt(nodes.size))
      if a != b
    } yield (a, b)).groupBy(identity).map { case ((a, b), g) => (a, b, g.size.toLong) }.toSeq
    // symmetrise like g1 does
    val sym = (dirEdges ++ dirEdges.map { case (a, b, w) => (b, a, w) })
      .groupBy(e => (e._1, e._2)).map { case ((a, b), g) => (a, b, g.map(_._3).sum) }.toSeq
    val df = sym.toDF("src", "dst", "w")
    val got = graft.ops.Graph.pageRank(df, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(DriverBudget.last("pageRank").get == DriverBudget.Decision("pageRank",
      Some(sym.size.toLong), DriverBudget.graphWalkEdges(1L << 17), DriverBudget.Driver))
    // driver reference with identical integer arithmetic
    val outW = sym.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val ns = sym.map(_._1).distinct
    var rank = ns.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inflow = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((a, b, w) <- sym) inflow(b) += rank(a) * w / outW(a)
      rank = ns.map(n => n -> (150000L + 85L * inflow(n) / 100L)).toMap
    }
    assert(got == rank)
    val re = graft.ops.Graph.pageRank(df.repartition(5), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(re == rank)
    // the guarded driver walk (default at this size) must equal the
    // distributed superstep plan (forced with driverWalkMaxEdges = 0),
    // values, column names and types alike
    val dist = graft.ops.Graph.pageRank(df, iters = 3, driverWalkMaxEdges = 0L)
    assert(branchOf("pageRank") == DriverBudget.Distributed)
    assert(dist.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == rank)
    val walkDf = graft.ops.Graph.pageRank(df, iters = 3)
    assert(walkDf.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      dist.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // null endpoints decline the walk: both paths still agree
    val withNull = sym.toDF("src", "dst", "w")
      .unionByName(Seq((null.asInstanceOf[String], "n1", 1L)).toDF("src", "dst", "w"))
    val nullWalk = graft.ops.Graph.pageRank(withNull, iters = 2)
    assert(DriverBudget.last("pageRank").get.size.contains(sym.size + 1L) &&
      branchOf("pageRank") == DriverBudget.Distributed, "a null endpoint must decline")
    assert(nullWalk.collect().length ==
      graft.ops.Graph.pageRank(withNull, iters = 2, driverWalkMaxEdges = 0L)
        .collect().length)
    // Long-overflow edges (rank·w past 2^63) must DECLINE the walk —
    // never throw — and route to the distributed plan, which applies
    // the session's own overflow semantics (here: Spark 4 ANSI throws,
    // so both paths surface the same session-level behaviour; under a
    // non-ANSI session the distributed plan would wrap instead, which
    // is exactly why the walk must not pick its own)
    val huge = Seq(("a", "b", Long.MaxValue / 2), ("b", "a", Long.MaxValue / 2),
      ("a", "c", Long.MaxValue / 2)).toDF("src", "dst", "w")
    val viaDefault = try Right(graft.ops.Graph.pageRank(huge, iters = 3).collect())
      catch { case e: Throwable => Left(e.getClass.getSimpleName) }
    val viaDist = try Right(graft.ops.Graph.pageRank(huge, iters = 3,
        driverWalkMaxEdges = 0L).collect())
      catch { case e: Throwable => Left(e.getClass.getSimpleName) }
    assert(viaDefault.map(_.map(_.toString).sorted.toSeq) ==
      viaDist.map(_.map(_.toString).sorted.toSeq),
      s"walk chooser changed overflow behaviour: $viaDefault vs $viaDist")
    // a budget below the edge count declines the walk; the distributed
    // plan returns the identical ranks (the small-driver path)
    val small = graft.ops.Graph.pageRank(df, iters = 3, driverWalkMaxEdges = 5L)
    assert(DriverBudget.last("pageRank").get == DriverBudget.Decision("pageRank",
      Some(sym.size.toLong), 5L, DriverBudget.Distributed))
    assert(small.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == rank)
  }

  test("capPairsPerDoc: salted two-phase == driver reference; binding budgets drop pairs") {
    import spark.implicits._
    // a hot hub (doc 0 pairs with everyone) plus a chain — degrees 1..N
    val rnd = new scala.util.Random(11)
    val pairs = ((1 to 40).map(i => (0L, i.toLong, 0.5 + rnd.nextInt(40) / 100.0)) ++
      (1 to 39).map(i => (i.toLong, (i + 1).toLong, 0.5 + rnd.nextInt(40) / 100.0)))
      .distinct
    val df = pairs.toDF("id_a", "id_b", "jaccard")
    def reference(k: Int): Set[(Long, Long)] = {
      val sides = pairs.flatMap { case (a, b, s) => Seq((a, (a, b, s)), (b, (a, b, s))) }
      sides.groupBy(_._1).values.flatMap { g =>
        g.map(_._2).sortBy { case (a, b, s) => (-s, a, b) }.take(k).map(t => (t._1, t._2))
      }.toSet
    }
    for (k <- Seq(1, 2, 5); salts <- Seq(1, 4, 32)) {
      val got = graft.ops.Dedup.capPairsPerDoc(df, col("jaccard"), k, saltBuckets = salts)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == reference(k), s"k=$k salts=$salts")
    }
    // binding at k=1: the hub keeps one pair, most hub pairs drop
    assert(reference(1).size < pairs.size)
    // a budget past every degree is the identity
    val all = graft.ops.Dedup.capPairsPerDoc(df, col("jaccard"), 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(all == pairs.map(t => (t._1, t._2)).toSet)
    // the capped output carries the original score columns through
    val cols = graft.ops.Dedup.capPairsPerDoc(df, col("jaccard"), 2).columns.toSeq
    assert(cols == Seq("id_a", "id_b", "jaccard"))
  }

  test("DriverBudget: heap term lowers the measured cap, never raises; clamps to floor") {
    import graft.ops.DriverBudget
    // big heap: the measured cap holds exactly (heap term exceeds it)
    assert(DriverBudget.derived(1L << 20, 256L, maxHeapBytes = 32L << 30) == (1L << 20))
    // 1 GB heap: budget = 1 GB / 16 / 256 B = 262144 < cap
    assert(DriverBudget.derived(1L << 20, 256L, maxHeapBytes = 1L << 30) == 262144L)
    // tiny synthetic heap: clamped to the 2^12 floor, not zero — a
    // fixture-scale walk stays available on any JVM that starts
    assert(DriverBudget.derived(1L << 20, 256L, maxHeapBytes = 1L << 20) == (1L << 12))
    // the shipped site budgets respect their caps on this host
    assert(DriverBudget.graphWalkEdges(1L << 17) <= (1L << 17))
    assert(DriverBudget.clusterEdges(1L << 20) <= (1L << 20))
    assert(DriverBudget.bins(1L << 20) <= (1L << 20))
  }

  test("DriverBudget.probe: judges the clamped bound; a budget <= 0 runs no job") {
    val three = spark.range(0, 3, 1, 2).toDF("x")
    assert(DriverBudget.probe(three, 3L).map(_.length).contains(3))
    assert(DriverBudget.probe(three, 2L).isEmpty, "bound + 1 rows came back: over budget")
    // a budget past the Int range clamps once (head's argument stays an
    // Int), and the verdict is against the CLAMPED bound: a full
    // bound + 1 probe never counts as fitting
    assert(DriverBudget.probe(three, 1L << 40).map(_.length).contains(3))
    Seq(Int.MaxValue.toLong, 1L << 31, 1L << 40, Long.MaxValue).foreach { b =>
      val bound = DriverBudget.bound(b)
      assert(bound < Int.MaxValue)
      assert(DriverBudget.fits(bound, b) && !DriverBudget.fits(bound + 1L, b), s"budget $b")
    }
    // a budget <= 0 is over budget without running a job
    val started = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.merge(g, 1, _ + _))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("probe-nonpositive", "budget <= 0")
      assert(DriverBudget.probe(three, 0L).isEmpty)
      assert(DriverBudget.probe(three, -5L).isEmpty)
      assert(DriverBudget.probe(three.limit(0), 0L).isEmpty, "even an empty frame is over")
      // a positive budget does run a job; the bus is ordered, so once
      // it is seen any earlier probe job would have been seen too
      sc.setJobGroup("probe-positive", "budget 1")
      assert(DriverBudget.probe(three, 1L).isEmpty)
      val deadline = System.currentTimeMillis() + 30000
      while (!started.containsKey("probe-positive") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(started.containsKey("probe-positive"), "the listener saw no probe job at all")
      assert(!started.containsKey("probe-nonpositive"),
        s"a budget <= 0 launched ${started.get("probe-nonpositive")} job(s)")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("cleanText: tags stripped, control chars squashed, runs collapsed, edges trimmed") {
    import spark.implicits._
    val df = Seq(
      (1L, "<b>Hi</b>\tthere\u0001\u0002  world "),
      (2L, "no markup"),
      (3L, "  \u0000\u007f  "),              // nothing but junk → empty
      (4L, "a < b and b > a"),               // lone <'s: '< b and b >' IS a tag
      (5L, "line1\nline2\r\n\r\nline3")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cleanText(df)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(got(1L) == "Hi there world")
    assert(got(2L) == "no markup")
    assert(got(3L) == "")
    assert(got(4L) == "a a")
    assert(got(5L) == "line1 line2 line3")
    // the length audit columns agree with the strings
    val lens = TextAnalysis.cleanText(df)
      .filter(length(col("clean_text")) =!= col("n_clean")).count()
    assert(lens == 0)
  }

  test("madOutlierSummary: matches a brute-force reference on randomized groups, both walks") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val data = for {
      g <- 0 until 5
      _ <- 0 until (rnd.nextInt(200) + 3)
    } yield (s"g$g",
      (rnd.nextGaussian() * 1000).toLong +
        (if (rnd.nextInt(20) == 0) 100000L else 0L)) // occasional outliers
    // the documented semantics, computed naively in memory
    def m2Of(vs: Seq[Long]): Long = {
      val s = vs.sorted; val n = s.length
      s((n - 1) / 2) + s(n / 2)
    }
    val expect = data.groupBy(_._1).map { case (g, rows) =>
      val vs = rows.map(_._2)
      val m2 = m2Of(vs)
      val d2 = vs.map(v => math.abs(2 * v - m2))
      val m4 = m2Of(d2)
      (g, vs.size.toLong, m2, m4,
        d2.count(d => d * 20000L > 44478L * m4).toLong)
    }.toSet
    val df = data.toDF("seg", "v")
    val got = graft.ops.RobustStats
      .madOutlierSummary(df, col("seg"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == expect)
    val dist = graft.ops.RobustStats
      .madOutlierSummary(df, col("seg"), col("v"), driverWalkMaxBins = 0L)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(dist == expect)
  }

  test("madOutlierSummary: known medians, driver and distributed walks agree") {
    import spark.implicits._
    // seg A: 1..5 (median 3, m2=6; devs 0,2,4 doubled: {4,2,0,2,4} → MAD
    // median = 2 → m4=4); outlier rule: d2·20000 > 44478·4 ⟺ d2 > 8.89
    // → none. seg B: {10,10,10,10,1000}: m2=20, d2s {0,0,0,0,1980},
    // m4=0 → any d2>0 is an outlier → exactly 1.
    val df = (Seq(1L, 2L, 3L, 4L, 5L).map(("A", _)) ++
      Seq(10L, 10L, 10L, 10L, 1000L).map(("B", _))).toDF("seg", "v")
    val got = graft.ops.RobustStats
      .madOutlierSummary(df, col("seg"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // 7 (seg, v) bins: A's five values and B's two
    assert(DriverBudget.last("madOutlierSummary").get == DriverBudget.Decision(
      "madOutlierSummary", Some(7L), graft.ops.RobustStats.DriverWalkMaxBins,
      DriverBudget.Driver))
    assert(got == Set(("A", 5L, 6L, 4L, 0L), ("B", 5L, 20L, 0L, 1L)))
    val dist = graft.ops.RobustStats
      .madOutlierSummary(df, col("seg"), col("v"), driverWalkMaxBins = 0L)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(branchOf("madOutlierSummary") == DriverBudget.Distributed)
    assert(dist == got)
    // even-count interpolation: {1,2,3,4} → m2 = 2+3 = 5
    val even = Seq(1L, 2L, 3L, 4L).map(("E", _)).toDF("seg", "v")
    val m2 = graft.ops.RobustStats
      .madOutlierSummary(even, col("seg"), col("v"))
      .select("m2").as[Long].head()
    assert(m2 == 5L)
    // a NON-STRING segment column (int region key): both walks accept
    // it and both type `segment` as the input's own type
    val intSeg = (Seq(1L, 2L, 3L, 4L, 5L).map((7, _)) ++
      Seq(10L, 10L, 10L, 10L, 1000L).map((9, _))).toDF("seg", "v")
    val gi = graft.ops.RobustStats
      .madOutlierSummary(intSeg, col("seg"), col("v"))
    val di = graft.ops.RobustStats
      .madOutlierSummary(intSeg, col("seg"), col("v"), driverWalkMaxBins = 0L)
    assert(gi.schema("segment").dataType == di.schema("segment").dataType)
    assert(gi.as[(Int, Long, Long, Long, Long)].collect().toSet ==
      Set((7, 5L, 6L, 4L, 0L), (9, 5L, 20L, 0L, 1L)))
    assert(di.as[(Int, Long, Long, Long, Long)].collect().toSet ==
      gi.as[(Int, Long, Long, Long, Long)].collect().toSet)
  }

  test("sceneChanges: real frame decode, transition counts, threshold edges; layout-invariant") {
    import spark.implicits._
    import graft.ops.Multimodal
    val some = docs.filter(col("doc_id") < 60)
    val vids = Multimodal.videoAssetsFromDocuments(some)
    val everyCut = Multimodal.sceneChanges(vids, threshold = -1L)
    val noCut = Multimodal.sceneChanges(vids, threshold = 512L)
    // n_transitions = n_frames - 1 with n_frames from the construction
    val texts = some.filter(pmod(col("doc_id"), lit(3)) === 2)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val trans = everyCut.select("asset_id", "n_transitions")
      .as[(Long, Long)].collect().toMap
    assert(trans.keySet == texts.keySet, "one row per video asset")
    for ((id, n) <- trans)
      assert(n == 3 + Multimodal.DigestPixels.params(texts(id))(3) % 5)
    assert(everyCut.filter(col("n_cuts") =!= col("n_transitions")).count() == 0)
    assert(noCut.filter(col("n_cuts") =!= 0).count() == 0)
    // max L1 ≤ 512 (two disjoint 256-pixel histograms), and the real
    // frame hists must differ frame-to-frame (decode not degenerate)
    assert(everyCut.filter(col("max_l1") > 512).count() == 0)
    assert(everyCut.filter(col("max_l1") > 0).count() == trans.size)
    // layout-invariant
    val re = Multimodal.sceneChanges(
      Multimodal.videoAssetsFromDocuments(some.repartition(7)), threshold = 72L)
    assert(re.orderBy("asset_id").collect().toSeq ==
      Multimodal.sceneChanges(vids, threshold = 72L).orderBy("asset_id").collect().toSeq)
    graft.ops.OpCaches.releaseAll()
  }

  test("cdcChunkStats: boundaries shift-resilient — a prefix insertion still shares tail chunks") {
    import spark.implicits._
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, "INSERTED " + base)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.cdcChunkStats(docs)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // token accounting exact
    assert(got(1L)._2 == 200L && got(2L)._2 == 201L)
    // the defining CDC property: after the first few shifted chunks,
    // boundaries re-synchronise, so the two docs SHARE tail chunks —
    // fixed-width segmentation would share none
    assert(got(1L)._4 > 0 && got(2L)._4 > 0,
      s"no shared chunks after a prefix insertion: $got")
    // and chunking is layout-invariant
    val re = graft.ops.Dedup.cdcChunkStats(docs.repartition(5))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(re == got)
  }

  test("abChisq: perfectly-separated cohorts significant; degenerate tables are not") {
    import spark.implicits._
    import graft.ops.{Experiment, Sampling}
    val users = (1L to 40L).toSeq
    val base = users.map(u => (u, "signup"))
    def ev(extra: Seq[(Long, String)]) =
      (base ++ extra).toDF("user_id", "event_type")
    // which users land in variant 0 under the real coin
    val v0 = users.toDF("user_id")
      .filter(Sampling.bucket(col("user_id"), 2) === 0)
      .as[Long].collect().toSet
    // every variant-0 user converts, no variant-1 user does → χ² = N ≥ 4
    val separated = Experiment.abChisq(
      ev(users.filter(v0).map(u => (u, "purchase")))).first()
    assert(separated.getAs[Boolean]("significant"))
    assert(separated.getAs[Long]("conv_a") == v0.size &&
      separated.getAs[Long]("conv_b") == 0L)
    // everyone converts → zero-variance table → NOT significant
    val degenerate = Experiment.abChisq(
      ev(users.map(u => (u, "purchase")))).first()
    assert(!degenerate.getAs[Boolean]("significant"))
    // nobody converts → the other degenerate margin
    val none = Experiment.abChisq(ev(Seq.empty)).first()
    assert(!none.getAs[Boolean]("significant"))
    // the md5 coin lands EVERY user in one variant (a one-user cohort
    // drawn from variant 0's members): the empty cohort's rate is NULL
    // — never a divide-by-zero — and the verdict stays not-significant
    val u0 = v0.head
    val solo = Experiment.abChisq(
      Seq((u0, "signup"), (u0, "purchase")).toDF("user_id", "event_type"))
      .first()
    assert(solo.getAs[Long]("n_a") == 1L && solo.getAs[Long]("n_b") == 0L)
    assert(solo.getAs[Long]("rate_a_pm") == 1000L)
    assert(solo.isNullAt(solo.fieldIndex("rate_b_pm")))
    assert(!solo.getAs[Boolean]("significant"))
  }

  test("kmeansInt: member accounting, empty-cluster carry-over, layout invariance") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, lit}
    // ids 0 and 1 share a feature vector, so every candidate ties to
    // cid 0 (tiebreak) and cluster 1 starves — its centroid must carry
    val vecs = Seq(
      0L -> Array(0L, 0L), 1L -> Array(0L, 0L),
      2L -> Array(10L, 0L), 3L -> Array(0L, 10L),
      4L -> Array(9L, 1L), 5L -> Array(1L, 9L), 6L -> Array(1L, 1L))
    val df = vecs.toDF("doc_id", "fv")
    val out = graft.ops.Clustering.kmeansInt(df, k = 4, rounds = 3, dim = 2)
      .as[(Int, Int, Int, Long)].collect().toSeq
    // counts per round sum to the corpus size
    for (r <- 1 to 3)
      assert(out.filter(t => t._1 == r && t._3 == -1).map(_._4).sum == vecs.size)
    // the starved cluster keeps its seed centroid in every round
    for (r <- 1 to 3; d <- 0 until 2) {
      assert(out.find(t => t._1 == r && t._2 == 1 && t._3 == -1).get._4 == 0L)
      assert(out.find(t => t._1 == r && t._2 == 1 && t._3 == d).get._4 == 0L)
    }
    val re = graft.ops.Clustering.kmeansInt(df.repartition(5), k = 4, rounds = 3, dim = 2)
      .as[(Int, Int, Int, Long)].collect().toSeq
    assert(re.toSet == out.toSet)
  }

  test("perceptronTrain: hand-checked trajectory on a separable two-doc corpus") {
    import spark.implicits._
    // doc1: "a b c" en  → y=+1, x=(1, 3, 0, 0)
    // doc2: "1 2"   de  → y=−1, x=(1, 2, 0, 500)  (2 digits over 3+1 chars)
    // epoch 1 (w=0, all misclassified): w ← (0, 1, 0, −500), m=2
    // epochs 2–3: both margins positive → no update, m=0
    val docs = Seq(("a b c", "en"), ("1 2", "de")).toDF("text", "lang")
    val got = TextAnalysis.perceptronTrain(docs)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1, 0L, 1L, 0L, -500L, 2L),
      (2, 0L, 1L, 0L, -500L, 0L),
      (3, 0L, 1L, 0L, -500L, 0L)))
    val re = TextAnalysis.perceptronTrain(docs.repartition(4))
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(re == got)
  }

  test("bpeTrain: merges chain through markers, hand-checked on a tiny corpus") {
    import spark.implicits._
    // vocab: "abab" ×3, "abc" ×2, "cab" ×1
    // r1 pairs: ab: 3·2+2+1=9, ba: 3, bc: 2, ca: 1 → merge "ab"→A
    //   vocab: "AA"×3, "Ac"×2, "cA"×1
    // r2 pairs: AA: 3, Ac: 2, cA: 1 → merge "AA"→B
    //   vocab: "B"×3, "Ac"×2, "cA"×1
    // r3 pairs: Ac: 2, cA: 1 → merge "Ac"→C
    val docs = (Seq.fill(3)("abab") ++ Seq.fill(2)("abc") ++ Seq("cab"))
      .toDF("text")
    val got = TextAnalysis.bpeTrain(docs)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1, "ab", 9L), (2, "AA", 3L), (3, "Ac", 2L)))
    // layout invariance of the whole merge chain
    val re = TextAnalysis.bpeTrain(docs.repartition(5))
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    assert(re == got)
  }

  test("bpeEncode: token accounting matches the hand-run merge chain; letterless docs report zeros") {
    import spark.implicits._
    // same corpus as the bpeTrain spec: merges ab→A, AA→B, Ac→C
    // encoded vocab: abab→B (1 tok), abc→C (1 tok), cab→cA (2 toks)
    val docs = ((Seq.fill(3)("abab") ++ Seq.fill(2)("abc") ++ Seq("cab"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) } :+ (9L, "123 !?"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(got(0L) == (1L, 4L, 1L) && got(1L) == (1L, 4L, 1L) && got(2L) == (1L, 4L, 1L))
    assert(got(3L) == (1L, 3L, 1L) && got(4L) == (1L, 3L, 1L))
    assert(got(5L) == (1L, 3L, 2L))
    // no [a-z] pre-tokens → all-zero accounting, row still present
    assert(got(9L) == (0L, 0L, 0L))
    // encoding can only shorten: bpe tokens ≤ letters, and layout-invariant
    assert(got.values.forall { case (_, ch, bpe) => bpe <= ch })
    val re = TextAnalysis.bpeEncode(docs.repartition(5))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(re == got)
  }

  test("dpCounts: ladder is a full partition of the modulus; release is deterministic and non-negative") {
    import spark.implicits._
    import graft.anonymise.Anonymiser
    // the ladder covers [0, 3072) exactly, monotonically
    assert(Anonymiser.dpLadder.last._1 == Anonymiser.DpLadderModulus.toLong)
    assert(Anonymiser.dpLadder.map(_._1) == Anonymiser.dpLadder.map(_._1).sorted)
    assert(Anonymiser.dpLadder.map(_._2) == (-11L to 11L))
    // symmetric weights: w(k) == w(-k)
    val widths = (Seq(0L) ++ Anonymiser.dpLadder.map(_._1))
      .sliding(2).map(p => p(1) - p(0)).toSeq
    assert(widths == widths.reverse)
    val df = (1L to 100L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val rel = Anonymiser.dpCounts(df, col("grp"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(rel.size == 4)
    assert(rel.forall { case (_, n, k, out) =>
      k >= -11L && k <= 11L && out == math.max(n + k, 0L) })
    // deterministic: same data, any layout, same salt → identical release
    val re = Anonymiser.dpCounts(df.repartition(7), col("grp"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(re == rel)
    // a fresh salt is a fresh release (draws differ somewhere)
    val resalt = Anonymiser.dpCounts(df, col("grp"), salt = "dp2:")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(resalt.map(t => t._1 -> t._2) == rel.map(t => t._1 -> t._2))
  }

  test("ngramNovelty: shared grams scored, short docs NULL, duplicates fully non-novel") {
    import spark.implicits._
    // doc 10 and 11 are exact duplicates (novelty 0); doc 12 shares
    // nothing (novelty 1000); doc 13 is too short for a 5-gram
    val docs = Seq(
      (10L, "a b c d e f"), (11L, "a b c d e f"),
      (12L, "p q r s t u v"), (13L, "x y")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(docs)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((2L, 2L, Some(0L))))
    assert(got(11L) == ((2L, 2L, Some(0L))))
    assert(got(12L) == ((3L, 0L, Some(1000L))))
    assert(got(13L) == ((0L, 0L, None)))
    // layout invariance
    val re = TextAnalysis.ngramNovelty(docs.repartition(5))
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(re == got)
  }

  test("driftReport: schema and profile deltas, type changes flagged, all-integer stats") {
    import spark.implicits._
    import graft.analyse.Drift
    val v1 = Seq((1L, "a", 10, Seq(1f)), (2L, "b", 20, Seq(2f)),
        (3L, null.asInstanceOf[String], 20, Seq(2f)))
      .toDF("id", "name", "score", "emb")
    // v2: 'name' dropped, 'tag' added, 'score' RETYPED to long, 'emb'
    // RETYPED to array<double>, a row lost
    val v2 = Seq((1L, 10L, "x", Seq(1.0)), (2L, 25L, "y", Seq(2.0)))
      .toDF("id", "score", "tag", "emb")
    val got = Drift.driftReport(v1, v2)
      .as[(String, String, Option[Long], Option[Long], Option[String], Option[String], Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got(("*", "row_count"))._7 && got(("*", "row_count"))._3.contains(3L))
    assert(got(("name", "presence")) == (("name", "presence", Some(1L), Some(0L), None, None, true)))
    assert(got(("tag", "presence")) == (("tag", "presence", Some(0L), Some(1L), None, None, true)))
    // shared-but-retyped column: type row drifts, stats still compared
    assert(got(("score", "type"))._5.contains("INTEGER"))
    assert(got(("score", "type"))._6.contains("BIGINT"))
    assert(got(("score", "type"))._7)
    // both arrays dump as TEXT, yet the Spark types differ: still drifts
    assert(got(("emb", "type")) == (("emb", "type", None, None, Some("TEXT"), Some("TEXT"), true)))
    assert(got(("score", "distinct_count")) ==
      (("score", "distinct_count", Some(2L), Some(2L), None, None, false)))
    assert(got(("name", "presence"))._7)
    // dropped/added columns get NO stats rows (nothing to compare)
    assert(!got.contains(("name", "null_count")) && !got.contains(("tag", "null_count")))
    assert(got(("id", "null_count")) == (("id", "null_count", Some(0L), Some(0L), None, None, false)))
  }

  test("mmrTopK: redundancy is penalised — a near-duplicate hit is displaced by a diverse one") {
    import spark.implicits._
    import graft.ops.Similarity
    // query 0 along x; 1 and 2 are near-identical x-ish hits, 3 is a
    // diagonal (diverse, still relevant). Pure top-2 = {1, 2}; MMR
    // top-2 must keep 1 and swap the clone 2 for the diverse 3.
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f),
      1L -> Array(0.99f, 0.1f, 0f),
      2L -> Array(0.98f, 0.11f, 0f),
      3L -> Array(0.7f, 0f, 0.7f)
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(vecs, vecs.filter(col("vec_id") === 0),
        shortlist = 3, k = 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((0L, 1, 1L), (0L, 2, 3L)))
    // brute top-2 would have taken the clone — the penalty did the work
    val brute = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0), k = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(brute == Set(1L, 2L))
    // layout invariance
    val re = Similarity.mmrTopK(vecs.repartition(5),
        vecs.filter(col("vec_id") === 0), shortlist = 3, k = 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(re == got)
  }

  test("windowedStageCounts: deadline DP completes the chain greedy earliest misses") {
    import spark.implicits._
    import graft.ops.Funnel
    def ev(u: Long, tp: String, day: Int): (Long, String, java.sql.Timestamp) =
      (u, tp, java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 00:00:00"))
    // user 1: view@1, click@2, click@6, purchase@10, gap 7d — the
    // greedy chain (view@1 -> click@2) leaves purchase@10 8d away and
    // FAILS; the click@6 chain succeeds. Existence semantics must
    // count user 1 through all three stages.
    // user 2: view@1, click@20 — click outside the 7d window.
    // user 3: purchase@1 only — no stage-0 anchor, excluded entirely.
    val df = Seq(
      ev(1, "view", 1), ev(1, "click", 2), ev(1, "click", 6), ev(1, "purchase", 10),
      ev(2, "view", 1), ev(2, "click", 20),
      ev(3, "purchase", 1)
    ).toDF("user_id", "event_type", "ts")
    val got = Funnel.windowedStageCounts(df, "user_id", "event_type", "ts",
      stages = Seq("view", "click", "purchase"), maxGapSec = 7L * 86400,
      names = Seq("n_view", "n_click", "n_purchase")).collect().head
    assert(got.getLong(0) == 2L, "users 1 and 2 have views")
    assert(got.getLong(1) == 1L, "only user 1 clicks inside the window")
    assert(got.getLong(2) == 1L, "the non-greedy chain must complete")
    // same-timestamp predecessor must not shadow an earlier valid one:
    // view@1, view@3, click@3 — click at ts 3 needs a view < 3; l1 = 3
    // (same ts) must fall back to the 2-slot's l2 = 1
    val tie = Seq(ev(4, "view", 1), ev(4, "view", 3), ev(4, "click", 3))
      .toDF("user_id", "event_type", "ts")
    val got2 = Funnel.windowedStageCounts(tie, "user_id", "event_type", "ts",
      stages = Seq("view", "click"), maxGapSec = 7L * 86400,
      names = Seq("n_view", "n_click")).collect().head
    assert(got2.getLong(0) == 1L && got2.getLong(1) == 1L)
    // layout invariance
    val re = Funnel.windowedStageCounts(df.repartition(5), "user_id",
      "event_type", "ts", Seq("view", "click", "purchase"), 7L * 86400,
      Seq("n_view", "n_click", "n_purchase")).collect().head
    assert(re.toSeq == got.toSeq)
  }

  test("chunks: windows tile with overlap, tail is short, fingerprints keyed on content") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text10), (2L, "solo"), (3L, "  "), (4L, text10))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunks(df, size = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val d1 = got.filter(_._1 == 1L)
    // starts 0,3,6,9; sizes 4,4,4,1
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L)))
    // whitespace-only doc yields no chunks; single-token doc yields one
    assert(got.count(_._1 == 3L) == 0)
    assert(got.filter(_._1 == 2L).map(c => (c._2, c._4)).toSeq == Seq((0L, 1L)))
    // identical text => identical fingerprints per window (content-keyed)
    val d4 = got.filter(_._1 == 4L)
    assert(d1.map(_._5).toSeq == d4.map(_._5).toSeq)
    // overlapping windows with different content differ
    assert(d1.map(_._5).distinct.length == d1.length)
  }

  test("watermarkAudit: green counts follow the md5 coin; planted green-only doc flags") {
    import spark.implicits._
    import graft.ops.{Sampling, TextAnalysis}
    // find concrete green tokens with the op's own coin so the planted
    // doc is deterministic
    val words = (1 to 200).map(i => s"tok$i")
    val coin = Seq.tabulate(200)(i => words(i)).toDF("w")
      .select(col("w"), Sampling.bucket(col("w"), 2).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val greens = words.filter(coin(_) == 0L).take(30)
    val mixed = words.take(30)
    val df = Seq(
      (1L, greens.mkString(" ")),       // all green -> must flag
      (2L, mixed.mkString(" ")),        // coin mix  -> count must match the coin
      (3L, "")                          // empty -> honest nulls, no flag
    ).toDF("doc_id", "text")
    val got = TextAnalysis.watermarkAudit(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_green") == 30L && got(1L).getAs[Boolean]("flagged"))
    val expect2 = mixed.count(coin(_) == 0L).toLong
    assert(got(2L).getAs[Long]("n_green") == expect2)
    assert(got(3L).getAs[Long]("n_tokens") == 0L && !got(3L).getAs[Boolean]("flagged"))
    assert(got(3L).isNullAt(got(3L).fieldIndex("green_pm")))
  }

  test("srmCheck: balanced coin passes, planted imbalance flags") {
    import spark.implicits._
    import graft.ops.{Experiment, Sampling}
    val users = (1L to 400L).toDF("user_id")
    val ok = Experiment.srmCheck(users).collect().head
    assert(ok.getAs[Long]("n_a") + ok.getAs[Long]("n_b") == 400L)
    assert(!ok.getAs[Boolean]("mismatch_05"), "the md5 coin must look fair")
    // keep only variant-0 users: maximal imbalance must flag
    val skewed = users.filter(Sampling.bucket(col("user_id"), 2) === 0)
    val bad = Experiment.srmCheck(skewed).collect().head
    assert(bad.getAs[Long]("n_b") == 0L && bad.getAs[Boolean]("mismatch_05"))
  }

  test("bootstrapCiMean: CI brackets the mean, deterministic across layouts") {
    import spark.implicits._
    import graft.ops.Experiment
    val df = (1L to 300L).map(k => (k, 100L + (k % 50))).toDF("k", "x")
    val got = Experiment.bootstrapCiMean(df, "k", "x").collect().head
    val (n, mean, nrep, lo, hi) = (got.getLong(0), got.getLong(1),
      got.getLong(2), got.getLong(3), got.getLong(4))
    assert(n == 300L && nrep == 40L)
    assert(lo <= mean && mean <= hi, s"CI [$lo,$hi] must bracket $mean")
    assert(hi - lo < 20L, "resampling a tight distribution gives a tight CI")
    val re = Experiment.bootstrapCiMean(df.repartition(7), "k", "x").collect().head
    assert(re.toSeq == got.toSeq)
  }

  test("knnGraph: every node gets neighbours; sampled recall beats the floor; no self-edges") {
    import graft.ops.Similarity
    val g = Similarity.knnGraph(emb, k = 10, bits = 3, tables = 3)
    assert(g.filter(col("src") === col("dst")).count() == 0)
    val nodes = emb.select("vec_id").distinct().count()
    val covered = g.select("src").distinct().count()
    assert(covered >= nodes * 9 / 10, s"only $covered/$nodes nodes got neighbours")
    // raw recall@10 on the sampled nodes vs exact
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 10)
    val hits = g.select(col("src").as("query_id"), col("dst").as("neighbor_id"))
      .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .count()
    assert(hits >= 20, s"recall@10 over 10 queries too low: $hits/100 hits")
    graft.ops.OpCaches.releaseAll()
  }

  test("splitConformal: hand-computed q-hat rank; coverage counts; degenerate rank -> infinite q-hat") {
    import spark.implicits._
    import graft.ops.Experiment
    // calibration values 0,10,...,90 in one group: pred = 45 (450 DIV 10),
    // scores sorted 5,5,15,15,25,25,35,35,45,45; k = ceil(11*0.9) = 10
    // -> q-hat = 45. Test points: 45 (s=0, covered), 100 (s=55, not).
    val rows = (0 until 10).map(i => ("g", i * 10L, true)) ++
      Seq(("g", 45L, false), ("g", 100L, false))
    val df = rows.toDF("g", "v", "cal")
    val got = Experiment.splitConformal(df, "g", col("v"), col("cal")).collect().head
    assert(got.getAs[Long]("n_cal") == 10L)
    assert(got.getAs[Long]("qhat_cents") == 45L)
    assert(got.getAs[Long]("n_test") == 2L && got.getAs[Long]("n_covered") == 1L)
    assert(got.getAs[Long]("covered_pm") == 500L)
    // one calibration point: k = ceil(2*0.9) = 2 > n_cal -> q-hat NULL
    // = infinite -> everything covered (the honest conformal degenerate)
    val tiny = Seq(("g", 10L, true), ("g", 999L, false)).toDF("g", "v", "cal")
    val t = Experiment.splitConformal(tiny, "g", col("v"), col("cal")).collect().head
    assert(t.isNullAt(t.fieldIndex("qhat_cents")))
    assert(t.getAs[Long]("n_covered") == 1L)
    graft.ops.OpCaches.releaseAll()
  }

  test("diffInDiff: planted parallel-trends violation recovered exactly") {
    import spark.implicits._
    import graft.ops.{Experiment, Sampling}
    // find one control (bucket 0) and one treat (bucket 1) user id with
    // the op's own coin, so the fixture is deterministic
    val coin = (1L to 50L).toDF("u")
      .select(col("u"), Sampling.bucket(col("u"), 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cu = coin.collectFirst { case (u, 0L) => u }.get
    val tu = coin.collectFirst { case (u, 1L) => u }.get
    def ev(u: Long, day: Int, v: Long) =
      (u, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), v)
    // control: 10 -> 20 (+10); treat: 10 -> 35 (+25) => DiD = 15
    val df = Seq(ev(cu, 5, 10L), ev(cu, 20, 20L),
      ev(tu, 5, 10L), ev(tu, 20, 35L)).toDF("user_id", "ts", "v")
    val got = Experiment.diffInDiff(df, "user_id", "ts", col("v"),
      "2024-01-16 00:00:00").collect().head
    assert(got.getAs[Long]("m_c_pre") == 10L && got.getAs[Long]("m_c_post") == 20L)
    assert(got.getAs[Long]("m_t_pre") == 10L && got.getAs[Long]("m_t_post") == 35L)
    assert(got.getAs[Long]("did_cents") == 15L)
    // empty-cell honesty: control-only data leaves treat means (and the
    // estimate) NULL, never a division error
    val onlyC = Seq(ev(cu, 5, 10L), ev(cu, 20, 20L)).toDF("user_id", "ts", "v")
    val g2 = Experiment.diffInDiff(onlyC, "user_id", "ts", col("v"),
      "2024-01-16 00:00:00").collect().head
    assert(g2.isNullAt(g2.fieldIndex("m_t_pre")) && g2.isNullAt(g2.fieldIndex("did_cents")))
  }

  test("qRfm: scores span 1..5, census sums to the customer count, monetary conserved") {
    val per = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy("o_custkey").count()
    val nCust = per.count()
    val got = GraftQueries.qRfm(spark, sfDir)
    val rows = got.collect()
    rows.foreach { r =>
      (0 to 2).foreach { i =>
        assert(r.getLong(i) >= 1L && r.getLong(i) <= 5L, s"score out of range: $r")
      }
    }
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust)
    graft.ops.OpCaches.releaseAll()
  }

  test("clusteringCoefficient: hand-computed coefficients on a crafted graph") {
    import spark.implicits._
    import graft.ops.Graph
    // triangle {1,2,3}, plus 4 adjacent to 1 and 2 (closing a second
    // triangle 1-2-4), plus a pendant pair 5-6. Degrees 1:3 2:3 3:2
    // 4:2 5:1 6:1; triangles per node 1:2 2:2 3:1 4:1.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L), (2L, 4L),
      (5L, 6L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got(1L) == ((3L, 2L, Some(666L))))
    assert(got(2L) == ((3L, 2L, Some(666L))))
    assert(got(3L) == ((2L, 1L, Some(1000L))))
    assert(got(4L) == ((2L, 1L, Some(1000L))))
    assert(got(5L) == ((1L, 0L, None)) && got(6L) == ((1L, 0L, None)))
    // walk == distributed, row-for-row and schema-for-schema
    val dist = Graph.clusteringCoefficient(edges, driverWalkMaxEdges = 0L)
    assert(dist.collect().sortBy(_.getLong(0)).toSeq ==
      Graph.clusteringCoefficient(edges).collect().sortBy(_.getLong(0)).toSeq)
    assert(dist.schema == Graph.clusteringCoefficient(edges).schema)
    graft.ops.OpCaches.releaseAll()
  }

  test("formatPreserving: class-exact masking, consistent, position-sensitive") {
    import spark.implicits._
    import graft.anonymise.Anonymiser
    val in = Seq("Customer#000000001", "Customer#000000001", "abc-XYZ 42!", "")
      .toDF("s")
    val out = in.select(col("s"), Anonymiser.formatPreserving(col("s")).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    // same original -> same pseudonym (the o11 consistency contract)
    assert(out(0)._2 == out(1)._2)
    out.foreach { case (s, p) =>
      assert(p.length == s.length, s"length drift: '$s' -> '$p'")
      s.zip(p).foreach { case (a, b) =>
        if (a.isDigit) assert(b.isDigit, s"digit class broken: $a -> $b in '$s'")
        else if (a.isUpper) assert(b.isUpper, s"upper class broken: $a -> $b")
        else if (a.isLower) assert(b.isLower, s"lower class broken: $a -> $b")
        else assert(a == b, s"punctuation not preserved: $a -> $b")
      }
    }
    // the mask must actually mask (some character changes)
    assert(out(0)._1 != out(0)._2)
    // repeated identical source chars at different positions should
    // usually map differently (position is in the hash) — check the
    // run of zeros is not mapped to one repeated digit
    val zeros = out(0)._1.zip(out(0)._2).filter(_._1 == '0').map(_._2)
    assert(zeros.distinct.length > 1, s"positional shift missing: $zeros")
  }

  test("powerMde: hand-computed MDE on crafted cohorts; underpowered verdict") {
    import spark.implicits._
    import graft.ops.{Experiment, Sampling}
    val coin = (1L to 60L).toDF("u")
      .select(col("u"), Sampling.bucket(col("u"), 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val as = coin.collect { case (u, 0L) => u }.toSeq.sorted.take(2)
    val bs = coin.collect { case (u, 1L) => u }.toSeq.sorted.take(2)
    def ev(u: Long, tp: String) =
      (u, tp, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))
    // 2 control users (one converts), 2 treat users (none convert)
    val df = (as.map(ev(_, "view")) ++ bs.map(ev(_, "view")) ++
      Seq(ev(as.head, "purchase"))).toDF("user_id", "event_type", "ts")
    val got = Experiment.powerMde(df).collect().head
    assert(got.getAs[Long]("n_a") == 2L && got.getAs[Long]("conv_a") == 1L)
    assert(got.getAs[Long]("n_b") == 2L && got.getAs[Long]("conv_b") == 0L)
    assert(got.getAs[Long]("p_pool_pm") == 250L)
    // (784896256 * 250 * 750 * 4) DIV (1e8 * 4) = 1471680
    assert(got.getAs[Long]("mde_pm2") == 1471680L)
    assert(got.getAs[Long]("obs_diff_pm") == 500L)
    assert(!got.getAs[Boolean]("powered_detect"), "n = 4 must be underpowered")
  }

  test("abnChisq: per-variant decomposition sums to the verdict; planted deviant arm flags") {
    import spark.implicits._
    import graft.ops.{Experiment, Sampling}
    // bucket 200 users with the op's own coin, then make EVERY user of
    // variant 3 convert and nobody else: maximal homogeneity violation
    val coin = (1L to 200L).toDF("u")
      .select(col("u"), Sampling.bucket(col("u"), 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ev(u: Long, tp: String) =
      (u, tp, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))
    val base = (1L to 200L).map(ev(_, "view"))
    val conv = coin.collect { case (u, 3L) => u }.map(ev(_, "purchase"))
    val df = (base ++ conv).toDF("user_id", "event_type", "ts")
    val rows = Experiment.abnChisq(df).collect()
    assert(rows.length == 4)
    val byVar = rows.map(r => r.getAs[Long]("variant") -> r).toMap
    // the deviant arm converts fully, the others never
    assert(byVar(3L).getAs[Long]("rate_pm") == 1000L)
    (0L to 2L).foreach(v => assert(byVar(v).getAs[Long]("rate_pm") == 0L))
    // every row carries the same total and the verdict must fire
    assert(rows.map(_.getAs[Long]("chi2_total_ppm")).distinct.length == 1)
    assert(rows.forall(_.getAs[Boolean]("significant")))
    // decomposition: total = sum of per-variant contributions
    assert(rows.map(_.getAs[Long]("chi2_ppm")).sum ==
      rows.head.getAs[Long]("chi2_total_ppm"))
    // a perfectly homogeneous split (nobody converts) is degenerate:
    // every contribution 0, honest non-verdict
    val none = base.toDF("user_id", "event_type", "ts")
    val quiet = Experiment.abnChisq(none).collect()
    assert(quiet.forall(r => r.getAs[Long]("chi2_ppm") == 0L &&
      !r.getAs[Boolean]("significant")))
    graft.ops.OpCaches.releaseAll()
  }

  test("cohortLtv: hand-computed triangle on two cohorts") {
    import spark.implicits._
    import graft.ops.Funnel
    def ev(u: Long, day: Int, cents: Long) =
      (u, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), cents)
    // weeks (Mon-aligned): Jan 1 2024 IS a Monday. Cohort A = users 1,2
    // first seen week of Jan 1; user 1 returns week of Jan 8.
    // Cohort B = user 3, week of Jan 8 only.
    val df = Seq(
      ev(1, 2, 100L), ev(1, 3, 50L),  // cohort A offset 0: 150
      ev(2, 4, 200L),                 // cohort A offset 0: +200 = 350
      ev(1, 9, 80L),                  // cohort A offset 1: 80
      ev(3, 10, 500L)                 // cohort B offset 0: 500
    ).toDF("user_id", "ts", "v")
    val got = Funnel.cohortLtv(df, valueCents = col("v"))
      .select(col("cohort_week").cast("date").cast("string"),
        col("week_offset"), col("rev_cents"), col("cum_rev_cents"),
        col("n_users_cohort"), col("ltv_cents"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 0L, 350L, 350L, 2L, 175L),
      ("2024-01-01", 1L, 80L, 430L, 2L, 215L),
      ("2024-01-08", 0L, 500L, 500L, 1L, 500L)))
  }

  test("seasonalNaiveBacktest: hand-computed MAE/WAPE on a planted fortnight") {
    import spark.implicits._
    import graft.ops.TimeSeries
    // day d (1..14) gets `counts(d-1)` events; week 2 = week 1 + noise
    val counts = Seq(10, 12, 8, 11, 9, 13, 10,  // week 1
                     12, 12, 7, 14, 9, 10, 10)  // week 2
    val events = counts.zipWithIndex.flatMap { case (c, d) =>
      (0 until c).map(i =>
        (d.toLong * 1000 + i, java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d 09:00:00")))
    }.toDF("event_id", "ts")
    val got = TimeSeries.seasonalNaiveBacktest(events, "ts").collect().head
    // scored days: 8..14, errors |12-10|,|12-12|,|7-8|,|14-11|,|9-9|,|10-13|,|10-10| = 2,0,1,3,0,3,0 = 9
    val actual = counts.drop(7).sum.toLong
    assert(got.getAs[Long]("n_days_scored") == 7L)
    assert(got.getAs[Long]("total_actual") == actual)
    assert(got.getAs[Long]("total_abs_err") == 9L)
    assert(got.getAs[Long]("mae") == 9L / 7L)
    assert(got.getAs[Long]("wape_pm") == 9L * 1000L / actual)
    graft.ops.OpCaches.releaseAll()
  }

  test("minimisationAudit: all-null, constant, and saturated columns flag; healthy ones don't") {
    import spark.implicits._
    import graft.analyse.Profiler
    val n = 200
    val df = (1 to n).map { i =>
      (i.toLong,
        null.asInstanceOf[String],              // legacy_field: all null
        "ACME",                                 // tenant: single value
        if (i <= 198) "US" else s"X$i",         // country: 99% modal
        s"user$i")                              // name: healthy
    }.toDF("id", "legacy_field", "tenant", "country", "name")
    val got = Profiler.minimisationAudit(df, "t", Seq(
        "legacy_field" -> col("legacy_field"), "tenant" -> col("tenant"),
        "country" -> col("country"), "name" -> col("name")))
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(got("legacy_field").getAs[Long]("n_nulls") == n.toLong &&
      got("legacy_field").getAs[Boolean]("drop_candidate"))
    assert(got("tenant").getAs[Long]("n_distinct") == 1L &&
      got("tenant").getAs[Boolean]("drop_candidate"))
    assert(got("country").getAs[Long]("top_share_pm") == 990L &&
      got("country").getAs[Boolean]("drop_candidate"))
    assert(got("name").getAs[Long]("n_distinct") == n.toLong &&
      !got("name").getAs[Boolean]("drop_candidate"))
  }

  test("p6 RAG pipeline: chunk-level dedup collapses a shared block; retrieval finds it once") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // two docs embed the IDENTICAL aligned 32-token block; chunk dedup
    // must keep exactly one copy of that block's fingerprint
    val block = (1 to 32).map(i => s"shared$i").mkString(" ")
    val padA = (1 to 32).map(i => s"a$i").mkString(" ")
    val padB = (1 to 32).map(i => s"b$i").mkString(" ")
    val docs = Seq((10L, s"$padA $block"), (20L, s"$padB $block"))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunks(docs, size = 32, stride = 32)
    val canon = chunks.groupBy("chunk_fp")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.chunk_idx").as("chunk_idx"))
    assert(chunks.count() == 4, "2 docs x 2 aligned windows")
    assert(canon.count() == 3, "the shared block must collapse to one chunk")
    // the survivor is the min (doc_id, chunk_idx) copy: (10, 1)
    val surv = canon.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(surv == Set((10L, 0L), (10L, 1L), (20L, 0L)))
  }

  test("corpus report: fields cross-check against independent aggregates") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = GraftQueries.qCorpusReport(spark, sfDir).collect().head
    assert(got.getAs[Long]("n_docs") == docs.count())
    assert(got.getAs[Long]("n_langs") ==
      docs.select("lang").distinct().count())
    val topLang = docs.groupBy("lang").count()
      .orderBy(col("count").desc, col("lang").desc).first().getString(0)
    assert(got.getAs[String]("top_lang") == topLang)
    assert(got.getAs[Long]("dup_rate_pm") >= 0L &&
      got.getAs[Long]("dup_rate_pm") <= 1000L)
    assert(got.getAs[Long]("mean_doc_tokens") > 0L)
    graft.ops.OpCaches.releaseAll()
  }

  test("mmrTopK: zero-norm candidates (NaN cosine) never crash the greedy loop") {
    import spark.implicits._
    import graft.ops.Similarity
    // after the first pick, every remaining candidate is zero-norm →
    // its diversity cosine is NaN, NaN > -Inf is false, and the greedy
    // argmax finds NO best index; the op must emit the picks it has
    // (here exactly 1) instead of indexing cand(-1)
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f),
      1L -> Array(0.9f, 0.1f, 0f),
      2L -> Array(0f, 0f, 0f),
      3L -> Array(0f, 0f, 0f)
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(vecs, vecs.filter(col("vec_id") === 0),
        shortlist = 3, k = 3)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((0L, 1, 1L)),
      s"expected a single surviving pick, got $got")
  }

  test("kHop: min-hop BFS respects direction, cycles, and the hop cap") {
    import spark.implicits._
    import graft.ops.Graph
    // 1→2→3→4→5 chain, 3→1 back-cycle, 6→1 (wrong direction from the
    // seed), 7 isolated; seed {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 1L),
      (6L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.kHop(edges, seeds, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(branchOf("kHop") == DriverBudget.Driver)
    // 5 is 4 hops out → absent at cap 3; the cycle never downgrades 1;
    // 6 and 7 unreachable along direction
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // multi-seed: hop is the MINIMUM over seeds
    val got2 = Graph.kHop(edges, Seq(1L, 4L).toDF("node"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(got2 == Map(1L -> 0, 4L -> 0, 2L -> 1, 5L -> 1, 3L -> 2))
    // layout invariance
    val re = Graph.kHop(edges.repartition(5), seeds, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(re == got)
    // the distributed walk (driver chooser disabled) is identical,
    // including output node typing
    val dist = Graph.kHop(edges, seeds, maxHops = 3, driverWalkMaxEdges = 0L)
    assert(DriverBudget.last("kHop").get ==
      DriverBudget.Decision("kHop", None, 0L, DriverBudget.Distributed))
    assert(dist.schema("node").dataType ==
      Graph.kHop(edges, seeds, maxHops = 3).schema("node").dataType)
    assert(dist.as[(Long, Int)].collect().toMap == got)
    val dist2 = Graph.kHop(edges, Seq(1L, 4L).toDF("node"), maxHops = 3,
      driverWalkMaxEdges = 0L).as[(Long, Int)].collect().toMap
    assert(dist2 == got2)
  }

  test("linkage: multi-pass blocking, threshold, and deterministic tie-break") {
    import spark.implicits._
    import graft.ops.Linkage
    // dirty records: 1 has a corrupted name-block key (phone pass must
    // find it), 2 a corrupted phone-block key (name pass must find it),
    // 3 matches nothing above threshold, 4 ties two references exactly
    val dirty = Seq(
      (1L, "Xmith", "111-222", "zz"),
      (2L, "jones", "999-000", "jo"),
      (3L, "blake", "333-444", "zz"),
      (4L, "ada", "555-666", "ad")
    ).toDF("d_id", "d_name", "d_phone", "d_blk")
      .withColumn("d_blk_name", substring(col("d_name"), 1, 2))
      .withColumn("d_blk_phone", substring(col("d_phone"), 1, 3))
    val clean = Seq(
      (10L, "smith", "111-222"),
      (20L, "jones", "777-888"),
      (30L, "quorn", "333-999"),
      (40L, "ada", "555-666"),
      (41L, "ada", "555-666")
    ).toDF("c_id", "c_name", "c_phone")
      .withColumn("c_blk_name", substring(col("c_name"), 1, 2))
      .withColumn("c_blk_phone", substring(col("c_phone"), 1, 3))
    val cand = Linkage.blockedCandidates(dirty, clean,
      Seq("d_blk_phone" -> "c_blk_phone", "d_blk_name" -> "c_blk_name"))
    val scored = cand.withColumn("score",
      Linkage.editWeight(col("d_name"), col("c_name"), 30L, 10L) +
        when(col("d_phone") === col("c_phone"), lit(20L)).otherwise(lit(0L)))
    val set = Linkage.bestMatches(scored, "d_id", "c_id", "score", 30L)
      .as[(Long, Long, Long)].collect().toSet
    // 1: name lev 1 (Xmith→smith) 20 + phone 20 = 40, via the PHONE
    //    pass only (its name-block key 'Xm' is corrupted)
    // 2: name exact 30 + phone mismatch 0 = 30, via the NAME pass
    // 3: best candidate quorn (blake↛; phone block '333' hits quorn):
    //    lev(blake,quorn) = 4 → 0 + no phone = 0 < 30 → absent
    // 4: ties 40 and 41 at 50 → min id 40 wins
    assert(set == Set((1L, 10L, 40L), (2L, 20L, 30L), (4L, 40L, 50L)))
    // editWeight floors at zero, never negative
    val w = spark.range(1).select(Linkage.editWeight(
      lit("abcdef"), lit("zzzzzz"), 10L, 5L).as("w")).as[Long].head()
    assert(w == 0L)
  }

  test("linkage: frequency-capped blocking skips exactly the over-budget keys per pass") {
    import spark.implicits._
    import graft.ops.Linkage
    // block key "hot" holds 3×3 = 9 candidate pairs, "cold" 1×1;
    // with maxPairs = 4 the hot key must be skipped in the capped
    // pass while the uncapped form keeps both
    val dirty = Seq((1L, "hot"), (2L, "hot"), (3L, "hot"), (4L, "cold"))
      .toDF("d_id", "d_blk")
    val clean = Seq((10L, "hot"), (11L, "hot"), (12L, "hot"), (13L, "cold"))
      .toDF("c_id", "c_blk")
    val uncapped = Linkage.blockedCandidates(dirty, clean, Seq("d_blk" -> "c_blk"))
      .select("d_id", "c_id").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 10)
    val capped = Linkage.cappedBlockedCandidates(dirty, clean,
        Seq("d_blk" -> "c_blk"), maxPairs = 4L)
      .select("d_id", "c_id").as[(Long, Long)].collect().toSet
    assert(capped == Set((4L, 13L)), s"expected only the cold block, got $capped")
    // a budget admitting the hot key reproduces the uncapped relation
    val roomy = Linkage.cappedBlockedCandidates(dirty, clean,
        Seq("d_blk" -> "c_blk"), maxPairs = 9L)
      .select("d_id", "c_id").as[(Long, Long)].collect().toSet
    assert(roomy == uncapped)
  }

  test("blocking quality: union recovers every true match, each pass its half, blocking prunes the cross product") {
    import spark.implicits._
    val rows = GraftQueries.er3BlockingQuality(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    graft.ops.OpCaches.releaseAll()
    assert(rows.keySet == Set("phone", "name", "union"))
    val (_, unionCand, unionFound, unionRecall, _) = rows("union")
    // every record has exactly ONE corrupted field, so the other
    // pass's block key is intact: the union must find all matches
    assert(unionRecall == 1000L)
    // each single pass catches its uncorrupted half (plus whatever of
    // the corrupted half the typo left untouched) — strictly partial
    Seq("phone", "name").foreach { p =>
      val (_, cand, found, recall, reduction) = rows(p)
      assert(found <= cand && recall >= 400L && recall <= 1000L)
      // blocking must prune the cross product by at least 10×
      assert(reduction >= 900L, s"$p pass reduction $reduction")
    }
    // union candidates: bounded by the passes' sum, at least the found
    assert(unionCand <= rows("phone")._2 + rows("name")._2)
    assert(unionFound <= unionCand)
  }

  test("last-touch attribution matches a driver replay of per-user sequences") {
    import spark.implicits._
    val ev = graft.sources.ParquetSource.normalizeNanoTimestamps(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, Long, Long, String, Long)].collect()
    val brute = scala.collection.mutable.Map.empty[String, (Long, Long)]
    ev.groupBy(_._1).foreach { case (_, rows) =>
      var lastTouch: String = null
      rows.sortBy(r => (r._3, r._2)).foreach { case (_, _, _, typ, cents) =>
        if (typ == "purchase") {
          val k = Option(lastTouch).getOrElse("none")
          val (n, v) = brute.getOrElse(k, (0L, 0L))
          brute(k) = (n + 1, v + cents)
        }
        if (typ == "view" || typ == "click") lastTouch = typ
      }
    }
    val got = GraftQueries.qAttribution(spark, sfDir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == brute.toMap)
  }

  test("lag features match a driver replay; slice filter stays below the window exchange") {
    import spark.implicits._
    val ev = graft.sources.ParquetSource.normalizeNanoTimestamps(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .filter(col("user_id") % 20 === 0)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, Long, Long, Long)].collect()
    val brute = ev.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      val s = rows.sortBy(r => (r._3, r._2))
      s.zipWithIndex.map { case ((u, id, us, c), i) =>
        val lag1 = if (i >= 1) Some(s(i - 1)._4) else None
        val lag2 = if (i >= 2) Some(s(i - 2)._4) else None
        val roll3 = s.slice(math.max(0, i - 2), i + 1).map(_._4).sum
        val gap = if (i >= 1) Some(Math.floorDiv(us - s(i - 1)._3, 1000000L))
                  else None
        (u, id) -> ((c, lag1, lag2, roll3, gap))
      }
    }.toMap
    val df = GraftQueries.qLagFeatures(spark, sfDir)
    val got = df
      .as[(Long, Long, Long, Option[Long], Option[Long], Long, Option[Long])]
      .collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got == brute)
    // the slice filter must sit BELOW the user-keyed Exchange: the
    // window never shuffles rows the slice drops
    val plan = df.queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def hasFilterAbove(p: org.apache.spark.sql.execution.SparkPlan,
                       seenExchange: Boolean): Boolean = p match {
      case a: AdaptiveSparkPlanExec => hasFilterAbove(a.executedPlan, seenExchange)
      case qs: QueryStageExec => hasFilterAbove(qs.plan, seenExchange)
      case _: FilterExec if !seenExchange => true
      case e: ShuffleExchangeExec =>
        e.children.exists(hasFilterAbove(_, seenExchange = true))
      case other => other.children.exists(hasFilterAbove(_, seenExchange))
    }
    assert(!hasFilterAbove(plan, seenExchange = false),
      "slice filter evaluated above the window exchange")
  }

  test("exact KS statistic and verdict match a driver ECDF brute force") {
    import spark.implicits._
    val ev = graft.sources.ParquetSource.normalizeNanoTimestamps(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .as[(String, Long)].collect()
    val a = ev.filter(_._1 == "purchase").map(_._2).sorted
    val b = ev.filter(_._1 == "click").map(_._2).sorted
    val pooled = (a ++ b).distinct.sorted
    val k = pooled.map { v =>
      val fa = a.count(_ <= v).toLong
      val fb = b.count(_ <= v).toLong
      math.abs(fa * b.length - fb * a.length)
    }.max
    val got = GraftQueries.qKsTest(spark, sfDir)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    graft.ops.OpCaches.releaseAll()
    assert(got.length == 1)
    val (na, nb, num, den, rej) = got.head
    assert((na, nb) == ((a.length.toLong, b.length.toLong)))
    assert(num == k && den == na * nb)
    val lhs = BigInt(1000000) * BigInt(k) * BigInt(k)
    val rhs = BigInt(1844164) * BigInt(na + nb) * BigInt(na) * BigInt(nb)
    assert(rej == (lhs > rhs && den > 0))
  }

  test("exact Gini matches a driver sorted-rank brute force") {
    import spark.implicits._
    val spend = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("x"))
      .as[(Long, Long)].collect()
      .sortBy(r => (r._2, r._1)).map(_._2)
    val n = BigInt(spend.length)
    val s1 = spend.map(BigInt(_)).sum
    val s2 = spend.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val (num, den) = (2 * s2 - (n + 1) * s1, n * s1)
    val got = GraftQueries.qGini(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    graft.ops.OpCaches.releaseAll()
    assert(got.length == 1)
    val (gn, gs1, gnum, gden, gpm) = got.head
    assert(BigInt(gn) == n && BigInt(gs1) == s1)
    assert(BigInt(gnum) == num && BigInt(gden) == den)
    assert(BigInt(gpm) == num * 1000 / den)
    assert(num >= 0 && num <= den) // 0 ≤ G ≤ 1
  }

  test("exact Spearman matches a driver midrank brute force") {
    import spark.implicits._
    val per = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("spend"),
        count(lit(1)).as("n_orders"))
      .as[(Long, Long, Long)].collect().map(r => (r._2, r._3))
    def doubled(vs: Array[Long]): Map[Long, Long] = {
      val byV = vs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val sortedV = byV.keys.toArray.sorted
      var f = 0L
      sortedV.map { v =>
        f += byV(v); v -> (2 * f - byV(v) + 1)
      }.toMap
    }
    val rx = doubled(per.map(_._1)); val ry = doubled(per.map(_._2))
    val n = BigInt(per.length)
    val sxy = per.map(p => BigInt(rx(p._1)) * ry(p._2)).sum
    val sxx = per.map(p => BigInt(rx(p._1)).pow(2)).sum
    val syy = per.map(p => BigInt(ry(p._2)).pow(2)).sum
    val (num, dx, dy) = (sxy - n * (n + 1) * (n + 1),
      sxx - n * (n + 1) * (n + 1), syy - n * (n + 1) * (n + 1))
    val got = GraftQueries.qSpearman(spark, sfDir)
      .as[(Long, Long, Long, Long, Option[Long], Boolean, Boolean)].collect()
    graft.ops.OpCaches.releaseAll()
    assert(got.length == 1)
    val (gn, gnum, gdx, gdy, gppm, gpos, gstrong) = got.head
    assert(BigInt(gn) == n && BigInt(gnum) == num)
    assert(BigInt(gdx) == dx && BigInt(gdy) == dy)
    // the op's staged division (overflow-safe past n ~ 3e5): pre-divide
    // the denominator by 1e6, fall back to the direct form when the
    // staged divisor truncates to 0
    val wantPpm =
      if (dx > 0 && dy > 0) {
        val staged = (dx * dy) / 1000000
        Some(if (staged > 0) num * num / staged
             else num * num * 1000000 / (dx * dy))
      } else None
    assert(gppm.map(BigInt(_)) == wantPpm)
    assert(gpos == (num > 0))
    assert(gstrong == (dx > 0 && dy > 0 && 25 * num * num > dx * dy))
    // sanity: spend and order count must correlate positively
    assert(gpos && gppm.exists(_ > 0))
  }

  test("Benford audit matches a driver first-digit brute force") {
    import spark.implicits._
    val cents = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long"))
      .as[Long].collect().filter(_ > 0)
    val byDigit = cents.groupBy(_.toString.head.asDigit)
      .view.mapValues(_.length.toLong).toMap
    val nTot = cents.length.toLong
    val expPm = graft.analyse.Profiler.BenfordExpectedPm.toMap
    val got = GraftQueries.qBenford(spark, sfDir)
      .as[(Int, Long, Long, Long, Long, Long, Boolean)].collect()
      .sortBy(_._1)
    graft.ops.OpCaches.releaseAll()
    assert(got.map(_._1).toSeq == (1 to 9))
    got.foreach { case (d, nV, gTot, obs, exp, dev, flag) =>
      assert(nV == byDigit.getOrElse(d, 0L))
      assert(gTot == nTot)
      assert(obs == nV * 1000 / nTot)
      assert(exp == expPm(d))
      assert(dev == math.abs(obs - exp) && flag == (dev > 15))
    }
  }

  test("Lorenz deciles match a driver sorted brute force and are convex") {
    import spark.implicits._
    val spend = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("x"))
      .as[(Long, Long)].collect().sortBy(r => (r._2, r._1)).map(_._2)
    val n = spend.length.toLong
    val tot = spend.map(BigInt(_)).sum
    val exp = spend.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 10 / n }
      .view.mapValues(b => (b.length.toLong, b.map(p => BigInt(p._1)).sum))
      .toMap
    val got = GraftQueries.qLorenz(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    graft.ops.OpCaches.releaseAll()
    assert(got.map(_._1).toSeq == exp.keys.toSeq.sorted)
    var (cumN, cumX) = (0L, BigInt(0))
    var prevShare = -1L
    got.foreach { case (d, nC, cents, popPm, sharePm) =>
      assert((nC, BigInt(cents)) == exp(d))
      cumN += nC; cumX += cents
      assert(popPm == cumN * 1000 / n)
      assert(BigInt(sharePm) == cumX * 1000 / tot)
      // Lorenz curve: share never exceeds population share, monotone
      assert(sharePm <= popPm && sharePm >= prevShare)
      prevShare = sharePm
    }
  }

  test("t-closeness: exact-rational TVD matches a driver brute force over the fixture") {
    import spark.implicits._
    val rows = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_nationkey").cast("int"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long"))
      .as[(Int, String, Long)].collect()
    val n = rows.length.toLong
    val bandTot = rows.groupBy(_._3).map { case (b, rs) => b -> rs.length.toLong }
    val brute = rows.groupBy(r => (r._1, r._2)).map { case ((nk, seg), rs) =>
      val nc = rs.length.toLong
      val cv = rs.groupBy(_._3).map { case (b, xs) => b -> xs.length.toLong }
      // Σ over the FULL band domain, absent bands contribute cnt_v·n_c
      val num = bandTot.map { case (b, cntV) =>
        math.abs(cv.getOrElse(b, 0L) * n - cntV * nc)
      }.sum
      (nk, seg) -> ((nc, num, 2L * nc * n))
    }
    val got = GraftQueries.o38TCloseness(spark, sfDir)
      .as[(Int, String, Long, Long, Long, Boolean)].collect()
    graft.ops.OpCaches.releaseAll()
    assert(got.length == brute.size)
    got.foreach { case (nk, seg, size, num, den, tOk) =>
      val (bNc, bNum, bDen) = brute((nk, seg))
      assert((size, num, den) == ((bNc, bNum, bDen)), s"class ($nk,$seg)")
      assert(tOk == (num * 1000 <= den * 400))
      assert(num >= 0 && num <= den) // 0 ≤ TVD ≤ 1
    }
  }

  test("exact AUC: rank-sum rational matches a driver pair-count brute force") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = graft.ops.TextAnalysis.classifierScore(docs)
      .select(col("doc_id"), col("logit_micro"))
      .join(docs.select(col("doc_id"),
        (instr(col("text"), "the") > 0).as("label")), "doc_id")
      .select(col("logit_micro"), col("label"))
      .as[(Long, Boolean)].collect()
    val pos = pairs.filter(_._2).map(_._1)
    val neg = pairs.filterNot(_._2).map(_._1)
    // brute AUC·2·den = Σ_{p,n} (2·[p>n] + [p=n])
    var numX2 = 0L
    for (p <- pos; nn <- neg)
      numX2 += (if (p > nn) 2L else if (p == nn) 1L else 0L)
    val got = GraftQueries.qAuc(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    graft.ops.OpCaches.releaseAll()
    assert(got.length == 1)
    val (nPos, nNeg, aucNumX2, aucDen, aucPm) = got.head
    assert(nPos == pos.length.toLong && nNeg == neg.length.toLong)
    assert(aucDen == nPos * nNeg)
    assert(aucNumX2 == numX2, s"rank-sum $aucNumX2 vs pair-count $numX2")
    assert(aucPm == Math.floorDiv(numX2 * 1000, 2 * aucDen))
  }

  test("incremental linkage agrees with full er1 on the returning slice; walk-ins are new; registry never sort-merge-joins") {
    import spark.implicits._
    val er4 = GraftQueries.er4IncrementalLinkage(spark, sfDir)
    val got = er4.as[(Long, Option[Long], Option[Long], Boolean)].collect()
    graft.ops.OpCaches.releaseAll()
    // is_new is exactly "no match"; every walk-in (offset ids) is new
    got.foreach { case (id, m, sc, isNew) =>
      assert(isNew == m.isEmpty && m.isEmpty == sc.isEmpty, s"row $id")
      if (id >= 1000000000L) assert(isNew, s"walk-in $id matched")
    }
    // batch ids appear exactly once: returning slice + its walk-in twin
    val ids = got.map(_._1).sorted
    assert(ids.distinct.length == ids.length)
    assert(ids.count(_ < 1000000000L) == ids.count(_ >= 1000000000L))
    // the returning slice must match full er1 restricted to the slice —
    // incremental linkage may not drift from the batch re-run
    val er1 = GraftQueries.er1RecordLinkage(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .filter(_._1 % 25 == 0).map(r => r._1 -> ((r._2, r._3))).toMap
    graft.ops.OpCaches.releaseAll()
    got.filter(_._1 < 1000000000L).foreach { case (id, m, sc, _) =>
      assert(er1.get(id) == m.zip(sc).headOption, s"returning $id")
    }
    // broadcast-batch shape: the registry side never sort-merge-joins
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def smj(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => smj(a.executedPlan)
      case qs: QueryStageExec => smj(qs.plan)
      case _: SortMergeJoinExec => true
      case other => other.children.exists(smj)
    }
    assert(!smj(er4.queryExecution.executedPlan),
      "incremental linkage sort-merge-joined the registry")
    graft.ops.OpCaches.releaseAll()
  }

  test("goldenRecords: survivorship picks trusted non-null fields; all-null survives as null") {
    import spark.implicits._
    import graft.ops.Linkage
    import graft.ops.Linkage.Survivorship
    val recs = Seq(
      // entity 1: name missing in the trusted source → prio-2 wins;
      // segment only in prio 3; bal max across sources
      (1L, 1L, null.asInstanceOf[String], null.asInstanceOf[String], 90L),
      (1L, 2L, "ada", null.asInstanceOf[String], 100L),
      (1L, 3L, "ADA!", "B", 80L),
      // entity 2: trusted name present; segment all-null stays null
      (2L, 1L, "bob", null.asInstanceOf[String], 10L),
      (2L, 2L, "b0b", null.asInstanceOf[String], 30L)
    ).toDF("entity", "prio", "name", "segment", "bal")
    val got = Linkage.goldenRecords(recs, "entity",
        Seq("name" -> Survivorship.FirstNonNull("prio"),
          "segment" -> Survivorship.FirstNonNull("prio"),
          "bal" -> Survivorship.MaxValue))
      .as[(Long, Option[String], Option[String], Long, Long)]
      .collect().toSet
    assert(got == Set(
      (1L, Some("ada"), Some("B"), 100L, 3L),
      (2L, Some("bob"), None, 30L, 2L)))
    // layout invariance: same clusters from any partitioning
    val re = Linkage.goldenRecords(recs.repartition(5), "entity",
        Seq("name" -> Survivorship.FirstNonNull("prio"),
          "bal" -> Survivorship.MinValue))
      .as[(Long, Option[String], Long, Long)].collect().toSet
    assert(re == Set((1L, Some("ada"), 80L, 3L), (2L, Some("bob"), 10L, 2L)))
  }

  test("transitionMatrix: adjacent pairs per entity, micro-unit rows sum to ~1") {
    import spark.implicits._
    val ev = Seq(
      // user 1: A→B→C ; user 2: A→B ; user 3: A→A (self-loop)
      (1L, "A", 1L, 1L), (1L, "B", 2L, 2L), (1L, "C", 3L, 3L),
      (2L, "A", 1L, 4L), (2L, "B", 2L, 5L),
      (3L, "A", 1L, 6L), (3L, "A", 2L, 7L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val got = graft.ops.Funnel
      .transitionMatrix(ev, orderCols = Seq("ts", "event_id"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("A", "B", 2L, 666666L), // 2 of A's 3 transitions
      ("A", "A", 1L, 333333L),
      ("B", "C", 1L, 1000000L)))
    // layout invariance of the integer probabilities
    val re = graft.ops.Funnel
      .transitionMatrix(ev.repartition(7), orderCols = Seq("ts", "event_id"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(re == got)
  }

  test("labelerAgreement: hand-computed kappa, negative-kappa sign, degenerate NULLs") {
    import spark.implicits._
    def labels(name: String, bits: Seq[Boolean]) =
      bits.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", name)
    def agree(a: Seq[Boolean], b: Seq[Boolean]) =
      graft.ops.Experiment.labelerAgreement(
        labels("a", a), "id", "a", labels("b", b), "id", "b").collect().head
    // n11=3 n10=1 n01=0 n00=2 → kappa = 12/18 ≈ 0.667: moderate, and
    // McNemar on 1 discordant pair is insignificant (1000 < 3841)
    val r = agree(Seq(true, true, true, true, false, false),
      Seq(true, true, true, false, false, false))
    assert((r.getAs[Long]("n11"), r.getAs[Long]("n10"), r.getAs[Long]("n01"),
      r.getAs[Long]("n00")) == (3L, 1L, 0L, 2L))
    assert(r.getAs[Long]("kappa_num") == 12L && r.getAs[Long]("kappa_den") == 18L)
    assert(r.getAs[Long]("kappa_ppm") == 666666L)
    assert(r.getAs[Boolean]("moderate_04"))
    assert(!r.getAs[Boolean]("mcnemar_sig"))
    // perfect disagreement → kappa exactly −1; the ppm must come out
    // −1000000, not the floor-division −1000001
    val neg = agree(Seq(true, true, true, false, false, false),
      Seq(false, false, false, true, true, true))
    assert(neg.getAs[Long]("kappa_ppm") == -1000000L)
    assert(!neg.getAs[Boolean]("moderate_04"))
    // one constant labeler still has a defined (zero) kappa
    val half = agree(Seq(true, true, true, true), Seq(true, false, true, false))
    assert(half.getAs[Long]("kappa_num") == 0L && half.getAs[Long]("kappa_den") == 8L)
    // BOTH labelers constant → chance agreement is total: kappa undefined
    val const = agree(Seq(true, true, true, true), Seq(true, true, true, true))
    assert(const.getAs[Long]("kappa_den") == 0L)
    assert(const.isNullAt(const.fieldIndex("kappa_ppm")))
    assert(const.isNullAt(const.fieldIndex("moderate_04")))
    // zero discordant pairs: McNemar undefined, honest NULL
    val same = agree(Seq(true, false, true), Seq(true, false, true))
    assert(same.isNullAt(same.fieldIndex("mcnemar_sig")))
    assert(same.getAs[Long]("kappa_ppm") == 1000000L)
  }
}
