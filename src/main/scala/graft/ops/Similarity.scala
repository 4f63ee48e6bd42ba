package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every top-k operator is a CANDIDATE GENERATOR followed by one shared
  * score-and-rank stage ([[rankTopK]]). A generator decides which
  * (query, neighbour) pairs are scored at all:
  *  - exact scans: `bruteForceTopK` (queries broadcast against the full
  *    corpus) and `filteredTopK` (the same over a pre-filtered corpus);
  *  - bucket and cell joins: `lshTopK` (random-hyperplane LSH, Charikar
  *    2002, with query-adaptive multi-probe), `ivfTopK` (k-means cells,
  *    exact at nprobe = nlist), `VectorIndex.queryIvf` (the same cells
  *    persisted on disk), `knnGraph` (LSH bucket self-joins, every node
  *    a query);
  *  - compressed scans: `sq8TopK` (one byte per dimension), `pqTopK` and
  *    `ivfPqTopK` (product-quantization codes scored by asymmetric
  *    lookup, flat or per IVF cell), `pqRerankTopK` (a PQ shortlist
  *    re-scored exactly).
  * [[rankTopK]] then drops self hits, scores the survivors and keeps
  * each query's k best by (sim DESC, neighbour id) — one ranking policy,
  * so equal sims break ties the same way in every operator.
  * Approximate generators trade recall for scan volume (measured
  * against brute force in the test suite and in the catalog verdicts).
  *
  * Kernel note: scoring avoids `zip_with`/`aggregate` higher-order
  * folds (interpreted, ~100ns/element with boxing — dominates at
  * millions of pairs × 64 dims). The Column path uses the codegen'd
  * native expression `graft.functions.CosineSimilarity`; the pair-join
  * path uses a broadcast + per-partition JVM kernel. All fold
  * left-to-right in double — the evaluation order a SQL engine's
  * list_cosine_similarity uses — so results are bit-reproducible
  * cross-engine and across paths.
  */
object Similarity {

  /** Left-to-right double-precision cosine over float vectors.
    * Primitive-array parameters: a `Seq[Float]` UDF signature makes the
    * converter box every element (measured GC-bound at millions of
    * pairs); `Array[Float]` deserialises via `toFloatArray` unboxed.
    */
  def cosineKernel(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column form: the native codegen'd Catalyst expression
    * (`graft.functions.CosineSimilarity`) — bit-identical to
    * `cosineKernel` by construction.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShims._
    toColumn(graft.functions.CosineSimilarity(toExpression(a), toExpression(b)))
  }

  /** Left-to-right double dot product over the common prefix. */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var d = 0
    val n = math.min(a.length, b.length)
    while (d < n) { s += a(d).toDouble * b(d).toDouble; d += 1 }
    s
  }

  /** Euclidean norm, left-to-right double fold. */
  private def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Unit-normalised double copy (all zeros for a zero vector). */
  private def normalise(v: Array[Float]): Array[Double] = {
    val n = norm(v)
    val out = new Array[Double](v.length)
    if (n > 0) { var i = 0; while (i < v.length) { out(i) = v(i) / n; i += 1 } }
    out
  }

  /** Euclidean squared distance over the common prefix. */
  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Index of the nearest centroid; strict < keeps the lowest index on
    * ties, so assignment is deterministic.
    */
  private[graft] def nearestCentroid(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = dist2(cents(c), v)
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Lloyd iterations every quantizer in this file trains with. */
  private val LloydIters = 10

  /** Deterministic driver-side Lloyd k-means over a bounded sample:
    * evenly-strided init, [[LloydIters]] iterations, lowest-index
    * tie-breaks, all double math — fully reproducible with no stored
    * model and no RNG. Shared by the PQ codebook trainer and the IVF
    * coarse quantizer (it replaced the MLlib `KMeans.fit`, whose fixed
    * driver/MLlib overhead of ~2-3 s dominated s3/mm4 at bench scale;
    * cluster quality only affects ANN recall/speed, never exactness).
    * k is capped by the sample size so tiny inputs still train.
    */
  private[ops] def lloyd(pts: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    require(pts.nonEmpty, "lloyd: empty training sample")
    val kk = math.max(1, math.min(k, pts.length))
    val dim = pts.head.length
    var cents = Array.tabulate(kk)(c => pts((c.toLong * pts.length / kk).toInt).clone())
    var it = 0
    while (it < LloydIters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      for (p <- pts) {
        val c = nearestCentroid(cents, p)
        counts(c) += 1
        var i = 0
        val n = math.min(dim, p.length)
        while (i < n) { sums(c)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val out = new Array[Double](dim)
          var i = 0; while (i < dim) { out(i) = sums(c)(i) / counts(c); i += 1 }
          out
        }
      }
      it += 1
    }
    cents
  }

  /** IVF coarse quantizer over a one-column frame of vectors, trained on
    * a bounded sample (the standard IVF recipe: ~256 vectors per cell
    * suffice) — k-means over the FULL corpus would be 10 extra
    * whole-corpus passes at 100 TB. Shared by `ivfTopK` and
    * `cosineNearDupPairs`; `VectorIndex.buildIvf` draws its own
    * hash-ordered sample so the on-disk layout is reproducible.
    */
  private def trainCells(vecs: DataFrame, nlist: Int): Array[Array[Double]] = {
    import vecs.sparkSession.implicits._
    lloyd(vecs.as[Array[Float]].limit(math.max(nlist * 256, 4096)).collect()
      .map(_.map(_.toDouble)), nlist)
  }

  /** The cell-assign UDF: a vector's nearest centroid, the centroids
    * broadcast once. Every IVF path assigns through it.
    */
  private[ops] def assignCell(spark: SparkSession, cents: Array[Array[Double]]): UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(cents)
    udf((v: Array[Float]) => nearestCentroid(bc.value, v.map(_.toDouble)))
  }

  /** The probe-cells UDF: a query's `nprobe` nearest cells by centroid
    * cosine (stable sort, so equal cosines keep index order).
    */
  private[ops] def probeCells(centroids: Array[Array[Float]], nprobe: Int): UserDefinedFunction =
    udf((qv: Array[Float]) =>
      centroids.zipWithIndex
        .map { case (cc, i) => (i, cosineKernel(qv, cc)) }
        .sortBy(-_._2).take(nprobe).map(_._1))

  /** The shared score-and-rank stage every top-k operator ends in: drop
    * self hits (`neighbor` = `query`), score each candidate with `sim`,
    * keep each query's k best by (sim DESC, neighbour id) with `rank` an
    * int from 1. The id tie-break makes equal sims rank alike in every
    * operator. Columns named in `keep` ride along after
    * (query, rank, neighbour).
    */
  private[ops] def rankTopK(cands: DataFrame, sim: Column, k: Int,
                            query: String = "query_id", neighbor: String = "neighbor_id",
                            keep: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(query)).orderBy(col("sim").desc, col(neighbor))
    cands.filter(col(neighbor) =!= col(query))
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col(query), col("rank").cast("int").as("rank"), col(neighbor)) ++
        keep.map(col): _*)
  }

  /** Exact top-k neighbours for the query rows against the corpus.
    * Queries are broadcast (small by contract), so the scan side never
    * shuffles; every corpus vector is a candidate.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    rankTopK(c.crossJoin(broadcast(q)), cosine(col("qv"), col("cv")), k)
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversity re-ranking — the serving-side complement of s10's
    * corpus-side diverse sampling: from each query's exact-cosine
    * SHORTLIST, greedily pick k results maximising
    * `0.5·sim(q,c) − 0.5·max_{s∈picked} sim(c,s)` (λ = 1/2), so the
    * result set trades raw relevance against redundancy — near-
    * duplicate hits can't crowd the page.
    *
    * Scale shape: the expensive part is the shortlist (the s1 scan /
    * an ANN shortlist at scale); the greedy loop runs per query over
    * ≤ `shortlist` candidates inside `flatMapGroups` — queries spread
    * across executors, per-group state is the shortlist's own vectors,
    * the corpus never re-enters. Determinism: candidate order, the
    * argmax tie-break (score DESC, id ASC), and every similarity are
    * the bit-exact `cosineKernel` fold, so the DuckDB twin unrolling
    * the k greedy steps picks identical ids.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, shortlist: Int = 10,
              k: Int = 5, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= shortlist, "mmrTopK: need 1 <= k <= shortlist")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .repartition(spark.sparkContext.defaultParallelism)
    val sl = rankTopK(c.crossJoin(broadcast(q)), cosine(col("qv"), col("cv")), shortlist,
        keep = Seq("sim", "cv"))
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("cv"))
    sl.as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(t => (-t._3, t._2))
        val picked = scala.collection.mutable.ArrayBuffer[Int]()
        val kk = math.min(k, cand.length)
        var exhausted = false
        while (picked.length < kk && !exhausted) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cand.length) {
            if (!picked.contains(i)) {
              val score =
                if (picked.isEmpty) cand(i)._3
                else {
                  var maxSim = Double.NegativeInfinity
                  picked.foreach { p =>
                    val s = cosineKernel(cand(i)._4, cand(p)._4)
                    if (s > maxSim) maxSim = s
                  }
                  0.5 * cand(i)._3 - 0.5 * maxSim
                }
              if (score > bestScore ||
                  (score == bestScore && bestIdx >= 0 &&
                    cand(i)._2 < cand(bestIdx)._2)) {
                bestIdx = i; bestScore = score
              }
            }
            i += 1
          }
          // every remaining candidate scored NaN (a zero-norm embedding
          // makes cosineKernel NaN, and NaN > -Inf is false): emit the
          // picks we have instead of indexing cand(-1)
          if (bestIdx < 0) exhausted = true else picked += bestIdx
        }
        picked.iterator.zipWithIndex.map { case (ci, r) =>
          (qid, r + 1, cand(ci)._2)
        }
      }
      .toDF("query_id", "pick_rank", "neighbor_id")
  }

  /** Hybrid retrieval's fixed shape: the first 10 documents are the
    * queries, each side keeps its 50 best, and ranks fuse with the
    * customary RRF constant 60.
    */
  private val RrfQueries = 10
  private val RrfPerSide = 50
  private val RrfK = 60

  /** Hybrid retrieval with reciprocal-rank fusion — the standard
    * two-tower serving shape: a LEXICAL shortlist (distinct-token
    * overlap with the query document, integer-exact) and a VECTOR
    * shortlist (the s1 exact cosine ranking) fuse by RRF,
    * `Σ 10⁶ div (RrfK + rank)`, a document absent from one side
    * contributing 0 from it — which is exactly how production hybrid
    * search fuses two top-R lists. Integer micro-units end to end, so
    * the fused ranking is bit-reproducible and SQL-oracle-checkable.
    * The queries are the documents with id < [[RrfQueries]].
    *
    * Scale shape: the corpus is scanned once per side (token pairs
    * distinct once; embeddings once against broadcast queries); each
    * side's shortlist cut is a query-partitioned window (state = one
    * row) and the fusion operates on 2·[[RrfPerSide]] rows per query —
    * constant-bounded. In production the per-side candidates come from
    * the banded/IVF shortlists (s2/s3/s8) instead of the exact scan;
    * the fusion stage is unchanged.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, k: Int = 10): DataFrame = {
    val vec = bruteForceTopK(emb, emb.filter(col("vec_id") < RrfQueries), RrfPerSide)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_vec"))
    val docTokens = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .distinct()
    val qTokens = docTokens.filter(col("doc_id") < RrfQueries)
      .select(col("doc_id").as("query_id"), col("token"))
    val overlap = docTokens.join(broadcast(qTokens), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("n_shared"))
    val wl = Window.partitionBy("query_id")
      .orderBy(col("n_shared").desc, col("doc_id"))
    val lex = overlap.withColumn("rank_lex", row_number().over(wl))
      .filter(col("rank_lex") <= RrfPerSide)
      .select("query_id", "doc_id", "rank_lex")
    val fused = vec.join(lex, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000L DIV ($RrfK + rank_vec)"), lit(0L)) +
          coalesce(expr(s"1000000L DIV ($RrfK + rank_lex)"), lit(0L)))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("rrf_micro"))
  }

  /** Range search: every corpus vector with cosine ≥ `threshold` of
    * each query (self excluded) — the threshold twin of `bruteForceTopK`.
    *
    * Unlike top-k, the threshold predicate needs NO ranking state, so
    * the whole operator is a narrow map: queries broadcast (small by
    * contract), the corpus is scanned once, and every (query, vector)
    * sim above τ emits — zero shuffles, zero windows, scan-bounded at
    * any corpus size (spec-asserted plan shape). For query sets too big
    * to broadcast, compose with the IVF cell pruning of
    * `cosineNearDupPairs` instead.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = Partitioning.ensureParallelism(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id") &&
        cosine(col("qv"), col("cv")) >= threshold)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Portable ±1 sign for flat index `n`: the md5-top-60-bits bucket
    * recipe (`Sampling.bucket`'s JVM twin), so the projection matrix is
    * reproducible in ANY engine with md5 — no stored model, no RNG.
    */
  private[graft] def portableSign(n: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(n.toString.getBytes("UTF-8"))
    val top = d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL)) >>> 4
    if (top % 2 == 0) 1 else -1
  }

  /** ±1 matrices by (rows, vector length), built once per JVM. */
  private val signMatrices =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Int]]]()

  /** The portable-sign projection `out[i] = Σ_j sign(i·n+j) · v[j]`
    * (n = v's length, j ascending) for i < `rows` — the one projection
    * [[randomProjection]] emits and [[signBuckets]] takes signs of.
    */
  private def signProject(rows: Int)(v: Array[Float]): Array[Double] = {
    val n = v.length
    val m = signMatrices.computeIfAbsent((rows, n),
      _ => Array.tabulate(rows, n)((i, j) => portableSign(i * n + j)))
    Array.tabulate(rows) { i =>
      val signs = m(i)
      var acc = 0.0
      var j = 0
      while (j < n) { acc += v(j).toDouble * signs(j); j += 1 }
      acc
    }
  }

  /** Sparse-sign random projection (Achlioptas 2003 / the JL transform
    * in its cheapest form): `out[i] = Σ_j sign(i·dIn+j) · v[j]` with a
    * deterministic ±1 matrix from [[portableSign]]. The standard cheap
    * dimensionality reduction in front of ANN / near-dup — distances
    * are preserved within (1±ε) at dOut = O(log n / ε²); callers scale
    * by 1/√dOut when they need the isometry constant.
    *
    * Narrow map, no shuffle: one kernel call per row via
    * posexplode (a Generate evaluates the kernel ONCE per row — 16
    * repeated struct-field projections of a UDF alias might not).
    * Summation order is fixed (j ascending) so every element is
    * bit-identical to the DuckDB twin's left-associated sum.
    * Output: `(id, dim, value)` — long format, one row per projected
    * component.
    */
  def randomProjection(df: DataFrame, dOut: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val project = udf((v: Array[Float]) => signProject(dOut)(v))
    Partitioning.ensureParallelism(
        df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .select(col("id"), posexplode(project(col("v"))).as(Seq("dim", "value")))
  }

  /** Portable sign-LSH bucket id: bit i of the bucket is the sign of
    * the dot product with the [[portableSign]] ±1 hyperplane family —
    * the SAME md5-derived matrix [[randomProjection]] uses, so a SQL
    * twin re-derives every bit from md5 alone and even this
    * "approximate" partition of the space is hash-exact across
    * engines. Narrow map, no shuffle, no stored model.
    *
    * Nearby vectors agree on high-margin bits, so buckets are coherent
    * regions of the embedding space — the cheap geometry-aware
    * stratification diversity sampling needs.
    */
  def signBuckets(df: DataFrame, bits: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(bits > 0 && bits < 31, "signBuckets: bits must be in 1..30")
    val bucket = udf { (v: Array[Float]) =>
      val p = signProject(bits)(v)
      var b = 0
      var i = 0
      while (i < bits) { if (p(i) >= 0.0) b |= (1 << i); i += 1 }
      b
    }
    Partitioning.ensureParallelism(df)
      .withColumn("bucket", bucket(col(vecCol)))
  }

  /** Diversity sampling over an embedding corpus (the cluster-balanced
    * subset selection step of a pretraining pipeline — cf. DeDup/
    * SemDeDup-adjacent "coverage" sampling): stratify the space into
    * `2^bits` [[signBuckets]] cells, keep at most `perBucket` vectors
    * per cell by a deterministic md5 draw. Dense regions are capped
    * hard while sparse regions survive intact — the selected subset
    * covers the space instead of echoing its density.
    *
    * Scale shape: the bucket map is narrow; the per-cell cap reuses the
    * t11 salted two-phase top-k ([[Sampling.domainCap]]) so a dense
    * viral cell spreads over saltBuckets tasks instead of funnelling
    * one. Fully deterministic and partitioning-independent — the
    * output is hash-exact against the SQL twin.
    */
  def diverseSample(df: DataFrame, bits: Int, perBucket: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    Sampling.domainCap(
      signBuckets(df, bits, idCol, vecCol).select(col(idCol), col("bucket")),
      idCol, "bucket", perBucket)

  /** Deterministic pseudo-random hyperplanes: component [i][d] from a
    * splitmix64 stream of (seed, i, d) — reproducible with no stored
    * model. `seed` selects an independent table (seed 0 = the
    * historical planes). A component does not depend on `dim`, so the
    * planes for two vector lengths agree on their common prefix.
    */
  private def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (i, d) =>
      val h = graft.anonymise.Faker.mix64(
        seed * 77777777777L + i.toLong * 1000003L + d + 1)
      h.toDouble / Long.MaxValue.toDouble
    }

  /** Hyperplanes by (bits, seed, vector length), built once per JVM. */
  private val planeTables =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long, Int), Array[Array[Double]]]()

  /** Table `seed`'s `bits` hyperplanes as long as `v`: every LSH kernel
    * cuts a vector on ALL of its components, whatever its length.
    */
  private def planesFor(bits: Int, seed: Long, v: Array[Float]): Array[Array[Double]] =
    planeTables.computeIfAbsent((bits, seed, v.length), _ => hyperplanes(bits, v.length, seed))

  /** Signed margins ⟨v, p_i⟩ against each hyperplane. */
  private def margins(planes: Array[Array[Double]], v: Array[Float]): Array[Double] = {
    val s = new Array[Double](planes.length)
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var acc = 0.0; var d = 0
      val n = math.min(p.length, v.length)
      while (d < n) { acc += v(d) * p(d); d += 1 }
      s(i) = acc
      i += 1
    }
    s
  }

  /** Sign-bit signature: bit i set when margin i is ≥ 0. */
  private def signOf(s: Array[Double]): Long = {
    var sig = 0L
    var i = 0
    while (i < s.length) { if (s(i) >= 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** Sign-bit signature of a vector against precomputed hyperplanes. */
  private def signatureKernel(planes: Array[Array[Double]])(v: Array[Float]): Long =
    signOf(margins(planes, v))

  /** Query-adaptive multi-probe sequence (Lv et al., VLDB 2007): the
    * query's own bucket, then the buckets reachable by flipping the
    * bits whose hyperplane margins |⟨v,p_i⟩| are smallest — single
    * flips in ascending-margin order, then pairs by margin sum. A
    * near-miss neighbour most likely differs on exactly the low-margin
    * bits, so directed probing buys far more recall per probed bucket
    * than flipping fixed bit positions. Returns 1 + `probes` buckets.
    */
  private def probeKernel(planes: Array[Array[Double]], probes: Int)(v: Array[Float]): Array[Long] = {
    val bits = planes.length
    val s = margins(planes, v)
    val sig = signOf(s)
    val order = Array.range(0, bits).sortBy(b => math.abs(s(b)))
    val out = scala.collection.mutable.ArrayBuffer[Long](sig)
    var bi = 0
    while (bi < bits && out.size <= probes) { out += sig ^ (1L << order(bi)); bi += 1 }
    if (out.size <= probes) {
      val pairs = for { a <- 0 until bits; b <- a + 1 until bits } yield
        (math.abs(s(order(a))) + math.abs(s(order(b))),
          sig ^ (1L << order(a)) ^ (1L << order(b)))
      for ((_, bk) <- pairs.sortBy(_._1) if out.size <= probes) out += bk
    }
    out.toArray
  }

  /** ANN top-k: candidates are the corpus vectors in the query's LSH
    * bucket plus its query-adaptive multi-probe buckets
    * ([[probeKernel]]). Approximate: candidates sharing no probed
    * bucket are missed — the price of dropping the cross join.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 12, probes: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sigUdf = udf((v: Array[Float]) => signatureKernel(planesFor(bits, 0L, v))(v))
    val probeUdf = udf((v: Array[Float]) => probeKernel(planesFor(bits, 0L, v), probes)(v))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .withColumn("bucket", sigUdf(col("cv")))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", explode(probeUdf(col("qv"))))
    rankTopK(c.join(broadcast(q), "bucket"), cosine(col("qv"), col("cv")), k)
  }

  /** ALL-CORPUS kNN GRAPH construction — every vector's approximate
    * top-k neighbour list, the primitive SemDeDup-style clustering,
    * graph-based ANN serving (HNSW seeding), and diversity analysis
    * all start from. The brute-force form is an O(n²) cross join, so
    * candidates come from LSH bucket SELF-JOINS instead: `tables`
    * independent sign-LSH tables (different hyperplane seeds), a pair
    * is a candidate when ANY table buckets it with the node, pairs
    * dedup by max-sim aggregate, then the shared per-node top-k rank
    * (every node is a query, `src`).
    * Approximate: a true neighbour sharing no bucket in any table is
    * missed — the recall price of never materialising n².
    *
    * Scale shape: NO broadcast of anything corpus-sized and NO cross
    * join — each table is one bucket-keyed equi self-join (shuffle on
    * the bucket signature, candidate volume Σ_b |bucket_b|²), the
    * dedup is a mergeable (src,dst)-keyed max aggregate, and the
    * final window partitions by src (per-node state = its candidate
    * list). More bits ⇒ smaller buckets ⇒ fewer candidates per node;
    * more tables ⇒ recall back. Both knobs are independent of n, so
    * candidate volume scales as n·E[bucket load], not n².
    */
  def knnGraph(corpus: DataFrame, k: Int, bits: Int = 6, tables: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && bits >= 1 && tables >= 1, "knnGraph: bad knobs")
    val c0 = OpCaches.persist(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism))
    val cand = (0 until tables).map { t =>
      val sigUdf = udf((v: Array[Float]) => signatureKernel(planesFor(bits, t.toLong, v))(v))
      val a = c0.withColumn("bucket", sigUdf(col("v")))
      a.select(col("bucket"), col("id").as("src"), col("v").as("sv"))
        .join(a.select(col("bucket"), col("id").as("dst"), col("v").as("dv")),
          Seq("bucket"))
        .select(col("src"), col("dst"), cosine(col("sv"), col("dv")).as("sim"))
    }.reduce(_ unionByName _)
    // a pair found by several tables has the SAME sim — max() is dedup;
    // rankTopK's src ≠ dst filter is pushed below the aggregate into
    // each table's join by the optimizer
    val pairs = cand.groupBy("src", "dst").agg(max("sim").as("sim"))
    rankTopK(pairs, col("sim"), k, query = "src", neighbor = "dst")
  }

  /** IVF (inverted-file) ANN top-k: a coarse k-means quantizer assigns
    * every corpus vector to its nearest centroid cell; a query's
    * candidates are the vectors in its `nprobe` nearest cells. The
    * other classic ANN scale path next to LSH — better cell balance
    * when the data IS clustered, exact at nprobe = nlist. Coarse
    * quantizer = [[trainCells]] (no MLlib fit, no Vectors conversion
    * pass); assignment still covers every corpus vector.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .repartition(spark.sparkContext.defaultParallelism)
    val cents = trainCells(c.select("cv"), nlist)
    val assigned = c.withColumn("cell", assignCell(spark, cents)(col("cv")))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probeCells(cents.map(_.map(_.toFloat)), nprobe)(col("qv"))))
    rankTopK(assigned.join(broadcast(q), "cell"), cosine(col("qv"), col("cv")), k)
  }

  /** FILTERED vector search — the attribute-constrained top-k every
    * vector store names as a first-class feature (and many get wrong
    * by post-filtering a fixed-size ANN shortlist, which silently
    * starves recall when the filter is selective). This is the exact
    * PRE-filter form: the metadata predicate restricts the corpus scan
    * BEFORE scoring, so top-k is computed over exactly the eligible
    * set and recall is 1 by construction. The predicate reaches the
    * parquet scan as a pushed filter (Catalyst does this for free
    * because the filter is declarative), queries broadcast into the
    * filtered scan, and the per-query ranking window partitions by
    * query id — the s1 shape over a smaller scan.
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   corpusFilter: Column,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Partitioning.ensureParallelism(
      corpus.filter(corpusFilter)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // an inner join; rankTopK's self-exclusion becomes its condition
    rankTopK(c.join(broadcast(q)), cosine(col("qv"), col("cv")), k)
  }

  /** Scalar-quantised (SQ8) ANN — the standard compression point
    * between raw floats and PQ codes: every dimension quantises
    * independently to one byte against per-dimension [min, max]
    * learned in ONE mergeable corpus aggregate, so a 64-dim float
    * vector stores as 64 B (4× less scan IO than raw floats, while
    * PQ's 8 B codes trade away more recall). Scoring is asymmetric:
    * the exact query dots against the DEQUANTISED candidate — the
    * per-dim linear map runs inside the scoring kernel, so the scan
    * stays a narrow pass over byte arrays.
    *
    * Scale shape: training is one posexplode + groupBy(dim) min/max
    * (64 result rows — metadata), encode is a narrow map, queries
    * broadcast into the encoded scan exactly like s1. Deterministic
    * end to end; approximate by design (quantisation error), so the
    * catalog entry asserts a recall floor like s2/s4.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val c = Partitioning.ensureParallelism(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val ranges = c.select(posexplode(col("cv")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .collect().map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
      .sortBy(_._1)
    val lo = ranges.map(_._2)
    val span = ranges.map { case (_, l, h) => math.max(h - l, 1e-12) }
    val bcLo = spark.sparkContext.broadcast(lo)
    val bcSpan = spark.sparkContext.broadcast(span)
    val encode = udf { (v: Array[Float]) =>
      val l = bcLo.value; val s = bcSpan.value
      Array.tabulate(v.length) { d =>
        val q = math.round(255.0 * (v(d) - l(d)) / s(d))
        math.max(0L, math.min(255L, q)).toByte
      }
    }
    val score = udf { (qv: Array[Float], codes: Array[Byte]) =>
      val l = bcLo.value; val s = bcSpan.value
      var dot = 0.0; var nq = 0.0; var nc = 0.0
      var d = 0
      while (d < qv.length) {
        val cd = l(d) + (codes(d) & 0xff) * s(d) / 255.0
        dot += qv(d) * cd
        nq += qv(d).toDouble * qv(d)
        nc += cd * cd
        d += 1
      }
      if (nq == 0 || nc == 0) 0.0 else dot / math.sqrt(nq * nc)
    }
    val enc = c.select(col("neighbor_id"), encode(col("cv")).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    rankTopK(enc.join(broadcast(q)), score(col("qv"), col("codes")), k)
  }

  /** Product-quantizer training recipe: Lloyd over the `PqSampleRows`
    * lowest-id corpus vectors.
    */
  private val PqSampleRows = 4096

  /** A trained product quantizer: per-subspace codebooks (up to `kCent`
    * centroids each) over consecutive `subDim`-wide slices of a
    * unit-normalised vector. Shared by [[pqTopK]] (codes of the vector)
    * and [[ivfPqTopK]] (codes of its residual to the IVF cell).
    */
  private final case class ProductQuantizer(books: Array[Array[Array[Double]]],
                                            subDim: Int, kCent: Int) {
    /** One byte code per subspace: its nearest codebook centroid. */
    def encode(v: Array[Double]): Array[Byte] =
      Array.tabulate(books.length)(s => nearestCentroid(books(s), slice(v, s, subDim)).toByte)

    /** The ADC lookup table: exact ⟨q_s, centroid⟩ per (subspace, code). */
    def lut(nq: Array[Double]): Array[Double] = {
      val out = new Array[Double](books.length * kCent)
      var s = 0
      while (s < books.length) {
        val qs = slice(nq, s, subDim)
        var c = 0
        while (c < books(s).length) {
          val cent = books(s)(c)
          var d = 0.0; var i = 0
          val n = math.min(qs.length, cent.length)
          while (i < n) { d += qs(i) * cent(i); i += 1 }
          out(s * kCent + c) = d
          c += 1
        }
        s += 1
      }
      out
    }
  }

  /** The bounded, deterministic PQ training sample: the
    * [[PqSampleRows]] lowest-id vectors, unit-normalised.
    */
  private def pqSample(corpus: DataFrame, idCol: String, vecCol: String,
                       op: String): Array[Array[Double]] = {
    import corpus.sparkSession.implicits._
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].orderBy(col(idCol)).limit(PqSampleRows)
      .collect().map { case (_, v) => normalise(v) }
    require(sample.nonEmpty, s"$op: empty corpus")
    sample
  }

  /** Subspace `s` of `v`: components [s·subDim, (s+1)·subDim). */
  private def slice(v: Array[Double], s: Int, subDim: Int): Array[Double] =
    java.util.Arrays.copyOfRange(v, s * subDim, math.min((s + 1) * subDim, v.length))

  /** `m` per-subspace codebooks of 2^codebookBits centroids, each a
    * deterministic Lloyd over the training vectors' slices.
    */
  private def trainPq(vs: Array[Array[Double]], m: Int, codebookBits: Int): ProductQuantizer = {
    val kCent = 1 << codebookBits
    val subDim = math.max(1, vs.head.length / m)
    ProductQuantizer(Array.tabulate(m)(s => lloyd(vs.map(slice(_, s, subDim)), kCent)), subDim, kCent)
  }

  /** A query's ADC lookup table under the broadcast quantizer. */
  private def lutOf(bcPq: Broadcast[ProductQuantizer]): UserDefinedFunction =
    udf((v: Array[Float]) => bcPq.value.lut(normalise(v)))

  /** The ADC kernel: a candidate's score is the cell term `qc` plus one
    * lookup per code byte. Array (not Seq) params: primitive
    * deserialisation, no per-call boxing.
    */
  private def adc(kCent: Int): UserDefinedFunction =
    udf { (codes: Array[Byte], lut: Array[Double], qc: Double) =>
      var s = 0; var acc = qc
      while (s < codes.length) { acc += lut(s * kCent + (codes(s) & 0xff)); s += 1 }
      acc
    }

  /** Product-quantization ANN (Jégou, Douze, Schmid, TPAMI 2011): split
    * each (unit-normalised) vector into `m` subspaces, learn a
    * 2^codebookBits-centroid codebook per subspace on a bounded sample,
    * and store each corpus vector as `m` byte codes — a 64-dim float
    * vector compresses 256 B → 8 B, which is what lets a 100 TB corpus'
    * index live in cluster RAM. Queries score candidates with the
    * asymmetric distance computation: one m×K lookup table of exact
    * query-to-centroid dot products per query, then each corpus
    * candidate costs m table lookups + adds instead of a full
    * float-vector dot product.
    *
    * Fully deterministic (and hence oracle-able): sample = lowest
    * [[PqSampleRows]] ids, centroid init = evenly-strided sample rows,
    * Lloyd iterations with lowest-index tie-breaks, all double math.
    * Approximate by design — `s4_knn_pq` asserts a measured recall
    * floor against the exact result inside the query, like `s2`.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, codebookBits: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val pq = trainPq(pqSample(corpus, idCol, vecCol, "pqTopK"), m, codebookBits)
    val bcPq = spark.sparkContext.broadcast(pq)
    val encode = udf((v: Array[Float]) => bcPq.value.encode(normalise(v)))
    // corpus → 8-byte codes once (narrow); queries (small) broadcast
    // with their exact lookup tables; the scan touches codes only
    val coded = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("neighbor_id"), encode(col("cv")).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), lutOf(bcPq)(col(vecCol)).as("lut"))
    rankTopK(coded.crossJoin(broadcast(q)),
      adc(pq.kCent)(col("codes"), col("lut"), lit(0.0)), k)
  }

  /** Two-stage ANN with exact re-ranking (the production "refine" pass
    * every PQ deployment runs — Jégou et al. TPAMI 2011 §V's re-ranking
    * with source coding, simplified to re-reading the raw vectors): the
    * PQ ADC stage nominates a `shortlist`-sized candidate set per query
    * (compressed-domain scan, the cheap part), then the shortlist's RAW
    * vectors are fetched and scored with exact double cosine, and the
    * final top-k is the exact order of that shortlist. ADC quantisation
    * error then only affects WHICH candidates are considered, never
    * their final ranking — recall@k rises toward the shortlist's
    * ceiling at the cost of `shortlist` exact scores per query.
    *
    * Scale shape: the refine join BROADCASTS the (queries × shortlist)-
    * sized candidate set into one scan of the corpus — the corpus never
    * shuffles and the compressed stage's plan is untouched. (On a
    * production serving path the fetch is a point-lookup store; the
    * scan+broadcast-join is the batch-engine equivalent.) The final
    * per-query window ranks ≤ `shortlist` rows — bounded state.
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   shortlist: Int = 50, m: Int = 8, codebookBits: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = pqTopK(corpus, queries, shortlist, m, codebookBits,
      idCol = idCol, vecCol = vecCol)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cand = short.select("query_id", "neighbor_id").join(qv, "query_id")
    val rescored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(broadcast(cand), "neighbor_id")
    rankTopK(rescored, cosine(col("__qv"), col("__cv")), k)
  }

  /** `nv − c(cell)` for nv's nearest centroid `cell` (components past a
    * centroid's length keep nv's value).
    */
  private def residualOf(cents: Array[Array[Double]], nv: Array[Double]): (Int, Array[Double]) = {
    val c = nearestCentroid(cents, nv)
    val cent = cents(c)
    val r = new Array[Double](nv.length)
    var i = 0
    while (i < nv.length) {
      r(i) = nv(i) - (if (i < cent.length) cent(i) else 0.0); i += 1
    }
    (c, r)
  }

  /** IVF-PQ ANN (IVFADC — Jégou, Douze, Schmid, TPAMI 2011 §IV): the
    * composition that actually ships at billion-vector scale. A coarse
    * quantizer routes every (unit-normalised) corpus vector to one of
    * `nlist` cells, and within cells vectors are stored as `m`-byte PQ
    * codes of their RESIDUAL v − c(cell) — the residual distribution is
    * tighter than the raw vectors', so the same code budget quantises
    * finer than s4's flat PQ. A query probes only its `nprobe` best
    * cells, scoring candidates as
    *   ⟨q, v⟩ ≈ ⟨q, c(cell)⟩ + Σ_s LUT_s[code_s]
    * — the cell term computed once per (query, probed cell), the
    * residual term `m` byte-indexed lookups per candidate (the ADC).
    *
    * Residual codebooks are POOLED across cells (one shared set — the
    * standard memory/quality tradeoff vs per-cell books), trained with
    * the same deterministic Lloyd as the coarse quantizer over the
    * bounded sample's residuals. Everything is deterministic (strided
    * init, lowest-index ties, tie-broken ranking windows), so the
    * recall verdict the catalog emits is stable and oracle-checkable.
    *
    * Scale shape: one narrow pass encodes the corpus to (cell, m bytes)
    * — 256 B float vectors become `m`+4 B rows, the compression that
    * lets the index live in cluster RAM; queries (small by contract)
    * broadcast with their LUTs; the cell equi-join touches only probed
    * cells' codes, cutting scan cost ≈ nlist/nprobe further. Driver
    * state is metadata-scale: nlist centroids + m·2^bits codebook rows.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, codebookBits: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val sample = pqSample(corpus, idCol, vecCol, "ivfPqTopK")
    val cents = lloyd(sample, nlist)
    val pq = trainPq(sample.map(residualOf(cents, _)._2), m, codebookBits)
    val bcCents = spark.sparkContext.broadcast(cents)
    val bcPq = spark.sparkContext.broadcast(pq)
    val encode = udf { (v: Array[Float]) =>
      val (c, r) = residualOf(bcCents.value, normalise(v))
      (c, bcPq.value.encode(r))
    }
    // per-query probe list: nprobe best cells by exact ⟨q, centroid⟩,
    // index-ascending tie-break — deterministic
    val probeOf = udf { (v: Array[Float]) =>
      val nq = normalise(v)
      bcCents.value.zipWithIndex.map { case (cc, i) =>
        var d = 0.0; var j = 0
        val n = math.min(nq.length, cc.length)
        while (j < n) { d += nq(j) * cc(j); j += 1 }
        (i, d)
      }.sortBy { case (i, d) => (-d, i) }.take(nprobe)
    }
    val coded = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("cc", encode(col("cv")))
      .select(col("neighbor_id"), col("cc._1").as("cell"), col("cc._2").as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("lut", lutOf(bcPq)(col("qv")))
      .select(col("query_id"), col("lut"), explode(probeOf(col("qv"))).as("pc"))
      .select(col("query_id"), col("lut"),
        col("pc._1").as("cell"), col("pc._2").as("qc"))
    rankTopK(coded.join(broadcast(q), "cell"),
      adc(pq.kCent)(col("codes"), col("lut"), col("qc")), k)
  }

  /** Angle (radians) between two float vectors, double-precision with
    * the acos input clamped to [-1, 1]. Zero-norm vectors yield NaN,
    * which the cell-pruning below treats as "radius unknown ⇒ never
    * prune" (conservative, keeps the operator exact).
    */
  def angleKernel(a: Array[Float], b: Array[Float]): Double =
    math.acos(math.max(-1.0, math.min(1.0, cosineKernel(a, b))))

  /** Exact cosine near-dup pairs (threshold join) at scale: an IVF-cell
    * blocked pair join with angular triangle-inequality pruning. No
    * driver-side corpus materialisation, no cartesian product — the
    * corpus is partitioned into quantizer cells (k-means trained on a
    * bounded sample, as in `ivfTopK`), cells are split into bounded-size
    * blocks, and only block PAIRS that can possibly contain a
    * qualifying pair are evaluated with the tight per-partition kernel.
    *
    * Exactness (unlike LSH candidates, which have recall < 1): for
    * vectors a ∈ cell A, b ∈ cell B, the spherical triangle inequality
    * gives θ(a,b) ≥ θ(c_A,c_B) − r_A − r_B, where r_X is cell X's
    * angular radius (max member angle to its centroid). A cell pair is
    * pruned only when that lower bound (minus a 1e-6 slack for acos
    * rounding) exceeds acos(threshold) — so no qualifying pair is ever
    * missed, and the kernel verifies every surviving candidate with the
    * same left-to-right double fold as the oracle. Clustering quality
    * affects only speed, never the result.
    *
    * Scale shape: one pass to assign cells (quantizer trained on a
    * bounded sample), one metadata-scale aggregate (nlist rows) for
    * radii, one shuffle to group blocks, then a block-pair join whose
    * data movement is O(survivingPairs × blockBytes) — the blocked
    * all-pairs layout of a distributed matrix product, with the pruning
    * removing inter-cluster block pairs. Per-task memory is bounded by
    * 2 × maxBlock vectors regardless of corpus size. The previous
    * broadcast form survives as `cosineNearDupPairsBroadcast` for
    * corpora that fit on one executor.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         nlist: Int = 16, maxBlock: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .repartition(parallelism)
    // lloyd caps k at the sample size so tiny inputs still train
    val cents = trainCells(vecs.select("v"), nlist)
    val centroids = cents.map(_.map(_.toFloat))
    val assigned = OpCaches.persist(vecs.withColumn("cell", assignCell(spark, cents)(col("v"))))
    // per-cell metadata (nlist rows — metadata-scale driver traffic, not
    // the corpus): member count + angular radius around the centroid
    val angleToCentroid = udf((cell: Int, v: Array[Float]) => angleKernel(v, centroids(cell)))
    val cellMeta = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n"), max(angleToCentroid(col("cell"), col("v"))).as("r"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val nChunks: Map[Int, Int] = cellMeta.map { case (c, (n, _)) =>
      c -> math.max(1, math.ceil(n.toDouble / maxBlock).toInt)
    }
    val thetaMax = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val eps = 1e-6 // covers acos error amplification near cos = ±1
    val cells = cellMeta.keys.toSeq.sorted
    // Surviving CELL pairs are nlist²-bounded — metadata scale, computed
    // here. The CHUNK-pair expansion is quadratic in corpus size
    // (chunks ≈ n/maxBlock), so it happens on executors via
    // sequence+explode: the driver never materialises a structure
    // proportional to the corpus.
    val cellPairs: Seq[(Int, Int, Int, Int)] = for {
      ca <- cells; cb <- cells if ca <= cb
      minAngle = angleKernel(centroids(ca), centroids(cb)) -
        cellMeta(ca)._2 - cellMeta(cb)._2 - eps
      // NaN radius (zero-norm member) compares false ⇒ pair kept
      if !(minAngle > thetaMax)
    } yield (ca, cb, nChunks(ca), nChunks(cb))
    // bounded blocks: chunk within cell by hashed id; each vector lands in
    // exactly one block, each unordered block pair in exactly one task
    val nChunksMap = map(cells.flatMap(c => Seq(lit(c), lit(nChunks(c)))): _*)
    val groups = assigned
      .withColumn("chunk",
        pmod(xxhash64(col("id")), element_at(nChunksMap, col("cell"))).cast("int"))
      .groupBy("cell", "chunk")
      .agg(collect_list(struct(col("id").as("_1"), col("v").as("_2"))).as("members"))
    // No broadcast hint: groups comes out of the groupBy already hash-
    // partitioned on (cell, chunk), which satisfies the join's required
    // distribution, so a shuffle join moves only the tiny 4-int pair rows
    // — and never collects the (quadratic) pair relation to the driver.
    // AQE may still choose to broadcast it when its measured size is
    // small; at billion-vector scale it won't be, and the plan degrades
    // gracefully to the shuffle form.
    val bp = cellPairs.toDF("cell_a", "cell_b", "nca", "ncb")
      .withColumn("chunk_a", explode(sequence(lit(0), col("nca") - 1)))
      .withColumn("chunk_b", explode(sequence(lit(0), col("ncb") - 1)))
      .where(col("cell_a") < col("cell_b") || col("chunk_a") <= col("chunk_b"))
      .select("cell_a", "chunk_a", "cell_b", "chunk_b")
    val paired = groups
      .join(bp, col("cell") === col("cell_a") && col("chunk") === col("chunk_a"))
      .select(col("members").as("_1"), col("cell_b"), col("chunk_b"),
        (col("cell_a") === col("cell_b") && col("chunk_a") === col("chunk_b")).as("same"))
      .join(groups.withColumnRenamed("members", "mb"),
        col("cell") === col("cell_b") && col("chunk") === col("chunk_b"))
      .select(col("_1"), col("mb").as("_2"), col("same").as("_3"))
      .as[(Seq[(Long, Array[Float])], Seq[(Long, Array[Float])], Boolean)]
    paired.flatMap { case (ma, mb, same) =>
      scoreBlockPair(ma, mb, same, threshold)
    }.toDF("id_a", "id_b", "sim")
  }

  /** Tight all-pairs cosine kernel over one block pair (`same` = both
    * sides are the one block, score the upper triangle only): norms
    * precomputed once per block, zero allocation per scored pair,
    * left-to-right double fold (the oracle's evaluation order). Shared
    * by the IVF-cell block join ([[cosineNearDupPairs]]) and the LSH
    * bucket block join ([[cosineNearDupPairsAnn]]).
    */
  private def scoreBlockPair(ma: Seq[(Long, Array[Float])],
                             mb: Seq[(Long, Array[Float])],
                             same: Boolean, threshold: Double): Seq[(Long, Long, Double)] =
    scoreBlockPairFlagged(ma.map(m => (m._1, m._2, true)),
      if (same) Nil else mb.map(m => (m._1, m._2, true)), same, threshold)

  /** The flagged form of the kernel: each member carries a base/probe
    * flag and probe–probe pairs are skipped (a multi-probe collision
    * only counts when at least one side sits in its OWN bucket — the
    * Lv et al. probing contract, which keeps candidate volume
    * ~(1+2·probes)·load instead of (1+probes)²·load). All-base input
    * (the IVF path via [[scoreBlockPair]]) scores every pair.
    */
  private def scoreBlockPairFlagged(ma: Seq[(Long, Array[Float], Boolean)],
                                    mb: Seq[(Long, Array[Float], Boolean)],
                                    same: Boolean, threshold: Double): Seq[(Long, Long, Double)] = {
    val a = ma.toArray.sortBy(_._1)
    val b = if (same) a else mb.toArray.sortBy(_._1)
    val na = a.map(m => norm(m._2)); val nb = if (same) na else b.map(m => norm(m._2))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < a.length) {
      val (ida, va, basea) = a(i)
      var j = if (same) i + 1 else 0
      while (j < b.length) {
        val (idb, vb, baseb) = b(j)
        if (basea || baseb) {
          val sim = dot(va, vb) / (na(i) * nb(j))
          if (sim >= threshold && ida != idb)
            out += (if (ida < idb) (ida, idb, sim) else (idb, ida, sim))
        }
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** Hyperplane tables of the LSH pair path. */
  private val AnnTables = 8
  /** Expected bucket load the LSH pair path sizes `bits` for. */
  private val AnnTargetBucket = 256

  /** APPROXIMATE cosine near-dup pairs — the sub-quadratic scale path
    * next to the exact [[cosineNearDupPairs]]: candidates come from
    * sign-LSH bucket self-joins ([[AnnTables]] independent hyperplane
    * tables, the s17 `knnGraph` recipe), every candidate is verified
    * with the exact kernel, so output pairs are TRUE pairs — the
    * approximation is recall only (a qualifying pair bucketed apart in
    * every table is missed).
    *
    * Scale shape: `bits` is derived from the corpus count so the
    * expected bucket load stays ~[[AnnTargetBucket]] regardless of n —
    * candidate volume is ≈ (1 + 2·probes)·n·load·tables,
    * LINEAR in n where the exact family's true-pair volume is ~n²
    * (103× pairs for 10× data at the sf10 decade, SCALING.md round 11).
    * No driver-side metadata: per-bucket counts come from a count
    * window, oversized buckets split into ≤`maxBlock` chunks by hashed
    * id (task memory bounded by 2·maxBlock vectors however degenerate
    * a bucket gets), blocks pair within their bucket only, and each
    * vector moves through the shuffle once per table — never once per
    * candidate. Pairs found by several tables dedup by a mergeable
    * (id_a, id_b) max aggregate, as in `knnGraph`.
    *
    * Recall honesty (Charikar 2002: P[bit agrees] = 1 − θ/π): holding
    * recall CONSTANT while n grows requires tables ~ n^ρ — with the
    * fixed table count, per-pair recall decays as bits grow, fastest for
    * low-cosine pairs (θ → π/2 is the regime where no sub-quadratic
    * method helps). Symmetric multi-probing (`probes` low-margin flip
    * buckets per vector per table, [[probeKernel]], scored only
    * against BASE occupants) blunts the decay at fixed tables: a
    * near-threshold pair that misses a bucket usually differs on
    * exactly the low-margin bits each side probes, so 1-bit misses —
    * the dominant miss mode once bits grow — are recovered at
    * (1+2·probes)× candidate cost instead of the ~2^probes× of more
    * tables. Production near-dup thresholds (θ small) keep per-table
    * collision high and recall flat; the catalog key gates a measured
    * pooled recall floor at the oracle SFs and the probes trade-off is
    * documented in MEASUREMENTS.md rather than promised.
    */
  def cosineNearDupPairsAnn(df: DataFrame, threshold: Double,
                            maxBlock: Int = 4096, probes: Int = -1,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(maxBlock >= 1, "cosineNearDupPairsAnn: bad knobs")
    val spark = df.sparkSession
    import spark.implicits._
    // size bits so E[bucket load] ~ AnnTargetBucket: the vectorized-reader
    // count is row-group-metadata cheap on a parquet scan, and the
    // DECISION (like the d5 chooser's) is exact, never sampled
    val n = df.count()
    val bits = math.max(3, math.min(20,
      math.ceil(math.log(math.max(1.0, n.toDouble / AnnTargetBucket)) / math.log(2.0)).toInt))
    // probes < 0 ⇒ derive from bits (the expectedCandidates = -1
    // convention): as bits grow, per-table collision decays and 1-bit
    // misses dominate, so the probe budget should grow WITH bits —
    // bits/2 floored at 2 measured 1.000/0.761/≈linear recall-vs-cost
    // at bits 3/7/10 where the fixed pure-base form read 0.877/0.268
    // (MEASUREMENTS.md round 12).
    val nProbes = if (probes >= 0) probes else math.max(2, bits / 2)
    // per table: the vector's OWN bucket (base) plus its `probes`
    // query-adaptive low-margin flip buckets ([[probeKernel]] — Lv et
    // al., VLDB 2007). probes = 0 reproduces the pure base-bucket form.
    val sigsUdf = udf { (v: Array[Float]) =>
      val out = Array.newBuilder[(Int, Long, Boolean)]
      var t = 0
      while (t < AnnTables) {
        val bks = probeKernel(planesFor(bits, t.toLong, v), nProbes)(v)
        var i = 0
        while (i < bks.length) { out += ((t, bks(i), i == 0)); i += 1 }
        t += 1
      }
      out.result()
    }
    val rows = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"), col("v"), explode(sigsUdf(col("v"))).as("tb"))
      .select(col("id"), col("v"), col("tb._1").as("t"),
        col("tb._2").as("bucket"), col("tb._3").as("base"))
    // per-bucket counts distributedly (a count window, no order — no
    // sort), oversized buckets chunk by hashed id: expected chunk size
    // ≤ maxBlock since ids are distinct and xxhash64 spreads them
    // (probe rows count toward load too, so the bound survives probing)
    val w = Window.partitionBy(col("t"), col("bucket"))
    val chunked = rows
      .withColumn("nc", ceil(count(lit(1)).over(w).cast("double") / maxBlock).cast("int"))
      .withColumn("chunk", pmod(xxhash64(col("id")), col("nc")).cast("int"))
    val groups = chunked.groupBy(col("t"), col("bucket"), col("chunk"))
      .agg(collect_list(struct(col("id").as("_1"), col("v").as("_2"),
        col("base").as("_3"))).as("members"),
        first(col("nc")).as("nc"))
    // unordered chunk pairs within a bucket, each in exactly one task;
    // the right side comes out of its groupBy already hash-partitioned
    // on the join key — only the (narrow) exploded left re-shuffles
    val left = groups.select(col("t"), col("bucket"), col("chunk"), col("members"),
      explode(sequence(col("chunk"), col("nc") - 1)).as("chunk_b"))
    val paired = left.join(
        groups.select(col("t").as("t2"), col("bucket").as("b2"),
          col("chunk").as("c2"), col("members").as("mb")),
        col("t") === col("t2") && col("bucket") === col("b2") && col("chunk_b") === col("c2"))
      .select(col("members").as("_1"), col("mb").as("_2"),
        (col("chunk") === col("chunk_b")).as("_3"))
      .as[(Seq[(Long, Array[Float], Boolean)], Seq[(Long, Array[Float], Boolean)], Boolean)]
    val cand = paired.flatMap { case (ma, mb, same) =>
      scoreBlockPairFlagged(ma, mb, same, threshold)
    }.toDF("id_a", "id_b", "sim")
    // a pair verified in several tables has the SAME sim — max is dedup
    cand.groupBy("id_a", "id_b").agg(max("sim").as("sim"))
  }

  /** Exact cosine near-dup pairs with a cost-based plan choice — the
    * shipped default. Both plans produce identical output; which is
    * FAST depends on corpus size:
    *
    *  - ≤ `broadcastMaxRows` vectors: the broadcast kernel — one
    *    collect of a corpus that provably fits (128-dim floats at the
    *    default budget ≈ 50 MB), zero shuffle, zero fixed overhead;
    *  - above it: the blocked IVF-cell pair join — no driver
    *    materialisation ever, bounded blocks, triangle-inequality cell
    *    pruning; pays a fixed quantizer-training cost that only
    *    amortises on corpora the broadcast path couldn't hold anyway.
    *
    * The chooser ([[fitsInBroadcast]]) costs O(broadcastMaxRows), NOT a
    * corpus scan, and its decision is exact, never sampled.
    */
  def cosineNearDupPairsAuto(df: DataFrame, threshold: Double,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             broadcastMaxRows: Long = 100000): DataFrame =
    if (fitsInBroadcast(df, idCol, broadcastMaxRows))
      cosineNearDupPairsBroadcast(df, threshold, idCol, vecCol)
    else
      cosineNearDupPairs(df, threshold, idCol, vecCol)

  /** True iff `df` has ≤ `maxRows` rows, decided without a full scan:
    * exact plan statistics when available, otherwise a bounded
    * [[DriverBudget.probe]] (incremental executeTake — NOT
    * `limit().count()`, whose LocalLimit still launches a task per
    * partition). Records the "fitsInBroadcast" decision. Package-visible
    * for the spec that asserts the probe's task count stays independent
    * of partition count.
    */
  private[graft] def fitsInBroadcast(df: DataFrame, idCol: String, maxRows: Long): Boolean = {
    val (size, fits) = df.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(n) => (Some(n.min(BigInt(Long.MaxValue)).toLong), n <= BigInt(maxRows))
      case None =>
        val probe = DriverBudget.probe(df.select(idCol), maxRows)
        (probe.map(_.length.toLong), probe.isDefined)
    }
    DriverBudget.record(DriverBudget.Decision("fitsInBroadcast", size, maxRows,
      if (fits) "broadcast" else "blocked"))
    fits
  }

  /** Exact cosine near-dup pairs, broadcast form — the small-corpus fast
    * path: for a corpus whose (id, vector, norm) fits in executor memory,
    * broadcast the corpus once, stream the rows, and run the O(n²/2)
    * scoring as a tight per-partition loop with precomputed norms — zero
    * allocation per scored pair. (The DataFrame BNLJ form of this join
    * deserialises both arrays per pair and GC-thrashes at millions of
    * pairs.) Beyond broadcastable size use `cosineNearDupPairs`, which
    * produces identical output without materialising the corpus anywhere.
    */
  def cosineNearDupPairsBroadcast(df: DataFrame, threshold: Double,
                                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    val vecs = df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    val corpus = vecs.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast((corpus, corpus.map(c => norm(c._2))))
    vecs.repartition(parallelism).flatMap { case (ida, va) =>
      val (corp, ns) = bc.value
      val sqna = norm(va)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var j = 0
      while (j < corp.length) {
        val (idb, vb) = corp(j)
        if (idb > ida) {
          val sim = dot(va, vb) / (sqna * ns(j))
          if (sim >= threshold) out += ((ida, idb, sim))
        }
        j += 1
      }
      out
    }.toDF("id_a", "id_b", "sim")
  }
}
