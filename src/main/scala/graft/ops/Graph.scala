package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph analytics over DataFrame edge lists — the iterative-join
  * formulation (each superstep is one join + one aggregate), which is
  * exactly how Pregel-style systems lower onto a relational engine.
  * Connected components live in [[Dedup.clusters]]; this object holds
  * the rank-propagation family.
  */
object Graph {

  /** PageRank with INTEGER micro-rank units — weighted, damping 0.85,
    * a fixed number of supersteps.
    *
    * Floating-point PageRank sums doubles in partition order, so two
    * runs of the same query can disagree in the last ulp and no SQL
    * twin can be hash-exact. Instead every quantity here is a long:
    * ranks start at 1 000 000 micro-units, a node's contribution along
    * an edge is `(rank · w) div W` (truncating integer division,
    * positive everywhere so trunc = floor in both engines), and the
    * damped update is `150000 + (85 · Σcontrib) div 100`. Integer sums
    * are associative and commutative, so the result is bit-identical
    * under any partitioning — the same quantise-once discipline the
    * text stack uses (t9/t15/t19). The ~1e-6 quantisation error per
    * step is far below the damping contraction and irrelevant to
    * ranking order.
    *
    * Scale shape: the edge relation — the 100 TB side — is shuffled
    * ONCE: repartitioned by `src` with its out-weight pre-joined, then
    * persisted; each superstep's rank join arrives already co-located
    * (the cached exchange is reused, only the node-scale rank relation
    * moves), and the contribution aggregate map-side-combines before
    * its node-keyed shuffle. Driver holds nothing; supersteps are
    * fixed-count so the unrolled plan stays bounded.
    *
    * `edges` must be the DIRECTED edge list (callers symmetrise first
    * for undirected graphs). Output: `(node, rank_micro)`.
    */
  def pageRank(edges: DataFrame, iters: Int,
               srcCol: String = "src", dstCol: String = "dst",
               wCol: String = "w",
               driverWalkMaxEdges: Long = DriverBudget.graphWalkEdges(1L << 17)): DataFrame = {
    require(iters >= 1 && iters <= 20, "pageRank: iters must be in 1..20")
    // `e` feeds the walk PROBE, the out-weight aggregate, the ew join
    // AND the node set — without a persist each consumer re-derives the
    // caller's whole edge construction (for g1: the fact join + pair
    // aggregate, twice per use through the symmetrising union —
    // measured 32s → 5s at sf0.1). Persisting BEFORE the probe also
    // means a declined walk costs no second construction pass: the
    // probe's counting pass materialises the same cache the
    // distributed plan reads.
    val e = OpCaches.persist(Partitioning.ensureParallelism(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))))
    walkedPageRank(e, iters, driverWalkMaxEdges) match {
      case Some(done) => return done
      case None       => ()
    }
    // `wsum`, not `W`: Spark resolution is case-insensitive by default,
    // so `w`/`W` in one relation would be an ambiguous reference
    val outw = e.groupBy("src").agg(sum("w").as("wsum"))
    // partitioned AND sorted by src: the cache reports its ordering, so
    // each superstep's sort-merge join streams the edges without
    // re-sorting them (only the node-scale rank side sorts per step)
    val ew = OpCaches.persist(
      e.join(outw, "src").repartition(col("src")).sortWithinPartitions("src"))
    val nodes = OpCaches.persist(e.select(col("src").as("node")).distinct())
    var rank = nodes.withColumn("rank_micro", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(rank.select(col("node").as("src"), col("rank_micro")), "src")
        .select(col("dst").as("node"),
          expr("(rank_micro * w) DIV wsum").as("c"))
      val inflow = contrib.groupBy("node").agg(sum("c").as("s"))
      rank = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100"))
            .as("rank_micro"))
    }
    // the supersteps nest lazily into ONE plan — fine at the enforced
    // iters ≤ 20 (measured: the cost of a cold run is per-stage codegen,
    // not planning depth). An unbounded-iteration loop would need the
    // per-round checkpoint discipline Dedup.clusters already implements.
    rank
  }

  /** Guarded driver walk for pageRank — the g2/g5 chooser applied to
    * the superstep loop: a fixture-scale graph pays ~0.25s of scheduled
    * stage/codegen overhead PER SUPERSTEP in the unrolled join plan
    * (g1: 5.3s at sf0.1 for a ~3k-edge graph), so one count aggregate
    * sizes the edge list (and finds null endpoints or weights) and,
    * when it fits ([[DriverBudget.fits]]), the identical integer
    * recursion runs in memory: contributions `(rank·w) DIV wsum`,
    * update `150000 + (85·Σ) DIV 100` — Long truncating division and
    * exact multiply/add, spec-asserted walk == distributed. Declines
    * (`None` → distributed plan) on: more than `maxEdges` edges, null
    * endpoints or weights (the distributed plan's join/agg
    * null-dropping is subtle — not worth mirroring), ids the type
    * guard rejects ([[walkableIds]]), zero out-weight sums (division semantics stay the distributed
    * plan's), and Long OVERFLOW anywhere in the recursion: the session
    * may run ANSI (Spark 4 default — the distributed plan throws the
    * same way) or non-ANSI (where `rank_micro * w` silently wraps);
    * either way the walk must not introduce a THIRD behaviour, so any
    * ArithmeticException declines and the distributed plan's own
    * overflow semantics — whatever the session configured — apply.
    *
    * `e` must be the normalised (src, dst, w:long) relation — pageRank
    * persists it before probing, so a declined walk has already warmed
    * the cache the distributed plan reads (no second construction
    * pass of the caller's edge derivation). Records the "pageRank"
    * [[DriverBudget.Decision]].
    */
  private def walkedPageRank(e: DataFrame, iters: Int,
                             maxEdges: Long): Option[DataFrame] = {
    val fields = e.schema.fields
    val ids = walkableIds(fields(0).dataType, fields(1).dataType)
    // ONE cache-building aggregate answers edge count AND null
    // presence (count(col) skips nulls — a mismatch vs count(*) means
    // some endpoint/weight is null, which declines: the distributed
    // plan's join/agg null-dropping is subtle, not worth mirroring).
    // Not head(bound+1): executeTake grows its partition set in waves
    // (1, 4, 16, …) — sequential job launches — while this is one
    // fully-parallel pass that also materialises the whole cache, so a
    // DECLINED walk hands the distributed plan a fully-warm cache.
    val cnts = if (maxEdges <= 0 || ids.isEmpty) None
      else Some(e.agg(count(lit(1)), count(col(fields(0).name)),
        count(col(fields(1).name)), count(col(fields(2).name))).head())
    val n = cnts.map(_.getLong(0))
    val nullFree = cnts.exists(c => (1 to 3).forall(c.getLong(_) == c.getLong(0)))
    if (!nullFree || !DriverBudget.fits(n.get, maxEdges)) {
      DriverBudget.recordWalk("pageRank", n, maxEdges, walked = false)
      return None
    }
    val spark = e.sparkSession
    val m = n.get.toInt
    val nodeType = fields(0).dataType
    val c0 = col(fields(0).name); val c1 = col(fields(1).name)
    val cw = col(fields(2).name)
    // INDEXED-ARRAY recursion (round 11): the original HashMap[Any,_]
    // form spent most of g1's wall time boxing through
    // iters × |edges| map lookups (measured ~1.5s of the 2.4s at
    // sf0.1's 2.34M edges). Nodes are interned once into a dense int
    // index (src AND dst — inflow must accumulate for non-source
    // destinations exactly like the HashMap did, so an overflow there
    // still declines identically), then every superstep is three flat
    // array passes. Semantics are bit-identical: same exact
    // (throwing) multiply/add, same truncating divisions, same
    // source-only output. Integral ids take a typed (Long) collect —
    // cheaper rows, primitive index — and the output column casts back
    // to the declared node type (values originated there, so the cast
    // is exact); strings keep the generic Row path.
    val walked = if (ids.get) {
      import spark.implicits._
      val tup = e.select(c0.cast("long"), c1.cast("long"), cw)
        .as[(Long, Long, Long)].collect()
      walkLongEdges(spark, tup, iters, nodeType)
    } else {
      val probe = e.collect()
      val srcI = new Array[Int](m); val dstI = new Array[Int](m)
      val w = new Array[Long](m)
      val index = new java.util.HashMap[Any, Integer](m * 2)
      val vals = new scala.collection.mutable.ArrayBuffer[Any]
      def idxOf(a: Any): Int = {
        val got = index.get(a)
        if (got != null) got.intValue
        else { val i = vals.length; index.put(a, i); vals += a; i }
      }
      var p = 0
      while (p < m) {
        val r = probe(p)
        srcI(p) = idxOf(r.get(0)); dstI(p) = idxOf(r.get(1)); w(p) = r.getLong(2)
        p += 1
      }
      runWalk(spark, srcI, dstI, w, vals.toIndexedSeq, nodeType, nodeType, iters)
    }
    DriverBudget.recordWalk("pageRank", n, maxEdges, walked.isDefined)
    walked
  }

  /** The walks' TYPE GUARD, on the SCHEMA (one column = one runtime
    * class): Some(true) for integral ids of one type, Some(false) for
    * string ids, None otherwise. Only for those does HashMap/array
    * equality and the walks' ordering provably match Spark's grouping
    * and least/greatest; decimals (scale-sensitive equality, BigDecimal
    * vs string order), floats (-0.0/NaN), dates, binary and mixed
    * integral widths (a boxed Integer never equals a boxed Long) decline
    * to the distributed plan.
    */
  private def walkableIds(a: DataType, b: DataType): Option[Boolean] = {
    def integral(dt: DataType): Boolean = dt == LongType ||
      dt == IntegerType || dt == ShortType || dt == ByteType
    if (a == b && integral(a)) Some(true)
    else if (a == StringType && b == StringType) Some(false)
    else None
  }

  /** The indexed-array walk over an ALREADY-COLLECTED Long edge list —
    * package-private so a caller that can hand the driver its edges
    * more cheaply than the generic probe + collect reuses the exact
    * recursion (g1: the raw fact-join rows are HALF the symmetrised
    * edge relation the generic path would collect, and the pair
    * aggregate collapses to a driver hash map). Same decline contract
    * as the generic walk: None on zero out-weight sums or Long
    * overflow — the caller falls back to the distributed plan and ITS
    * (session-configured) semantics.
    */
  private[graft] def walkLongEdges(spark: SparkSession,
                                   tup: Array[(Long, Long, Long)], iters: Int,
                                   declaredType: DataType = LongType): Option[DataFrame] = {
    val m = tup.length
    val srcI = new Array[Int](m); val dstI = new Array[Int](m)
    val w = new Array[Long](m)
    val index = new scala.collection.mutable.LongMap[Int](m * 2)
    val vals = new scala.collection.mutable.ArrayBuffer[Long]
    def idxOf(a: Long): Int = index.getOrElse(a, {
      val i = vals.length; index.update(a, i); vals += a; i
    })
    var p = 0
    while (p < m) {
      val t = tup(p)
      srcI(p) = idxOf(t._1); dstI(p) = idxOf(t._2); w(p) = t._3
      p += 1
    }
    runWalk(spark, srcI, dstI, w, vals.toIndexedSeq, LongType, declaredType, iters)
  }

  /** The shared recursion + result build behind both walk entry points:
    * interned edges in, `Some(node, rank_micro)` out, None on any
    * ArithmeticException or zero out-weight sum (decline — never a
    * third overflow behaviour next to ANSI-throw and non-ANSI-wrap).
    */
  private def runWalk(spark: SparkSession,
                      srcI: Array[Int], dstI: Array[Int], w: Array[Long],
                      nodeVals: IndexedSeq[Any], builtType: DataType, nodeType: DataType,
                      iters: Int): Option[DataFrame] = {
    val m = srcI.length
    val total = nodeVals.length
    val isSrc = new Array[Boolean](total)
    val wsum = new Array[Long](total)
    var rank = new Array[Long](total)
    try {
      var i = 0
      while (i < m) {
        wsum(srcI(i)) = Math.addExact(wsum(srcI(i)), w(i))
        isSrc(srcI(i)) = true
        i += 1
      }
      // a zero out-weight sum divides by zero in the contribution step —
      // decline and let the distributed plan apply ITS division
      // semantics rather than mirror them speculatively
      i = 0
      while (i < total) {
        if (isSrc(i) && wsum(i) == 0L) return None
        rank(i) = 1000000L
        i += 1
      }
      for (_ <- 1 to iters) {
        val inflow = new Array[Long](total)
        var j = 0
        while (j < m) {
          val c = Math.multiplyExact(rank(srcI(j)), w(j)) / wsum(srcI(j))
          inflow(dstI(j)) = Math.addExact(inflow(dstI(j)), c)
          j += 1
        }
        val next = new Array[Long](total)
        var k = 0
        while (k < total) {
          // update only SOURCE nodes (they are the output and the only
          // rank reads); a non-source 85·inflow product must not add an
          // overflow the HashMap form never computed
          if (isSrc(k))
            next(k) = 150000L + Math.multiplyExact(85L, inflow(k)) / 100L
          k += 1
        }
        rank = next
      }
    } catch {
      // Long overflow in rank·w / Σw / Σ inflow: decline rather than
      // pick a wrap-vs-throw behaviour — the distributed plan applies
      // the session's own (ANSI or not) overflow semantics
      case _: ArithmeticException => return None
    }
    // integral ids were interned as Long — emit LongType and cast back
    // to the declared node type (exact: the values originated there)
    val schema = StructType(Seq(
      StructField("node", builtType, nullable = true),
      StructField("rank_micro", LongType, nullable = true)))
    val rows: java.util.List[Row] = new java.util.ArrayList(total)
    var o = 0
    while (o < total) {
      if (isSrc(o)) rows.add(Row(nodeVals(o), rank(o)))
      o += 1
    }
    val built = spark.createDataFrame(rows, schema)
    Some(if (builtType == nodeType) built
         else built.select(col("node").cast(nodeType).as("node"), col("rank_micro")))
  }

  /** Exact triangle count with DEGREE ORIENTATION (Suri &
    * Vassilvitskii, WWW 2011 — the MapReduce-era trick that makes
    * distributed triangle counting survive skew): each undirected edge
    * orients from its lower-(degree, id) endpoint, so every triangle
    * is generated exactly once and the wedge join's candidate volume
    * is Σ outdeg² with outdeg = O(√m) — a celebrity node with a
    * million neighbours produces almost no wedges because nearly all
    * its edges point IN.
    *
    * Shuffle shape: degree = one mergeable aggregate; orientation is a
    * narrow map after two degree joins; wedges are a self-join of the
    * oriented edges on src; the close check is ONE equi-join (the
    * wedge endpoints canonicalise by the same (degree, id) order the
    * orientation used, so the closing edge's direction is known —
    * never an OR-condition join). All counts integer-exact.
    *
    * `edges` is undirected input (any direction, duplicates fine).
    * Returns one row: (n_nodes, n_edges, n_triangles).
    */
  def triangleCount(edges: DataFrame,
                    srcCol: String = "src", dstCol: String = "dst",
                    driverWalkMaxEdges: Long = DriverBudget.graphWalkEdges(1L << 17)): DataFrame = {
    walkedTriangles(edges, srcCol, dstCol, driverWalkMaxEdges) match {
      case Some((nEdges, degs, tris)) =>
        val spark = edges.sparkSession
        import spark.implicits._
        Seq((degs.size.toLong, nEdges, tris.size.toLong))
          .toDF("n_nodes", "n_edges", "n_triangles")
      case None =>
        val (norm, deg, triangles) = orientedTriangles(edges, srcCol, dstCol)
        norm.agg(count(lit(1)).as("n_edges"))
          .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
          .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
          .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
    }
  }

  /** Guarded driver walk for the triangle core: a fixture-scale graph
    * pays seconds of scheduled-stage overhead in the distributed wedge
    * join (measured: g2 5.2s / g5 3.4s at sf0.1 for a ~3k-edge affinity
    * graph), so when the ids pass [[walkableIds]] ONE bounded probe
    * sizes the edge list and, when it fits, the identical
    * degree-oriented wedge algorithm (normalise u<v distinct → degree →
    * orient by (deg, id) → wedge + close, spec-identical to the
    * distributed plan) runs in memory. Returns (n_edges, degree map,
    * triangle list), or `None` for the distributed plan; records the
    * "triangles" [[DriverBudget.Decision]].
    */
  private def walkedTriangles(edges: DataFrame, srcCol: String, dstCol: String,
                              driverWalkMaxEdges: Long)
      : Option[(Long, Map[Any, Long], Seq[(Any, Any, Any)])] = {
    val proj = edges.select(col(srcCol), col(dstCol))
    val ids = walkableIds(proj.schema(0).dataType, proj.schema(1).dataType)
    val probed = ids.flatMap(_ => DriverBudget.probe(proj, driverWalkMaxEdges))
    DriverBudget.recordWalk("triangles", probed.map(_.length.toLong), driverWalkMaxEdges,
      probed.isDefined)
    if (probed.isEmpty) return None
    val probe = probed.get
    val allIntegral = ids.get
    def lt(a: Any, b: Any): Boolean =
      if (allIntegral) a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
      else a.asInstanceOf[String] < b.asInstanceOf[String]
    val norm = probe.iterator
      .map(r => (r.get(0), r.get(1)))
      // drop self-loops AND null endpoints — the distributed plan's
      // least/greatest skip nulls, collapsing such edges to u == v
      .filter { case (u, v) => u != null && v != null && u != v }
      .map { case (u, v) => if (lt(u, v)) (u, v) else (v, u) }
      .toSet
    val deg = scala.collection.mutable.HashMap.empty[Any, Long]
    norm.foreach { case (u, v) =>
      deg(u) = deg.getOrElse(u, 0L) + 1
      deg(v) = deg.getOrElse(v, 0L) + 1
    }
    def orientLt(a: Any, b: Any): Boolean = {
      val da = deg(a); val db = deg(b)
      da < db || (da == db && lt(a, b))
    }
    val out = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    norm.foreach { case (u, v) =>
      val (s, d) = if (orientLt(u, v)) (u, v) else (v, u)
      out.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += d
    }
    val oriented = out.iterator.flatMap { case (s, ds) => ds.map(d => (s, d)) }.toSet
    val tris = scala.collection.mutable.ArrayBuffer.empty[(Any, Any, Any)]
    out.foreach { case (apex, ds) =>
      val sorted = ds.sortWith(orientLt).toIndexedSeq
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length) {
          if (oriented.contains((sorted(i), sorted(j)))) tris += ((apex, sorted(i), sorted(j)))
          j += 1
        }
        i += 1
      }
    }
    Some((norm.size.toLong, deg.toMap, tris.toSeq))
  }

  /** Shared core of [[triangleCount]] / [[clusteringCoefficient]]:
    * normalised undirected edges, per-node degrees, and the triangle
    * relation `(apex, lo, hi)` — each triangle exactly once from its
    * orientation-minimal apex, wedge volume Σ outdeg².
    */
  private def orientedTriangles(edges: DataFrame, srcCol: String,
                                dstCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val norm = OpCaches.persist(Partitioning.ensureParallelism(
      edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()))
    val deg = norm.select(col("u").as("n"))
      .unionAll(norm.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // orient u–v from the lower (deg, id) endpoint; carry the dst's
    // (deg, id) so wedges can canonicalise their closing edge
    val oriented = OpCaches.persist(norm
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d"),
            col("dv").as("dd")))
          .otherwise(struct(col("v").as("s"), col("u").as("d"),
            col("du").as("dd"))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"), col("e.dd").as("ddeg")))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.ddeg") < col("y.ddeg") ||
            (col("x.ddeg") === col("y.ddeg") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("apex"), col("x.dst").as("lo"), col("y.dst").as("hi"))
    val triangles = wedges.join(oriented,
      col("lo") === col("src") && col("hi") === col("dst"), "left_semi")
    (norm, deg, triangles)
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — "how much of my
    * neighbourhood knows each other", the community-structure /
    * spam-graph signal: `c(v) = 2·T(v) / (deg(v)·(deg(v)−1))` in
    * integer per-mille (NULL below degree 2 — no pair to close).
    * Triangles come from the same degree-oriented wedge join as
    * [[triangleCount]] (each triangle once, volume Σ outdeg²); the
    * per-node tally is one explode of the triangle's three corners +
    * one mergeable count — a triangle relation is sparse-graph-sized,
    * never corpus-sized.
    */
  def clusteringCoefficient(edges: DataFrame,
                            srcCol: String = "src",
                            dstCol: String = "dst",
                            driverWalkMaxEdges: Long = DriverBudget.graphWalkEdges(1L << 17)): DataFrame = {
    walkedTriangles(edges, srcCol, dstCol, driverWalkMaxEdges) match {
      case Some((_, degs, tris)) =>
        val spark = edges.sparkSession
        val triPerNode = scala.collection.mutable.HashMap.empty[Any, Long]
        tris.foreach { case (a, b, c) =>
          Seq(a, b, c).foreach(n => triPerNode(n) = triPerNode.getOrElse(n, 0L) + 1) }
        // mirror the distributed schema exactly: node is
        // least(src, dst), so its nullability is src OR dst nullable
        val srcF = edges.select(col(srcCol)).schema.head
        val dstF = edges.select(col(dstCol)).schema.head
        val schema = StructType(Seq(
          StructField("node", srcF.dataType, nullable = srcF.nullable || dstF.nullable),
          StructField("degree", LongType, nullable = false),
          StructField("n_triangles", LongType, nullable = false),
          StructField("coeff_pm", LongType, nullable = true)))
        val rows = degs.toSeq.map { case (n, d) =>
          val t = triPerNode.getOrElse(n, 0L)
          val coeff: Any = if (d >= 2) Long.box(t * 2000 / (d * (d - 1))) else null
          Row(n, d, t, coeff)
        }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      case None =>
        val (_, deg, triangles) = orientedTriangles(edges, srcCol, dstCol)
        val perNode = triangles
          .select(explode(array(col("apex"), col("lo"), col("hi"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("tri"))
        deg.join(perNode, Seq("n"), "left")
          .select(col("n").as("node"), col("deg").as("degree"),
            coalesce(col("tri"), lit(0L)).as("n_triangles"))
          .withColumn("coeff_pm",
            when(col("degree") >= 2,
              expr("(n_triangles * 2000) DIV (degree * (degree - 1))")))
    }
  }

  /** Multi-source BFS reachability: the minimum hop count from the
    * SEED set for every node within `maxHops` hops along DIRECTED
    * edges — `(node, hop)`, seeds at hop 0, unreached nodes absent.
    *
    * Frontier-style: each round expands only the PREVIOUS round's
    * newly-reached nodes (a node re-reached later can never improve
    * its hop count, so the anti join both dedups and prunes), which is
    * what keeps round r's join volume |frontier_r| · outdeg instead of
    * |reached| · outdeg.
    *
    * Scale shape (the pageRank discipline): the 100 TB edge relation
    * is repartitioned by src and sorted ONCE and persisted — every
    * round's sort-merge join streams the cached edges while only the
    * node-scale frontier shuffles. Rounds nest lazily into one plan,
    * fine at the enforced maxHops ≤ 20 (the unbounded form would need
    * `Dedup.clusters`' per-round checkpoint discipline).
    */
  def kHop(edges: DataFrame, seeds: DataFrame, maxHops: Int,
           srcCol: String = "src", dstCol: String = "dst",
           seedCol: String = "node",
           driverWalkMaxEdges: Long = DriverBudget.graphWalkEdges(1L << 20)): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20, "kHop: maxHops must be in 1..20")
    val spark = edges.sparkSession
    val eProj = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // guarded driver walk: a DataFrame round over a small graph costs
    // seconds in scheduled-stage overhead (measured 9.2s for 3 rounds on
    // ~3k cached edges vs 0.1s walked), so when the edges and then the
    // seeds fit one bounded probe each, the whole BFS runs in memory.
    // Node values are read generically and the output carries the
    // edge relation's own node type, so both walks type identically.
    val probes = for {
      es <- DriverBudget.probe(eProj, driverWalkMaxEdges)
      ss <- DriverBudget.probe(seeds.select(col(seedCol).as("node")), driverWalkMaxEdges)
    } yield (es, ss)
    DriverBudget.recordWalk("kHop",
      probes.map { case (es, ss) => math.max(es.length, ss.length).toLong },
      driverWalkMaxEdges, probes.isDefined)
    probes match {
      case Some((probeEdges, seedRows)) =>
        val adj = probeEdges.toSeq.groupBy(_.get(0))
          .map { case (k, rs) => k -> rs.map(_.get(1)) }
        val hops = scala.collection.mutable.LinkedHashMap[Any, Int]()
        seedRows.foreach(r => hops.getOrElseUpdate(r.get(0), 0))
        var frontier: Seq[Any] = hops.keys.toSeq
        for (h <- 1 to maxHops) {
          val next = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
            .distinct.filterNot(hops.contains)
          next.foreach(n => hops(n) = h)
          frontier = next
        }
        val schema = StructType(Seq(
          StructField("node", eProj.schema("src").dataType, nullable = true),
          StructField("hop", IntegerType, nullable = false)))
        return spark.createDataFrame(spark.sparkContext.parallelize(
          hops.toSeq.map { case (n, h) => Row(n, h) }, 1), schema)
      case None => ()
    }
    // distributed fallback — the 100 TB shape: edges repartitioned by
    // src and sorted ONCE (every round's sort-merge join streams the
    // cache; only the node-scale frontier shuffles per round)
    val e = OpCaches.persist(Partitioning.ensureParallelism(eProj)
      .repartition(col("src")).sortWithinPartitions("src"))
    var reached = OpCaches.persist(
      seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("hop", lit(0)))
    var frontier = reached.select("node")
    for (h <- 1 to maxHops) {
      val next = OpCaches.persist(
        frontier.withColumnRenamed("node", "src")
          .join(e, "src")
          .select(col("dst").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti")
          .withColumn("hop", lit(h)))
      reached = OpCaches.persist(reached.unionByName(next))
      frontier = next.select("node")
    }
    reached
  }
}
