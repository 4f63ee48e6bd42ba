package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table.
  *
  * Exact dedup is a single hash-aggregate on a digest key: one shuffle
  * of (16-byte key, id), with map-side partial aggregation.
  *
  * Every near-dup join is a CANDIDATE GENERATOR followed by shared
  * stages, so each generator only decides which pairs to propose:
  *  - shingling ([[shingles]], `withShingles`) and one `xxhash64` per
  *    shingle (`shingleHashes`) feed MinHash and SimHash alike;
  *  - MinHash generators (d2, d6, d18's screen) share one LSH
  *    band-bucket stage (`bandBuckets`) and differ only in the member
  *    a bucket collects and how its pairs expand;
  *  - SimHash (d3) and the 64-bit image hash (mm6) share one
  *    pigeonhole Hamming join (`hammingPairs`);
  *  - the exact count plans (d4, d18, d9) share one token self-join
  *    co-occurrence count (`cooccurrence`), and the d4/d18 choosers one
  *    candidate-volume measure (`countPlanWithinBudget`);
  *  - candidates are VERIFIED on the two shingle sets joined back
  *    (`withShingleArrays`): exact Jaccard (`verifyByJaccard`) or
  *    exact containment (`verifyByContainment`), so a near-dup join's
  *    output equals the exact threshold join up to the blocking
  *    recall, which is what makes it oracle-checkable.
  *
  * Execution-shape note: signatures are computed via explode →
  * codegen'd xxhash64 → groupBy partial-aggregate, NOT via nested
  * higher-order functions. Nested `transform(..., i => f(outerExpr))`
  * re-evaluates `outerExpr` per lambda element in the interpreter — a
  * k× blow-up that keeps the stage out of WholeStageCodegen. The
  * explode/agg form keeps every operator (hash, min, bit-count) inside
  * codegen and the only shuffle is the doc-keyed aggregate.
  */
object Dedup {

  /** Word n-gram size of every shingle-based near-dup operator. */
  private val ShingleN = 3

  /** MinHash signature length: 16 bands × 4 rows for the d2/d6 joins,
    * 32 bands × 2 rows for d18's wider screen.
    */
  private val MinHashK = 64

  /** Largest estimated eval-gram payload [[contamination]] broadcasts. */
  private val EvalBroadcastMaxBytes = 64L << 20

  /** [[cdcChunkStats]]: boundary gram size and expected chunk length. */
  private val CdcGram = 3
  private val CdcDivisor = 16

  /** Distinct word n-gram shingles, first-occurrence order. Whitespace
    * tokenisation identical to `TextAnalysis.tokens` (split `\s+`, drop
    * empties).
    */
  def shingleKernel(text: String, n: Int): Array[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](0))
  }

  /** Distinct word n-gram shingles of a document.
    *
    * Implemented as a JVM kernel behind a UDF rather than
    * `transform`/`slice`/`concat_ws` composition: a higher-order-function
    * lambda re-evaluates every outer sub-expression (here: the whole
    * tokenisation) once per produced element in the interpreter, turning
    * an O(tokens) kernel into O(tokens²) — measured 100× slower than
    * this loop at 5k docs.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val u = udf((t: String) => shingleKernel(t, n))
    u(text)
  }

  /** Exact dedup: group by normalised-content digest
    * (`TextAnalysis.fingerprint`), keep the smallest id as the canonical
    * representative. One shuffle on a 16-byte key.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Exact-dedup keep-canonical over FULL rows: for each distinct
    * dedup key, the surviving row is the one with the smallest id —
    * computed as ONE mergeable aggregate, `groupBy(key).agg(min(struct
    * (id, rest…)))`, never a `row_number` window partitioned by the
    * key. The distinction is the whole point at scale: a window
    * funnels every row of a hot key (a viral boilerplate document
    * duplicated millions of times) through a single task, while the
    * aggregate's partial step collapses that key to one row PER INPUT
    * PARTITION map-side, so the shuffle moves one row per (key,
    * partition) and no task ever sees the duplicate mass. Output rows
    * and column order are identical to the window formulation (the id
    * leads the struct, so struct-min ≡ min-id row).
    */
  def exactCanonicalRows(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val fields = df.columns.toIndexedSeq
    val ordered = col(idCol) +: fields.filterNot(_ == idCol).map(col)
    df.groupBy(key.as("__fp"))
      .agg(min(struct(ordered: _*)).as("__row"))
      .select(fields.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** Exact Jaccard between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** (id, sh) with non-empty distinct-shingle arrays. Repartitioned to
    * the cluster's parallelism: fixture tables arrive as one row-group
    * (one input split), and without this every downstream CPU-heavy
    * narrow chain runs on a single core. At real scale the source has
    * many splits and this is a cheap no-op-sized shuffle of raw text.
    */
  private def withShingles(df: DataFrame, idCol: String, textCol: String) = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // hash-partition by id (not round-robin): downstream per-doc
    // aggregations (minhash mins, simhash bit sums) then combine entirely
    // map-side — the signature groupBy shuffles one row per doc instead
    // of one partial row per (doc, partition)
    df.select(col(idCol).as("id"), col(textCol).as("t"))
      .repartition(parallelism, col("id"))
      .select(col("id"), shingles(col("t"), ShingleN).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** `(id, h)`: each shingle of `sh` hashed ONCE with codegen'd
    * xxhash64 — the input of every MinHash and SimHash signature. The
    * signature families derive their members from `h` (the 8-byte
    * long), never by re-hashing the string bytes.
    */
  private[graft] def shingleHashes(sh: DataFrame): DataFrame =
    sh.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))

  /** The LSH band-bucket stage of every MinHash generator: per-doc
    * band keys (`MinHashBandsAgg`, one partial+final aggregate on doc
    * id), stacked with their band index, grouped per (band index, band
    * hash) bucket. Each bucket collects `member` (a named expression
    * over `id`) into the sorted array `ms`; singleton buckets are
    * dropped. One shuffle (the bucket groupBy) over O(docs × bands)
    * tiny rows.
    */
  private def bandBuckets(sh: DataFrame, rowsPerBand: Int, member: Column): DataFrame = {
    val minhashBands = graft.functions.MinHashBandsAgg(MinHashK, rowsPerBand)
    val banded = shingleHashes(sh)
      .groupBy("id").agg(minhashBands(col("h")).as("bands"))
      .select(member, posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    banded.groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col(banded.columns.head))).as("ms"))
      .filter(size(col("ms")) > 1)
  }

  /** Candidate pairs from LSH banding: every pair of docs sharing a
    * band bucket, `id_a < id_b`. ONE signature computation — a band-key
    * self-join would re-run the whole signature pipeline for its second
    * side. In-bucket pair expansion is O(Σ bucket²), bounded by LSH
    * bucket sizes, not table size.
    */
  def minhashCandidates(sh: DataFrame, rowsPerBand: Int = 4): DataFrame = {
    val buckets = bandBuckets(sh, rowsPerBand, col("id"))
    // all ordered pairs within a bucket: for each position i, pair with
    // every later element (lambda references only bound vars — cheap)
    val pairs = buckets.select(explode(flatten(
      transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
    pairs.select(col("p.id_a"), col("p.id_b")).distinct()
  }

  /** The verify stage's input: each candidate pair joined back to its
    * two shingle arrays, `sh_a` and `sh_b`.
    */
  private def withShingleArrays(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")

  private def verifyByJaccard(cands: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    withShingleArrays(cands, sh)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** MinHash LSH near-dup join, verified: candidates whose EXACT 3-gram
    * shingle Jaccard ≥ threshold. Output is deterministic and equals the
    * exact threshold join (LSH recall at J≥0.8 with 16×4 banding over a
    * 64-member signature ≈ 1-4e-8).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8): DataFrame = {
    // sh appears three times in the final plan (signature pipeline + the
    // two verify joins); persist so tokenisation/shingling runs once.
    // Registered with OpCaches so the session driver can release it
    // after the query's action instead of waiting for LRU eviction.
    val sh = OpCaches.persist(withShingles(df, idCol, textCol))
    verifyByJaccard(minhashCandidates(sh), sh, threshold)
  }

  /** Indexed-array union-find over an in-memory edge list (the
    * walkedPageRank discipline): ids interned once into dense ints,
    * union by SIZE for balanced trees (union-by-min-value builds
    * unbalanced chains: every union of a sorted-ish edge stream points
    * the new root at the global min, and boxed HashMap lookups pay
    * ~10× per find on top — measured minutes at the 10× rehearsal's
    * ~600k-edge graphs), then one labelling pass takes each
    * component's MIN id — bit-identical output to the distributed
    * fixpoint, O(E α(E)) with primitive arrays. Components are
    * invariant to edge direction and multiplicity, so callers may pass
    * the raw pair list or the symmetrized-distinct edge list — same
    * labels either way.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              e: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val m = e.length
    val index = new scala.collection.mutable.LongMap[Int](m * 2)
    val vals = new scala.collection.mutable.ArrayBuffer[Long]
    def idxOf(a: Long): Int = index.getOrElse(a, {
      val i = vals.length; index.update(a, i); vals += a; i
    })
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var p = 0
    while (p < m) { ea(p) = idxOf(e(p).getLong(0)); eb(p) = idxOf(e(p).getLong(1)); p += 1 }
    val n = vals.length
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Int](n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < m) {
      val ra = find(ea(i)); val rb = find(eb(i))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(rb) < rank(ra)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
      i += 1
    }
    val minOf = Array.fill(n)(Long.MaxValue)
    var k = 0
    while (k < n) {
      val r = find(k)
      if (vals(k) < minOf(r)) minOf(r) = vals(k)
      k += 1
    }
    val order = Array.range(0, n)
    val sorted = order.sortBy(vals(_))
    sorted.toSeq.map(ix => (vals(ix), minOf(find(ix))))
      .toDF("doc_id", "cluster_id")
  }

  /** Connected components over near-dup pairs — turns pairwise matches
    * into DUP CLUSTERS so a pipeline can keep one canonical doc per
    * component. Min-label propagation PLUS pointer jumping as a
    * DataFrame fixpoint: each round (a) takes the min label across
    * edges, then (b) path-doubles by replacing every label with its
    * label's label — so label chains halve each round and convergence
    * is O(log diameter) rounds (the classic Shiloach-Vishkin /
    * large-star idea), not O(diameter). Each round is two equi-joins +
    * one metadata-scale convergence count; a 64-node chain converges
    * in 7 rounds (spec-asserted), so maxIter=25 covers components of
    * diameter ≈ 2^24.
    *
    * Output: (doc_id, cluster_id = min doc id in the component), one
    * row per doc that appears in ≥ 1 pair.
    *
    * Durability: when a checkpoint dir is available — passed as
    * `checkpointDir`, or already configured on the SparkContext — each
    * round is materialised RELIABLY as parquet under a unique
    * subdirectory (survives executor loss, the right mode for long
    * fixpoints on a real cluster), keeping at most two rounds on disk:
    * a round's files are deleted as soon as the round after next is
    * safely written (`Dataset.checkpoint` was rejected here — it
    * requires mutating the GLOBAL SparkContext checkpoint dir, and
    * Spark never deletes reliable checkpoints by default, so a long
    * fixpoint would accumulate a full labels copy per round). The final
    * round's parquet backs the returned DataFrame; callers may delete
    * the subdirectory when done with the result. Without a checkpoint
    * dir it falls back to `localCheckpoint` (executor-local blocks:
    * faster, but lost partitions are unrecoverable mid-fixpoint — fine
    * for single-JVM and short-lived jobs).
    *
    * `driverMaxEdges`: cost-based plan chooser. A near-dup pair graph is
    * usually TINY relative to its corpus (pairs are the output of a
    * threshold join), and the distributed fixpoint's per-round cost is
    * fixed overhead (two joins + a checkpoint per round, ~7 rounds) that
    * dwarfs a small graph's actual work. At or below the budget the
    * edge list is collected and solved with union-find on the driver —
    * O(E α(E)), exact same labels (component min). Driver footprint at
    * the full 1M-edge cap ≈ 150-250 MB transient; the default budget is
    * heap-derived downward on small drivers ([[DriverBudget]]). Above
    * it, the O(log d)-round distributed fixpoint runs unchanged — the
    * 100 TB path. At most two bounded probes decide
    * ([[DriverBudget.probe]]): the raw pairs (fit when 2·|pairs| ≤
    * budget), then the persisted symmetrized-distinct edges, whose rows
    * feed the walk. Pass 0 to force the distributed path. The driver
    * path requires BIGINT ids (numeric vs lexicographic min, and the
    * output schema); other ids take the type-agnostic distributed
    * path. The choice, and the fixpoint's labels changed per round, are
    * recorded as the "clusters" [[DriverBudget.Decision]].
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 25, checkpointDir: Option[String] = None,
               driverMaxEdges: Long = DriverBudget.clusterEdges(1L << 20)): DataFrame = {
    val spark = pairs.sparkSession
    val ckBase = checkpointDir.orElse(spark.sparkContext.getCheckpointDir)
      .map(d => s"$d/graft_clusters_${java.util.UUID.randomUUID().toString.take(12)}")
    // persist the pair projection BEFORE mirroring: the union reads
    // `pairs` twice, and unpersisted that re-executes the caller's
    // whole pair pipeline (near-dup join, affinity projection, …) once
    // per direction — the mirror must be a cache flip, not a re-run
    val pp = OpCaches.persist(
      pairs.select(col(idA).as("src"), col(idB).as("dst")))
    val idsAreLong = pp.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // a probe's rows walk only when no id is null
    def walk(rows: Array[org.apache.spark.sql.Row], size: Long): Option[DataFrame] =
      if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else {
        DriverBudget.recordWalk("clusters", Some(size), driverMaxEdges, walked = true)
        Some(driverUnionFind(spark, rows))
      }
    // FAST driver path: union-find components are direction- and
    // multiplicity-invariant, so the UF can run on the RAW pairs (no
    // mirror, no distinct exchange) when 2·|pairs|, a bound on the
    // symmetrized-distinct edge count, fits the budget.
    val rawProbe = if (idsAreLong) DriverBudget.probe(pp, driverMaxEdges / 2) else None
    val rawWalk = rawProbe.flatMap(rows => walk(rows, 2L * rows.length))
    if (rawWalk.isDefined) return rawWalk.get
    val edges = pp
      .union(pp.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeProbe =
      if (idsAreLong && rawProbe.isEmpty) DriverBudget.probe(edges, driverMaxEdges) else None
    val edgeWalk = edgeProbe.flatMap(rows => walk(rows, rows.length.toLong))
    if (edgeWalk.isDefined) { edges.unpersist(); return edgeWalk.get }
    // eager materialisation, NOT persist: each round's plan embeds the
    // previous round's tree ~4× (neighbor join + self-join + convergence
    // check), so without lineage truncation Catalyst analysis time grows
    // exponentially with rounds — checkpointing makes every round's
    // input a flat scan.
    var ckIdx = 0
    def truncate(df: DataFrame): DataFrame = ckBase match {
      case Some(base) =>
        val path = s"$base/r$ckIdx"
        df.write.mode("overwrite").parquet(path)
        // rounds ≤ ckIdx-2 are no longer referenced by any live plan
        // (the round just written read only round ckIdx-1's files)
        if (ckIdx >= 2) {
          val dead = new org.apache.hadoop.fs.Path(s"$base/r${ckIdx - 2}")
          val fs = dead.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(dead, true): Unit
        }
        ckIdx += 1
        spark.read.parquet(path)
      case None => df.localCheckpoint(true)
    }
    var labels = truncate(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    var converged = false
    var it = 0
    val changedLog = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (!converged && it < maxIter) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nl"))
      // the old label rides along so the convergence check is a flat
      // scan of the checkpointed result — no per-round labels join.
      // Propagate-fixpoint is SUFFICIENT: edges are symmetrized, so "no
      // label beat any neighbor's" forces equal labels across every
      // edge, i.e. component-uniform labels (= the component min, since
      // initial labels are the ids themselves and min is preserved).
      val prop = truncate(
        labels.withColumnRenamed("label", "old").join(viaNeighbor, Seq("id"), "left")
          .select(col("id"), col("old"),
            least(col("old"), coalesce(col("nl"), col("old"))).as("label")))
      // full changed-count (not limit(1)): a flat scan of the round's
      // checkpoint, and the number IS the convergence telemetry
      val changed = prop.filter(col("label") =!= col("old")).count()
      changedLog += changed
      if (changed == 0) {
        converged = true
        labels = prop.select(col("id"), col("label"))
      } else {
        // pointer jump: label := label(label). Labels are monotone
        // non-increasing node ids, so the chain is acyclic and doubling
        // halves its depth; a label is always itself a labelled node.
        val p = prop.select(col("id"), col("label"))
        labels = truncate(p.as("a")
          .join(p.select(col("id").as("pid"), col("label").as("plabel")).as("b"),
            col("a.label") === col("b.pid"), "left")
          .select(col("a.id"), least(col("a.label"),
            coalesce(col("b.plabel"), col("a.label"))).as("label")))
      }
      it += 1
    }
    edges.unpersist()
    DriverBudget.record(DriverBudget.Decision("clusters",
      edgeProbe.map(_.length.toLong).orElse(rawProbe.map(2L * _.length)), driverMaxEdges,
      DriverBudget.Distributed, changedLog.toSeq))
    // an unconverged exit means under-merged labels — silently wrong
    // output with no diagnosable cause downstream, so fail loudly
    // (maxIter=25 covers component diameters up to ~2^24; hitting this
    // means the input, not the algorithm, needs a look)
    if (!converged)
      throw new IllegalStateException(
        s"cluster label propagation did not converge within $maxIter rounds; " +
          "raise maxIter or inspect the pair graph for pathological diameter")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Incremental near-dup detection — the daily-increment pattern of a
    * training-data pipeline: find every near-dup pair that TOUCHES the
    * new batch (new-vs-corpus and new-vs-new), without ever re-pairing
    * the existing corpus against itself. Same banding and exact-Jaccard
    * verify as `minhashNearDups`; the only change is in-bucket pair
    * expansion, which anchors on new-batch members — per bucket the
    * cost is O(|new| × |bucket|), not O(|bucket|²), so a small daily
    * batch against a 100 TB corpus does bucket-lookup work proportional
    * to the BATCH, while corpus signatures are a one-time (cacheable,
    * appendable) artifact.
    *
    * `isNew`: predicate over the id column marking new-batch rows.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, ≥ one side new.
    */
  def minhashNearDupsIncremental(df: DataFrame, idCol: String, textCol: String,
                                 isNew: Column => Column,
                                 threshold: Double = 0.8): DataFrame = {
    val sh = OpCaches.persist(withShingles(df, idCol, textCol))
    val buckets = bandBuckets(sh, rowsPerBand = 4,
        member = named_struct(lit("id"), col("id"), lit("nw"), isNew(col("id"))).as("m"))
      .filter(exists(col("ms"), m => m.getField("nw")))
    // anchor expansion on new members: each new doc pairs with every
    // other bucket member; (least, greatest) + distinct dedupes the
    // new-new double count
    val pairs = buckets.select(explode(flatten(
      transform(filter(col("ms"), m => m.getField("nw")), x =>
        transform(filter(col("ms"), y => y.getField("id") =!= x.getField("id")), y =>
          struct(least(x.getField("id"), y.getField("id")).as("id_a"),
            greatest(x.getField("id"), y.getField("id")).as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    verifyByJaccard(pairs, sh, threshold)
  }

  /** Exact 3-gram Jaccard threshold join, count-based: explode shingles,
    * self-join on the shingle, count co-occurrences per pair (this IS the
    * intersection size, since shingle sets are distinct), then join the
    * per-doc set sizes and filter on |∩| / (|A|+|B|-|∩|). One wide
    * shuffle of small (id,id,count) rows — no per-pair array
    * materialisation.
    *
    * This is the exact baseline; its candidate volume grows with
    * Σ df(s)² over shingle frequencies, so at corpus scale prefer
    * `minhashNearDups` (same verified output, O(docs × bands) shuffle) —
    * or extend this one with PPJoin-style prefix filtering (Bayardo et
    * al. WWW 2007), which keeps exactness while pruning frequent-shingle
    * candidates.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8): DataFrame =
    ngramJaccardPairsOnShingles(withShingles(df, idCol, textCol), threshold)

  /** Co-occurrence counts from a pre-exploded `(id, token)` relation
    * plus per-id set sizes `(id, n)`: self-join on the token, count
    * co-occurrences per pair (= |∩|, since token sets are distinct per
    * id), join both sizes. Output `(id_a, id_b, i, na, nb)` with
    * `id_a < id_b`. Shared by the n-gram Jaccard count plan, the containment
    * count plan and the winnowing fingerprint join — one place for the
    * join and its partitioning; each caller adds only its score.
    */
  private def cooccurrence(ex: DataFrame, sizes: DataFrame, tokenCol: String,
                           expectedCandidates: Double = -1.0): DataFrame = {
    // Candidate-volume-aware join partitioning. A token self-join is
    // EXPLOSIVE — output Σ df(df−1)/2 candidates, unbounded relative to
    // its input — but AQE sizes the join's task count from the PRE-join
    // shuffle bytes, so at 100× fixture scale each task partial-
    // aggregates ~15M candidate rows, blows the hash budget and falls
    // back to sort+spill (measured: 10× candidates cost 47× until
    // this). When the caller knows the exact candidate volume (the d4
    // chooser computes it to pick its plan), partition the join FOR
    // that volume: an explicit numPartitions repartition that AQE
    // never coalesces, sized so each task's candidate slice keeps the
    // downstream partial aggregate in memory. The self-join's two
    // sides share one exchange (ReusedExchange), so the extra shuffle
    // is paid once, on the (linear) input, to keep the (quadratic)
    // output off the spill path.
    val exJ = if (expectedCandidates > 0) {
      val perTask = 1.5e6
      val np = math.min(4096.0, math.max(
        ex.sparkSession.sparkContext.defaultParallelism.toDouble,
        math.ceil(expectedCandidates / perTask))).toInt
      ex.repartition(np, col(tokenCol))
    } else ex
    val inter = exJ.as("a").join(exJ.as("b"),
        col(s"a.$tokenCol") === col(s"b.$tokenCol") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
  }

  /** [[cooccurrence]] over the exploded shingle sets of `sh`. */
  private def shingleCooccurrence(sh: DataFrame,
                                  expectedCandidates: Double = -1.0): DataFrame =
    cooccurrence(
      sh.select(col("id"), explode(col("sh")).as("s")),
      sh.select(col("id"), size(col("sh")).as("n")),
      "s", expectedCandidates)

  /** Jaccard |∩| / (na + nb − |∩|) over [[cooccurrence]] rows, kept at
    * ≥ `threshold`: one place for the tie/overflow/threshold semantics.
    */
  private def jaccardFromCounts(co: DataFrame, threshold: Double,
                                outCol: String): DataFrame =
    co.withColumn(outCol,
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
      .filter(col(outCol) >= threshold)
      .select("id_a", "id_b", outCol)

  private def ngramJaccardPairsOnShingles(sh: DataFrame, threshold: Double,
                                          expectedCandidates: Double = -1.0): DataFrame =
    jaccardFromCounts(shingleCooccurrence(sh, expectedCandidates), threshold, "jaccard")

  /** `(s, df_s)`: the document frequency of every shingle of `sh` —
    * the rarest-first order of the prefix plan and the input of the
    * choosers' candidate-volume measure.
    */
  private def shingleFreq(sh: DataFrame): DataFrame =
    sh.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df_s"))

  /** Exact 3-gram Jaccard with PPJoin-style prefix filtering (Bayardo,
    * Ma, Srikant: "Scaling Up All Pairs Similarity Search", WWW 2007):
    * identical output to `ngramJaccardPairs`, far fewer candidates.
    *
    * Under any consistent global shingle order, two sets with
    * J(A,B) ≥ t must share a shingle within each other's first
    * |X| - ⌈t·|X|⌉ + 1 shingles (the "prefix"), so joining on prefix
    * shingles only loses nothing. Ordering by ascending document
    * frequency puts the RAREST shingles in the prefix, which is what
    * collapses the candidate count: the frequent shingles that drive
    * the naive join's Σ df(s)² blow-up never participate.
    *
    * Shuffle shape at scale: one frequency aggregate over exploded
    * shingles, one doc-keyed window to rank each doc's shingles, the
    * prefix self-join (small), then the same verify join as LSH. No
    * global sort — the frequency order is established per-shingle by
    * the join, not by a total rank.
    *
    * When to use which (measured on the sf0.1 fixture, threshold 0.5):
    * this corpus is templated — 27k distinct shingles over 260k
    * occurrences, mean df ≈ 10 — so even "rare" prefix shingles
    * collide broadly (409k candidates for 256 true pairs) and the
    * count-based `ngramJaccardPairs` wins 3×. On a real long-tailed
    * corpus (most shingles df = 1, a frequent head driving Σ df(s)²)
    * the prefix join is the one that survives the scale-up: the head
    * shingles never enter a prefix, while they dominate the naive
    * join's candidate volume. `OpsSpec` asserts both return identical
    * pairs.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              threshold: Double = 0.8): DataFrame = {
    val sh = OpCaches.persist(withShingles(df, idCol, textCol))
    ngramJaccardPairsPrefixOnShingles(sh, shingleFreq(sh), threshold)
  }

  private def ngramJaccardPairsPrefixOnShingles(
      sh: DataFrame, freq: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = sh.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    // rank each doc's shingles rarest-first ((df, s) is a total order
    // because s is unique within a doc) and keep only the prefix
    val ranked = ex.join(freq, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df_s"), col("s"))))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + lit(1))
      .select(col("id"), col("s"))
    val cands = ranked.as("a").join(ranked.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyByJaccard(cands, sh, threshold)
  }

  /** The cost measure of both count-plan choosers (d4, d18): the count
    * join's EXACT candidate volume Σ_s df(s)·(df(s)−1)/2, from the
    * shingle frequency table `freq` of `sh`, or None once it exceeds
    * `candidateBudgetPerDoc` per document. Candidate volume and doc
    * count come from ONE action (single-row aggregates cross-joined):
    * the pre-pass pays one job, not two serial ones, and the caches it
    * reads materialise concurrently. Double arithmetic: Σ df² on a
    * web-scale corpus overflows LONG. Records `op`'s decision: branch
    * "count", or `overBranch` past the budget.
    */
  private def countPlanWithinBudget(op: String, overBranch: String,
                                    freq: DataFrame, sh: DataFrame,
                                    candidateBudgetPerDoc: Long): Option[Double] = {
    val candRow = freq.agg(
      sum(col("df_s").cast("double") * (col("df_s") - 1).cast("double") / 2.0).as("c"))
      .crossJoin(sh.agg(count(lit(1)).as("n")))
      .first()
    val candidates = if (candRow.isNullAt(0)) 0.0 else candRow.getDouble(0)
    val budget = candidateBudgetPerDoc.toDouble * math.max(1L, candRow.getLong(1))
    val fits = candidates <= budget
    DriverBudget.record(DriverBudget.Decision(op, Some(candidates.toLong), budget.toLong,
      if (fits) "count" else overBranch))
    if (fits) Some(candidates) else None
  }

  /** Exact 3-gram Jaccard threshold join with a cost-based plan choice —
    * the shipped default. Both plans produce identical output
    * (spec-asserted); which one is FAST depends on the shingle
    * frequency distribution:
    *
    *  - count-based self-join: candidate volume is exactly
    *    Σ_s df(s)·(df(s)−1)/2 — wins on templated corpora where every
    *    shingle is mid-frequency (this fixture: mean df ≈ 10, measured
    *    3× faster), explodes on long-tailed corpora where a frequent
    *    head drives the sum quadratically;
    *  - PPJoin prefix filtering: frequent shingles never enter a
    *    prefix, so the head can't blow the candidate count — the plan
    *    that survives a 100× scale-up of a real web corpus.
    *
    * The chooser ([[countPlanWithinBudget]]) switches to the prefix
    * plan once candidates exceed `candidateBudgetPerDoc` per document;
    * the frequency table it reads is reused by the prefix plan.
    */
  def ngramJaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double = 0.8,
                            candidateBudgetPerDoc: Long = 4096,
                            maxPairsPerDoc: Option[Int] = None): DataFrame = {
    val sh = OpCaches.persist(withShingles(df, idCol, textCol))
    val freq = OpCaches.persist(shingleFreq(sh))
    val out = countPlanWithinBudget("ngramJaccardPairsAuto", "prefix", freq, sh,
        candidateBudgetPerDoc) match {
      case Some(candidates) =>
        freq.unpersist()
        ngramJaccardPairsOnShingles(sh, threshold, expectedCandidates = candidates)
      case None => ngramJaccardPairsPrefixOnShingles(sh, freq, threshold)
    }
    maxPairsPerDoc.fold(out)(k => capPairsPerDoc(out, col("jaccard"), k))
  }

  /** Per-document OUTPUT BUDGET over a scored pair relation — the
    * contract that keeps an exact threshold join usable on a corpus
    * with a hot template family, where the TRUE pair set (and with it
    * the operator's own output) grows quadratically: a pair survives
    * iff it ranks within the top `k` of EITHER endpoint under
    * (score desc, id_a, id_b) — every document keeps its k best
    * matches (the kNN-graph cap), so output is ≤ k·n rows no matter
    * how degenerate the corpus. The trade, stated plainly: pairs
    * beyond both endpoints' budgets are DROPPED — downstream cluster
    * collapse still finds the component (its top-k spanning edges
    * survive), but exact pair counts are no longer the full relation.
    *
    * Per-doc ranking is the t11 salted two-phase top-k (a hot doc's
    * pairs spread across `saltBuckets` tasks in phase 1; phase 2 ranks
    * the ≤ k·saltBuckets survivors — provably identical to the
    * one-phase window). Deterministic: scores are bit-exact doubles in
    * both engines and ties break on the pair ids.
    */
  private[graft] def capPairsPerDoc(pairs0: DataFrame, score: Column, k: Int,
                                    saltBuckets: Int = 32): DataFrame = {
    require(k > 0 && saltBuckets > 0, "capPairsPerDoc: k and saltBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    // the pair plan feeds BOTH union branches of `sides` AND the final
    // semi-join probe — without a persist the (expensive) pair
    // computation executes three times (measured: d4_jaccard_capped
    // 45.4s vs the uncapped 32.3s at sf1; persisted, the cap costs
    // pair-relation size, not pair-plan re-execution)
    val pairs = OpCaches.persist(pairs0)
    val scored = pairs.select(col("id_a"), col("id_b"), score.as("__s"))
    val sides = scored.select(col("id_a").as("__doc"), col("id_a"), col("id_b"), col("__s"))
      .unionAll(scored.select(col("id_b").as("__doc"), col("id_a"), col("id_b"), col("__s")))
    // salt on the pair (varies within a doc's partition), not the doc
    val salt = graft.ops.Sampling.bucket(col("id_a") + col("id_b"), saltBuckets)
    val local = Window.partitionBy(col("__doc"), salt)
      .orderBy(col("__s").desc, col("id_a"), col("id_b"))
    val global = Window.partitionBy(col("__doc"))
      .orderBy(col("__s").desc, col("id_a"), col("id_b"))
    val kept = sides
      .withColumn("__rn", row_number().over(local)).filter(col("__rn") <= k)
      .withColumn("__rn", row_number().over(global)).filter(col("__rn") <= k)
      .select("id_a", "id_b").distinct()
    pairs.join(kept, Seq("id_a", "id_b"), "left_semi")
  }

  /** ASYMMETRIC containment pairs — the dedup signal symmetric Jaccard
    * structurally misses: a short document quoted wholesale inside a
    * long one has |∩|/|A| ≈ 1 but J(A,B) = |∩|/|A∪B| ≈ |A|/|B| ≈ 0.
    * Emits one row per unordered pair where EITHER direction's
    * containment |∩|/|side| clears the threshold, with both directions
    * reported (`c_ab` = how much of a sits in b, `c_ba` the reverse) —
    * the caller keeps the big doc and drops the contained one.
    *
    * Shuffle shape: the same exploded-shingle count join as d4's
    * count-based plan (intersections are exact counts, divisions are
    * two IEEE doubles of small ints — bit-identical cross-engine). At
    * web scale the d4 chooser's prefix-filter discipline applies with
    * one asymmetry: a containment prefix can only be taken on the
    * CONTAINED side (the bound `|X| − ⌈t·|X|⌉ + 1` needs the side the
    * threshold divides by), so the head-shingle protection is weaker
    * than PPJoin's — screen with MinHash bands first (d2) when the
    * corpus is long-tailed.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double = 0.9): DataFrame =
    containmentOnShingles(OpCaches.persist(withShingles(df, idCol, textCol)),
      threshold)

  private def containmentOnShingles(sh: DataFrame, threshold: Double): DataFrame =
    shingleCooccurrence(sh)
      .withColumn("c_ab", col("i").cast("double") / col("na").cast("double"))
      .withColumn("c_ba", col("i").cast("double") / col("nb").cast("double"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")

  /** EXACT containment verify over candidate pairs only: join back to
    * the shingle arrays, |∩| via `array_intersect`, both directional
    * ratios as the same IEEE divisions as the count-join plan — so the
    * two containment paths agree bit-for-bit on any pair both emit.
    */
  private def verifyByContainment(cands: DataFrame, sh: DataFrame,
                                  threshold: Double): DataFrame =
    withShingleArrays(cands, sh)
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("c_ab", col("i").cast("double") / size(col("sh_a")).cast("double"))
      .withColumn("c_ba", col("i").cast("double") / size(col("sh_b")).cast("double"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")

  /** Containment pairs with a candidate-budget chooser — the d4
    * (`ngramJaccardPairsAuto`) treatment applied to the asymmetric
    * metric: the same measure ([[countPlanWithinBudget]]) keeps the
    * exact count plan within `candidateBudgetPerDoc` per document.
    *
    * Past the budget it routes through a MinHash band SCREEN first
    * (the d2 recipe: band-bucket collisions propose candidates, exact
    * containment verifies them — [[verifyByContainment]]), with wide
    * banding (32 bands × 2 rows of the 64-member signature) so the
    * S-curve catches pairs down to J ≈ 0.3 with ~95% probability. This
    * is the documented long-tail trade, stated honestly: containment's
    * prefix bound only covers the CONTAINED side (no PPJoin symmetry —
    * see [[ngramContainmentPairs]]), so the only sub-quadratic screen
    * is probabilistic, and a short-in-long pair whose symmetric Jaccard
    * falls far below the band curve can be missed. Exactness is traded
    * only when the exact plan's candidate volume has already exploded
    * past the budget — never silently: the routing is deterministic in
    * the corpus statistics, and SCALING.md round 10 ("d18 gets a
    * chooser") records both branches on the committed fixtures.
    */
  def ngramContainmentPairsAuto(df: DataFrame, idCol: String, textCol: String,
                                threshold: Double = 0.9,
                                candidateBudgetPerDoc: Long = 1024,
                                maxPairsPerDoc: Option[Int] = None): DataFrame = {
    val sh = OpCaches.persist(withShingles(df, idCol, textCol))
    val out = countPlanWithinBudget("ngramContainmentPairsAuto", "screen",
        shingleFreq(sh), sh, candidateBudgetPerDoc) match {
      case Some(_) => containmentOnShingles(sh, threshold)
      case None => verifyByContainment(minhashCandidates(sh, rowsPerBand = 2), sh, threshold)
    }
    // opt-in output budget (the d4 capPairsPerDoc contract): rank by
    // the dominant direction — the same statistic the threshold gates
    maxPairsPerDoc.fold(out)(kk =>
      capPairsPerDoc(out, greatest(col("c_ab"), col("c_ba")), kk))
  }

  /** Benchmark-contamination check — the decontamination pass every
    * training-data pipeline runs before a model ships: for each document
    * in a (small) eval/benchmark set, find the training documents that
    * share ≥ `minShared` word 3-grams with it. Exact (no hashing of the
    * gram key — a hash collision could merge two distinct grams and
    * break oracle equality).
    *
    * Scale shape: the two sides are DISJOINT row sets of the same
    * source, so each document is shingled exactly once (the tiny eval
    * side is persisted because the broadcast guard and the join both
    * read it; the corpus side needs no persist), and the corpus side is
    * NEVER hash-repartitioned — there is no per-doc aggregate
    * downstream to co-locate, so shingling runs on the source's own
    * splits (`Partitioning.ensureParallelism` only kicks in for the
    * single-split fixture). Eval sets are tiny by nature (a benchmark
    * is MBs against a 100 TB corpus), so the gram join broadcasts the
    * eval side and the only shuffle is the final (eval_id, train_id)
    * aggregate, bounded by matched pairs. The broadcast guard bounds
    * what is actually broadcast in BYTES — the `broadcast()` hint
    * bypasses `autoBroadcastJoinThreshold`, and a row-count guard
    * alone would let millions of long grams through as hundreds of
    * broadcast MB; the estimate (gram bytes + per-row id/overhead) is
    * computed in the same single pass as the row count. An oversized
    * eval side (estimate over 64 MB) falls back to a plain shuffle
    * equi-join on the gram.
    *
    * Output: (eval_id, train_id, shared) with shared ≥ minShared.
    */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    isEval: Column => Column, minShared: Long = 1): DataFrame = {
    def grams(side: DataFrame, as: String) =
      Partitioning.ensureParallelism(
          side.select(col(idCol).as("id"), col(textCol).as("t")))
        .select(col("id").as(as), explode(shingles(col("t"), ShingleN)).as("s"))
    // persist the (by-assumption tiny) eval grams: the guard's size
    // aggregate and the join both consume them — without this the eval
    // side is scanned and shingled twice
    val evalSh = OpCaches.persist(grams(df.filter(isEval(col(idCol))), "eval_id"))
    val trainSh = grams(df.filter(!isEval(col(idCol))), "train_id")
    // octet_length, not length: char count under-estimates UTF-8
    // multi-byte text (CJK grams are ~3 B/char) by up to 4× — enough to
    // defeat the byte budget on exactly the multilingual corpora this
    // op targets
    val sizeRow = evalSh.agg(
      coalesce(sum(octet_length(col("s"))), lit(0L)).as("gram_bytes"),
      count(lit(1)).as("n")).first()
    // 24 B/row: 8-byte id + UnsafeRow offsets/null bits — an estimate of
    // the hashed-relation payload, deliberately before the relation's own
    // constant-factor overhead so the budget stays conservative
    val estBytes = sizeRow.getLong(0) + 24L * sizeRow.getLong(1)
    val joined =
      if (estBytes <= EvalBroadcastMaxBytes) trainSh.join(broadcast(evalSh), "s")
      else trainSh.join(evalSh, "s")
    joined.groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** 64-bit SimHash signatures (Charikar 2002): the shingle hashes,
    * then one narrow typed aggregate holding the 64 per-bit ±1 counters
    * (`SimHashAgg`). Output: (id, sig). One aggregate shuffle on id
    * with map-side partial merge.
    */
  def simhashSignatures(sh: DataFrame): DataFrame =
    shingleHashes(sh)
      .groupBy("id").agg(graft.functions.SimHashAgg.column(col("h")).as("sig"))

  /** Pigeonhole Hamming join over 64-bit codes `(id, h)`: split each
    * code into `maxDist + 1` bands of near-equal width; two codes within
    * `maxDist` bits differ in at most `maxDist` bands, so they agree
    * EXACTLY on at least one, and band-equality joins find ALL such
    * pairs (exact blocking, not probabilistic). Only candidates pay the
    * popcount check. Output `(id_a, id_b, hamming)`, one row per pair
    * with `id_a < id_b` and `hamming ≤ maxDist`. The SimHash join (d3)
    * and the image aHash join (mm6) both run it.
    */
  private[graft] def hammingPairs(codes: DataFrame, maxDist: Int): DataFrame = {
    val nBands = maxDist + 1
    val bandCols = (0 until nBands).map { b =>
      val lo = b * 64 / nBands
      val hi = (b + 1) * 64 / nBands
      // mask via unsigned shifts: (h >>> lo) & ((1 << width) - 1); at
      // maxDist = 0 the single band IS the whole code (width 64, where
      // 1L << 64 would wrap — mask with -1 instead)
      val mask = if (hi - lo >= 64) -1L else (1L << (hi - lo)) - 1
      shiftrightunsigned(col("h"), lo).bitwiseAND(lit(mask))
    }
    val bands = codes.select(col("id"), col("h"),
      posexplode(array(bandCols: _*)).as(Seq("band", "band_val")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a pair may agree on several bands
  }

  /** SimHash near-dup join: candidates from the pigeonhole Hamming join
    * ([[hammingPairs]]) over the 64-bit signatures — `maxHamming + 1`
    * bands, so every pair within `maxHamming` bits is a candidate —
    * verified with exact Jaccard so output is deterministic (at
    * threshold 1.0, identical shingle sets ⇒ identical signatures ⇒
    * recall is exactly 1).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, threshold: Double = 0.8): DataFrame = {
    // sh feeds the signature pipeline AND both verify joins — persist
    // or the shingle kernel runs three times (same note as
    // minhashNearDups; measured ~3× on d3)
    val sh = OpCaches.persist(withShingles(df, idCol, textCol))
    val sigs = simhashSignatures(sh).select(col("id"), col("sig").as("h"))
    verifyByJaccard(hammingPairs(sigs, maxHamming).select("id_a", "id_b"), sh, threshold)
  }

  /** Winnowing near-dup join (the MOSS recipe — Schleimer, Wilkerson,
    * Aiken, SIGMOD 2003): pairs whose winnowing FINGERPRINT sets have
    * Jaccard ≥ `threshold`. The fingerprints are
    * `TextAnalysis.winnowingFingerprints` at its defaults (5-token
    * shingles, min hash per 4 positions), so each doc is represented by
    * ~1/4 of its shingles — the candidate self-join runs over that reduced
    * set, and winnowing's guarantee (any shared run of ≥ window+k−1
    * tokens, here 8, shares a fingerprint) bounds what the reduction
    * can miss.
    *
    * The similarity measured IS fingerprint overlap — MOSS's own score
    * — which makes the operator exact over its fingerprint sets and
    * hence oracle-checkable (with `portableHash` the fingerprints are
    * bit-reproducible in DuckDB). Scale shape = the count-based
    * `ngramJaccardPairs` over a window-times-smaller relation: explode
    * is already done (fingerprints arrive one per row), one self-join
    * on fp, one pair aggregate. Min-selected fingerprints have no
    * frequent-head blow-up on natural text; a corpus with a pathological
    * shared boilerplate run would move to the PPJoin prefix recipe the
    * same way `ngramJaccardPairsAuto` does.
    */
  def winnowingNearDups(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.5,
                        portableHash: Boolean = false): DataFrame = {
    val fps = OpCaches.persist(
      TextAnalysis.winnowingFingerprints(df, idCol, textCol, portableHash = portableHash))
    jaccardFromCounts(
      cooccurrence(fps, fps.groupBy("id").agg(count(lit(1)).as("n")), "fp"),
      threshold, "fp_jaccard")
  }

  /** Bloom-prefiltered incremental exact-dedup screen: which docs of a
    * new batch are genuinely new against a historical corpus, by exact
    * normalized-text fingerprint (`TextAnalysis.fingerprint` — the d1
    * key), keeping the min-id doc per fingerprint within the batch.
    *
    * The output is EXACT (SQL-expressible: batch docs whose fingerprint
    * has no historical match, one canonical per batch fingerprint) —
    * the bloom filter only routes, it never decides. Scale shape, for a
    * small batch against a 100 TB history:
    *  1. one pass over history builds a bloom of fingerprint hashes
    *     (driver-side sketch, ~1.2 GB per 10^9 docs at fpp=0.01 —
    *     mergeable, cacheable, appendable across ingests);
    *  2. the batch probes the bloom; rows that miss are definitely new
    *     and never join anything. Survived candidate fingerprints =
    *     true dups + fpp × batch — small;
    *  3. candidates broadcast into a left-semi STREAM over history
    *     (history is scanned, never shuffled), yielding the hit set;
    *  4. hits broadcast back as a left-anti over the batch.
    * So history is scanned twice and shuffled zero times, and the only
    * shuffles are candidate-sized distincts plus the batch-sized
    * min-id window. If the candidate set exceeds
    * `broadcastMaxCandidates` (bloom mis-sized, or a batch that's
    * mostly dups), falls back to the plain shuffle anti-join — same
    * output, spec-asserted; a budget ≤ 0 takes that anti-join without
    * building the bloom. The choice is recorded as the
    * `bloomScreenNew` [[DriverBudget.Decision]].
    *
    * The bloom is sized by the UNFILTERED table count — an upper bound
    * on the history rows, and metadata-only on a parquet source where a
    * `hist.count()` would be a real filtered scan (over-sizing a bloom
    * only lowers its fpp). `fpp` trades bloom bits against
    * false-candidate broadcast volume.
    */
  def bloomScreenNew(df: DataFrame, idCol: String, textCol: String,
                     isNew: Column => Column,
                     fpp: Double = 0.01,
                     broadcastMaxCandidates: Long = 1000000L): DataFrame = {
    val outCols = df.columns.map(col).toIndexedSeq
    val fp = TextAnalysis.fingerprint(col(textCol))
    val src = Partitioning.ensureParallelism(df)
    val hist = src.filter(!isNew(col(idCol)))
    val histFp = hist.select(fp.as("fp"))
    val batch = src.filter(isNew(col(idCol))).withColumn("fp", fp)

    lazy val nHist = df.count()
    // empty-safe construction (BloomJoin.buildFilter): an empty history
    // is a legitimate first-ingest case where the right answer is a
    // sketch that contains nothing
    lazy val bloom = BloomJoin.buildFilter(
      histFp.select(xxhash64(col("fp")).as("fph")), "fph", nHist, fpp)

    val probed = batch.withColumn("__fph", xxhash64(col("fp")))
    lazy val candFps = OpCaches.persist(
      probed.filter(BloomJoin.mightContain(probed, "__fph", bloom))
        .select("fp").distinct())
    val candidates = Option.when(broadcastMaxCandidates > 0)(candFps.count())
    val screened = candidates.exists(_ <= broadcastMaxCandidates)
    DriverBudget.record(DriverBudget.Decision("bloomScreenNew", candidates,
      broadcastMaxCandidates, if (screened) "broadcast" else "shuffle"))
    val survivors =
      if (screened) {
        // hit set = historical fingerprints matching a candidate: history
        // streams against the broadcast candidates, then the (≤ candidate
        // sized) hit set broadcasts back over the whole batch — rows the
        // bloom already cleared anti-join against a set that cannot
        // contain them, so one uniform anti covers both routes
        val hits = histFp.join(broadcast(candFps), Seq("fp"), "left_semi").distinct()
        batch.join(broadcast(hits), Seq("fp"), "left_anti")
      } else {
        batch.join(histFp, Seq("fp"), "left_anti")
      }
    // within-batch canonical: min id per fingerprint — the d15
    // min-struct AGGREGATE, not a fingerprint-partitioned window: a
    // batch carrying a viral duplicate collapses map-side instead of
    // funnelling one task (the same skew fix the composed pipelines
    // got; batch-sized mergeable shuffle is the op's one unavoidable
    // cost). The fingerprint recomputes on the survivors (one codegen
    // md5 per row) so the output keeps exactly df's columns.
    exactCanonicalRows(survivors.select(outCols: _*), idCol, fp)
  }

  /** Positioned k-token gram hashes: one row per gram OCCURRENCE —
    * `(id, pos, h)` with `pos` the 0-based token index of the gram's
    * first token. Unlike `shingles` (distinct grams, for Jaccard), this
    * keeps every occurrence and its position, which is what span-level
    * dedup needs. Hash = top 60 bits of md5 of the space-joined gram,
    * the same DuckDB-reproducible portable hash as `t5_winnowing`.
    * Narrow after the parallelism guard: explode + codegen'd md5.
    */
  private def positionedGramHashes(df: DataFrame, idCol: String,
                                   textCol: String, k: Int): DataFrame =
    Partitioning.ensureParallelism(
        df.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"),
        posexplode(TextAnalysis.orderedShingles(col("t"), k)).as(Seq("pos", "s")))
      .select(col("id"), col("pos"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))

  /** Duplicated-gram occurrences with their global occurrence order.
    *
    * Scale shape (the 100 TB story): per-hash counts and the global
    * first occurrence come from ONE `groupBy(h)` with map-side partial
    * aggregation — `min(struct(id, pos))` is a mergeable agg, so a
    * mega-hot gram ("the the the…" boilerplate) never funnels through a
    * single window sort the way `row_number() over (partition by h)`
    * would. The gram relation then equi-joins the (hash, first, cnt)
    * table on `h`; a skewed hash has many rows on the gram side but ONE
    * on the agg side, the shape AQE skew-splitting handles.
    */
  private def dupGramOccurrences(df: DataFrame, idCol: String,
                                 textCol: String, k: Int): DataFrame = {
    val grams = positionedGramHashes(df, idCol, textCol, k)
    val firsts = grams.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    grams.join(firsts, "h")
      .withColumn("is_first",
        col("id") === col("first.id") && col("pos") === col("first.pos"))
      .select("id", "pos", "is_first")
  }

  /** Merge marked gram-start positions into maximal token spans
    * (classic gaps-and-islands): a new span starts when a gram's
    * interval `[pos, pos+k-1]` neither overlaps nor touches the running
    * maximum end of its predecessors. One doc-keyed shuffle; both
    * windows share the partitioning.
    */
  private def mergeSpans(marked: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("brk",
        when(col("pos") > coalesce(prevEnd, lit(-1)) + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy(col("id"), col("grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (k - 1)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }

  /** Exact duplicated-span detection (the shingle-join formulation of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — ExactSubstr): every k-token gram that occurs ≥ 2
    * times ANYWHERE in the corpus (another document or the same one)
    * marks its token interval as duplicated; overlapping/adjacent
    * marked intervals merge into maximal spans.
    *
    * Output: one row per maximal span — `(id, span_start, span_end,
    * span_tokens)`, token indices 0-based inclusive.
    *
    * Lee et al. build a corpus suffix array; on Spark the equivalent
    * exact semantics at a fixed gram size is this gram-hash self-join —
    * all relations are gram-scale and distributed (no driver state, no
    * all-pairs), at the cost of shuffling the gram relation twice
    * (once by hash, once by doc).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               k: Int = 5): DataFrame =
    mergeSpans(dupGramOccurrences(df, idCol, textCol, k).select("id", "pos"), k)
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)

  /** Keep-first exact-substring strip: d13's duplicated spans, but the
    * globally FIRST occurrence of each duplicated gram (min `(id, pos)`)
    * is protected — only repeat occurrences mark removal intervals — so
    * one copy of every duplicated substring survives in the corpus
    * (Lee et al.'s dedup policy). Tokens covered by a removal span are
    * dropped; the cleaned text is the surviving tokens re-joined.
    *
    * Output: one row PER INPUT DOC — `(id, clean_text, n_tokens_kept,
    * n_tokens_dropped)`; a fully-duplicated doc survives with empty
    * text, a doc with < k tokens passes through untouched.
    *
    * Scale: the spans relation (only docs that contain repeats) is
    * aggregated per doc and joined back onto INTACT doc rows — the
    * corpus never shuffles; the strip itself is an array filter
    * evaluated per doc row against its own (small) span list.
    */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val marked = dupGramOccurrences(df, idCol, textCol, k)
      .filter(!col("is_first")).select("id", "pos")
    val spansByDoc = mergeSpans(marked, k)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    val toks = TextAnalysis.tokens(col("t"))
    df.select(col(idCol).as("id"), col(textCol).as("t"))
      .join(spansByDoc, Seq("id"), "left")
      .withColumn("spans",
        coalesce(col("spans"), array().cast("array<struct<s:int,e:int>>")))
      .withColumn("kept",
        filter(toks, (_, i) =>
          !exists(col("spans"), sp => i >= sp("s") && i <= sp("e"))))
      .select(col("id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).as("n_tokens_kept"),
        (size(toks) - size(col("kept"))).as("n_tokens_dropped"))
  }

  /** Non-overlapping `seg`-token segments of a document (last one may be
    * shorter). Same tight-JVM-kernel rationale as [[shingles]]: a
    * `transform`/`slice` composition
    * re-evaluates the tokenisation per produced element.
    */
  private[graft] def segmentKernel(t: String, seg: Int): Array[String] = {
    val toks = t.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) Array.empty
    else Array.tabulate((toks.length + seg - 1) / seg) { i =>
      val sb = new java.lang.StringBuilder(8 * seg)
      var j = i * seg
      val end = math.min(j + seg, toks.length)
      while (j < end) {
        if (j > i * seg) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      sb.toString
    }
  }

  private def segmentsCol(text: Column, seg: Int): Column = {
    val u = udf((t: String) => segmentKernel(t, seg))
    u(text)
  }

  /** C4-style SEGMENT-level dedup (Raffel et al. 2020 drop repeated
    * three-sentence spans; Penedo et al. 2023 drop repeated paragraphs —
    * here the unit is a fixed `seg`-token chunk, the tokenised analogue):
    * every non-overlapping `seg`-token segment that occurs more than
    * once ANYWHERE in the corpus is removed except its globally first
    * occurrence (min `(doc_id, segment_index)`), and each document is
    * reassembled from its surviving segments.
    *
    * Output: one row PER INPUT DOC — `(id, clean_text, n_seg_kept,
    * n_seg_dropped)`; a doc made entirely of previously-seen segments
    * survives with empty text.
    *
    * Distinct from d13/d14's overlapping-gram spans: segments tile the
    * document (corpus-token-scale / `seg` rows, not one row per token
    * position), so this is the cheap first-pass boilerplate strip a
    * crawl pipeline runs before the finer gram-level pass.
    *
    * Scale shape: the global keeper per segment fingerprint is ONE
    * mergeable `groupBy(fp).agg(min(struct(id, idx)))` — a viral
    * boilerplate segment collapses map-side instead of funnelling
    * through a window task (the d15 recipe). Removal indices aggregate
    * per doc (bounded by the doc's own segment count) and join back
    * onto INTACT doc rows, so the corpus text itself never shuffles;
    * the reassembly is a per-row array filter against the doc's own
    * removal list.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   seg: Int = 10): DataFrame = {
    val docs = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val segs = Partitioning.ensureParallelism(docs)
      .select(col("id"), posexplode(segmentsCol(col("t"), seg)).as(Seq("idx", "seg")))
      .select(col("id"), col("idx"), md5(col("seg")).as("fp"))
    val firsts = segs.groupBy("fp")
      .agg(min(struct(col("id"), col("idx"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    // only repeat occurrences mark removals; segments of a unique
    // fingerprint never join anything (the firsts table keeps dup
    // fingerprints only, so the join input is already removal-scale)
    val removed = segs.join(firsts, "fp")
      .filter(!(col("id") === col("first.id") && col("idx") === col("first.idx")))
      .groupBy("id").agg(collect_list(col("idx")).as("rm"))
    val chunks = segmentsCol(col("t"), seg)
    docs.join(removed, Seq("id"), "left")
      .withColumn("rm", coalesce(col("rm"), array().cast("array<int>")))
      .withColumn("kept",
        filter(chunks, (c, i) => !array_contains(col("rm"), i)))
      .select(col("id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).as("n_seg_kept"),
        size(col("rm")).as("n_seg_dropped"))
  }

  /** Content-defined chunking + cross-document chunk dedup — the
    * storage-dedup technique (rsync/LBFS/restic) applied to corpus
    * text: a chunk boundary falls AFTER token t whenever the portable
    * hash of the 3-token gram ENDING at t is ≡ 0 mod 16, so
    * boundaries depend only on local content — an insertion early in
    * a document shifts every fixed-width segment (defeating d16-style
    * segment dedup) but leaves all later CDC chunks byte-identical,
    * which is exactly why CDC finds shared material fixed windows
    * miss. Expected chunk length ≈ 16 tokens.
    *
    * Shape: ONE shuffle of the token relation (the per-document
    * window computes gram hashes via lead, boundary flags via lag,
    * and chunk ids via a running boundary count — all in the same
    * window pass); chunks then aggregate per (doc, chunk) on the
    * SAME partitioning, and the cross-document dedup is one mergeable
    * aggregate on the chunk hash (chunk-scale, ~1/16 of the
    * token relation) joined back. Per-doc window state is bounded by
    * document length, the d13/t5 contract.
    *
    * Output, one row per non-empty document: `(doc_id, n_tokens,
    * n_chunks, n_dup_chunks)` where a dup chunk's md5 appears in ≥ 2
    * distinct documents.
    */
  def cdcChunkStats(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = CdcGram
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val toks = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .repartition(parallelism, col("id"))
      .select(col("id"),
        posexplode(graft.ops.TextAnalysis.tokens(col("t"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("id").orderBy("pos")
    // the k-token gram STARTING here, null while incomplete
    val gram = concat_ws(" ",
      (0 until k).map(i => if (i == 0) col("tok") else lead(col("tok"), i).over(w)): _*)
    val gramOk = lead(col("tok"), k - 1).over(w).isNotNull
    val withHash = toks.withColumn("gh",
      when(gramOk, conv(substring(md5(gram), 1, 15), 16, 10).cast("long")))
    // boundary AFTER token t ⇔ the gram ENDING at t (started k-1 back)
    // hashed ≡ 0; chunk id = boundaries strictly before t
    val bEnd = lag(col("gh"), k - 1).over(w).isNotNull &&
      pmod(lag(col("gh"), k - 1).over(w), lit(CdcDivisor.toLong)) === 0
    val chunked = withHash
      .withColumn("b", when(bEnd, 1L).otherwise(0L))
      .withColumn("chunk_id",
        coalesce(sum(col("b")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = chunked.groupBy("id", "chunk_id")
      .agg(count(lit(1)).as("n_tok"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ")).as("chash"))
    val dupHashes = chunks.groupBy("chash")
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= 2).select("chash")
    chunks.join(dupHashes.withColumn("dup", lit(1L)), Seq("chash"), "left")
      .groupBy(col("id").as(idCol))
      .agg(sum(col("n_tok")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_chunks"))
  }
}
