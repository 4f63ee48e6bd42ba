package graft.scratch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared scratch-fixture generator for the scaling rehearsals
  * (`SCALING.md`): replicate the read-only sf0.1 fixture `copies`×
  * with re-keyed ids (offset 10⁹ per copy — every FK edge stays within
  * its copy, so referential integrity holds by construction) and
  * CONTENT-DISTINCT copies.
  *
  * Content distinctness is the round-11 correction to the recipe. The
  * first rehearsal salted text with a per-copy prefix only, which
  * leaves replicas near-identical under every similarity measure: at
  * 10 copies the cross-copy duplicate term is visible (d4's 13.9×,
  * probed in round 9), at 100 copies it dominates every pair-family
  * query quadratically — the sweep would time the fixture's
  * duplication artifact, not the engine. A real 100× corpus is 100×
  * of *distinct* content; duplicated-content behaviour is a data
  * property already measured separately (SCALING.md: the d4 root cause
  * and the round-10 mm6 section).
  *
  * Each per-copy transform is a bijection applied uniformly within a
  * copy, so IN-COPY pair structure (shingle equality, pairwise cosine,
  * block-key equality, edit distances) is preserved EXACTLY — every
  * copy has the same internal near-dup/linkage structure as sf0.1 —
  * while cross-copy similarity collapses to chance:
  *
  *  - documents.text: per-copy 2-letter tag appended to every ≥4-letter
  *    word (word n-gram shingles become copy-distinct; ≤3-letter
  *    stopwords, token counts, punct/digit ratios — the Gopher gate
  *    features — are untouched, and mean token length stays well
  *    inside the gates' 2..12 band), plus the round-9 "r$i " prefix
  *    (guarantees exact-dup distinctness even for short-word docs).
  *  - embeddings.embedding: per-copy dimension permutation + sign
  *    flips. For one copy's vectors u,v: (PSu)·(PSv) = u·v, so every
  *    in-copy cosine is bit-preservable in structure; across copies
  *    the cosine of unrelated transforms concentrates near 0
  *    (|cos| > 0.45 is a >3.5σ event at d=64).
  *  - customer.c_name: per-copy digit permutation via `translate`
  *    (er1's block key is a digit substring of the name; phones
  *    re-derive from the shifted key at query time, already distinct).
  *
  * Output is scratch-only (target/sf1, target/sf10), never committed.
  */
object ScaleGen {
  private val DIGITS = "0123456789"

  /** Deterministic per-copy digit permutation (identity for copy 0),
    * distinct across copies by construction (seeds re-drawn on the
    * rare Fisher-Yates collision).
    */
  def digitPerm(copy: Int): String = digitPerms(copy)
  private lazy val digitPerms: IndexedSeq[String] = {
    val seen = scala.collection.mutable.Set(DIGITS)
    DIGITS +: (1 until 1024).map { c =>
      var seed = c.toLong
      var s = permute(DIGITS, seed)
      while (!seen.add(s)) { seed += 1000; s = permute(DIGITS, seed) }
      s
    }
  }

  private def permute(alphabet: String, seed: Long): String = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val a = alphabet.toCharArray
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  /** Per-copy word tag pattern: every word EXCEPT the language-marker
    * stopwords (`TextAnalysis.langMarkers`) gets the copy tag appended.
    * Markers must survive verbatim — language-ID, the Gopher stopword
    * gate and the quality score count exactly those words — while the
    * content vocabulary (the fixture's short template words included:
    * "row", "big", "agg", … carry the head of the shingle-df
    * distribution) must be copy-distinct, or cross-copy shingle
    * collisions grow the pair families' candidate volume quadratically
    * (measured: the top-100 shared shingles carried 33% of d4's sf10
    * candidates under a ≥4-letter-only tag).
    */
  private val TAG_PATTERN = {
    val markers = graft.ops.TextAnalysis.langMarkers.collect {
      case (l, p) if l != "zh" => p.stripPrefix("\\b(").stripSuffix(")\\b")
    }.mkString("|")
    s"\\b(?!(?:$markers)\\b)([A-Za-z]+)\\b"
  }

  /** `tagLen` lowercase letters, distinct per copy. The length is
    * FIXED per generator run: with uniform-length tags, wordX+tagI =
    * wordY+tagJ forces wordX = wordY and tagI = tagJ (same copy), so
    * cross-copy word distinctness holds by construction — mixing
    * lengths would reopen suffix-aliasing collisions ("rowa"+"bc" =
    * "row"+"abc"). sf1/sf10/sf30 use 2 letters (≤ 675 copies, their
    * committed recipe); sf100's 1000 copies use 3 for every copy.
    */
  def copyTag(copy: Int, tagLen: Int = 2): String = {
    require(copy >= 1 && copy < math.pow(26, tagLen).toInt)
    (0 until tagLen).map { k =>
      ('a' + (copy / math.pow(26, tagLen - 1 - k).toInt) % 26).toChar
    }.mkString
  }

  def run(out: String, copies: Int, outPartitions: Int, tagLen: Int = 2): Unit = {
    val src = "/root/testdata/sf0.1"
    val spark = graft.GraftSession.get()
    val OFF = 1000000000L

    def replicate(name: String, keyCols: Seq[String],
                  distinctText: Boolean = false,
                  distinctVec: Boolean = false,
                  distinctName: Boolean = false): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val dim: Int =
        if (distinctVec) base.select(size(col("embedding"))).head.getInt(0) else 0
      val all = (0 until copies).map { i =>
        var d: DataFrame =
          keyCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i * OFF)))
        if (distinctText && i > 0)
          d = d.withColumn("text",
              concat(lit(s"r$i "),
                regexp_replace(col("text"), TAG_PATTERN, "$1" + copyTag(i, tagLen))))
            .withColumn("n_chars", length(col("text")).cast("long"))
        if (distinctVec && i > 0) {
          val rnd = new java.util.Random(i.toLong * 0x5DEECE66DL + 0xB0B1234L)
          val idx = {
            val a = (0 until dim).toArray
            var k = dim - 1
            while (k > 0) {
              val j = rnd.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t; k -= 1
            }
            a
          }
          val sign = Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
          d = d.withColumn("embedding",
            array((0 until dim).map(j =>
              element_at(col("embedding"), idx(j) + 1) * lit(sign(j))): _*))
        }
        if (distinctName && i > 0)
          d = d.withColumn("c_name",
            translate(col("c_name"), DIGITS, digitPerm(i)))
        d
      }
      all.reduce(_.unionByName(_))
        .repartition(outPartitions)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] $name done ($copies copies)")
    }

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    replicate("customer", Seq("c_custkey"), distinctName = true)
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), distinctText = true)
    replicate("embeddings", Seq("vec_id"), distinctVec = true)
    spark.stop()
  }
}
