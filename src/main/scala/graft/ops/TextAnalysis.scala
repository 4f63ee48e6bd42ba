package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines over the `documents`
  * table: tokenisation, quality scoring, language-ID, fingerprinting.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs in the hot path) so the whole stage stays inside
  * WholeStageCodegen and scales linearly — at 100 TB these are pure
  * narrow map transforms: no shuffle at all.
  *
  * Every operator reads the `documents` shape — `doc_id` and `text` —
  * except where a caller feeds another column (`scrubPii` also scrubs
  * the events' `props`; the winnowing ops take any id/text pair).
  */
object TextAnalysis {

  /** Whitespace tokens (empty text → empty array, not [""]). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-shaped token count: runs of letters, runs of digits,
    * or single non-alphanumeric marks — the classic pre-tokenisation
    * regex shape used by BPE vocabularies.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))

  def digitCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[0-9]"), lit(0)))

  /** Language stopword regexes — tiny per-language function-word sets;
    * the classic n-gram/function-word heuristic. \b works identically in
    * Java regex and RE2, which keeps the op oracle-checkable in SQL.
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|to|in|is|that|it|for)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|zu|den|von)\\b",
    "fr" -> "\\b(le|la|les|et|est|une|dans|que|pour|pas)\\b",
    "es" -> "\\b(el|los|las|y|es|una|en|que|por|con)\\b",
    "zh" -> "[\\u4e00-\\u9fff]",
  )

  def langScore(text: Column, lang: String): Column = {
    val pattern = langMarkers.toMap.apply(lang)
    regexp_count(text, lit(pattern))
  }

  /** Predicted language: argmax of marker hits, ties broken by the fixed
    * order en > de > fr > es > zh, all-zero → "und" (undetermined).
    *
    * Shape matters: each `regexp_count` appears exactly once, inside an
    * array-of-structs literal, and the argmax runs as a 5-element
    * `aggregate` over that array. The naive greatest+chained-when form
    * re-expands the shared `greatest(...)` subtree into every branch
    * (~40 regex scans/row once the expression is too big for codegen
    * CSE) — measured 40× slower on the documents fixture.
    */
  def langId(text: Column): Column = {
    val scored = array(langMarkers.map { case (l, p) =>
      struct(regexp_count(text, lit(p)).as("score"), lit(l).as("lang"))
    }: _*)
    aggregate(
      scored,
      struct(lit(0).as("score"), lit("und").as("lang")),
      (acc, x) => when(x("score") > acc("score"), x).otherwise(acc)
    ).getField("lang")
  }

  /** Quality features + a composite score in [0,1]: length band, mean
    * token length band, stopword presence, punctuation/digit moderation.
    * All ratios are single `a/b` double divisions so the oracle SQL
    * reproduces them bit-exactly.
    */
  def withQualityFeatures(df: DataFrame): DataFrame = {
    val t = col("text")
    df.withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("punct_ratio", punctCount(t).cast("double") / greatest(length(t), lit(1)))
      .withColumn("digit_ratio", digitCount(t).cast("double") / greatest(length(t), lit(1)))
      .withColumn("stopword_ratio",
        langScore(t, "en").cast("double") / greatest(tokenCount(t), lit(1)))
      .withColumn("mean_token_len",
        (length(t) - tokenCount(t) + lit(1)).cast("double") / greatest(tokenCount(t), lit(1)))
      .withColumn("quality_score",
        (when(col("n_tokens").between(5, 1000), lit(0.25)).otherwise(lit(0.0))
          + when(col("mean_token_len").between(2.0, 12.0), lit(0.25)).otherwise(lit(0.0))
          + when(col("stopword_ratio") > 0.01, lit(0.25)).otherwise(lit(0.0))
          + when(col("punct_ratio") < 0.2 && col("digit_ratio") < 0.3, lit(0.25))
            .otherwise(lit(0.0))))
  }

  /** Whole-document fingerprint: md5 of whitespace-normalised lowercase
    * text — the exact-dup key (portable across engines).
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Corpus cleaning pass — the normalisation stage every web-scrape
    * pipeline runs before dedup/quality (CCNet/Dolma-style): strip
    * markup tags, squash control characters to spaces, collapse runs,
    * trim. Three chained `regexp_replace` + `trim` — a pure narrow map
    * inside WholeStageCodegen, scan-speed at 100 TB.
    *
    * Pattern discipline: every class is spelled in explicit ASCII
    * ranges (`\x00-\x1f\x7f`, literal space) rather than `\s`/POSIX
    * classes, because Java regex and RE2 disagree on those classes'
    * membership — explicit ranges keep the op oracle-checkable in SQL
    * byte-for-byte.
    */
  def cleanedText(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val noCtl = regexp_replace(noTags, "[\\x00-\\x1f\\x7f]", " ")
    trim(regexp_replace(noCtl, " +", " "))
  }

  /** `cleanedText` applied to a corpus: adds `clean_text`, plus raw and
    * cleaned lengths so a pipeline can audit how much the cleaner ate.
    */
  def cleanText(df: DataFrame): DataFrame =
    df.withColumn("clean_text", cleanedText(col("text")))
      .withColumn("n_raw", length(col("text")).cast("long"))
      .withColumn("n_clean", length(col("clean_text")).cast("long"))

  /** Gopher-style HARD quality filter (Rae et al. 2021's rule family,
    * as used by the Dolma/RedPajama curation pipelines): per-document
    * pass/fail per rule plus the conjunction verdict, so a pipeline can
    * both filter (`keep`) and audit which rule rejected what. Distinct
    * from `withQualityFeatures`' soft score: these are the hard gates.
    *
    * Pure narrow map over codegen'd functions — no shuffle, no UDF; at
    * 100 TB this runs at scan speed. Every ratio is a single `a/b`
    * double division with the same operand shapes as the SQL twin, so
    * booleans at the threshold boundary are bit-reproducible.
    */
  def gopherQualityFilter(df: DataFrame): DataFrame = {
    val t = col("text")
    val nTok = tokenCount(t)
    val meanLen = (length(t) - nTok + lit(1)).cast("double") / greatest(nTok, lit(1))
    val punctR = punctCount(t).cast("double") / greatest(length(t), lit(1))
    val digitR = digitCount(t).cast("double") / greatest(length(t), lit(1))
    val alphaTok = size(filter(tokens(t), x => regexp_like(x, lit("[A-Za-z]"))))
    df.withColumn("r_len", nTok.between(5, 1000))
      .withColumn("r_mean_len", meanLen.between(2.0, 12.0))
      .withColumn("r_stopwords", langScore(t, "en") >= 2)
      .withColumn("r_symbol", punctR < 0.2)
      .withColumn("r_digit", digitR < 0.3)
      .withColumn("r_alpha", alphaTok.cast("double") / greatest(nTok, lit(1)) >= 0.7)
      .withColumn("keep",
        col("r_len") && col("r_mean_len") && col("r_stopwords")
          && col("r_symbol") && col("r_digit") && col("r_alpha"))
  }

  /** Positional (ordered, with repeats) k-token shingles — winnowing
    * needs sequence order, unlike `Dedup.shingles`' distinct sets. Same
    * tight JVM kernel rationale ([[Dedup.shingles]]): a
    * `transform`/`slice` composition re-tokenises per element,
    * interpreted — the repo's documented 100× HOF trap.
    */
  private def orderedShingleKernel(t: String, n: Int): Array[String] = {
    val toks = t.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array.empty
    else Array.tabulate(toks.length - n + 1) { i =>
      val sb = new java.lang.StringBuilder(16 * n)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      sb.toString
    }
  }

  def orderedShingles(text: Column, k: Int): Column = {
    val u = udf((t: String) => orderedShingleKernel(t, k))
    u(text)
  }

  /** Winnowing's shingle length in tokens and its window in shingles. */
  private val WinnowK = 5
  private val WinnowWindow = 4

  /** Winnowing rolling fingerprints (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003): hash each 5-token shingle, keep the minimum hash of
    * every 4 consecutive shingles — a compact fingerprint set
    * robust to local edits. Output: one (id, fp) row per distinct
    * selected hash; docs with fewer than 5 tokens produce no rows.
    *
    * Plan shape (the `Dedup.simhashSignatures` recipe, not nested
    * HOFs): one shingle kernel pass → posexplode → each shingle hashed
    * ONCE by a codegen'd expression → windowed min → distinct. The
    * explicit hash-repartition on id makes the window and the distinct
    * both reuse that partitioning — exactly one shuffle of the raw text,
    * then narrow all the way down.
    *
    * `portableHash = true` swaps xxhash64 for the top 60 bits of md5 —
    * bit-reproducible in DuckDB via `CAST('0x'||substr(md5(s),1,15) AS
    * BIGINT)` — so the operator is oracle-checkable end to end.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            portableHash: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val hashOf: Column => Column =
      if (portableHash) s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")
      else s => xxhash64(s)
    val sh = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .repartition(parallelism, col("id"))
      .select(col("id"), posexplode(orderedShingles(col("t"), WinnowK)).as(Seq("pos", "s")))
      .select(col("id"), col("pos"), hashOf(col("s")).as("h"))
    val rolling = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, WinnowWindow - 1)
    sh.withColumn("minh", min(col("h")).over(rolling))
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy("id")))
      // full windows only (plus the single short window of a doc with
      // fewer than WinnowWindow shingles)
      .filter(col("pos") <= greatest(col("nsh") - WinnowWindow, lit(0)))
      .select(col("id"), col("minh").as("fp"))
      .distinct()
  }

  /** PII patterns for text scrubbing — the anonymiser's domain applied
    * to free text, as a training-data pipeline runs it before the data
    * reaches a model. RE2-compatible (no backrefs/lookaround) so the
    * DuckDB oracle applies the IDENTICAL patterns; ordered so earlier
    * masks can't destroy later matches (emails before bare domains
    * would, if we had a domain rule).
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn",   "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",                "<SSN>"),
    ("phone", "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b",        "<PHONE>"),
    ("ip",    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
  )

  /** Scrub PII from a text column: count then mask each pattern class.
    * Pure codegen'd regexp functions — narrow map, no shuffle.
    * Output adds `n_pii` (total matches) and `scrubbed` (masked text).
    */
  def scrubPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = piiPatterns.map { case (_, p, _) => regexp_count(col(textCol), lit(p)) }
    val masked = piiPatterns.foldLeft(col(textCol)) { case (c, (_, p, mask)) =>
      regexp_replace(c, p, mask)
    }
    df.withColumn("n_pii", counts.reduce(_ + _).cast("long"))
      .withColumn("scrubbed", masked)
  }

  /** Corpus heavy hitters — the vocabulary-building pass: global top-k
    * tokens by frequency, ties broken by token so the cut at k is
    * deterministic.
    *
    * Scale shape: tokenise + explode are narrow; the count aggregates
    * partial map-side before one shuffle on the token; the
    * `orderBy.limit(k)` plans as TakeOrderedAndProject — each partition
    * keeps its own k rows and the driver merges partitions×k rows, so
    * there is never a global sort of the vocabulary. (Plan-asserted.)
    * The source is repartitioned ONLY if it arrives with fewer splits
    * than cores (the single-row-group fixture) — a many-split 100 TB
    * source is never shuffled before the aggregate.
    */
  def topTerms(df: DataFrame, k: Int): DataFrame = {
    Partitioning.ensureParallelism(df.select(col("text")))
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
  }

  /** Repetition-based quality signals in the Gopher style (Rae et al.
    * 2021 §A1.1 repetition filters), word-level: the fraction of tokens
    * taken by the single most frequent word, by the most frequent word
    * bigram, and the fraction of trigram occurrences that are repeats.
    * High values mark boilerplate/templated text a pre-training
    * pipeline drops.
    *
    * Shape: one hash-repartition on doc id, then three explode →
    * (doc, gram) hash-agg → (doc) hash-agg pipelines that all reuse the
    * partitioning (map-side combine, no extra shuffle), joined on the
    * already-co-partitioned id. Docs with fewer than 3 tokens have no
    * trigram statistic and are dropped (inner join) — the pipeline's
    * length floor filters those long before repetition scoring.
    */
  def gopherRepetition(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val base = df.select(col("doc_id").as("id"), col("text").as("t"))
      .repartition(parallelism, col("id"))
    // ONE pass: tag every gram with its n and explode once; hash(id)
    // partitioning satisfies ClusteredDistribution for BOTH downstream
    // aggregates, so the whole operator is a single shuffle
    // (plan-asserted in PlanSpec). The transform lambdas only wrap each
    // element in a struct — no outer-expression re-evaluation.
    def tagged(n: Int) =
      transform(orderedShingles(col("t"), n),
        g => struct(lit(n).as("n"), g.as("g")))
    val counts = base
      .select(col("id"), explode(concat(tagged(1), tagged(2), tagged(3))).as("gr"))
      .groupBy(col("id"), col("gr.n").as("n"), col("gr.g").as("g"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy("id").agg(
        max(when(col("n") === 1, col("c"))).as("top_1"),
        sum(when(col("n") === 1, col("c"))).as("n_1"),
        max(when(col("n") === 2, col("c"))).as("top_2"),
        sum(when(col("n") === 2, col("c"))).as("n_2"),
        count(when(col("n") === 3, lit(1))).as("distinct_3"),
        sum(when(col("n") === 3, col("c"))).as("n_3"))
      // docs with fewer than 3 tokens have no trigram statistic (the
      // pipeline's length floor removes them long before this operator)
      .filter(col("n_3").isNotNull)
      .select(col("id"),
        (col("top_1").cast("double") / col("n_1").cast("double")).as("top_word_frac"),
        (col("top_2").cast("double") / col("n_2").cast("double")).as("top_bigram_frac"),
        ((col("n_3") - col("distinct_3")).cast("double") / col("n_3").cast("double"))
          .as("dup_trigram_frac"))
  }

  /** `(id, t)`: each document's id and text, spread over the cluster's
    * cores when the source arrives in fewer splits — the input of every
    * per-document corpus statistic below.
    */
  private def idText(df: DataFrame): DataFrame =
    Partitioning.ensureParallelism(
      df.select(col("doc_id").as("id"), col("text").as("t")))

  /** `(id, tok)`: one row per whitespace token of each document. */
  private def docTokens(df: DataFrame): DataFrame =
    idText(df).select(col("id"), explode(tokens(col("t"))).as("tok"))

  /** `⌊log2(x)·10⁶⌋` as a long, `x` taken as a double: the integer
    * micro-bit quantisation the corpus statistics here apply ONCE per
    * count, so everything after it is integer arithmetic — bit-stable
    * under any partitioning and hash-exact against the SQL twins (the
    * t9 recipe).
    */
  private def microBits(x: Column): Column =
    floor(log2(x.cast("double")) * lit(1000000L)).cast("long")

  /** The adjacent token pairs `"a b"` of a token array, empty below two
    * tokens: a NARROW zip of the array with its own tail (no positional
    * self-join, no window).
    */
  private def adjacentBigrams(tk: Column): Column =
    when(size(tk) >= 2,
        zip_with(slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))

  /** The adjacent two-symbol substrings of column `w`, empty below two
    * symbols: BPE's pair statistic.
    */
  private def symbolPairs: Column =
    when(length(col("w")) >= 2,
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))

  /** `w0`, one row per `[a-z]+` pre-token of the lowercased column `t`:
    * the input of the BPE word vocabulary.
    */
  private def lowerWords: Column =
    explode(regexp_extract_all(lower(col("t")), lit("[a-z]+"), lit(0))).as("w0")

  /** Per-document TF-IDF keyword extraction — the classic corpus-aware
    * "what is this document about" signal a curation pipeline uses for
    * topic balancing and near-duplicate triage: for each document the
    * top-3 tokens by tf·idf with idf = log2(N/df).
    *
    * Numeric determinism (t9's recipe): idf is quantised ONCE per token
    * in the document-frequency table to integer micro-bits
    * (⌊log2(N/df)·10⁶⌋) and multiplied by the integer tf — all ranking
    * is integer math, so the result is bit-stable under any
    * partitioning and hash-exact against a SQL oracle. Ties (same
    * score) break by token ascending; rank is dense over (score desc,
    * token asc).
    *
    * Scale shape: tf aggregate keyed on (doc, token) [shuffle 1], df
    * aggregate keyed on token with map-side combine [shuffle 2], the
    * corpus doc count rides a broadcast (one row), tf→idf equi-join on
    * token [shuffle 3, AQE handles the Zipf head], then the per-doc
    * top-k window [shuffle 4, doc-keyed]. Four shuffles each on a
    * natural key, no driver-side state at any corpus size — tokens
    * appearing in EVERY doc get idf exactly 0 and never outrank a
    * discriminative token.
    */
  def tfidfKeywords(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docTokens(df)
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(count(lit(1)).as("n_docs")) // 1 row — broadcast
    val idf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"),
        microBits(col("n_docs").cast("double") / col("df").cast("double"))
          .as("idf_micro"))
    val w = Window.partitionBy("id")
      .orderBy(col("score_micro").desc, col("tok"))
    tf.join(idf, "tok")
      .select(col("id"), col("tok"), (col("tf") * col("idf_micro")).as("score_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("id").as("doc_id"), col("rank").cast("int").as("rank"),
        col("tok").as("term"), col("score_micro"))
  }

  /** Corpus-conditional unigram surprisal — the classic cheap perplexity
    * proxy for pre-training quality filtering: a document whose tokens
    * are all corpus-frequent scores low (templated/boilerplate); rare
    * vocabulary scores high. Per doc, with unigram MLE p(t) = c(t)/N:
    * surprisal = Σ −log2 p(tokᵢ) = n_tok·log2(N) − Σ log2(c(tokᵢ)).
    *
    * Numeric determinism: per-token log2 values are quantised ONCE in
    * the vocab table to integer micro-bits (⌊log2(c)·10⁶⌋), then
    * integer-summed per doc — integer sums are order-independent, so
    * the result is bit-stable under any partitioning and reproducible
    * by a SQL oracle (a float Σ log2 would be order-sensitive in the
    * last ulp). `mean_surprisal_micro` is exact integer division.
    *
    * Scale shape: vocab aggregate (token-keyed shuffle, map-side
    * combine), token→vocab equi-join (AQE handles the Zipf head; the
    * head of the vocab is also exactly what a broadcast-topK variant
    * would peel off), doc aggregate (id-keyed shuffle). Three shuffles,
    * each on a different natural key — the canonical two-pass
    * count-then-score MapReduce shape; no driver-side state at any
    * corpus size. Docs with zero tokens have no defined surprisal and
    * drop out (matching the SQL twin's join semantics).
    */
  def unigramSurprisal(df: DataFrame): DataFrame = {
    val toks = docTokens(df)
    val vocab = OpCaches.persist(toks.groupBy("tok").agg(count(lit(1)).as("c")))
    val tot = vocab.agg(microBits(sum(col("c"))).as("log2n_micro"))
    val vl = vocab.select(col("tok"), microBits(col("c")).as("l2c"))
    toks.join(vl, "tok")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("l2c")).as("sum_micro"))
      .crossJoin(broadcast(tot)) // one row: the corpus total
      .select(col("id").as("doc_id"), col("n_tok"),
        (col("n_tok") * col("log2n_micro") - col("sum_micro")).as("surprisal_micro"),
        expr("(n_tok * log2n_micro - sum_micro) div n_tok").as("mean_surprisal_micro"))
  }

  /** Corpus-conditional BIGRAM surprisal — one LM order up from
    * [[unigramSurprisal]], the shape of the KenLM-style perplexity
    * filter (CCNet; Wenzek et al. 2020) with the corpus itself as the
    * language model. Per doc, with bigram MLE p(w₂|w₁) = c(w₁w₂)/c(w₁·):
    * surprisal = Σ −log2 p = Σ (log2 c(w₁·) − log2 c(w₁w₂)), where
    * c(w₁·) counts bigrams starting with w₁ (the standard conditional
    * denominator). Templated text repeating corpus-frequent
    * TRANSITIONS scores low even when its unigrams are rare.
    *
    * Numeric determinism (the t9 recipe): both log2 factors are
    * quantised ONCE in the bigram vocab to integer micro-bits, then
    * integer-summed per doc — order-independent, hash-exact vs the SQL
    * twin. Docs with < 2 tokens have no bigrams and drop out (join
    * semantics, matching the twin).
    *
    * Scale shape: bigram construction is a NARROW zip of the token
    * array with its own tail (no positional self-join, no window —
    * nothing shuffles to build transitions). Then the t9 MapReduce
    * shape: one vocab aggregate keyed by bigram, a metadata-scale
    * re-aggregate of that vocab for the w₁ margins (never a second
    * pass over the token relation), the score join, one doc aggregate.
    */
  def bigramSurprisal(df: DataFrame): DataFrame = {
    val bi = idText(df)
      .select(col("id"), explode(adjacentBigrams(tokens(col("t")))).as("bg"))
      // tokens are \s+-split so w₁ contains no space: the first field
      // of the bigram string IS the first token
      .withColumn("w1", split(col("bg"), " ", 2).getItem(0))
    val vocab = OpCaches.persist(
      bi.groupBy("bg", "w1").agg(count(lit(1)).as("c")))
    val vb = vocab.select(col("bg"), microBits(col("c")).as("l2b"))
    val vf = vocab.groupBy("w1").agg(sum(col("c")).as("cf"))
      .select(col("w1"), microBits(col("cf")).as("l2f"))
    bi.join(vb, "bg").join(vf, "w1")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("l2f") - col("l2b")).as("surprisal_micro"))
      .select(col("id").as("doc_id"), col("n_bigrams"), col("surprisal_micro"),
        expr("surprisal_micro div n_bigrams").as("mean_surprisal_micro"))
  }

  /** Linear bag-of-words classifier INFERENCE at corpus scale — the
    * fasttext-style model-based quality filter (CCNet, Wenzek et al.
    * 2020; RefinedWeb) with the model held as DATA: a vocab→weight
    * table broadcast to every executor and scored with one equi-join +
    * one doc aggregate. No per-row UDF, no model object on the
    * executors — swap the deterministic weights for trained ones and
    * the plan is unchanged.
    *
    * The vocabulary is the corpus's top-1000 tokens by DOCUMENT
    * frequency (ties broken token-ascending), so it is reproducible;
    * each weight derives from the portable md5 bucket, mapped to
    * integer micro-logits in [-1e6, 1e6] — the DuckDB twin rebuilds
    * the identical table, making every score hash-exact. OOV tokens
    * score 0 (left join); `pass` is the sign of the logit sum.
    *
    * Scale shape: token relation aggregates by token (distinct-doc
    * partial agg), top-V via TakeOrderedAndProject (driver holds V
    * rows, never the vocabulary), weights broadcast into the token
    * scan, one id-keyed doc aggregate. Zero-token docs drop out (the
    * t9 convention).
    */
  def classifierScore(df: DataFrame): DataFrame = {
    val toks = docTokens(df)
    val vocab = toks.groupBy("tok")
      .agg(countDistinct(col("id")).as("df_docs"))
      .orderBy(col("df_docs").desc, col("tok")).limit(1000)
      .select(col("tok"),
        (Sampling.bucket(col("tok"), 2001) * lit(1000L) - lit(1000000L))
          .as("w_micro"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"),
        count(col("w_micro")).as("n_hits"),
        coalesce(sum(col("w_micro")), lit(0L)).as("logit_micro"))
      .select(col("id").as("doc_id"), col("n_tok"), col("n_hits"),
        col("logit_micro"), (col("logit_micro") > 0L).as("pass"))
  }

  /** CCNet-style perplexity partition: rank every doc by its [[
    * unigramSurprisal]] quality proxy and cut the corpus into
    * head / middle / tail THIRDS (low surprisal = head, the slice
    * CCNet keeps for training). The cut is an exact global ranking —
    * but never a partitionless window: position comes from the
    * distributed prefix sum (`Sampling.runningTotal`, the t14
    * machinery) over the total order (surprisal, id), and the corpus
    * size joins in as one broadcast row. Bucket boundaries use integer
    * arithmetic (3·pos vs n), so the assignment is bit-reproducible.
    */
  def perplexityBuckets(df: DataFrame): DataFrame = {
    val scored = OpCaches.persist(
      unigramSurprisal(df).select(col("doc_id"), col("mean_surprisal_micro")))
    val n = broadcast(scored.agg(count(lit(1)).as("__n")))
    Sampling.runningTotal(
        scored.withColumn("__one", lit(1L)),
        Seq(col("mean_surprisal_micro"), col("doc_id")), "__one")
      .withColumnRenamed("running_total", "pos")
      .crossJoin(n)
      .select(col("doc_id"), col("mean_surprisal_micro"), col("pos"),
        when(col("pos") * 3 <= col("__n"), lit("head"))
          .when(col("pos") * 3 <= col("__n") * 2, lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Collocation mining by pointwise mutual information (Church &
    * Hanks 1990 — the classic vocabulary-induction / multi-word-unit
    * signal): the corpus's top bigrams by PMI = log2 P(ab) − log2 P(a)
    * − log2 P(b), with bigram probability over the bigram total and
    * unigram probabilities over the token total. Kept engine-exact the
    * t15/t9 way: every count's log2 is quantised ONCE to integer
    * micro-bits, PMI is then pure integer arithmetic — Q(c_ab) − Q(N_bi)
    * − Q(c_a) − Q(c_b) + 2·Q(N_tok) — and the top-50 order
    * (pmi desc, bigram asc) over bigrams seen at least 5 times is a
    * deterministic total order.
    *
    * Scale shape: unigram/bigram counts are mergeable aggregates; the
    * two totals ride in as broadcast single-row joins; final selection
    * is `TakeOrderedAndProject` (driver holds k rows, never the
    * vocabulary); the uni-into-bi joins shuffle only aggregated
    * token-keyed relations.
    */
  def collocations(df: DataFrame): DataFrame = {
    val tk = tokens(col("t"))
    val src = Partitioning.ensureParallelism(df.select(col("text").as("t")))
    val uni = OpCaches.persist(
      src.select(explode(tk).as("w")).groupBy("w").agg(count(lit(1)).as("cu")))
    val bi = OpCaches.persist(
      src.select(explode(adjacentBigrams(tk)).as("bg"))
        .withColumn("w1", split(col("bg"), " ", 2).getItem(0))
        .withColumn("w2", split(col("bg"), " ", 2).getItem(1))
        .groupBy("bg", "w1", "w2").agg(count(lit(1)).as("cb")))
    val totU = uni.agg(sum("cu").as("nu"))
    val totB = bi.agg(sum("cb").as("nb"))
    bi.filter(col("cb") >= 5)
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .withColumn("pmi_micro",
        microBits(col("cb")) - microBits(col("nb")) - microBits(col("c1"))
          - microBits(col("c2")) + lit(2L) * microBits(col("nu")))
      .orderBy(col("pmi_micro").desc, col("bg"))
      .limit(50)
      .select(col("bg").as("bigram"), col("cb").as("c_bigram"),
        col("c1").as("c_w1"), col("c2").as("c_w2"), col("pmi_micro"))
  }

  /** `floor(1e6 · log2 m)` — THE integer quantisation shared by the
    * char-entropy score and its DuckDB twin. Cross-engine safety is
    * pinned mechanically: `OpsSpec` asserts this function equals a
    * committed golden table GENERATED BY DuckDB for every m ≤ 20000, so
    * a libm divergence (JVM log intrinsic vs DuckDB's) would fail a
    * unit test, not silently flip a floor boundary in production.
    */
  private[graft] def log2Microbits(m: Int): Long =
    math.floor(1000000.0 * (math.log(m.toDouble) / math.log(2.0))).toLong

  /** (codepoints, entropy·n in micro-bits) of one string: the exact
    * integer Σ k_c·(Q(n) − Q(k_c)) over the codepoint counts, Q =
    * [[log2Microbits]]. Quantise-then-integer-sum makes the score
    * order-independent and engine-exact (the t9 recipe, applied
    * per-row). Codepoint counting (not UTF-16 units) matches SQL
    * `len`/`substr` semantics beyond the BMP.
    */
  private[graft] def charEntropyKernel(t: String): (Int, Long) = {
    val counts = new java.util.HashMap[Int, Int]()
    var i = 0
    var n = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      counts.merge(cp, 1, (a, b) => a + b)
    }
    if (n == 0) (0, 0L)
    else {
      val qn = log2Microbits(n)
      var score = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val k = it.next()
        score += k.toLong * (qn - log2Microbits(k))
      }
      (n, score)
    }
  }

  /** Character-entropy quality signal (the classic gibberish /
    * boilerplate detector: machine-generated repetition scores low,
    * encrypted-or-random junk scores near the alphabet maximum):
    * per-document Shannon entropy over codepoints, as the exact
    * integer score n·H in micro-bits plus a hard gate at 4.000 mean
    * bits per char (integer cross-multiplied — no float at the
    * boundary).
    *
    * Narrow per-row kernel, no shuffle — at 100 TB this runs at scan
    * speed next to the other Gopher gates; a per-char explode +
    * `groupBy(doc, char)` would shuffle a corpus-CHARACTER-scale
    * relation for the same answer.
    */
  def charEntropy(df: DataFrame): DataFrame = {
    val u = udf((t: String) => charEntropyKernel(t))
    df.withColumn("__e", u(col("text")))
      .withColumn("n_codepoints", col("__e._1"))
      .withColumn("entropy_microbits", col("__e._2"))
      .withColumn("r_entropy", // score/(1e6·n) ≥ 4000/1000 ⇔ score ≥ 4000·1000·n
        col("entropy_microbits") >= lit(4000L * 1000L) * col("n_codepoints"))
      .drop("__e")
  }

  /** One BPE training step (Sennrich et al. 2016): the top-k adjacent
    * symbol pairs by corpus frequency — the statistic a byte-pair-
    * encoding vocabulary builder computes to pick its next merge.
    * Pre-tokenisation is the classic alphanumeric-runs shape
    * (`[A-Za-z]+|[0-9]+` — ASCII-only on purpose: Spark `substring`
    * counts UTF-16 units while SQL `substr` counts codepoints, so
    * restricting symbols to ASCII keeps the twins bit-identical
    * without a codepoint kernel).
    *
    * Scale shape — the whole point of the formulation: the corpus
    * FIRST collapses to its vocabulary via one mergeable
    * `groupBy(word).count` (Zipf makes this the great reducer: 100 TB
    * of text is a few hundred million distinct words), and the pair
    * explode + pair count then run over vocabulary-scale rows only.
    * Exploding pairs straight off the corpus would shuffle a
    * corpus-CHARACTER-scale relation for the same answer. Final
    * selection is `TakeOrderedAndProject` (driver holds k rows).
    */
  def bpePairs(df: DataFrame, topK: Int = 50, minCount: Long = 2L): DataFrame = {
    val words = Partitioning.ensureParallelism(df.select(col("text").as("t")))
      .select(explode(regexp_extract_all(col("t"),
        lit("[A-Za-z]+|[0-9]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    words.select(explode(symbolPairs).as("pair"), col("f"))
      .groupBy("pair").agg(sum("f").as("c_pair"))
      .filter(col("c_pair") >= minCount)
      .orderBy(col("c_pair").desc, col("pair"))
      .limit(topK)
  }

  /** Batch PERCEPTRON training — an actual distributed training loop,
    * integer-exact: each epoch is ONE mergeable aggregate over the
    * corpus computing the summed update `Σ_{misclassified} y·x` (a row
    * is misclassified when `y·(w·x) ≤ 0`), the 4-long weight vector
    * updates on the driver, and the next epoch's margin predicate
    * embeds the new weights as literals. The perceptron is chosen
    * PRECISELY because its update rule has no transcendentals — unlike
    * logistic loss, whose sigmoid would differ in the last ulp between
    * JVM `exp` and the SQL engine's, every quantity here is a long, so
    * the whole training trajectory (weights per epoch, misclassified
    * counts) is bit-reproducible and oracle-checkable.
    *
    * Features (all integer): bias, capped token count, punctuation and
    * digit per-mille rates. Label: `lang == "en"` → +1 else −1.
    * Three epochs. Magnitude audit: |x| ≤ 1000, so after E epochs
    * |w| ≤ E·Σ|x| and margins stay far below 2⁶³ at any realistic
    * corpus size.
    *
    * Scale shape: the feature projection is a narrow map persisted
    * once; each epoch is a partial+final aggregate (map-side combine),
    * driver state is FOUR LONGS. This is exactly how batch-GD-style
    * loops lower onto a relational engine — the g1/pagerank discipline
    * applied to model training.
    */
  def perceptronTrain(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val t = col("text")
    val feats = OpCaches.persist(
      Partitioning.ensureParallelism(df.select(
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          length(t).cast("long").as("nc"),
          tokenCount(t).cast("long").as("ntok"),
          punctCount(t).cast("long").as("np"),
          digitCount(t).cast("long").as("nd")))
        .select(col("y"), lit(1L).as("x0"),
          least(col("ntok"), lit(1000L)).as("x1"),
          expr("(np * 1000) DIV (nc + 1)").as("x2"),
          expr("(nd * 1000) DIV (nc + 1)").as("x3")))
    var w = Array(0L, 0L, 0L, 0L)
    val out = Seq.newBuilder[(Int, Long, Long, Long, Long, Long)]
    for (e <- 1 to 3) {
      val margin = col("y") *
        (lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3"))
      val mis = margin <= 0
      val row = feats.agg(
        sum(when(mis, col("y") * col("x0")).otherwise(0L)).as("d0"),
        sum(when(mis, col("y") * col("x1")).otherwise(0L)).as("d1"),
        sum(when(mis, col("y") * col("x2")).otherwise(0L)).as("d2"),
        sum(when(mis, col("y") * col("x3")).otherwise(0L)).as("d3"),
        sum(when(mis, 1L).otherwise(0L)).as("m")).first()
      w = w.zipWithIndex.map { case (v, i) => v + row.getLong(i) }
      // n_mis is evaluated with the ENTERING weights; w0..w3 are the
      // POST-update vector — the convention the oracle unrolls
      out += ((e, w(0), w(1), w(2), w(3), row.getLong(4)))
    }
    import spark.implicits._
    spark.createDataset(out.result())
      .toDF("epoch", "w0", "w1", "w2", "w3", "n_mis").coalesce(1)
  }

  /** Multi-round BPE TRAINING — `bpePairs` is one step; this runs the
    * actual merge loop, the way real BPE trainers do: on the WORD
    * VOCABULARY `(word, freq)`, never the corpus. The corpus collapses
    * once (one mergeable count, vocabulary-bounded); each round then
    * counts weighted adjacent symbol pairs at vocab scale, merges the
    * argmax pair (ties broken lexicographically — deterministic), and
    * rewrites the vocab with a fresh single-char marker per round.
    * `replace(w, pair, marker)` with a fresh marker is INVERTIBLE
    * (replace the marker back), so distinct words stay distinct and
    * the vocab needs no re-aggregation between rounds.
    *
    * Symbols are lowercase letters (pre-tokens `[a-z]+` of the
    * lowercased text); markers are `A`, `B`, `C`, … — disjoint
    * alphabets, so a merged symbol can never be confused with input.
    * Output: one row per round `(round, merged_pair, pair_count)` —
    * the merge table a tokenizer ships. Three rounds.
    *
    * Scale shape: rounds × (vocab-scale pair count + narrow rewrite);
    * the per-round argmax is a TakeOrderedAndProject of ONE row. At
    * 100 TB the corpus is touched exactly once.
    */
  def bpeTrain(df: DataFrame): DataFrame = {
    val vocab = OpCaches.persist(
      Partitioning.ensureParallelism(df.select(col("text").as("t")))
        .select(lowerWords)
        .groupBy("w0").agg(count(lit(1)).as("f")))
    runMergeRounds(vocab)._2
  }

  /** The shared merge loop: `vocab` is `(w0, f)` — the ORIGINAL word
    * plus corpus frequency. Returns the rewritten vocabulary
    * `(w0, w, f)` after three rounds (w0 rides along untouched, so the
    * caller can map originals to their merged forms) and the merge
    * table `(round, merged_pair, pair_count)`.
    */
  private def runMergeRounds(vocab0: DataFrame): (DataFrame, DataFrame) = {
    val spark = vocab0.sparkSession
    var vocab = OpCaches.persist(
      vocab0.select(col("w0"), col("w0").as("w"), col("f")))
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (r <- 1 to 3) {
      val top = vocab.select(explode(symbolPairs).as("pair"), col("f"))
        .groupBy("pair").agg(sum("f").as("c"))
        .orderBy(col("c").desc, col("pair"))
        .limit(1).collect()
      require(top.nonEmpty, s"bpe merge loop: vocabulary exhausted at round $r")
      val (pair, c) = (top(0).getString(0), top(0).getLong(1))
      merges += ((r, pair, c))
      val marker = ('A' + r - 1).toChar.toString
      vocab = OpCaches.persist(
        vocab.select(col("w0"),
          replace(col("w"), lit(pair), lit(marker)).as("w"), col("f")))
    }
    import spark.implicits._
    (vocab,
      spark.createDataset(merges.result())
        .toDF("round", "merged_pair", "pair_count").coalesce(1))
  }

  /** N-GRAM NOVELTY — the per-document memorization/boilerplate
    * signal: what fraction of a doc's distinct token 5-grams also
    * occur in at least one OTHER document. Low novelty = the doc is
    * mostly corpus-repeated content (mirrors, templates, quotes); the
    * complement of d13's span view, scored per document instead of
    * located per span. Output `(doc_id, n_grams, n_shared,
    * novelty_pm)` — integer per-mille, NULL for docs with fewer than
    * 5 tokens (no evidence).
    *
    * Scale shape: distinct (doc, gram) pairs once (one mergeable
    * distinct), gram document-frequency one mergeable count, and the
    * join-back is gram-keyed — a boilerplate gram is one row per
    * containing doc on the probe side with a single-row build per key,
    * the AQE-splittable shape (the t24/d13 posture). The corpus text
    * is scanned exactly once.
    */
  def ngramNovelty(df: DataFrame): DataFrame = {
    val tk = tokens(col("t"))
    val gramsCol = when(size(tk) >= 5,
        array_distinct(transform(sequence(lit(1), size(tk) - 4),
          i => concat_ws(" ", slice(tk, i, lit(5))))))
      .otherwise(array().cast("array<string>"))
    val dg = OpCaches.persist(
      idText(df).select(col("id"), explode(gramsCol).as("gram")))
    val dfreq = dg.groupBy("gram").agg(count(lit(1)).as("dfd"))
    val per = dg.join(dfreq, "gram")
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("dfd") >= 2, 1L).otherwise(0L)).as("n_shared"))
    df.select(col("doc_id"))
      .join(per.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_grams") > 0,
          expr("((n_grams - n_shared) * 1000) DIV n_grams")).as("novelty_pm"))
  }

  /** BPE ENCODING — apply a trained merge table to the corpus and
    * report per-document token accounting, the step every pipeline
    * runs after `bpeTrain` to budget/pack with the REAL tokenizer
    * rather than a whitespace proxy. Output per input document:
    * `(doc_id, n_pretokens, n_chars, n_bpe_tokens)` — pre-token
    * count, raw letter count, and the post-merge BPE token count
    * (each surviving symbol, single letters and merge markers alike,
    * is one token). Documents with no `[a-z]` pre-tokens report zeros.
    *
    * Scale shape — the tokenizer-application trick is that encoding is
    * a VOCABULARY computation, not a corpus one: the corpus collapses
    * once into per-doc word counts (one mergeable aggregate), training
    * and merge application run entirely at vocab scale (the same
    * `runMergeRounds` loop `bpeTrain` uses, with `w0` riding along as
    * the join-back key), and per-doc totals come from one equi-join of
    * the (doc, word) counts against the vocab-scale `(w0 → token
    * count)` map — broadcast when the vocabulary fits, AQE-splittable
    * SMJ otherwise (the encode side has ONE row per word, so a Zipf
    * head word skews only the probe side, exactly the shape AQE's
    * skew-join splits). The corpus text is touched exactly once.
    */
  def bpeEncode(df: DataFrame): DataFrame = {
    val docWords = OpCaches.persist(
      idText(df).select(col("id"), lowerWords)
        .groupBy("id", "w0").agg(count(lit(1)).as("cnt")))
    val vocab = docWords.groupBy("w0").agg(sum("cnt").as("f"))
    val encoded = runMergeRounds(vocab)._1
      .select(col("w0"), length(col("w")).cast("long").as("toks"))
    val perDoc = docWords.join(encoded, "w0")
      .groupBy("id").agg(
        sum("cnt").as("n_pretokens"),
        sum(col("cnt") * length(col("w0"))).as("n_chars"),
        sum(col("cnt") * col("toks")).as("n_bpe_tokens"))
    df.select(col("doc_id"))
      .join(perDoc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pretokens"), lit(0L)).as("n_pretokens"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** RAG CHUNKING — split every document into overlapping fixed-size
    * token windows, the retrieval-unit table every RAG/embedding
    * pipeline materialises before indexing. Chunk starts advance by
    * `stride` (< `size` ⇒ overlap); the tail chunk may be short but
    * never empty; a document shorter than one window is one chunk.
    * Output per chunk: `(doc_id, chunk_idx, tok_start, n_tokens_chunk,
    * chunk_fp)` — 0-based start offset in tokens and the portable
    * 60-bit md5-prefix fingerprint of the space-joined window (the t4
    * hash recipe), so downstream dedup/indexing can key on content.
    *
    * Scale shape: tokenize + windowed slice + hash is a pure NARROW
    * map (`posexplode` over the per-doc start sequence) — zero
    * shuffle, whole-stage codegen, embarrassingly parallel at any
    * corpus size. Chunk count per doc is ⌈n/stride⌉, bounded by the
    * document itself — no skew beyond document length skew. Being
    * row-local, it serves a streaming frame as it is (st20: the
    * non-overlapping 32-token indexing feed), with no watermark and no
    * state store.
    */
  def chunks(df: DataFrame, size: Int = 64, stride: Int = 48): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      "chunks: need 1 <= stride <= size")
    val tk = tokens(col("text"))
    Partitioning.ensureParallelism(df)
      .select(col("doc_id"), tk.as("tk"))
      .filter(size_(col("tk")) >= 1)
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(0), size_(col("tk")) - 1, lit(stride))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col").cast("long").as("tok_start"),
        least(lit(size.toLong), size_(col("tk")) - col("col"))
          .cast("long").as("n_tokens_chunk"),
        conv(substring(md5(concat_ws(" ",
            slice(col("tk"), col("col") + 1, lit(size)))), 1, 15), 16, 10)
          .cast("long").as("chunk_fp"))
  }

  // functions.size clashes with the Int parameter name above
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** GREEN-LIST WATERMARK AUDIT — the detection side of the
    * "green/red token list" LLM watermarking scheme (Kirchenbauer et
    * al., 2023, simplified to a context-free list): each vocabulary
    * token hashes to green or red with the portable md5 coin
    * (`Sampling.bucket(token, 2)`), watermarked generators
    * over-produce green tokens, and a document flags when its green
    * count deviates from the fair-coin null at α = 0.05. The verdict
    * is the exact χ²(1 df) polynomial inequality on the binomial —
    * `1000·(2g − n)² ≥ 3841·n` — the q_ab_chisq posture: no normal
    * CDF, no float, bit-portable. (Two-sided: an audit flags BOTH
    * green excess and green deficit as non-natural; the watermark
    * direction is the sign of `2g − n`.)
    *
    * Scale shape: pure NARROW map — token array, one `filter` HOF for
    * the green count (the lambda touches only its own variable, so no
    * re-evaluation trap), integer verdict per row. Zero shuffle at
    * any corpus size. Being row-local, it serves a streaming frame as
    * it is (st21 emits the flagged rows as an alerting feed).
    */
  def watermarkAudit(df: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    // THE md5 coin (Sampling.bucket) applied per token — one recipe,
    // zero drift risk vs the oracle's bucketSql twin
    val green = filter(tk, t => Sampling.bucket(t, 2) === 0)
    Partitioning.ensureParallelism(df)
      .select(col("doc_id"),
        size_(tk).cast("long").as("n_tokens"),
        size_(green).cast("long").as("n_green"))
      .withColumn("green_pm",
        when(col("n_tokens") > 0, expr("(n_green * 1000) DIV n_tokens")))
      .withColumn("flagged",
        col("n_tokens") > 0 &&
          lit(1000L) * (col("n_green") * 2 - col("n_tokens")) *
            (col("n_green") * 2 - col("n_tokens")) >=
            lit(3841L) * col("n_tokens"))
  }
}
