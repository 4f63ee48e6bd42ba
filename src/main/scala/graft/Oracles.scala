package graft

/** DuckDB oracle SQL for each query in `GraftQueries.all`. Column names
  * and types are aligned with the Spark results (the driver sorts columns
  * by name and hash-compares values). Conventions:
  *  - counts / integer sums are CAST(... AS BIGINT) (DuckDB's SUM on
  *    integers yields HUGEINT, Spark yields LONG);
  *  - money aggregates route through DECIMAL then DOUBLE on both sides so
  *    they are exact and order-independent;
  *  - time arithmetic uses integer microseconds (epoch_us ↔ unix_micros).
  */
object Oracles {

  /** The er1 match derivation as shared CTE text (`cust` … `best`),
    * reused verbatim by er1_record_linkage and the p5 capstone so the
    * two oracles cannot drift from each other.
    */
  private def er1MatchCtes: String = {
    val coin = bucketSql("c_custkey", 2)
    s"""cust AS (
       |  SELECT c_custkey, c_name, c_nationkey,
       |    substr(d, 1, 3) || '-' || substr(d, 4, 3) || '-' || substr(d, 7, 4)
       |      AS c_phone
       |  FROM (SELECT *,
       |          lpad(CAST(c_custkey * 7919 % 10000000000 AS VARCHAR),
       |               10, '0') AS d
       |        FROM customer)),
       |dirty AS (
       |  SELECT c_custkey AS d_id,
       |    CASE WHEN $coin = 0 THEN replace(c_name, '5', 'S')
       |         ELSE c_name END AS d_name,
       |    CASE WHEN $coin = 1 THEN replace(c_phone, '9', '0')
       |         ELSE c_phone END AS d_phone,
       |    c_nationkey AS d_nation
       |  FROM cust),
       |dk AS (
       |  SELECT *,
       |    CAST(d_nation AS VARCHAR) || ':' || substr(d_phone, 1, 9) AS bp,
       |    CAST(d_nation AS VARCHAR) || ':' || substr(d_name, 13, 6) AS bn
       |  FROM dirty),
       |ck AS (
       |  SELECT c_custkey, c_name, c_phone, c_nationkey,
       |    CAST(c_nationkey AS VARCHAR) || ':' || substr(c_phone, 1, 9) AS bp,
       |    CAST(c_nationkey AS VARCHAR) || ':' || substr(c_name, 13, 6) AS bn
       |  FROM cust),
       |cand AS (
       |  SELECT d_id, d_name, d_phone, d_nation,
       |         c_custkey, c_name, c_phone, c_nationkey
       |  FROM dk JOIN ck ON dk.bp = ck.bp
       |  UNION ALL
       |  SELECT d_id, d_name, d_phone, d_nation,
       |         c_custkey, c_name, c_phone, c_nationkey
       |  FROM dk JOIN ck ON dk.bn = ck.bn),
       |scored AS (
       |  SELECT d_id, c_custkey,
       |    greatest(30 - 6 * levenshtein(d_name, c_name), 0)
       |    + CASE WHEN d_phone = c_phone THEN 20
       |           ELSE greatest(20 - 4 * levenshtein(d_phone, c_phone), 0) END
       |    + CASE WHEN d_nation = c_nationkey THEN 5 ELSE 0 END AS score
       |  FROM cand),
       |best AS (
       |  SELECT d_id, c_custkey, score, row_number() OVER (
       |    PARTITION BY d_id ORDER BY score DESC, c_custkey) AS rn
       |  FROM scored WHERE score >= 35)""".stripMargin
  }



  private val tableList = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** Word-3-gram shingle CTEs shared by the near-dup oracles. */
  private def shingleCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS shs
      |  FROM toks WHERE len(t) >= 3),
      |sx AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
      |  FROM sx a JOIN sx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of `Sampling.bucket` — THE portable md5-bucket recipe;
    * every oracle that buckets ids routes through this one definition.
    */
  private def bucketSql(idExpr: String, modulus: Int): String =
    s"CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 15)) AS BIGINT) % $modulus"

  /** Scrub chain GENERATED from `TextAnalysis.piiPatterns` (the Scala
    * masking's own pattern list, RE2/DuckDB-compatible by construction)
    * so the oracle can never drift from the implementation.
    */
  private def scrubSql(expr: String): String =
    graft.ops.TextAnalysis.piiPatterns.foldLeft(expr) { case (acc, (_, p, mask)) =>
      s"regexp_replace($acc, '$p', '$mask', 'g')"
    }

  /** Shared CTE prefix of the t24/t28 oracles: the three unrolled BPE
    * merge rounds re-encoding the vocabulary (w0 rides along as the
    * join-back key), then per-doc token accounting in `pd`.
    */
  private val bpeEncodeCtes: String =
    """WITH v0 AS (
      |  SELECT w AS w0, w, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |        FROM documents)
      |  GROUP BY w),
      |p1 AS (SELECT substr(w, i, 2) AS pair, sum(f) AS c
      |       FROM v0, LATERAL (SELECT unnest(range(1, len(w))) AS i) g(i)
      |       WHERE len(w) >= 2 GROUP BY 1),
      |m1 AS (SELECT pair FROM p1 ORDER BY c DESC, pair LIMIT 1),
      |v1 AS (SELECT w0, replace(w, (SELECT pair FROM m1), 'A') AS w, f FROM v0),
      |p2 AS (SELECT substr(w, i, 2) AS pair, sum(f) AS c
      |       FROM v1, LATERAL (SELECT unnest(range(1, len(w))) AS i) g(i)
      |       WHERE len(w) >= 2 GROUP BY 1),
      |m2 AS (SELECT pair FROM p2 ORDER BY c DESC, pair LIMIT 1),
      |v2 AS (SELECT w0, replace(w, (SELECT pair FROM m2), 'B') AS w, f FROM v1),
      |p3 AS (SELECT substr(w, i, 2) AS pair, sum(f) AS c
      |       FROM v2, LATERAL (SELECT unnest(range(1, len(w))) AS i) g(i)
      |       WHERE len(w) >= 2 GROUP BY 1),
      |m3 AS (SELECT pair FROM p3 ORDER BY c DESC, pair LIMIT 1),
      |v3 AS (SELECT w0, replace(w, (SELECT pair FROM m3), 'C') AS w FROM v2),
      |enc AS (SELECT w0, len(w) AS toks FROM v3),
      |dw AS (
      |  SELECT doc_id, w AS w0, count(*) AS cnt
      |  FROM (SELECT doc_id,
      |          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |pd AS (
      |  SELECT dw.doc_id,
      |         sum(dw.cnt) AS n_pretokens,
      |         sum(dw.cnt * len(dw.w0)) AS n_chars,
      |         sum(dw.cnt * enc.toks) AS n_bpe_tokens
      |  FROM dw JOIN enc USING (w0) GROUP BY 1)""".stripMargin

  /** Byte `j` of the DigestPixels stream over `text` (byte j = byte
    * j mod 16 of md5(text ++ ":" ++ (j div 16))), as a DuckDB
    * expression — the shared primitive behind every image-fixture
    * oracle. `j` must be a SQL expression of BIGINT kind.
    */
  private def digestByteSql(j: String, key: String = "text"): String = {
    val md = s"md5($key || ':' || CAST(($j) // 16 AS VARCHAR))"
    s"((strpos('0123456789abcdef', substr($md, CAST(2*(($j) % 16) + 1 AS INTEGER), 1)) - 1) * 16" +
      s" + (strpos('0123456789abcdef', substr($md, CAST(2*(($j) % 16) + 2 AS INTEGER), 1)) - 1))"
  }

  /** The exact asymmetric-containment twin (threshold 0.8) — shared
    * VERBATIM by `d18_containment` (the chooser's exact branch at the
    * fixture SFs) and `d18_containment_screen` (the forced MinHash
    * screen + exact-verify branch): the screen is probabilistic by
    * design, so gating it against the EXACT pair set is the recall
    * assertion itself.
    */
  private lazy val containmentSql: String =
    s"""$shingleCtes
       |SELECT ia AS id_a, ib AS id_b,
       |       CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_ab,
       |       CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_ba
       |FROM inter
       |JOIN sizes sa ON inter.ia = sa.doc_id
       |JOIN sizes sb ON inter.ib = sb.doc_id
       |WHERE greatest(CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE),
       |               CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.8""".stripMargin

  /** The exact cosine-threshold pair twin (0.45) — shared by
    * `d5_embedding_dups` and its forced-blocked branch.
    */
  private lazy val cosineDupsSql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin

  /** The output-budget twin (capPairsPerDoc, budget 1, τ = 0.35 so the
    * cap BINDS at both gated SFs): the two-sided top-k replayed over
    * the cosine pair relation, ranked (sim DESC, id_a, id_b) —
    * list_cosine_similarity is bit-identical to the engine's fold (the
    * s1/s16 precedent), so the kept set matches hash-exactly. Shared
    * VERBATIM by `d5_embedding_capped` (broadcast branch) and
    * `d5_embedding_capped_blocked` (forced IVF block-join branch).
    */
  private lazy val cosineCappedSql: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35),
      |sides AS (
      |  SELECT id_a AS doc, id_a, id_b, sim FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a, id_b, sim FROM pairs),
      |kept AS (
      |  SELECT DISTINCT id_a, id_b FROM (
      |    SELECT doc, id_a, id_b,
      |      row_number() OVER (PARTITION BY doc
      |        ORDER BY sim DESC, id_a, id_b) AS rn
      |    FROM sides) WHERE rn <= 1)
      |SELECT p.id_a, p.id_b
      |FROM pairs p JOIN kept USING (id_a, id_b)""".stripMargin

  /** The 64-bit aHash derivation as a complete WITH prefix ending in
    * an `ah(asset_id, ahash64)` CTE — every bit re-derived from the
    * formula pixels (8×8 integer downsample, strict cross-multiplied
    * mean test, bit 63 as the −2⁶³ literal since DuckDB's BIGINT
    * `1 << 63` overflows). Shared VERBATIM by `mm10_ahash64` (hash
    * values) and `mm6_image_neardup` (the pair join over them) — the
    * scrubSql no-drift convention.
    */
  private lazy val ahash64CteSql: String =
    s"""WITH dims AS (
      |  SELECT doc_id, text,
      |    16 + ((strpos('0123456789abcdef', substr(md5(text),1,1))-1)*16
      |        + (strpos('0123456789abcdef', substr(md5(text),2,1))-1)) % 17 AS w,
      |    16 + ((strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16
      |        + (strpos('0123456789abcdef', substr(md5(text),4,1))-1)) % 13 AS h
      |  FROM documents),
      |cell AS (
      |  SELECT doc_id, g.i AS i,
      |    ${pixelLumaSql("((g.i // 8) * h // 8) * w + ((g.i % 8) * w // 8)")} AS v
      |  FROM dims, LATERAL (SELECT unnest(range(0, 64)) AS i) g),
      |tot AS (SELECT doc_id, sum(v) AS s FROM cell GROUP BY 1),
      |ah AS (
      |  SELECT c.doc_id AS asset_id,
      |    CAST(sum(CASE WHEN c.v * 64 > t.s THEN
      |      CASE WHEN c.i = 63 THEN -9223372036854775808
      |           ELSE CAST(1 AS BIGINT) << CAST(c.i AS INTEGER) END
      |      ELSE 0 END) AS BIGINT) AS ahash64
      |  FROM cell c JOIN tot t USING (doc_id)
      |  GROUP BY 1)""".stripMargin

  /** Decoded-luma value of pixel `i` for a document: even doc_ids are
    * single-channel (stream byte i verbatim), odd doc_ids are RGB
    * (3 stream bytes per pixel, integer BT.601 collapse — the same
    * `Multimodal.lumaBt601` formula, exact integer arithmetic).
    */
  private def pixelLumaSql(i: String): String =
    s"""CASE WHEN doc_id % 2 = 0 THEN ${digestByteSql(i)}
       | ELSE (77*${digestByteSql(s"3*($i)")} + 150*${digestByteSql(s"3*($i)+1")}
       |     + 29*${digestByteSql(s"3*($i)+2")} + 128) // 256 END""".stripMargin

  /** The mm1 prediction relation — every field of the real-container
    * metadata decode derived analytically from the construction
    * parameters. Shared verbatim by `mm1_decode_meta` and the
    * streaming-ingest summary `st22_media_summary` (the scrubSql
    * no-drift convention).
    */
  private val mm1MetaSql: String =
    """WITH b AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS mt,
        |    octet_length(encode(text)) AS tb,
        |    CAST(doc_id % 2 + 1 AS INTEGER) * 2 AS ba,
        |    CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        |    (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*16 + (strpos('0123456789abcdef', substr(md5(text),2,1))-1) AS b0,
        |    (strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16 + (strpos('0123456789abcdef', substr(md5(text),4,1))-1) AS b1,
        |    (strpos('0123456789abcdef', substr(md5(text),7,1))-1)*16 + (strpos('0123456789abcdef', substr(md5(text),8,1))-1) AS b3
        |  FROM documents)
        |SELECT doc_id AS asset_id,
        |  CASE mt WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(CASE mt
        |    WHEN 0 THEN 1078 + (16 + b1 % 48) * (((16 + b0 % 48) + 3) // 4 * 4)
        |    WHEN 1 THEN 44 + tb // ba * ba
        |    ELSE 244 + tb END AS BIGINT) AS n_bytes,
        |  CAST(CASE mt WHEN 0 THEN 16 + b0 % 48 WHEN 1 THEN 0 ELSE 320 + b0*4 END AS INTEGER) AS width,
        |  CAST(CASE mt WHEN 0 THEN 16 + b1 % 48 WHEN 1 THEN 0 ELSE 180 + b1*4 END AS INTEGER) AS height,
        |  CAST(CASE mt WHEN 0 THEN 0
        |    WHEN 1 THEN (tb // ba * ba) * 1000 // (rate * ba)
        |    ELSE 5000 + b3*512 END AS BIGINT) AS duration_ms
        |FROM b""".stripMargin

  private def piiCountSql(expr: String): String =
    graft.ops.TextAnalysis.piiPatterns
      .map { case (_, p, _) => s"len(regexp_extract_all($expr, '$p'))" }
      .mkString(" + ")

  private def jaccardPairsSql(threshold: Double): String =
    s"""$shingleCtes
       |SELECT ia AS id_a, ib AS id_b,
       |       CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON ia = sa.doc_id
       |JOIN sizes sb ON ib = sb.doc_id
       |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $threshold""".stripMargin

  /** The t12 gopher-gate CTE chain (`f` → `g`) and its six rule
    * expressions — ONE definition shared by t12_quality_filter and
    * q_kappa so the gate's SQL twin cannot drift between them.
    */
  private val gopherCtes: String =
    """f AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, text, len(toks) AS nt,
      |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS na
      |  FROM f)""".stripMargin

  private val gopherRuleSql: Seq[(String, String)] = Seq(
    "r_len" -> "nt BETWEEN 5 AND 1000",
    "r_mean_len" ->
      "(CAST(length(text) - nt + 1 AS DOUBLE) / greatest(nt, 1)) BETWEEN 2.0 AND 12.0",
    "r_stopwords" ->
      """len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|that|it|for)\b')) >= 2""",
    "r_symbol" ->
      """CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) < 0.2""",
    "r_digit" ->
      """CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) < 0.3""",
    "r_alpha" -> "CAST(na AS DOUBLE) / greatest(nt, 1) >= 0.7")

  private def gopherKeepSql: String =
    gopherRuleSql.map { case (_, e) => s"($e)" }.mkString("\n    AND ")

  /** The t16 classifier CTE chain (`toks` → `vocab` → `per`), shared by
    * t16_classifier_score and q_kappa — `per` ends with
    * (doc_id, n_tok, n_hits, lm) and `pass` is `lm > 0`.
    */
  private def classifierCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok, ${bucketSql("tok", 2001)} * 1000 - 1000000 AS w_micro
       |  FROM (SELECT tok, count(DISTINCT doc_id) AS dfd FROM toks
       |        GROUP BY tok ORDER BY dfd DESC, tok LIMIT 1000)),
       |per AS (
       |  SELECT t.doc_id, count(*) AS n_tok, count(v.w_micro) AS n_hits,
       |    coalesce(sum(v.w_micro), 0) AS lm
       |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id)""".stripMargin

  private val langScoreExprs = Seq(
    "en" -> """len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|that|it|for)\b'))""",
    "de" -> """len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht|ein|zu|den|von)\b'))""",
    "fr" -> """len(regexp_extract_all(text, '\b(le|la|les|et|est|une|dans|que|pour|pas)\b'))""",
    "es" -> """len(regexp_extract_all(text, '\b(el|los|las|y|es|una|en|que|por|con)\b'))""",
    "zh" -> """len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]'))""",
  )

  val all: Map[String, String] = Map(

    "o1_tables" ->
      tableList.map(t => s"SELECT '$t' AS table_name").mkString(" UNION ALL "),

    "o2_ddl" -> {
      val rows = Seq(
        "customer" -> "CREATE TABLE \"customer\" (\n  \"c_custkey\" BIGINT,\n  \"c_name\" TEXT,\n  \"c_nationkey\" INTEGER,\n  \"c_acctbal\" DOUBLE PRECISION,\n  \"c_mktsegment\" TEXT\n);",
        "documents" -> "CREATE TABLE \"documents\" (\n  \"doc_id\" BIGINT,\n  \"text\" TEXT,\n  \"lang\" TEXT,\n  \"source\" TEXT,\n  \"n_chars\" BIGINT\n);",
        "embeddings" -> "CREATE TABLE \"embeddings\" (\n  \"vec_id\" BIGINT,\n  \"embedding\" TEXT,\n  \"label\" INTEGER\n);",
        "events" -> "CREATE TABLE \"events\" (\n  \"event_id\" BIGINT,\n  \"ts\" TIMESTAMP,\n  \"user_id\" BIGINT,\n  \"event_type\" TEXT,\n  \"value\" DOUBLE PRECISION,\n  \"props\" TEXT\n);",
        "lineitem" -> "CREATE TABLE \"lineitem\" (\n  \"l_orderkey\" BIGINT,\n  \"l_partkey\" BIGINT,\n  \"l_suppkey\" BIGINT,\n  \"l_linenumber\" INTEGER,\n  \"l_quantity\" DOUBLE PRECISION,\n  \"l_extendedprice\" DOUBLE PRECISION,\n  \"l_discount\" DOUBLE PRECISION,\n  \"l_tax\" DOUBLE PRECISION,\n  \"l_returnflag\" TEXT,\n  \"l_linestatus\" TEXT,\n  \"l_shipdate\" TIMESTAMP\n);",
        "nation" -> "CREATE TABLE \"nation\" (\n  \"n_nationkey\" INTEGER,\n  \"n_name\" TEXT,\n  \"n_regionkey\" INTEGER\n);",
        "orders" -> "CREATE TABLE \"orders\" (\n  \"o_orderkey\" BIGINT,\n  \"o_custkey\" BIGINT,\n  \"o_orderstatus\" TEXT,\n  \"o_totalprice\" DOUBLE PRECISION,\n  \"o_orderdate\" TIMESTAMP,\n  \"o_orderpriority\" TEXT\n);",
        "part" -> "CREATE TABLE \"part\" (\n  \"p_partkey\" BIGINT,\n  \"p_name\" TEXT,\n  \"p_brand\" TEXT,\n  \"p_type\" TEXT,\n  \"p_size\" INTEGER,\n  \"p_retailprice\" DOUBLE PRECISION\n);",
        "region" -> "CREATE TABLE \"region\" (\n  \"r_regionkey\" INTEGER,\n  \"r_name\" TEXT\n);",
        "supplier" -> "CREATE TABLE \"supplier\" (\n  \"s_suppkey\" BIGINT,\n  \"s_name\" TEXT,\n  \"s_nationkey\" INTEGER,\n  \"s_acctbal\" DOUBLE PRECISION\n);",
      )
      rows.map { case (t, ddl) =>
        val lit = ddl.replace("'", "''").replace("\n", "' || chr(10) || '")
        s"SELECT '$t' AS table_name, '$lit' AS ddl"
      }.mkString(" UNION ALL ")
    },

    "o3_columns" -> {
      val values =
        """('customer',1,'c_custkey','BIGINT',true),('customer',2,'c_name','TEXT',true),
          |('customer',3,'c_nationkey','INTEGER',true),('customer',4,'c_acctbal','DOUBLE PRECISION',true),
          |('customer',5,'c_mktsegment','TEXT',true),
          |('documents',1,'doc_id','BIGINT',true),('documents',2,'text','TEXT',true),
          |('documents',3,'lang','TEXT',true),('documents',4,'source','TEXT',true),
          |('documents',5,'n_chars','BIGINT',true),
          |('embeddings',1,'vec_id','BIGINT',true),('embeddings',2,'embedding','TEXT',true),
          |('embeddings',3,'label','INTEGER',true),
          |('events',1,'event_id','BIGINT',true),('events',2,'ts','TIMESTAMP',true),
          |('events',3,'user_id','BIGINT',true),('events',4,'event_type','TEXT',true),
          |('events',5,'value','DOUBLE PRECISION',true),('events',6,'props','TEXT',true),
          |('lineitem',1,'l_orderkey','BIGINT',true),('lineitem',2,'l_partkey','BIGINT',true),
          |('lineitem',3,'l_suppkey','BIGINT',true),('lineitem',4,'l_linenumber','INTEGER',true),
          |('lineitem',5,'l_quantity','DOUBLE PRECISION',true),('lineitem',6,'l_extendedprice','DOUBLE PRECISION',true),
          |('lineitem',7,'l_discount','DOUBLE PRECISION',true),('lineitem',8,'l_tax','DOUBLE PRECISION',true),
          |('lineitem',9,'l_returnflag','TEXT',true),('lineitem',10,'l_linestatus','TEXT',true),
          |('lineitem',11,'l_shipdate','TIMESTAMP',true),
          |('nation',1,'n_nationkey','INTEGER',true),('nation',2,'n_name','TEXT',true),
          |('nation',3,'n_regionkey','INTEGER',true),
          |('orders',1,'o_orderkey','BIGINT',true),('orders',2,'o_custkey','BIGINT',true),
          |('orders',3,'o_orderstatus','TEXT',true),('orders',4,'o_totalprice','DOUBLE PRECISION',true),
          |('orders',5,'o_orderdate','TIMESTAMP',true),('orders',6,'o_orderpriority','TEXT',true),
          |('part',1,'p_partkey','BIGINT',true),('part',2,'p_name','TEXT',true),
          |('part',3,'p_brand','TEXT',true),('part',4,'p_type','TEXT',true),
          |('part',5,'p_size','INTEGER',true),('part',6,'p_retailprice','DOUBLE PRECISION',true),
          |('region',1,'r_regionkey','INTEGER',true),('region',2,'r_name','TEXT',true),
          |('supplier',1,'s_suppkey','BIGINT',true),('supplier',2,'s_name','TEXT',true),
          |('supplier',3,'s_nationkey','INTEGER',true),('supplier',4,'s_acctbal','DOUBLE PRECISION',true)""".stripMargin.replace("\n", "")
      s"""SELECT v.tn AS table_name, CAST(v.ord AS BIGINT) AS ordinal,
         |v.cn AS column_name, v.dt AS data_type, v.nn AS is_nullable
         |FROM (VALUES $values) v(tn, ord, cn, dt, nn)""".stripMargin
    },

    "o4_foreign_keys" ->
      """SELECT v.t AS table_name, v.c AS column_name, v.rt AS referenced_table, v.rc AS referenced_column
        |FROM (VALUES
        |('nation','n_regionkey','region','r_regionkey'),
        |('customer','c_nationkey','nation','n_nationkey'),
        |('supplier','s_nationkey','nation','n_nationkey'),
        |('orders','o_custkey','customer','c_custkey'),
        |('lineitem','l_orderkey','orders','o_orderkey'),
        |('lineitem','l_partkey','part','p_partkey'),
        |('lineitem','l_suppkey','supplier','s_suppkey'),
        |('events','user_id','customer','c_custkey')) v(t, c, rt, rc)""".stripMargin,

    "o5_row_counts" ->
      tableList.map(t =>
        s"SELECT '$t' AS table_name, CAST((SELECT count(*) FROM $t) AS BIGINT) AS n_rows")
        .mkString(" UNION ALL "),

    "o6_scan_project" -> "SELECT o_orderkey, o_totalprice FROM orders",

    "o7_filter_date" ->
      "SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderdate > TIMESTAMP '1998-01-01 00:00:00'",

    "o8_limit" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM (SELECT * FROM orders LIMIT 100)",

    "o9_batching" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(1000 AS BIGINT) AS batch_size,
        |CAST(ceil(count(*) / 1000.0) AS BIGINT) AS n_batches FROM lineitem""".stripMargin,

    "o10_anonymise_rules" ->
      "SELECT c_custkey, 'REDACTED' AS c_mktsegment, CAST(NULL AS DOUBLE) AS c_acctbal FROM customer",

    "o11_consistency" ->
      """SELECT
        |CAST((SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) AS BIGINT) AS n_pairs_checked,
        |CAST(0 AS BIGINT) AS n_violations,
        |CAST((SELECT count(DISTINCT c_name) FROM customer) AS BIGINT) AS n_distinct_orig,
        |CAST((SELECT count(DISTINCT c_name) FROM customer) AS BIGINT) AS n_distinct_mappings""".stripMargin,

    "o12_faker_formats" -> {
      val fns = Seq("name", "firstName", "lastName", "email", "phone", "address", "city",
        "country", "company", "uuid", "username", "password", "ipv4", "date", "text", "number")
      fns.map(fn =>
        s"SELECT '$fn' AS function_name, CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_ok, CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows")
        .mkString(" UNION ALL ")
    },

    "o14_truncate" -> "SELECT c_custkey, c_name FROM customer WHERE 1 = 0",

    "o15_topo_order" ->
      """SELECT CAST(v.pos AS BIGINT) AS position, v.tn AS table_name FROM (VALUES
        |(1,'documents'),(2,'embeddings'),(3,'part'),(4,'region'),(5,'nation'),
        |(6,'customer'),(7,'supplier'),(8,'events'),(9,'orders'),(10,'lineitem')) v(pos, tn)""".stripMargin,

    // round-trip: the aggregate over the dump-read-back must equal the
    // same aggregate over the original parquet
    "o23_dump_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       max(o_orderdate) AS max_date,
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
        |FROM orders""".stripMargin,

    // referentially-consistent subsetting: the closure re-derived as
    // hand-written CTEs (anchor sample -> down to lineitem/events, up
    // to the dimensions); every orphan count must be zero in both
    // engines for the subset to restore under enabled constraints
    "o29_subset_closure" -> {
      val anchor = bucketSql("o_orderkey", 10)
      s"""WITH ko AS (SELECT * FROM orders WHERE $anchor = 0),
         |kl AS (SELECT l.* FROM lineitem l
         |       WHERE EXISTS (SELECT 1 FROM ko WHERE ko.o_orderkey = l.l_orderkey)),
         |kc AS (SELECT c.* FROM customer c
         |       WHERE EXISTS (SELECT 1 FROM ko WHERE ko.o_custkey = c.c_custkey)),
         |ks AS (SELECT s.* FROM supplier s
         |       WHERE EXISTS (SELECT 1 FROM kl WHERE kl.l_suppkey = s.s_suppkey)),
         |kp AS (SELECT p.* FROM part p
         |       WHERE EXISTS (SELECT 1 FROM kl WHERE kl.l_partkey = p.p_partkey)),
         |kn AS (SELECT n.* FROM nation n
         |       WHERE EXISTS (SELECT 1 FROM kc WHERE kc.c_nationkey = n.n_nationkey)
         |          OR EXISTS (SELECT 1 FROM ks WHERE ks.s_nationkey = n.n_nationkey)),
         |kr AS (SELECT r.* FROM region r
         |       WHERE EXISTS (SELECT 1 FROM kn WHERE kn.n_regionkey = r.r_regionkey)),
         |ke AS (SELECT e.* FROM events e
         |       WHERE EXISTS (SELECT 1 FROM kc WHERE kc.c_custkey = e.user_id))
         |SELECT 'region' AS table_name, CAST((SELECT count(*) FROM kr) AS BIGINT) AS n_rows,
         |       CAST(0 AS BIGINT) AS n_orphans
         |UNION ALL SELECT 'nation', (SELECT count(*) FROM kn),
         |  (SELECT count(*) FROM kn WHERE NOT EXISTS (SELECT 1 FROM kr WHERE kr.r_regionkey = kn.n_regionkey))
         |UNION ALL SELECT 'customer', (SELECT count(*) FROM kc),
         |  (SELECT count(*) FROM kc WHERE NOT EXISTS (SELECT 1 FROM kn WHERE kn.n_nationkey = kc.c_nationkey))
         |UNION ALL SELECT 'supplier', (SELECT count(*) FROM ks),
         |  (SELECT count(*) FROM ks WHERE NOT EXISTS (SELECT 1 FROM kn WHERE kn.n_nationkey = ks.s_nationkey))
         |UNION ALL SELECT 'part', (SELECT count(*) FROM kp), 0
         |UNION ALL SELECT 'orders', (SELECT count(*) FROM ko),
         |  (SELECT count(*) FROM ko WHERE NOT EXISTS (SELECT 1 FROM kc WHERE kc.c_custkey = ko.o_custkey))
         |UNION ALL SELECT 'lineitem', (SELECT count(*) FROM kl),
         |  (SELECT count(*) FROM kl WHERE NOT EXISTS (SELECT 1 FROM ko WHERE ko.o_orderkey = kl.l_orderkey))
         |  + (SELECT count(*) FROM kl WHERE NOT EXISTS (SELECT 1 FROM kp WHERE kp.p_partkey = kl.l_partkey))
         |  + (SELECT count(*) FROM kl WHERE NOT EXISTS (SELECT 1 FROM ks WHERE ks.s_suppkey = kl.l_suppkey))
         |UNION ALL SELECT 'events', (SELECT count(*) FROM ke),
         |  (SELECT count(*) FROM ke WHERE NOT EXISTS (SELECT 1 FROM kc WHERE kc.c_custkey = ke.user_id))""".stripMargin
    },

    // schema evolution: the added column is NULL for even keys (the
    // old generation) — the oracle simulates the generation split
    "o30_schema_evolution" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS BIGINT) AS n_with_priority,
        |       CAST(count(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS BIGINT) AS n_priorities
        |FROM orders""".stripMargin,

    // k-anonymity / l-diversity audit over quasi-identifier classes
    "o28_k_anonymity" ->
      """SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
        |       c_mktsegment AS mktsegment,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS l_distinct,
        |       count(*) >= 5 AS k_ok,
        |       count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 2 AS l_ok
        |FROM customer
        |GROUP BY 1, 2""".stripMargin,

    // exact two-sample KS: integer ECDF-gap max at pooled distinct
    // values, squared decision inequality in HUGEINT
    "q_ks_test" ->
      """WITH per AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na_v,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb_v
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1),
        |run AS (SELECT v, sum(na_v) OVER w AS fa, sum(nb_v) OVER w AS fb
        |        FROM per WINDOW w AS (ORDER BY v)),
        |tot AS (SELECT sum(na_v) AS n_a, sum(nb_v) AS n_b FROM per),
        |m AS (SELECT max(abs(fa * n_b - fb * n_a)) AS k FROM run, tot)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(k AS BIGINT) AS ks_num,
        |  CAST(n_a * n_b AS BIGINT) AS ks_den,
        |  1000000 * k * k > 1844164 * (n_a + n_b) * n_a * n_b
        |    AND n_a * n_b > 0 AS reject_05
        |FROM m, tot""".stripMargin,

    // exact Gini: global ascending spend rank, the closed form as the
    // exact rational, per-mille floor in HUGEINT
    "q_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey AS k,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, k) AS i FROM spend),
        |a AS (SELECT count(*) AS n, sum(x) AS s1, sum(i * x) AS s2 FROM r)
        |SELECT CAST(n AS BIGINT) AS n_customers, CAST(s1 AS BIGINT) AS total_cents,
        |  CAST(2 * s2 - (n + 1) * s1 AS BIGINT) AS gini_num,
        |  CAST(n * s1 AS BIGINT) AS gini_den,
        |  CAST(((2 * s2 - (n + 1) * s1) * 1000) // (n * s1) AS BIGINT) AS gini_pm
        |FROM a""".stripMargin,

    // Lorenz deciles: ascending spend rank, decile buckets, cumulative
    // population/spend shares in per-mille
    "q_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey AS k,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, k) AS i,
        |        count(*) OVER () AS n, sum(x) OVER () AS tot
        |      FROM spend),
        |d AS (SELECT ((i - 1) * 10) // n AS decile, count(*) AS n_customers,
        |        sum(x) AS bucket_cents, max(n) AS n, max(tot) AS tot
        |      FROM r GROUP BY 1),
        |c AS (SELECT decile, n_customers, bucket_cents, n, tot,
        |        sum(n_customers) OVER w AS cum_c, sum(bucket_cents) OVER w AS cum_x
        |      FROM d WINDOW w AS (ORDER BY decile))
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(n_customers AS BIGINT) AS n_customers,
        |  CAST(bucket_cents AS BIGINT) AS bucket_cents,
        |  CAST((cum_c * 1000) // n AS BIGINT) AS cum_pop_pm,
        |  CAST(CASE WHEN tot > 0 THEN (cum_x * 1000) // tot END AS BIGINT)
        |    AS cum_share_pm
        |FROM c""".stripMargin,

    // exact Spearman via doubled midranks: 2r_v = 2F_v - c_v + 1 per
    // distinct value, Pearson on the doubled ranks, n cancelled
    "q_spearman" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x,
        |    count(*) AS y
        |  FROM orders GROUP BY 1),
        |xr AS (SELECT x, count(*) AS c FROM per GROUP BY 1),
        |xrr AS (SELECT x, 2 * sum(c) OVER (ORDER BY x) - c + 1 AS rx FROM xr),
        |yr AS (SELECT y, count(*) AS c FROM per GROUP BY 1),
        |yrr AS (SELECT y, 2 * sum(c) OVER (ORDER BY y) - c + 1 AS ry FROM yr),
        |j AS (SELECT rx, ry FROM per
        |      JOIN xrr USING (x) JOIN yrr USING (y)),
        |a AS (SELECT count(*) AS n, sum(rx * ry) AS sxy,
        |        sum(rx * rx) AS sxx, sum(ry * ry) AS syy FROM j),
        |b AS (SELECT n, sxy - n * (n + 1) * (n + 1) AS num,
        |        sxx - n * (n + 1) * (n + 1) AS dx,
        |        syy - n * (n + 1) * (n + 1) AS dy FROM a)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |  CAST(num AS BIGINT) AS rho_num,
        |  CAST(dx AS BIGINT) AS rho_den_x, CAST(dy AS BIGINT) AS rho_den_y,
        |  CAST(CASE WHEN dx > 0 AND dy > 0 THEN
        |    CASE WHEN (dx * dy) // 1000000 > 0
        |      THEN (num * num) // ((dx * dy) // 1000000)
        |      ELSE (num * num * 1000000) // (dx * dy) END
        |    END AS BIGINT) AS rho2_ppm,
        |  num > 0 AS positive,
        |  dx > 0 AND dy > 0 AND 25 * num * num > dx * dy AS strong_02
        |FROM b""".stripMargin,

    // Benford first-digit audit: leading decimal digit of positive
    // cents vs the nine floor-per-mille Benford literals
    "q_benford" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents FROM lineitem),
        |cnt AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |          AS digit, count(*) AS n_values
        |        FROM v WHERE cents > 0 GROUP BY 1),
        |tot AS (SELECT sum(n_values) AS n_total FROM cnt),
        |e(digit, exp_pm) AS (VALUES (1, 301), (2, 176), (3, 124), (4, 96),
        |  (5, 79), (6, 66), (7, 57), (8, 51), (9, 45)),
        |f AS (SELECT e.digit, COALESCE(cnt.n_values, 0) AS n_values,
        |        CAST(e.exp_pm AS BIGINT) AS exp_pm
        |      FROM e LEFT JOIN cnt ON e.digit = cnt.digit)
        |SELECT f.digit, CAST(f.n_values AS BIGINT) AS n_values,
        |  CAST(n_total AS BIGINT) AS n_total,
        |  CAST(CASE WHEN n_total > 0
        |    THEN (f.n_values * 1000) // n_total END AS BIGINT) AS obs_pm,
        |  exp_pm,
        |  CAST(abs(CASE WHEN n_total > 0
        |    THEN (f.n_values * 1000) // n_total END - exp_pm) AS BIGINT)
        |    AS dev_pm,
        |  abs(CASE WHEN n_total > 0
        |    THEN (f.n_values * 1000) // n_total END - exp_pm) > 15 AS flag_15
        |FROM f, tot""".stripMargin,

    // last-touch attribution: running IGNORE-NULLS last over the
    // (ts, event_id)-ordered per-user frame, cents-exact rollup
    "q_attribution" ->
      """WITH o AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |               THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS lt
        |  FROM events)
        |SELECT coalesce(lt, 'none') AS touch,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM o WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,

    // lag/rolling features on the 5% user slice — the filter is on the
    // window partition key, so pre-filtering cannot change any frame
    "q_lag_features" ->
      """WITH f AS (
        |  SELECT user_id, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents,
        |    epoch_us(ts) AS us, ts
        |  FROM events WHERE user_id % 20 = 0)
        |SELECT user_id, event_id, value_cents,
        |  lag(value_cents, 1) OVER w AS lag1_cents,
        |  lag(value_cents, 2) OVER w AS lag2_cents,
        |  CAST(sum(value_cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS roll3_cents,
        |  CAST((us - lag(us, 1) OVER w) // 1000000 AS BIGINT) AS gap_s
        |FROM f
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // t-closeness: exact-rational TVD per QI class, unseen bands folded
    // in via n_c*N minus the seen-band mass — same identity as the engine
    "o38_t_closeness" ->
      """WITH r AS (
        |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
        |         c_mktsegment AS mktsegment,
        |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer),
        |cv AS (SELECT nationkey, mktsegment, band, count(*) AS cnt_cv
        |       FROM r GROUP BY 1, 2, 3),
        |ct AS (SELECT nationkey, mktsegment, sum(cnt_cv) AS n_c
        |       FROM cv GROUP BY 1, 2),
        |bt AS (SELECT band, sum(cnt_cv) AS cnt_v FROM cv GROUP BY 1),
        |nt AS (SELECT sum(cnt_cv) AS n_all FROM cv),
        |per AS (
        |  SELECT cv.nationkey, cv.mktsegment,
        |    min(n_c) AS n_c, min(n_all) AS n_all,
        |    sum(abs(cnt_cv * n_all - cnt_v * n_c) - cnt_v * n_c) AS seen
        |  FROM cv JOIN bt USING (band)
        |       JOIN ct USING (nationkey, mktsegment), nt
        |  GROUP BY 1, 2)
        |SELECT nationkey, mktsegment, CAST(n_c AS BIGINT) AS class_size,
        |  CAST(seen + n_c * n_all AS BIGINT) AS tvd_num,
        |  CAST(n_c * n_all * 2 AS BIGINT) AS tvd_den,
        |  (seen + n_c * n_all) * 1000 <= n_c * n_all * 2 * 400 AS t_ok
        |FROM per""".stripMargin,

    // exact AUC: the t16 score CTEs, per-distinct-logit tie groups, the
    // midrank rank-sum cross-multiplied into the integer rational
    "q_auc" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |vocab AS (
         |  SELECT tok, ${bucketSql("tok", 2001)} * 1000 - 1000000 AS w_micro
         |  FROM (SELECT tok, count(DISTINCT doc_id) AS dfd FROM toks
         |        GROUP BY tok ORDER BY dfd DESC, tok LIMIT 1000)),
         |scored AS (
         |  SELECT t.doc_id, coalesce(sum(v.w_micro), 0) AS logit_micro
         |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id),
         |lab AS (SELECT doc_id, strpos(text, 'the') > 0 AS label FROM documents),
         |per AS (
         |  SELECT logit_micro, count(*) AS n,
         |    sum(CASE WHEN label THEN 1 ELSE 0 END) AS p
         |  FROM scored JOIN lab USING (doc_id) GROUP BY 1),
         |run AS (SELECT *, sum(n) OVER (ORDER BY logit_micro) AS rt FROM per),
         |agg AS (SELECT sum(p) AS np, sum(n - p) AS nn,
         |               sum(p * (2 * rt - n + 1)) AS rs
         |        FROM run)
         |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         |  CAST(rs - np * (np + 1) AS BIGINT) AS auc_num_x2,
         |  CAST(np * nn AS BIGINT) AS auc_den,
         |  CAST(CASE WHEN np * nn > 0
         |       THEN ((rs - np * (np + 1)) * 1000) // (np * nn * 2)
         |       END AS BIGINT) AS auc_pm
         |FROM agg""".stripMargin,

    // ORC round-trip: the oracle aggregates the ORIGINAL parquet — any
    // value loss through the ORC write/read legs breaks the compare
    "o27_orc_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       max(o_orderdate) AS max_date,
        |       min(o_orderdate) AS min_date,
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
        |FROM orders""".stripMargin,

    // parallel-sink round-trip: aggregates over the part-file dump
    // read-back must equal the same over the original parquet
    "o24_dump_parallel" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
        |       max(l_shipdate) AS max_ship
        |FROM lineitem""".stripMargin,

    // JSONL round-trip: truth aggregates over the original parquet; the
    // shard count re-derived from the oracle's own running-total window
    "o25_jsonl_roundtrip" ->
      """WITH f AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS running
        |  FROM f)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(sum(CAST(('0x' || substr(md5(text), 1, 10)) AS BIGINT)) AS BIGINT) AS sum_text_h,
        |       CAST(count(DISTINCT (running - n_tokens) // 2000) AS BIGINT) AS n_shards
        |FROM r""".stripMargin,

    // CSV round-trip: the oracle aggregates the ORIGINAL parquet — a
    // quoting/escaping/newline defect on either CSV leg breaks the md5
    // content sum
    "o26_csv_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(sum(CAST(('0x' || substr(md5(text), 1, 10)) AS BIGINT)) AS BIGINT) AS sum_text_h,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents""".stripMargin,

    "o16_dump_stats" ->
      """SELECT
        |CAST(10 AS BIGINT) AS tables_exported,
        |CAST(1 AS BIGINT) AS tables_truncated,
        |CAST((SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
        |  + (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
        |  + (SELECT count(*) FROM part) + (SELECT count(*) FROM documents)
        |  + (SELECT count(*) FROM embeddings)
        |  + LEAST(5000, (SELECT count(*) FROM lineitem))
        |  + (SELECT count(*) FROM orders WHERE o_orderdate > TIMESTAMP '1998-01-01 00:00:00') AS BIGINT) AS rows_exported,
        |CAST((SELECT ceil(count(*) / 1000.0) FROM region) + (SELECT ceil(count(*) / 1000.0) FROM nation)
        |  + (SELECT ceil(count(*) / 1000.0) FROM customer) + (SELECT ceil(count(*) / 1000.0) FROM supplier)
        |  + (SELECT ceil(count(*) / 1000.0) FROM part) + (SELECT ceil(count(*) / 1000.0) FROM documents)
        |  + (SELECT ceil(count(*) / 1000.0) FROM embeddings)
        |  + ceil(LEAST(5000, (SELECT count(*) FROM lineitem)) / 1000.0)
        |  + (SELECT ceil(count(*) / 1000.0) FROM (SELECT * FROM orders WHERE o_orderdate > TIMESTAMP '1998-01-01 00:00:00')) AS BIGINT) AS n_insert_stmts,
        |CAST(10 AS BIGINT) AS n_create_stmts,
        |CAST(10 AS BIGINT) AS n_drop_stmts""".stripMargin,

    "o17_codec" ->
      """SELECT doc_id, '''' ||
        |replace(replace(replace(replace(replace(replace(text,
        |  '\', '\\'), '''', ''''''), chr(0), '\0'), chr(10), '\n'), chr(13), '\r'), chr(26), '\Z')
        ||| '''' AS sql_literal FROM documents""".stripMargin,

    "o19_stats" ->
      """WITH t AS (SELECT
        |  CAST(0 AS BIGINT) AS events_rows,
        |  CAST((SELECT count(*) FROM orders WHERE o_orderdate > TIMESTAMP '1998-01-01 00:00:00') AS BIGINT) AS orders_rows,
        |  CAST(LEAST(5000, (SELECT count(*) FROM lineitem)) AS BIGINT) AS lineitem_rows,
        |  CAST((SELECT count(*) FROM customer) AS BIGINT) AS customer_rows)
        |SELECT events_rows, orders_rows, lineitem_rows, customer_rows,
        |  events_rows + orders_rows + lineitem_rows + customer_rows AS total_rows FROM t""".stripMargin,

    "o20_sync" ->
      Seq("documents", "embeddings", "nation", "part", "region", "supplier")
        .map(t => s"SELECT '$t' AS table_name").mkString(" UNION ALL "),

    "o21_dry_run" ->
      """SELECT CAST(v.pos AS BIGINT) AS position, v.tn AS table_name,
        |CAST(CASE v.tn
        |  WHEN 'documents' THEN (SELECT count(*) FROM documents)
        |  WHEN 'embeddings' THEN (SELECT count(*) FROM embeddings)
        |  WHEN 'part' THEN (SELECT count(*) FROM part)
        |  WHEN 'region' THEN (SELECT count(*) FROM region)
        |  WHEN 'nation' THEN (SELECT count(*) FROM nation)
        |  WHEN 'customer' THEN (SELECT count(*) FROM customer)
        |  WHEN 'supplier' THEN (SELECT count(*) FROM supplier)
        |  WHEN 'events' THEN (SELECT count(*) FROM events)
        |  WHEN 'orders' THEN (SELECT count(*) FROM orders)
        |  WHEN 'lineitem' THEN (SELECT count(*) FROM lineitem)
        |END AS BIGINT) AS n_rows,
        |v.act AS action, CAST(v.nac AS BIGINT) AS n_anon_columns
        |FROM (VALUES
        |(1,'documents','FULL',0),(2,'embeddings','FULL',0),(3,'part','FULL',0),
        |(4,'region','FULL',0),(5,'nation','FULL',0),(6,'customer','FULL',2),
        |(7,'supplier','FULL',0),(8,'events','TRUNCATE',0),(9,'orders','RETAIN-DATE',0),
        |(10,'lineitem','RETAIN-COUNT',0)) v(pos, tn, act, nac)""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |sum(l_quantity) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |sum(l_quantity) / count(*) AS avg_qty,
        |CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_top_customers" ->
      """SELECT o_custkey,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY total_spent DESC, o_custkey LIMIT 25""".stripMargin,

    // bucketed layout changes the physical plan, not the result — the
    // oracle is the plain join
    "q_bucketed_join" ->
      """SELECT c_mktsegment,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
        |SELECT o_custkey, o_orderkey,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |FROM orders) WHERE rnk <= 3""".stripMargin,

    "q_window_stats" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS days_since_prev,
        |CAST(ntile(4) OVER w AS BIGINT) AS order_quartile,
        |percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS price_pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    // RANGE frame over integer epoch days; peer-inclusive, so no
    // tiebreak needed — DECIMAL keeps the windowed sums bit-exact
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing7_spend
        |FROM orders""".stripMargin,

    "q_semi_join" ->
      "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",

    "q_anti_join" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",

    "q_distinct" -> "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",

    "q_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT SELECT o_custkey FROM orders""".stripMargin,

    "q_except" ->
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders",

    "q_union_all" ->
      "SELECT r_name AS name FROM region UNION ALL SELECT n_name AS name FROM nation",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
        |sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
        |sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())""".stripMargin,

    "q_pivot" ->
      """SELECT l_returnflag,
        |sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
        |sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
        |FROM lineitem GROUP BY 1""".stripMargin,

    // ordered funnel: strictly-later stage transitions per user
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
        |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_after_view,
        |       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_after_click""".stripMargin,

    // the same ANSI statement Spark runs (views renamed to tables)
    "q_sql_cte" ->
      """WITH active AS (
        |  SELECT c_custkey, c_mktsegment FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |),
        |ranked AS (
        |  SELECT a.c_mktsegment, o.o_orderkey,
        |         row_number() OVER (PARTITION BY a.c_mktsegment
        |                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
        |  FROM active a JOIN orders o ON o.o_custkey = a.c_custkey
        |)
        |SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, o_orderkey
        |FROM ranked WHERE rnk <= 5""".stripMargin,

    "q_sql_frontend" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big
        |FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) / 2
        |GROUP BY o_orderpriority""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |CAST(count(*) AS BIGINT) AS n_events,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the verdict form: boundaries are sampling-dependent, the
    // invariant (no row lost, ranges disjoint) is not
    "q_global_sort" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows, true AS ranges_disjoint
        |FROM lineitem""".stripMargin,

    "q_outer_join" ->
      """SELECT coalesce(c_mktsegment, '<none>') AS segment,
        |  CAST(count(c_custkey) AS BIGINT) AS n_cust_rows,
        |  CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_cust_no_orders,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,

    // the bloom pre-filter is output-transparent (no false negatives,
    // the join removes false positives) — the oracle is the plain join
    "q_bloom_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000.0
        |GROUP BY 1""".stripMargin,

    // running money sum through DECIMAL: exact at every prefix, so the
    // cumulative doubles match bit-for-bit
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders""".stripMargin,

    // per-shard greedy packing: a doc's sequence index is determined by
    // the tokens before it in doc_id order (floor of an exact double)
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 32 AS shard,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT shard, ntok,
        |    sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT shard, CAST(count(DISTINCT floor((cum - ntok) / 2048.0)) AS BIGINT) AS n_seqs,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1""".stripMargin,

    // partition pruning is a plan property; the RESULT equals the same
    // 3-day aggregate over the raw table
    "q_partition_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) >= (SELECT CAST(min(ts) AS DATE) FROM events)
        |  AND CAST(ts AS DATE) < (SELECT CAST(min(ts) AS DATE) + 3 FROM events)
        |GROUP BY 1""".stripMargin,

    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM x)
        |SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions, CAST(count(*) AS BIGINT) AS n_events
        |FROM y GROUP BY user_id""".stripMargin,

    "q_asof_join" ->
      """WITH o2 AS (
        |  SELECT o_custkey AS r_custkey, o_orderdate, max(o_orderkey) AS ref_orderkey
        |  FROM orders GROUP BY 1, 2),
        |probes AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate - INTERVAL 1 DAY AS probe_ts FROM orders)
        |SELECT p.o_orderkey, o.ref_orderkey AS prev_orderkey
        |FROM probes p ASOF LEFT JOIN o2 o
        |ON p.o_custkey = o.r_custkey AND p.probe_ts >= o.o_orderdate""".stripMargin,

    "q_range_join" ->
      """SELECT o.o_orderkey, CAST(count(l.l_shipdate) AS BIGINT) AS n_in_range
        |FROM orders o LEFT JOIN lineitem l
        |ON l.l_shipdate >= o.o_orderdate
        |AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        |GROUP BY o.o_orderkey""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
        |sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_percentiles" ->
      """SELECT quantile_cont(o_totalprice, 0.5) AS p50,
        |quantile_cont(o_totalprice, 0.9) AS p90,
        |min(o_totalprice) AS pmin, max(o_totalprice) AS pmax
        |FROM orders""".stripMargin,

    // Morton interleave generated positionally — the same 32 shift/mask
    // terms the Spark expression folds
    "q_shard_layout" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS running_total
        |  FROM f)
        |SELECT doc_id, n_tokens, running_total,
        |       (running_total - n_tokens) // 2000 AS shard
        |FROM r""".stripMargin,

    "q_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH b AS (
         |  SELECT user_id % 65536 AS x, event_id % 65536 AS y FROM events),
         |z AS (SELECT x, y, (${terms.mkString(" | ")}) >> 22 AS cell FROM b)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1
         |ORDER BY n_rows DESC, cell
         |LIMIT 20""".stripMargin
    },

    // GK-sketch verdict: the approximate median's rank bound holds for
    // any merge order, so the oracle expects true
    "q_approx_quantile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS rank_within_band
        |FROM orders""".stripMargin,

    "q_approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
        |true AS within_5pct FROM lineitem""".stripMargin,

    "o13_validate_rules" ->
      """SELECT v.w AS warning FROM (VALUES
        |('unknown faker function ''notAFunction'' for customer.c_mktsegment'),
        |('unknown faker function ''bogusFn'' for supplier.s_name')) v(w)""".stripMargin,

    "o18_quote_identifiers" ->
      """SELECT v.d AS dialect, v.i AS identifier, v.q AS quoted FROM (VALUES
        |('mysql', 'users', '`users`'),
        |('mysql', 'weird`name', '`weird``name`'),
        |('mysql', 'weird"name', '`weird"name`'),
        |('mysql', 'CamelCase', '`CamelCase`'),
        |('postgres', 'users', '"users"'),
        |('postgres', 'weird`name', '"weird`name"'),
        |('postgres', 'weird"name', '"weird""name"'),
        |('postgres', 'CamelCase', '"CamelCase"'),
        |('sqlite', 'users', '"users"'),
        |('sqlite', 'weird`name', '"weird`name"'),
        |('sqlite', 'weird"name', '"weird""name"'),
        |('sqlite', 'CamelCase', '"CamelCase"')) v(d, i, q)""".stripMargin,

    "o22_config_load" ->
      """SELECT v.t AS table_name, v.tr AS is_truncate, v.r AS retain, v.ru AS rules FROM (VALUES
        |('events', true, 'all', ''),
        |('orders', false, 'after:o_orderdate:1998-01-01T00:00:00', ''),
        |('lineitem', false, 'count:5000', ''),
        |('customer', false, 'all', 'c_acctbal=null,c_mktsegment=static,c_name=faker.name'))
        |v(t, tr, r, ru)""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
        |CAST(min(doc_id) AS BIGINT) AS canonical_id, CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    // keep-rows form: one surviving row (min doc_id) per fingerprint
    "d15_exact_keep" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        |  FROM documents)
        |SELECT fp.doc_id, fp.lang, fp.source, fp.n_chars
        |FROM fp
        |JOIN (SELECT f, min(doc_id) AS m FROM fp GROUP BY f) k
        |  ON fp.f = k.f AND fp.doc_id = k.m""".stripMargin,

    "d2_minhash_lsh" -> jaccardPairsSql(0.8),

    "d3_simhash" -> jaccardPairsSql(1.0),

    "d4_ngram_jaccard" -> jaccardPairsSql(0.5),

    // d4's FORCED-PREFIX branch (PPJoin): exact by construction, so the
    // chooser's other plan shares the count-join plan's oracle verbatim
    // — green means both branches are hash-checked at the gated SFs
    "d4_jaccard_prefix" -> jaccardPairsSql(0.5),

    // d4's OUTPUT-BUDGET contract (capPairsPerDoc, budget 1): a pair
    // survives iff it is some endpoint's best match under
    // (jaccard DESC, id_a, id_b) — the two-sided top-k replayed with a
    // per-doc window; budget 1 is BINDING at both gated SFs
    "d4_jaccard_capped" ->
      s"""$shingleCtes,
         |pairs AS (
         |  SELECT ia AS id_a, ib AS id_b,
         |         CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON ia = sa.doc_id
         |  JOIN sizes sb ON ib = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5),
         |sides AS (
         |  SELECT id_a AS doc, id_a, id_b, jaccard FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a, id_b, jaccard FROM pairs),
         |kept AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT doc, id_a, id_b,
         |      row_number() OVER (PARTITION BY doc
         |        ORDER BY jaccard DESC, id_a, id_b) AS rn
         |    FROM sides) WHERE rn <= 1)
         |SELECT p.id_a, p.id_b, p.jaccard
         |FROM pairs p JOIN kept USING (id_a, id_b)""".stripMargin,

    // incremental ingest pipeline: d11 exact screen + t12 gates + t7
    // scrub + per-lang summary, stitched into one SQL twin
    "p3_ingest_pipeline" ->
      raw"""WITH fp AS (
         |  SELECT doc_id, lang, text,
         |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |surv AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT b0.doc_id, b0.lang, b0.text,
         |      row_number() OVER (PARTITION BY b0.fp ORDER BY b0.doc_id) AS rn
         |    FROM fp b0
         |    WHERE b0.doc_id % 5 = 0
         |      AND NOT EXISTS (SELECT 1 FROM fp h WHERE h.doc_id % 5 != 0 AND h.fp = b0.fp)) t
         |  WHERE rn = 1),
         |g AS (
         |  SELECT doc_id, lang, text,
         |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
         |  FROM surv),
         |k AS (
         |  SELECT lang, text, len(toks) AS nt
         |  FROM g
         |  WHERE len(toks) BETWEEN 5 AND 1000
         |    AND (CAST(length(text) - len(toks) + 1 AS DOUBLE) / greatest(len(toks), 1)) BETWEEN 2.0 AND 12.0
         |    AND len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|that|it|for)\b')) >= 2
         |    AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) < 0.2
         |    AND CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) < 0.3
         |    AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / greatest(len(toks), 1) >= 0.7)
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
         |  CAST(sum(${piiCountSql("text")}) AS BIGINT) AS sum_pii,
         |  CAST(sum(CAST(('0x' || substr(md5(${scrubSql("text")}), 1, 10)) AS BIGINT)) AS BIGINT) AS sum_scrub_h
         |FROM k GROUP BY 1""".stripMargin,

    // asymmetric containment: same shingle CTEs, per-direction division
    "d18_containment" -> containmentSql,

    // d18's FORCED-SCREEN branch (candidate budget 0): the MinHash band
    // screen + exact-verify path, hash-gated against the SAME exact
    // oracle — green means the screen recovered every true pair at
    // this SF, the recall claim SCALING.md round 10 makes at sf1, now
    // oracle-recorded at the gated SFs
    "d18_containment_screen" -> containmentSql,

    // d18's OUTPUT-BUDGET contract: the d4 cap ranked by the dominant
    // direction greatest(c_ab, c_ba); budget 1, binding at both SFs
    "d18_containment_capped" ->
      s"""$shingleCtes,
         |pairs AS (
         |  SELECT ia AS id_a, ib AS id_b,
         |         CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_ab,
         |         CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_ba
         |  FROM inter
         |  JOIN sizes sa ON ia = sa.doc_id
         |  JOIN sizes sb ON ib = sb.doc_id
         |  WHERE greatest(CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE),
         |                 CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.8),
         |sides AS (
         |  SELECT id_a AS doc, id_a, id_b, greatest(c_ab, c_ba) AS s FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a, id_b, greatest(c_ab, c_ba) FROM pairs),
         |kept AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT doc, id_a, id_b,
         |      row_number() OVER (PARTITION BY doc
         |        ORDER BY s DESC, id_a, id_b) AS rn
         |    FROM sides) WHERE rn <= 1)
         |SELECT p.id_a, p.id_b, p.c_ab, p.c_ba
         |FROM pairs p JOIN kept USING (id_a, id_b)""".stripMargin,

    // winnowing (MOSS) near-dup join: fingerprint sets from the t5
    // winnowing pass (portable md5 hash, k=5, window=4), pair score =
    // exact fingerprint-set Jaccard — integer counts and one double
    // division, bit-identical across engines
    "d9_winnowing_dups" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id, g.i AS pos,
        |         CAST(('0x' || substr(md5(array_to_string(tk[g.i : g.i + 4], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) AS g
        |  WHERE len(tk) >= 5
        |),
        |win AS (
        |  SELECT doc_id, pos,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh,
        |         count(*) OVER (PARTITION BY doc_id) AS nsh
        |  FROM sh
        |),
        |fps AS (SELECT DISTINCT doc_id, minh AS fp FROM win WHERE pos <= greatest(nsh - 3, 1)),
        |fsizes AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
        |finter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b,
        |       CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS fp_jaccard
        |FROM finter
        |JOIN fsizes sa ON ia = sa.doc_id
        |JOIN fsizes sb ON ib = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5""".stripMargin,

    // contamination: eval = md5-bucket test split (>= 95, the same
    // portable hash as q_train_split) vs the TRAIN split only (< 90;
    // val docs are neither side); pairs sharing >= 5 word 3-grams
    "d8_contamination" ->
      s"""$shingleCtes,
         |buck AS (
         |  SELECT doc_id, ${bucketSql("doc_id", 100)} AS b
         |  FROM documents),
         |pairs AS (
         |  SELECT e.doc_id AS eval_id, t.doc_id AS train_id, count(*) AS shared
         |  FROM sx e
         |  JOIN buck be ON e.doc_id = be.doc_id AND be.b >= 95
         |  JOIN sx t ON e.s = t.s
         |  JOIN buck bt ON t.doc_id = bt.doc_id AND bt.b < 90
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 5)
         |SELECT eval_id, CAST(count(*) AS BIGINT) AS n_train_matches,
         |       CAST(max(shared) AS BIGINT) AS max_shared,
         |       CAST(sum(shared) AS BIGINT) AS total_shared
         |FROM pairs GROUP BY 1""".stripMargin,

    // connected components over the exact near-dup pairs: recursive
    // transitive closure, label = component min
    "d7_dup_clusters" ->
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (
         |  SELECT ia AS id_a, ib AS id_b FROM inter
         |  JOIN sizes sa ON ia = sa.doc_id
         |  JOIN sizes sb ON ib = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id""".stripMargin,

    // cluster-collapse dedup: keep the cluster-min doc per component,
    // pass unclustered docs through (d7's recursive-CTE components
    // anti-joined back onto the corpus)
    "d10_dedup_canonical" ->
      s"""${shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (
         |  SELECT ia AS id_a, ib AS id_b FROM inter
         |  JOIN sizes sa ON ia = sa.doc_id
         |  JOIN sizes sb ON ib = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id),
         |clusters AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
         |WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id""".stripMargin,

    // bloom-prefiltered incremental exact screen: batch docs (doc_id ≡ 0
    // mod 5) whose normalized fingerprint (the d1 key) has no historical
    // match, min-id canonical per batch fingerprint — the bloom is
    // routing only, so the answer is this plain SQL
    "d11_bloom_screen" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, source,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |surv AS (
        |  SELECT b.* FROM fp b
        |  WHERE b.doc_id % 5 = 0
        |    AND NOT EXISTS (SELECT 1 FROM fp h WHERE h.doc_id % 5 != 0 AND h.fp = b.fp))
        |SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM surv) WHERE rn = 1""".stripMargin,

    // SemDeDup-style embedding dedup: connected components of the
    // cosine≥0.45 graph (d5's exact pair definition), keep the min-id
    // vector per component, unclustered vectors pass through — the d7
    // recursive-CTE component machinery over the d5 edge set
    "d12_semdedup" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.45),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id),
        |clusters AS (
        |  SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT e.vec_id, e.label
        |FROM embeddings e LEFT JOIN clusters c ON e.vec_id = c.vec_id
        |WHERE c.vec_id IS NULL OR c.cluster_id = e.vec_id""".stripMargin,

    // Lee et al. ExactSubstr at gram size 5: the gram hash is the same
    // portable md5-top-60-bits as t5_winnowing; pos is 0-based
    "d13_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |         CAST(('0x' || substr(md5(array_to_string(tk[g.i : g.i + 4], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) AS g
        |  WHERE len(tk) >= 5
        |),
        |marked AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM sh
        |  ) WHERE cnt >= 2
        |),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos > coalesce(max(pos + 4) OVER (
        |             PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |           THEN 1 ELSE 0 END AS brk
        |  FROM marked
        |),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl
        |)
        |SELECT doc_id,
        |       CAST(min(pos) AS INTEGER) AS span_start,
        |       CAST(max(pos) + 4 AS INTEGER) AS span_end,
        |       CAST(max(pos) + 4 - min(pos) + 1 AS INTEGER) AS span_tokens
        |FROM grp GROUP BY doc_id, g""".stripMargin,

    // keep-first strip: rank-1 occurrence of each duplicated gram is
    // protected; repeat occurrences mark removal intervals
    "d14_span_strip" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |         CAST(('0x' || substr(md5(array_to_string(tk[g.i : g.i + 4], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) AS g
        |  WHERE len(tk) >= 5
        |),
        |marked AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |           count(*) OVER (PARTITION BY h) AS cnt,
        |           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
        |    FROM sh
        |  ) WHERE cnt >= 2 AND rk >= 2
        |),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos > coalesce(max(pos + 4) OVER (
        |             PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |           THEN 1 ELSE 0 END AS brk
        |  FROM marked
        |),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl
        |),
        |spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e FROM grp GROUP BY doc_id, g
        |),
        |tok AS (
        |  SELECT doc_id, g.i - 1 AS ti, tk[g.i] AS tok
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) AS g
        |),
        |kept AS (
        |  SELECT t.doc_id, t.ti, t.tok FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |                    WHERE s.doc_id = t.doc_id AND t.ti BETWEEN s.s AND s.e)
        |),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       coalesce(a.clean_text, '') AS clean_text,
        |       CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_tokens_kept,
        |       CAST(len(d.tk) - coalesce(a.n_kept, 0) AS INTEGER) AS n_tokens_dropped
        |FROM toks d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // incremental dedup: the exact near-dup join restricted to pairs
    // touching the new batch (doc_id ≡ 0 mod 5)
    "d6_incremental_dedup" ->
      s"""SELECT * FROM (
         |${jaccardPairsSql(0.8)}
         |) WHERE id_a % 5 = 0 OR id_b % 5 = 0""".stripMargin,

    "d5_embedding_dups" -> cosineDupsSql,

    // d5's FORCED-BLOCKED branch (broadcast budget 0): the IVF-cell
    // block-pair join is exact (triangle-inequality pruning only skips
    // provably-unqualifying cells), so it shares the broadcast plan's
    // oracle verbatim — both chooser branches hash-checked
    "d5_embedding_blocked" -> cosineDupsSql,

    // d5's OUTPUT-BUDGET contract (capPairsPerDoc, budget 1, τ=0.35 so
    // the cap BINDS at both gated SFs): the two-sided top-k replayed
    // over the cosine pair relation, ranked (sim DESC, id_a, id_b) —
    // list_cosine_similarity is bit-identical to the engine's fold
    // (the s1/s16 precedent), so the kept set matches hash-exactly
    // d5's SUB-QUADRATIC LSH-candidate path: the screen is
    // probabilistic by design, so the contract is the s2/s17-style
    // measured verdict — DuckDB re-derives the exact probe-pair count
    // (pairs touching vec_id < 50 at τ=0.35, the linear-cost exact
    // side the engine computed via broadcast range search) and the
    // recall/cap verdicts must come back true (pooled recall ≥ 0.70;
    // measured 0.911 / 0.877 at the two gated SFs)
    "d5_embedding_ann" ->
      """SELECT count(*) AS n_exact, true AS recall_ok, true AS cap_ok
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE (a.vec_id < 50 OR b.vec_id < 50)
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.35""".stripMargin,

    "d5_embedding_capped" -> cosineCappedSql,

    // the forced-blocked capped composition shares the broadcast-branch
    // capped oracle VERBATIM — the blocked join is exact, so both
    // chooser branches of the capped query must match it (the
    // d5_embedding_blocked convention applied to the cap)
    "d5_embedding_capped_blocked" -> cosineCappedSql,

    // JL projection: the oracle re-derives the +-1 sign matrix from md5
    // itself (same top-60-bits bucket recipe as Sampling.bucket), so the
    // check covers both the arithmetic AND the sign recipe; terms are
    // left-associated in ascending j to match the kernel's loop order
    "s6_random_projection" -> {
      def sign(n: Int) =
        s"(CASE WHEN CAST(('0x' || substr(md5('$n'), 1, 15)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)"
      (0 until 16).map { i =>
        val terms = (0 until 64)
          .map(j => s"CAST(embedding[${j + 1}] AS DOUBLE) * ${sign(i * 64 + j)}")
          .mkString(" + ")
        s"SELECT vec_id, $i AS dim, $terms AS value FROM embeddings"
      }.mkString("\nUNION ALL\n")
    },

    // diversity sampling: bucket bits re-derived from the same md5 sign
    // family as s6; the per-bucket cap is the t11 md5-order row_number
    "s10_diverse_sample" -> {
      def sign(n: Int) =
        s"(CASE WHEN CAST(('0x' || substr(md5('$n'), 1, 15)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)"
      val bucketExpr = (0 until 4).map { i =>
        val dot = (0 until 64)
          .map(j => s"CAST(embedding[${j + 1}] AS DOUBLE) * ${sign(i * 64 + j)}")
          .mkString(" + ")
        s"(CASE WHEN ($dot) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH b AS (SELECT vec_id, $bucketExpr AS bucket FROM embeddings),
         |r AS (SELECT vec_id, bucket,
         |  row_number() OVER (PARTITION BY bucket
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM b)
         |SELECT vec_id, bucket FROM r WHERE rn <= 8""".stripMargin
    },

    // triangle count: brute-force u<v triangle join on the projected
    // edge set (the Spark side's degree orientation must match exactly)
    "g2_triangles" ->
      """WITH cs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |sh AS (
        |  SELECT a.s AS u, b.s AS v, count(*) AS shared
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.s != b.s
        |  GROUP BY 1, 2),
        |topk AS (
        |  SELECT u, v FROM (
        |    SELECT u, v,
        |      row_number() OVER (PARTITION BY u ORDER BY shared DESC, v) AS rn
        |    FROM sh) t WHERE rn <= 3),
        |e AS (
        |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM topk)
        |SELECT
        |  CAST((SELECT count(DISTINCT x) FROM
        |         (SELECT u AS x FROM e UNION ALL SELECT v FROM e) t) AS BIGINT) AS n_nodes,
        |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM e e1
        |        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS BIGINT) AS n_triangles""".stripMargin,

    // multi-source BFS: three frontier expansions unrolled, each with
    // the same anti-join (NOT IN) pruning the engine's rounds apply.
    // topk is MATERIALIZED: it is referenced once per hop and DuckDB
    // would otherwise inline (and recompute) the quadratic sh join
    // per reference
    "g3_khop" ->
      """WITH cs AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |sh AS (
        |  SELECT a.s AS u, b.s AS v, count(*) AS shared
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.s != b.s
        |  GROUP BY 1, 2),
        |topk AS MATERIALIZED (
        |  SELECT u, v FROM (
        |    SELECT u, v,
        |      row_number() OVER (PARTITION BY u ORDER BY shared DESC, v) AS rn
        |    FROM sh) t WHERE rn <= 3),
        |nodes AS (SELECT u AS node FROM topk UNION SELECT v FROM topk),
        |r0 AS (SELECT node, 0 AS hop FROM nodes WHERE node % 50 = 0),
        |n1 AS (SELECT DISTINCT e.v AS node FROM topk e JOIN r0 f ON f.node = e.u),
        |f1 AS (SELECT node, 1 AS hop FROM n1
        |       WHERE node NOT IN (SELECT node FROM r0)),
        |r1 AS (SELECT * FROM r0 UNION ALL SELECT * FROM f1),
        |n2 AS (SELECT DISTINCT e.v AS node FROM topk e JOIN f1 f ON f.node = e.u),
        |f2 AS (SELECT node, 2 AS hop FROM n2
        |       WHERE node NOT IN (SELECT node FROM r1)),
        |r2 AS (SELECT * FROM r1 UNION ALL SELECT * FROM f2),
        |n3 AS (SELECT DISTINCT e.v AS node FROM topk e JOIN f2 f ON f.node = e.u),
        |f3 AS (SELECT node, 3 AS hop FROM n3
        |       WHERE node NOT IN (SELECT node FROM r2)),
        |r3 AS (SELECT * FROM r2 UNION ALL SELECT * FROM f3)
        |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM r3 GROUP BY 1""".stripMargin,

    // weakly connected components of the affinity graph: the d7
    // recursive-reach recipe (cluster label = min reachable id) over
    // the undirected top-3 edge set, then a per-component size census.
    // topk is MATERIALIZED for the same reason as g3_khop
    "g4_components" ->
      """WITH RECURSIVE cs AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |sh AS (
        |  SELECT a.s AS u, b.s AS v, count(*) AS shared
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.s != b.s
        |  GROUP BY 1, 2),
        |topk AS MATERIALIZED (
        |  SELECT u, v FROM (
        |    SELECT u, v,
        |      row_number() OVER (PARTITION BY u ORDER BY shared DESC, v) AS rn
        |    FROM sh) t WHERE rn <= 3),
        |edges AS MATERIALIZED (
        |  SELECT u AS a, v AS b FROM topk UNION SELECT v, u FROM topk),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id),
        |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM labels GROUP BY 1""".stripMargin,

    // Mann–Kendall: per-day purchase counts, S from the bucket×bucket
    // self-join, tie-corrected variance ×18 integral, the 1.96σ
    // two-sided verdict squared into 11250·S² ≥ 2401·var_x18
    "q_trend" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT date_trunc('day', ts) AS d, count(*) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |s AS (
        |  SELECT coalesce(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END), 0) AS s_stat
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |t AS (
        |  SELECT count(*) AS n_distinct,
        |    coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie18,
        |    coalesce(sum(t), 0) AS n
        |  FROM (SELECT x, count(*) AS t FROM daily GROUP BY x) g),
        |v AS (
        |  SELECT n, n_distinct, s_stat,
        |    n * (n - 1) * (2 * n + 5) - tie18 AS var_x18
        |  FROM s, t)
        |SELECT CAST(n AS BIGINT) AS n_buckets,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(s_stat AS BIGINT) AS s_stat,
        |  CAST(var_x18 AS BIGINT) AS var_x18,
        |  n > 1 AND var_x18 > 0
        |    AND 11250 * s_stat * s_stat >= 2401 * var_x18 AS significant,
        |  CASE WHEN NOT (n > 1 AND var_x18 > 0
        |      AND 11250 * s_stat * s_stat >= 2401 * var_x18) THEN 'none'
        |    WHEN s_stat > 0 THEN 'increasing'
        |    ELSE 'decreasing' END AS trend
        |FROM v""".stripMargin,

    // sample-ratio mismatch: the md5-coin cohorts vs the designed
    // 50/50, exact chi-square(1) GOF polynomial
    "q_srm" -> {
      val coin = bucketSql("u", 2)
      s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events),
         |v AS (
         |  SELECT
         |    CAST(sum(CASE WHEN $coin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN $coin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM u)
         |SELECT n_a, n_b,
         |  (n_a + n_b) > 0 AND
         |    1000 * (n_a - n_b) * (n_a - n_b) >= 3841 * (n_a + n_b)
         |    AS mismatch_05
         |FROM v""".stripMargin
    },

    // deterministic Poisson bootstrap: md5 per-mille coin vs the exact
    // Poisson(1) pmf prefix, per-replica integer means, rank-2/B-1 CI
    "q_bootstrap_ci" -> {
      val coin = bucketSql("CAST(k AS VARCHAR) || ':' || CAST(rep AS VARCHAR)", 1000)
      s"""WITH spend AS (
         |  SELECT o_custkey AS k,
         |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
         |  FROM orders GROUP BY 1),
         |e AS (
         |  SELECT k, x, g.rep,
         |    CASE WHEN $coin < 368 THEN 0 WHEN $coin < 736 THEN 1
         |      WHEN $coin < 920 THEN 2 WHEN $coin < 981 THEN 3 ELSE 4 END AS w
         |  FROM spend, LATERAL (SELECT unnest(range(0, 40)) AS rep) g),
         |m AS (
         |  SELECT rep, sum(w * x) // sum(w) AS m
         |  FROM e GROUP BY rep HAVING sum(w) > 0),
         |r AS (SELECT list(m ORDER BY m, rep) AS l, count(*) AS nr FROM m),
         |t AS (SELECT count(*) AS n_rows, sum(x) AS sx FROM spend)
         |SELECT CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(sx // n_rows AS BIGINT) AS mean_value,
         |  CAST(nr AS BIGINT) AS n_replicas,
         |  CAST(l[2] AS BIGINT) AS ci_lo,
         |  CAST(l[nr - 1] AS BIGINT) AS ci_hi
         |FROM r, t""".stripMargin
    },

    // association rules over the q_basket_pairs itemsets: confidence
    // per-mille both directions, lift in ppm, top-20 by lift
    "q_basket_rules" ->
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |nb AS (SELECT count(DISTINCT o) AS n_baskets FROM items),
        |sup AS MATERIALIZED (SELECT p, count(*) AS sup FROM items GROUP BY 1),
        |freq AS (SELECT p FROM sup WHERE sup * 2 >= 3),
        |f AS (SELECT i.o, i.p FROM items i JOIN freq USING (p)),
        |pairs AS (
        |  SELECT a.p AS part_a, b.p AS part_b, count(*) AS support
        |  FROM f a JOIN f b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
        |  CAST(sa.sup AS BIGINT) AS sup_a, CAST(sb.sup AS BIGINT) AS sup_b,
        |  CAST((support * 1000) // sa.sup AS BIGINT) AS conf_a2b_pm,
        |  CAST((support * 1000) // sb.sup AS BIGINT) AS conf_b2a_pm,
        |  CAST((support * n_baskets * 1000000) // (sa.sup * sb.sup) AS BIGINT)
        |    AS lift_ppm
        |FROM pairs JOIN sup sa ON part_a = sa.p
        |  JOIN sup sb ON part_b = sb.p, nb
        |ORDER BY lift_ppm DESC, part_a, part_b LIMIT 20""".stripMargin,

    // time-bounded funnel: per-stage EXISTS chain (exact existence
    // semantics — equivalent to the engine's reachability DP), 3-day
    // gap in epoch microseconds
    "q_funnel_window" ->
      """WITH v AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'view'),
        |c AS MATERIALIZED (
        |  SELECT DISTINCT e.user_id AS u, epoch_us(e.ts) AS t FROM events e
        |  WHERE e.event_type = 'click' AND EXISTS (
        |    SELECT 1 FROM v WHERE v.u = e.user_id AND v.t < epoch_us(e.ts)
        |      AND epoch_us(e.ts) - v.t <= 259200000000)),
        |p AS (
        |  SELECT DISTINCT e.user_id AS u FROM events e
        |  WHERE e.event_type = 'purchase' AND EXISTS (
        |    SELECT 1 FROM c WHERE c.u = e.user_id AND c.t < epoch_us(e.ts)
        |      AND epoch_us(e.ts) - c.t <= 259200000000))
        |SELECT
        |  (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM v) AS n_view,
        |  (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM c) AS n_click_3d,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_3d""".stripMargin,

    // subject-access-request export: every row holding a subject's
    // data across customer -> orders -> lineitem, unpivoted to the
    // normalised entity dump with portable value rendering
    "o39_subject_export" ->
      """WITH subj AS MATERIALIZED (
        |  SELECT * FROM customer WHERE c_custkey % 1000 = 7),
        |sord AS MATERIALIZED (
        |  SELECT o.* FROM orders o JOIN subj s ON o.o_custkey = s.c_custkey)
        |SELECT 'customer' AS table_name, CAST(c_custkey AS VARCHAR) AS row_pk,
        |  c_custkey AS subject_key, 'c_name' AS column_name, c_name AS value
        |FROM subj
        |UNION ALL SELECT 'customer', CAST(c_custkey AS VARCHAR), c_custkey,
        |  'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM subj
        |UNION ALL SELECT 'customer', CAST(c_custkey AS VARCHAR), c_custkey,
        |  'c_acctbal', CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) FROM subj
        |UNION ALL SELECT 'customer', CAST(c_custkey AS VARCHAR), c_custkey,
        |  'c_mktsegment', c_mktsegment FROM subj
        |UNION ALL SELECT 'orders', CAST(o_orderkey AS VARCHAR), o_custkey,
        |  'o_orderstatus', o_orderstatus FROM sord
        |UNION ALL SELECT 'orders', CAST(o_orderkey AS VARCHAR), o_custkey,
        |  'o_totalprice', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
        |FROM sord
        |UNION ALL SELECT 'orders', CAST(o_orderkey AS VARCHAR), o_custkey,
        |  'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM sord
        |UNION ALL SELECT 'lineitem',
        |  CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR),
        |  sord.o_custkey, 'l_partkey', CAST(l_partkey AS VARCHAR)
        |FROM lineitem JOIN sord ON l_orderkey = o_orderkey
        |UNION ALL SELECT 'lineitem',
        |  CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR),
        |  sord.o_custkey, 'l_quantity',
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
        |FROM lineitem JOIN sord ON l_orderkey = o_orderkey
        |UNION ALL SELECT 'lineitem',
        |  CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR),
        |  sord.o_custkey, 'l_extendedprice',
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)
        |FROM lineitem JOIN sord ON l_orderkey = o_orderkey""".stripMargin,

    // RAG chunk table: every 64-token window at stride 48, 0-based
    // offsets, the portable 60-bit md5-prefix content fingerprint
    "t26_chunks" ->
      raw"""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, g.i AS start, len(tk) AS n, tk
           |  FROM toks, LATERAL (SELECT unnest(range(0, len(tk), 48)) AS i) g
           |  WHERE len(tk) >= 1)
           |SELECT doc_id,
           |  CAST(start // 48 AS BIGINT) AS chunk_idx,
           |  CAST(start AS BIGINT) AS tok_start,
           |  CAST(least(64, n - start) AS BIGINT) AS n_tokens_chunk,
           |  CAST(('0x' || substr(md5(
           |      array_to_string(tk[start + 1 : start + 64], ' ')), 1, 15))
           |    AS BIGINT) AS chunk_fp
           |FROM c""".stripMargin,

    // green-list watermark audit: the md5 coin per TOKEN, exact
    // chi-square(1) flag on the green count vs the fair-coin null
    "t27_watermark" -> {
      val coin = bucketSql("t", 2)
      raw"""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
           |    CAST(len(list_filter(tk, t -> $coin = 0)) AS BIGINT) AS n_green
           |  FROM toks)
           |SELECT doc_id, n_tokens, n_green,
           |  CAST(CASE WHEN n_tokens > 0
           |    THEN (n_green * 1000) // n_tokens END AS BIGINT) AS green_pm,
           |  n_tokens > 0 AND
           |    1000 * (2 * n_green - n_tokens) * (2 * n_green - n_tokens)
           |      >= 3841 * n_tokens AS flagged
           |FROM g""".stripMargin
    },

    // s17 (kNN graph via LSH bucket self-joins) emits the s2-style
    // deterministic recall verdict on the sampled nodes
    "s17_knn_graph" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // split-conformal: per-type calib mean, |v - pred| scores, q-hat at
    // the ceil((n+1)(1-alpha)) rank via the cum*1000 inequality,
    // held-out coverage
    "q_conformal" ->
      """WITH base AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    event_id % 2 = 0 AS cal
        |  FROM events),
        |model AS (
        |  SELECT g, CAST(sum(v) // count(*) AS BIGINT) AS pred
        |  FROM base WHERE cal GROUP BY 1),
        |scored AS (
        |  SELECT b.g, b.v, b.cal, abs(b.v - m.pred) AS s
        |  FROM base b JOIN model m USING (g)),
        |ncal AS (SELECT count(*) AS n_cal FROM scored WHERE cal),
        |hist AS (SELECT s, count(*) AS c FROM scored WHERE cal GROUP BY 1),
        |rt AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist),
        |q AS (SELECT min(s) AS qhat_cents FROM rt, ncal
        |      WHERE cum * 1000 >= (n_cal + 1) * 900),
        |t AS (
        |  SELECT count(*) AS n_test,
        |    sum(CASE WHEN qhat_cents IS NULL OR s <= qhat_cents
        |      THEN 1 ELSE 0 END) AS n_cov
        |  FROM scored, q WHERE NOT cal)
        |SELECT CAST(n_cal AS BIGINT) AS n_cal,
        |  CAST(qhat_cents AS BIGINT) AS qhat_cents,
        |  CAST(n_test AS BIGINT) AS n_test,
        |  CAST(n_cov AS BIGINT) AS n_covered,
        |  CAST(CASE WHEN n_test > 0 THEN (n_cov * 1000) // n_test END
        |    AS BIGINT) AS covered_pm,
        |  CASE WHEN n_test > 0 THEN (n_cov * 1000) // n_test END >= 870
        |    AS coverage_ok
        |FROM ncal, q, t""".stripMargin,

    // difference-in-differences: md5-coin treatment x cutoff pre/post,
    // per-cell integer means, the double difference
    "q_did" -> {
      val coin = bucketSql("user_id", 2)
      s"""WITH base AS (
         |  SELECT $coin AS treat,
         |    ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM events),
         |a AS (
         |  SELECT
         |    sum(CASE WHEN treat = 0 AND NOT post THEN 1 ELSE 0 END) AS n_c_pre,
         |    sum(CASE WHEN treat = 0 AND NOT post THEN v ELSE 0 END) AS s_c_pre,
         |    sum(CASE WHEN treat = 0 AND post THEN 1 ELSE 0 END) AS n_c_post,
         |    sum(CASE WHEN treat = 0 AND post THEN v ELSE 0 END) AS s_c_post,
         |    sum(CASE WHEN treat = 1 AND NOT post THEN 1 ELSE 0 END) AS n_t_pre,
         |    sum(CASE WHEN treat = 1 AND NOT post THEN v ELSE 0 END) AS s_t_pre,
         |    sum(CASE WHEN treat = 1 AND post THEN 1 ELSE 0 END) AS n_t_post,
         |    sum(CASE WHEN treat = 1 AND post THEN v ELSE 0 END) AS s_t_post
         |  FROM base),
         |m AS (
         |  SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
         |    CASE WHEN n_c_pre > 0 THEN s_c_pre // n_c_pre END AS m_c_pre,
         |    CASE WHEN n_c_post > 0 THEN s_c_post // n_c_post END AS m_c_post,
         |    CASE WHEN n_t_pre > 0 THEN s_t_pre // n_t_pre END AS m_t_pre,
         |    CASE WHEN n_t_post > 0 THEN s_t_post // n_t_post END AS m_t_post
         |  FROM a)
         |SELECT CAST(n_c_pre AS BIGINT) AS n_c_pre,
         |  CAST(n_c_post AS BIGINT) AS n_c_post,
         |  CAST(n_t_pre AS BIGINT) AS n_t_pre,
         |  CAST(n_t_post AS BIGINT) AS n_t_post,
         |  CAST(m_c_pre AS BIGINT) AS m_c_pre,
         |  CAST(m_c_post AS BIGINT) AS m_c_post,
         |  CAST(m_t_pre AS BIGINT) AS m_t_pre,
         |  CAST(m_t_post AS BIGINT) AS m_t_post,
         |  CAST((m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS BIGINT)
         |    AS did_cents
         |FROM m""".stripMargin
    },

    // RFM quintile segmentation: global ranks by row_number, score =
    // ((i-1)*5)//n (+1 / reversed for recency), 125-cell census
    "q_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey AS k, max(CAST(o_orderdate AS DATE)) AS last_d,
        |    count(*) AS f,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS m
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n, max(last_d) AS gmax FROM per),
        |r AS (SELECT k, f, m, n,
        |        date_diff('day', last_d, gmax) AS r_days FROM per, t),
        |rk AS (SELECT k, f, m, n,
        |        row_number() OVER (ORDER BY r_days, k) AS ir,
        |        row_number() OVER (ORDER BY f, k) AS if_,
        |        row_number() OVER (ORDER BY m, k) AS im
        |       FROM r)
        |SELECT CAST(5 - ((ir - 1) * 5) // n AS BIGINT) AS r_score,
        |  CAST(((if_ - 1) * 5) // n + 1 AS BIGINT) AS f_score,
        |  CAST(((im - 1) * 5) // n + 1 AS BIGINT) AS m_score,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(m) AS BIGINT) AS monetary_cents
        |FROM rk GROUP BY 1, 2, 3""".stripMargin,

    // retention-policy audit: date-expired orders cascade to their
    // lineitems; referenced dimensions are retained
    "o40_retention_audit" ->
      """WITH eo AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_expired AS BIGINT) AS n_expired,
        |  CAST(n_rows - n_expired AS BIGINT) AS n_retained
        |FROM (
        |  SELECT 'orders' AS table_name,
        |    (SELECT count(*) FROM orders) AS n_rows,
        |    (SELECT count(*) FROM eo) AS n_expired
        |  UNION ALL
        |  SELECT 'lineitem',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM eo))
        |  UNION ALL
        |  SELECT 'customer', (SELECT count(*) FROM customer), 0) u""".stripMargin,

    // local clustering coefficient: g2's brute triangle join, the
    // three-corner tally, 2T/(deg(deg-1)) in per-mille
    "g5_clustering" ->
      """WITH cs AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |sh AS (
        |  SELECT a.s AS u, b.s AS v, count(*) AS shared
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.s != b.s
        |  GROUP BY 1, 2),
        |topk AS MATERIALIZED (
        |  SELECT u, v FROM (
        |    SELECT u, v,
        |      row_number() OVER (PARTITION BY u ORDER BY shared DESC, v) AS rn
        |    FROM sh) t WHERE rn <= 3),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM topk),
        |deg AS (
        |  SELECT n, count(*) AS degree FROM
        |    (SELECT u AS n FROM e UNION ALL SELECT v FROM e) t GROUP BY 1),
        |tr AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |pn AS (
        |  SELECT n, count(*) AS tri FROM
        |    (SELECT a AS n FROM tr UNION ALL SELECT b FROM tr
        |     UNION ALL SELECT c FROM tr) t GROUP BY 1)
        |SELECT deg.n AS node, CAST(degree AS BIGINT) AS degree,
        |  CAST(coalesce(pn.tri, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN degree >= 2
        |    THEN (coalesce(pn.tri, 0) * 2000) // (degree * (degree - 1)) END
        |    AS BIGINT) AS coeff_pm
        |FROM deg LEFT JOIN pn ON deg.n = pn.n""".stripMargin,

    // format-preserving pseudonym: per-position md5 class shift replayed
    // character by character
    "o41_fpe" -> {
      def b(m: Int) = bucketSql(
        "'graft-fpe:' || CAST(i AS VARCHAR) || ':' || c_name", m)
      s"""SELECT c_custkey,
         |  array_to_string(list_transform(range(1, len(c_name) + 1), i ->
         |    CASE
         |      WHEN ascii(substr(c_name, i, 1)) BETWEEN 48 AND 57
         |        THEN chr(CAST(((ascii(substr(c_name, i, 1)) - 48 + ${b(10)})
         |               % 10) + 48 AS INT))
         |      WHEN ascii(substr(c_name, i, 1)) BETWEEN 65 AND 90
         |        THEN chr(CAST(((ascii(substr(c_name, i, 1)) - 65 + ${b(26)})
         |               % 26) + 65 AS INT))
         |      WHEN ascii(substr(c_name, i, 1)) BETWEEN 97 AND 122
         |        THEN chr(CAST(((ascii(substr(c_name, i, 1)) - 97 + ${b(26)})
         |               % 26) + 97 AS INT))
         |      ELSE substr(c_name, i, 1) END), '') AS name_pseud
         |FROM customer""".stripMargin
    },

    // A/B power analysis: the q_ab_chisq cells, pooled rate, squared
    // MDE via the exact 28016^2/1e8 rational, detectability verdict
    "q_power" -> {
      val coin = bucketSql("u", 2)
      s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events),
         |v AS (SELECT u, $coin AS variant FROM u),
         |cvt AS (SELECT DISTINCT user_id AS u FROM events
         |        WHERE event_type = 'purchase'),
         |cells AS (SELECT variant, count(*) AS n,
         |            sum(CASE WHEN cvt.u IS NOT NULL THEN 1 ELSE 0 END) AS k
         |          FROM v LEFT JOIN cvt ON v.u = cvt.u GROUP BY 1),
         |t AS (SELECT
         |        sum(CASE WHEN variant = 0 THEN n ELSE 0 END) AS n_a,
         |        sum(CASE WHEN variant = 0 THEN k ELSE 0 END) AS conv_a,
         |        sum(CASE WHEN variant = 1 THEN n ELSE 0 END) AS n_b,
         |        sum(CASE WHEN variant = 1 THEN k ELSE 0 END) AS conv_b
         |      FROM cells),
         |p AS (SELECT *,
         |        CASE WHEN n_a + n_b > 0
         |          THEN ((conv_a + conv_b) * 1000) // (n_a + n_b) END
         |          AS p_pool_pm
         |      FROM t),
         |m AS (SELECT *,
         |        CASE WHEN n_a > 0 AND n_b > 0 AND p_pool_pm IS NOT NULL THEN
         |          (784896256 * CAST(p_pool_pm AS HUGEINT)
         |           * (1000 - p_pool_pm) * (n_a + n_b))
         |          // (100000000 * CAST(n_a AS HUGEINT) * n_b) END AS mde_pm2,
         |        CASE WHEN n_a > 0 THEN (conv_a * 1000) // n_a END AS rate_a_pm,
         |        CASE WHEN n_b > 0 THEN (conv_b * 1000) // n_b END AS rate_b_pm
         |      FROM p)
         |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
         |  CAST(p_pool_pm AS BIGINT) AS p_pool_pm,
         |  CAST(mde_pm2 AS BIGINT) AS mde_pm2,
         |  CAST(abs(rate_a_pm - rate_b_pm) AS BIGINT) AS obs_diff_pm,
         |  abs(rate_a_pm - rate_b_pm) * abs(rate_a_pm - rate_b_pm) >= mde_pm2
         |    AS powered_detect
         |FROM m""".stripMargin
    },

    // TPC-H Q10 shape: revenue lost to returns per customer, exact
    // micro-dollars, top-20
    "q_returned_items" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT) AS bp
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT o_custkey,
        |  CAST(sum(cents * (10000 - bp)) AS BIGINT) AS lost_rev_micro,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1
        |ORDER BY lost_rev_micro DESC, o_custkey LIMIT 20""".stripMargin,

    // TPC-H Q18 shape: orders above 200 total units, top-20 by volume
    "q_large_orders" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS total_qty_x100,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2
        |HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) > 20000
        |ORDER BY total_qty_x100 DESC, o_orderkey LIMIT 20""".stripMargin,

    // TPC-H Q4 shape: EXISTS (late lineitem) per order priority
    "q_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 10 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q7 shape: nation-pair revenue flow per ship year
    "q_volume_shipping" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey, year(l_shipdate) AS l_year,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)) AS micro
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
        |sup AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |cust AS (SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |ords AS (SELECT o_orderkey, cust_nation FROM orders
        |  JOIN cust ON o_custkey = c_custkey)
        |SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(micro) AS BIGINT) AS rev_micro
        |FROM li JOIN sup ON l_suppkey = s_suppkey
        |JOIN ords ON l_orderkey = o_orderkey
        |WHERE supp_nation <> cust_nation
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // TPC-H Q8 shape: NATION_3's ppm share of ASIA's PROMO revenue
    "q_market_share" ->
      """WITH asia AS (SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |ords AS (SELECT o_orderkey, year(o_orderdate) AS o_year FROM orders
        |  JOIN asia ON o_custkey = c_custkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |rows_ AS (SELECT o_year,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)) AS micro,
        |    CASE WHEN n_name = 'NATION_3' THEN 1 ELSE 0 END AS is_n3
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN ords ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey),
        |a AS (SELECT o_year, sum(micro) AS total_micro,
        |    sum(micro * is_n3) AS n3_micro FROM rows_ GROUP BY 1)
        |SELECT o_year, CAST(total_micro AS BIGINT) AS total_micro,
        |  CAST(n3_micro AS BIGINT) AS n3_micro,
        |  CAST((n3_micro * 1000000) // total_micro AS BIGINT) AS share_ppm
        |FROM a ORDER BY o_year""".stripMargin,

    // TPC-H Q9 shape: profit (rev minus 80% retail cost) per supplier
    // nation per order year, 1e-7-dollar integer units
    "q_product_profit" ->
      """SELECT n_name, o_year, CAST(sum(profit_d) AS BIGINT) AS profit_e7
        |FROM (
        |  SELECT n_name, year(o_orderdate) AS o_year,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |        (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT))
        |      AS HUGEINT) * 10 -
        |    CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS HUGEINT) *
        |      CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 8
        |      AS profit_d
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // TPC-H Q12 shape: high/low priority line counts per line status
    "q_shipmode_priority" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q14 shape: PROMO parts' ppm share of one month's revenue
    "q_promo_revenue" ->
      """WITH rows_ AS (
        |  SELECT
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)) AS micro,
        |    CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'),
        |a AS (SELECT sum(micro * is_promo) AS promo_micro,
        |    sum(micro) AS total_micro FROM rows_)
        |SELECT CAST(promo_micro AS BIGINT) AS promo_micro,
        |  CAST(total_micro AS BIGINT) AS total_micro,
        |  CAST((promo_micro * 1000000) // total_micro AS BIGINT) AS promo_ppm
        |FROM a""".stripMargin,

    // TPC-H Q17 shape: revenue of lineitems under 20% of part-average
    // quantity; truncating integer average in hundredths
    "q_small_qty" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q100,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem),
        |a AS (SELECT l_partkey AS a_partkey,
        |    sum(q100) // count(*) AS avg100 FROM li GROUP BY 1)
        |SELECT CAST(sum(cents) AS BIGINT) AS small_rev_cents,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM li JOIN a ON l_partkey = a_partkey
        |WHERE q100 * 5 < avg100""".stripMargin,

    // TPC-H Q19 shape: disjunctive brand/size/quantity revenue blocks
    "q_disjunctive" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q100,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)) AS micro
        |  FROM lineitem)
        |SELECT CAST(sum(micro) AS BIGINT) AS rev_micro,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM li JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |    AND q100 BETWEEN 100 AND 2000)
        |  OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
        |    AND q100 BETWEEN 1000 AND 3000)
        |  OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
        |    AND q100 BETWEEN 2000 AND 4000)""".stripMargin,

    // TPC-H Q21 shape: sole last-shipping supplier in finished
    // multi-supplier orders, top-10 by wait count
    "q_waiting_orders" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'),
        |ps AS (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_max
        |  FROM li GROUP BY 1, 2),
        |po AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    max(supp_max) AS ord_max FROM ps GROUP BY 1),
        |late AS (SELECT ps.l_orderkey, ps.l_suppkey FROM ps
        |  JOIN po ON ps.l_orderkey = po.l_orderkey
        |  WHERE n_supp > 1 AND supp_max = ord_max),
        |sole AS (SELECT l_orderkey, min(l_suppkey) AS l_suppkey
        |  FROM late GROUP BY 1 HAVING count(*) = 1),
        |grp AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
        |  FROM sole GROUP BY 1)
        |-- group/order by the NUMERIC key (as the Spark side does) and
        |-- format last with printf, which pads without truncating —
        |-- lpad(...,9) would silently truncate suppkeys past 9 digits
        |SELECT 'Supplier#' || printf('%09d', l_suppkey) AS s_name, numwait
        |FROM grp ORDER BY numwait DESC, l_suppkey LIMIT 10""".stripMargin,

    // TPC-H Q22 shape: above-average-balance customers with no
    // orders, per nation; truncating integer average of positives
    "q_idle_customers" ->
      """WITH cust AS (SELECT c_custkey, CAST(c_nationkey AS INTEGER) AS nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |a AS (SELECT sum(cents) // count(*) AS avg_cents FROM cust WHERE cents > 0)
        |SELECT nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        |FROM cust, a
        |WHERE cents > avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q2 shape: min-(acctbal, suppkey) supplier per shipped brand
    "q_min_cost_supplier" ->
      """WITH pairs AS (SELECT DISTINCT p_brand, l_suppkey FROM lineitem
        |  JOIN part ON l_partkey = p_partkey),
        |j AS (SELECT p_brand,
        |    CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    s_suppkey
        |  FROM pairs JOIN supplier ON l_suppkey = s_suppkey),
        |m AS (SELECT p_brand, min(cents) AS mc FROM j GROUP BY 1)
        |SELECT j.p_brand, min(j.s_suppkey) AS s_suppkey,
        |  CAST(m.mc AS BIGINT) AS acctbal_cents
        |FROM j JOIN m ON j.p_brand = m.p_brand AND j.cents = m.mc
        |GROUP BY j.p_brand, m.mc ORDER BY j.p_brand""".stripMargin,

    // TPC-H Q16 shape: distinct non-deficit suppliers per (brand, type)
    "q_supplier_count" ->
      """SELECT p_brand, p_type,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE NOT EXISTS (SELECT 1 FROM supplier
        |  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_type LIMIT 20""".stripMargin,

    // Inter-labeler agreement: Cohen's kappa (exact integer rational,
    // sign-decomposed ppm so trunc-vs-floor division agrees across
    // engines) + McNemar's paired test between the t12 gopher gate and
    // the t16 hashed-vocab classifier
    "q_kappa" ->
      s"""WITH $gopherCtes,
         |ka AS (
         |  SELECT doc_id, $gopherKeepSql AS a
         |  FROM g),
         |$classifierCtes,
         |kb AS (
         |  SELECT doc_id, lm > 0 AS b FROM per),
         |cells AS (
         |  SELECT count(*) AS n,
         |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
         |    sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,
         |    sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,
         |    sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00
         |  FROM ka JOIN kb USING (doc_id)),
         |m AS (
         |  SELECT *,
         |    CAST(n AS HUGEINT) * (n11 + n00) -
         |      (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
         |       CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS knum,
         |    CAST(n AS HUGEINT) * n -
         |      (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
         |       CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS kden
         |  FROM cells)
         |SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
         |  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
         |  CAST(n00 AS BIGINT) AS n00,
         |  CAST(knum AS BIGINT) AS kappa_num, CAST(kden AS BIGINT) AS kappa_den,
         |  CASE WHEN kden <> 0 THEN CAST(CASE WHEN knum < 0
         |    THEN -(((-knum) * 1000000) // kden)
         |    ELSE (knum * 1000000) // kden END AS BIGINT) END AS kappa_ppm,
         |  CASE WHEN kden <> 0 THEN knum * 10 > kden * 4 END AS moderate_04,
         |  CASE WHEN n10 + n01 > 0 THEN
         |    CAST(n10 - n01 AS HUGEINT) * (n10 - n01) * 1000 >=
         |      CAST(n10 + n01 AS HUGEINT) * 3841 END AS mcnemar_sig
         |FROM m""".stripMargin,

    // group-leakage-safe split: source-keyed folds + the doc-keyed
    // counterfactual's leaky-source count
    "q_group_split" -> {
      val docB = bucketSql("doc_id", 100)
      val srcB = bucketSql("source", 100)
      s"""WITH docs AS (
         |  SELECT source, doc_id,
         |    len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)) AS ntok
         |  FROM documents),
         |leaky AS (
         |  SELECT CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS leaky_sources
         |  FROM (SELECT source, count(DISTINCT
         |      CASE WHEN $docB < 90 THEN 'train'
         |           WHEN $docB < 95 THEN 'val' ELSE 'test' END) AS n_splits
         |    FROM docs GROUP BY source))
         |SELECT CASE WHEN $srcB < 90 THEN 'train'
         |            WHEN $srcB < 95 THEN 'val' ELSE 'test' END AS split,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  (SELECT leaky_sources FROM leaky) AS leaky_sources
         |FROM docs GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // padding-waste audit: power-of-2 length buckets via integer
    // bit-length (1 << len(bin(ntok-1))), never a float log2
    "q_pack_waste" ->
      """WITH d AS (
        |  SELECT len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0))
        |    AS ntok
        |  FROM documents),
        |b AS (
        |  SELECT ntok,
        |    CASE WHEN ntok <= 1 THEN CAST(1 AS BIGINT)
        |         ELSE CAST(1 AS BIGINT) << length(bin(ntok - 1)) END AS bucket
        |  FROM d WHERE ntok > 0)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(bucket - ntok) AS BIGINT) AS wasted_tokens,
        |  CAST((CAST(sum(bucket - ntok) AS HUGEINT) * 1000000) //
        |    (CAST(count(*) AS HUGEINT) * bucket) AS BIGINT) AS waste_ppm
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // cross-source syndication matrix on the d2 near-dup pair relation
    // (shares jaccardPairsSql so the pair twin cannot drift)
    "d20_mirror_matrix" ->
      s"""SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_neardup_pairs
         |FROM (${jaccardPairsSql(0.8)}) p
         |JOIN documents da ON p.id_a = da.doc_id
         |JOIN documents db ON p.id_b = db.doc_id
         |WHERE da.source <> db.source
         |GROUP BY 1, 2
         |ORDER BY n_neardup_pairs DESC, source_a, source_b""".stripMargin,

    // FK orphan audit — GENERATED from the same declared edge list the
    // Scala op consumes (ParquetSource.fixtureForeignKeys), so the twin
    // cannot drift from the schema
    "o43_fk_orphans" ->
      graft.sources.ParquetSource.fixtureForeignKeys.map { fk =>
        s"""SELECT '${fk.table}' AS table_name, '${fk.column}' AS column_name,
           |  '${fk.referencedTable}' AS referenced_table,
           |  CAST(count(*) AS BIGINT) AS n_orphans
           |FROM ${fk.table} c
           |WHERE c.${fk.column} IS NOT NULL AND NOT EXISTS
           |  (SELECT 1 FROM ${fk.referencedTable} p
           |   WHERE p.${fk.referencedColumn} = c.${fk.column})""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY table_name, column_name"),

    // TPC-H Q6 shape: filtered-scan revenue delta, zero joins
    "q_forecast_revenue" ->
      """SELECT CAST(sum(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |    CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)) AS BIGINT)
        |    AS rev_micro,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)
        |    BETWEEN 500 AND 700
        |  AND CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) < 2400""".stripMargin,

    // TPC-H Q13 shape: order-count distribution incl. zero-order customers
    "q_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // TPC-H Q15 shape: supplier(s) attaining the quarter's max revenue
    "q_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey, CAST(sum(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |    (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)))
        |    AS BIGINT) AS total_rev_micro
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev_micro
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_micro = (SELECT max(total_rev_micro) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // TPC-H Q20 shape: suppliers shipping >half of a red part's 1997 volume
    "q_dominant_supplier" ->
      """WITH pairq AS (SELECT l_partkey, l_suppkey,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS pair_q100
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |partq AS (SELECT l_partkey, sum(pair_q100) AS part_q100
        |  FROM pairq GROUP BY 1)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM pairq JOIN partq USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE pair_q100 * 2 > part_q100
        |ORDER BY s_suppkey""".stripMargin,

    // A/B/n homogeneity: per-variant chi-square contributions in
    // deterministic truncated ppm, verdict vs chi2(3 df) crit
    "q_abn_chisq" -> {
      val coin = bucketSql("u", 4)
      s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events),
         |v AS (SELECT u, $coin AS variant FROM u),
         |cvt AS (SELECT DISTINCT user_id AS u FROM events
         |        WHERE event_type = 'purchase'),
         |cells AS (SELECT variant, count(*) AS n_users,
         |            sum(CASE WHEN cvt.u IS NOT NULL THEN 1 ELSE 0 END) AS n_conv
         |          FROM v LEFT JOIN cvt ON v.u = cvt.u GROUP BY 1),
         |t AS (SELECT sum(n_users) AS n_total, sum(n_conv) AS c_total
         |      FROM cells),
         |pv AS (SELECT variant, n_users, n_conv,
         |         (n_conv * 1000) // n_users AS rate_pm,
         |         CASE WHEN n_users > 0 AND c_total > 0
         |              AND c_total < n_total THEN
         |           (1000000 * (CAST(n_conv AS HUGEINT) * n_total
         |                       - CAST(n_users AS HUGEINT) * c_total)
         |                    * (CAST(n_conv AS HUGEINT) * n_total
         |                       - CAST(n_users AS HUGEINT) * c_total))
         |           // (CAST(n_users AS HUGEINT) * c_total
         |              * (n_total - c_total))
         |         ELSE 0 END AS chi2_ppm
         |       FROM cells, t),
         |tt AS (SELECT sum(chi2_ppm) AS chi2_total_ppm FROM pv)
         |SELECT CAST(variant AS BIGINT) AS variant,
         |  CAST(n_users AS BIGINT) AS n_users,
         |  CAST(n_conv AS BIGINT) AS n_conv,
         |  CAST(rate_pm AS BIGINT) AS rate_pm,
         |  CAST(chi2_ppm AS BIGINT) AS chi2_ppm,
         |  CAST(chi2_total_ppm AS BIGINT) AS chi2_total_ppm,
         |  chi2_total_ppm >= 7815000 AS significant
         |FROM pv, tt""".stripMargin
    },

    // cohort LTV triangle: weekly cohorts, cents-exact cumulative
    // revenue, per-user LTV by truncating division
    "q_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id AS u, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |puw AS (SELECT u, w, sum(cents) AS cents FROM ev GROUP BY 1, 2),
        |f AS (SELECT u, min(w) AS cohort_week FROM puw GROUP BY 1),
        |sz AS (SELECT cohort_week, count(*) AS n_users_cohort FROM f GROUP BY 1),
        |cells AS (
        |  SELECT f.cohort_week,
        |    date_diff('day', f.cohort_week, puw.w) // 7 AS week_offset,
        |    sum(puw.cents) AS rev_cents
        |  FROM puw JOIN f ON puw.u = f.u GROUP BY 1, 2),
        |c2 AS (
        |  SELECT cohort_week, week_offset, rev_cents,
        |    sum(rev_cents) OVER (PARTITION BY cohort_week
        |      ORDER BY week_offset) AS cum
        |  FROM cells)
        |SELECT c2.cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
        |  CAST(rev_cents AS BIGINT) AS rev_cents,
        |  CAST(cum AS BIGINT) AS cum_rev_cents,
        |  CAST(n_users_cohort AS BIGINT) AS n_users_cohort,
        |  CAST(cum // n_users_cohort AS BIGINT) AS ltv_cents
        |FROM c2 JOIN sz USING (cohort_week)""".stripMargin,

    // seasonal-naive backtest: daily counts vs same-weekday-last-week,
    // integer MAE and WAPE per-mille
    "q_forecast_backtest" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS d, count(*) AS c
        |  FROM events GROUP BY 1),
        |j AS (SELECT a.c, b.c AS pred
        |      FROM daily a JOIN daily b ON a.d = b.d + INTERVAL 7 DAY),
        |t AS (SELECT count(*) AS n_days_scored, sum(c) AS total_actual,
        |        sum(abs(c - pred)) AS total_abs_err FROM j)
        |SELECT CAST(n_days_scored AS BIGINT) AS n_days_scored,
        |  CAST(total_actual AS BIGINT) AS total_actual,
        |  CAST(total_abs_err AS BIGINT) AS total_abs_err,
        |  CAST(CASE WHEN n_days_scored > 0
        |    THEN total_abs_err // n_days_scored END AS BIGINT) AS mae,
        |  CAST(CASE WHEN total_actual > 0
        |    THEN (total_abs_err * 1000) // total_actual END AS BIGINT)
        |    AS wape_pm
        |FROM t""".stripMargin,

    // st21 = the t27 audit filtered to flagged docs (the alerting feed)
    "st21_watermark_screen" -> {
      val coin = bucketSql("t", 2)
      raw"""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
           |    CAST(len(list_filter(tk, t -> $coin = 0)) AS BIGINT) AS n_green
           |  FROM toks)
           |SELECT doc_id, n_tokens, n_green,
           |  CAST(CASE WHEN n_tokens > 0
           |    THEN (n_green * 1000) // n_tokens END AS BIGINT) AS green_pm,
           |  n_tokens > 0 AND
           |    1000 * (2 * n_green - n_tokens) * (2 * n_green - n_tokens)
           |      >= 3841 * n_tokens AS flagged
           |FROM g
           |WHERE n_tokens > 0 AND
           |  1000 * (2 * n_green - n_tokens) * (2 * n_green - n_tokens)
           |    >= 3841 * n_tokens""".stripMargin
    },

    // RAG indexing capstone: length gate -> 32/32 chunks -> chunk-level
    // exact dedup (min (doc,idx) per fp) -> lexical top-3 per query
    "p6_rag_pipeline" ->
      raw"""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
           |  FROM documents),
           |gated AS (SELECT doc_id, tk FROM toks
           |          WHERE len(tk) BETWEEN 50 AND 5000),
           |c AS (
           |  SELECT doc_id, g.i // 32 AS chunk_idx,
           |    CAST(('0x' || substr(md5(
           |        array_to_string(tk[g.i + 1 : g.i + 32], ' ')), 1, 15))
           |      AS BIGINT) AS fp
           |  FROM gated, LATERAL (SELECT unnest(range(0, len(tk), 32)) AS i) g),
           |canon AS (
           |  SELECT doc_id, chunk_idx FROM (
           |    SELECT doc_id, chunk_idx,
           |      row_number() OVER (PARTITION BY fp
           |        ORDER BY doc_id, chunk_idx) AS rn
           |    FROM c) t WHERE rn = 1),
           |ct AS (
           |  SELECT DISTINCT doc_id, chunk_idx, token FROM (
           |    SELECT cn.doc_id, cn.chunk_idx,
           |      unnest(g.tk[cn.chunk_idx * 32 + 1 : cn.chunk_idx * 32 + 32])
           |        AS token
           |    FROM canon cn JOIN gated g ON cn.doc_id = g.doc_id) t),
           |qt AS (
           |  SELECT DISTINCT doc_id AS query_id, unnest(tk) AS token
           |  FROM toks WHERE doc_id < 5),
           |ov AS (
           |  SELECT qt.query_id, ct.doc_id, ct.chunk_idx, count(*) AS n_shared
           |  FROM ct JOIN qt USING (token)
           |  WHERE ct.doc_id != qt.query_id GROUP BY 1, 2, 3),
           |r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY n_shared DESC, doc_id, chunk_idx) AS rank FROM ov)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
           |  CAST(chunk_idx AS BIGINT) AS chunk_idx,
           |  CAST(n_shared AS BIGINT) AS n_shared
           |FROM r WHERE rank <= 3""".stripMargin,

    // data-minimisation audit: per-column null saturation, cardinality,
    // modal share over the portable renderings, drop_candidate flag
    "o42_minimisation" -> {
      def block(table: String, colName: String, rendered: String): String =
        s"""SELECT '$table' AS table_name, '$colName' AS column_name,
           |  CAST((SELECT count(*) FROM $table) AS BIGINT) AS n_rows,
           |  CAST((SELECT count(*) FROM $table WHERE $rendered IS NULL)
           |    AS BIGINT) AS n_nulls,
           |  CAST((SELECT count(DISTINCT $rendered) FROM $table)
           |    AS BIGINT) AS n_distinct,
           |  CAST((coalesce((SELECT max(c) FROM (
           |      SELECT count(*) AS c FROM $table
           |      WHERE $rendered IS NOT NULL GROUP BY $rendered) t), 0)
           |    * 1000) // (SELECT count(*) FROM $table) AS BIGINT)
           |    AS top_share_pm""".stripMargin
      val blocks = Seq(
        block("customer", "c_name", "c_name"),
        block("customer", "c_nationkey", "CAST(c_nationkey AS VARCHAR)"),
        block("customer", "c_mktsegment", "c_mktsegment"),
        block("customer", "c_acctbal",
          "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)"),
        block("orders", "o_orderstatus", "o_orderstatus"),
        block("orders", "o_orderpriority", "o_orderpriority"))
      s"""SELECT table_name, column_name, n_rows, n_nulls, n_distinct,
         |  top_share_pm,
         |  n_nulls = n_rows OR n_distinct <= 1 OR top_share_pm >= 990
         |    AS drop_candidate
         |FROM (${blocks.mkString("\nUNION ALL\n")}) u""".stripMargin
    },

    // corpus health dashboard: volumes, d1 dup rate, language spread,
    // watermark flags — one row of stitched scalar aggregates
    "q_corpus_report" -> {
      val coin = bucketSql("t", 2)
      raw"""WITH toks AS (
           |  SELECT doc_id, lang,
           |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
           |  FROM documents),
           |a AS (SELECT count(*) AS n_docs, sum(len(tk)) AS total_tokens
           |      FROM toks),
           |u AS (SELECT count(DISTINCT md5(lower(regexp_replace(trim(text),
           |        '\s+', ' ', 'g')))) AS n_unique_docs FROM documents),
           |l AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
           |ln AS (SELECT count(*) AS n_langs FROM l),
           |lt AS (SELECT lang AS top_lang, c AS top_c FROM l
           |       ORDER BY c DESC, lang DESC LIMIT 1),
           |wm AS (
           |  SELECT sum(CASE WHEN len(tk) > 0 AND
           |      1000 * (2 * g - len(tk)) * (2 * g - len(tk)) >= 3841 * len(tk)
           |    THEN 1 ELSE 0 END) AS n_watermark_flagged
           |  FROM (SELECT tk, len(list_filter(tk, t -> $coin = 0)) AS g
           |        FROM toks) x)
           |SELECT CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(total_tokens AS BIGINT) AS total_tokens,
           |  CAST(n_unique_docs AS BIGINT) AS n_unique_docs,
           |  CAST(((n_docs - n_unique_docs) * 1000) // n_docs AS BIGINT)
           |    AS dup_rate_pm,
           |  CAST(total_tokens // n_docs AS BIGINT) AS mean_doc_tokens,
           |  CAST(n_langs AS BIGINT) AS n_langs, top_lang,
           |  CAST((top_c * 1000) // n_docs AS BIGINT) AS top_lang_share_pm,
           |  CAST(n_watermark_flagged AS BIGINT) AS n_watermark_flagged
           |FROM a, u, ln, lt, wm""".stripMargin
    },

    // st20 = the t26 chunker at the streaming feed's 32/32 window
    "st20_chunks" ->
      raw"""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, g.i AS start, len(tk) AS n, tk
           |  FROM toks, LATERAL (SELECT unnest(range(0, len(tk), 32)) AS i) g
           |  WHERE len(tk) >= 1)
           |SELECT doc_id,
           |  CAST(start // 32 AS BIGINT) AS chunk_idx,
           |  CAST(start AS BIGINT) AS tok_start,
           |  CAST(least(32, n - start) AS BIGINT) AS n_tokens_chunk,
           |  CAST(('0x' || substr(md5(
           |      array_to_string(tk[start + 1 : start + 32], ' ')), 1, 15))
           |    AS BIGINT) AS chunk_fp
           |FROM c""".stripMargin,

    // integer-exact PageRank, 3 supersteps unrolled; `//` is floor
    // division = Spark's DIV on the all-positive operands here
    "g1_supplier_rank" -> {
      def step(i: Int): String = {
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""c$i AS (
           |  SELECT e.dst AS node, sum((r.rank_micro * e.w) // e.wsum) AS s
           |  FROM ew e JOIN $prev r ON r.node = e.src GROUP BY 1),
           |r$i AS (
           |  SELECT n.node,
           |    CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank_micro
           |  FROM n LEFT JOIN c$i c ON n.node = c.node)"""
      }
      s"""WITH e0 AS (
         |  SELECT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b,
         |         CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2),
         |e AS (SELECT a AS src, b AS dst, w FROM e0
         |      UNION ALL SELECT b AS src, a AS dst, w FROM e0),
         |ow AS (SELECT src, sum(w) AS wsum FROM e GROUP BY src),
         |ew AS (SELECT e.src, e.dst, e.w, ow.wsum FROM e JOIN ow ON e.src = ow.src),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM n),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT 's:' || CAST((node - 1) // 2 AS VARCHAR) AS node, rank_micro
         |FROM (SELECT node, rank_micro FROM r3 WHERE node % 2 = 1
         |      ORDER BY rank_micro DESC, node LIMIT 10) top10""".stripMargin
    },

    "s5_range_search" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10)
        |SELECT q.query_id, e.vec_id AS neighbor_id
        |FROM q CROSS JOIN embeddings e
        |WHERE e.vec_id != q.query_id
        |  AND list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) >= 0.3""".stripMargin,

    "s1_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,

    // MMR: the five greedy steps unrolled — shortlist and pairwise
    // sims from list_cosine_similarity (bit-identical to the engine's
    // fold), argmax per step with the same (score DESC, id) tie-break
    "s16_mmr" -> {
      def step(i: Int): String = {
        val prev = s"k${i - 1}"
        s"""m$i AS (
           |  SELECT ps.query_id, ps.a AS nid, max(ps.sim) AS msim
           |  FROM ps JOIN $prev kk
           |    ON kk.query_id = ps.query_id AND kk.nid = ps.b
           |  GROUP BY 1, 2),
           |s$i AS (
           |  SELECT s.query_id, s.nid, 0.5*s.sim - 0.5*m.msim AS mmr
           |  FROM sl s JOIN m$i m
           |    ON m.query_id = s.query_id AND m.nid = s.nid
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
           |                    WHERE x.query_id = s.query_id AND x.nid = s.nid)),
           |p$i AS (
           |  SELECT query_id, nid FROM (
           |    SELECT query_id, nid, row_number() OVER (
           |      PARTITION BY query_id ORDER BY mmr DESC, nid) AS rn
           |    FROM s$i) t WHERE rn = 1),
           |k$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM p$i)"""
      }
      val steps = (2 to 5).map(step).mkString(",\n")
      val unions = (2 to 5)
        .map(i => s"UNION ALL SELECT query_id, $i, nid FROM p$i")
        .mkString("\n")
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS nid,
         |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
         |                           CAST(e.embedding AS DOUBLE[])) AS sim,
         |    e.embedding AS cv
         |  FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id),
         |sl AS MATERIALIZED (
         |  SELECT query_id, nid, sim, cv, rnk FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, nid) AS rnk
         |    FROM scored) t WHERE rnk <= 10),
         |ps AS MATERIALIZED (
         |  SELECT a.query_id, a.nid AS a, b.nid AS b,
         |    list_cosine_similarity(CAST(a.cv AS DOUBLE[]),
         |                           CAST(b.cv AS DOUBLE[])) AS sim
         |  FROM sl a JOIN sl b
         |    ON a.query_id = b.query_id AND a.nid != b.nid),
         |p1 AS (SELECT query_id, nid FROM sl WHERE rnk = 1),
         |k1 AS (SELECT * FROM p1),
         |$steps
         |SELECT query_id, CAST(pick_rank AS INTEGER) AS pick_rank,
         |       nid AS neighbor_id
         |FROM (
         |  SELECT query_id, 1 AS pick_rank, nid FROM p1
         |  $unions) f""".stripMargin
    },

    // s2 emits a deterministic per-query recall verdict (fixed
    // hyperplanes, tie-broken ranking) — the checkable contract is that
    // every query clears the measured floor (0.35; min recall 0.40
    // across all fixture SFs, MEASUREMENTS.md round 9)
    "s2_knn_lsh" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // s4 emits the same deterministic recall-floor verdict as s2
    "s4_knn_pq" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // s9 (PQ shortlist + exact re-rank) — same verdict contract, higher floor
    "s9_knn_rerank" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // s7 (IVF-PQ) emits the same deterministic recall-floor verdict
    "s7_knn_ivfpq" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // s8 (persisted partition-pruned IVF) — same verdict contract
    "s8_knn_persisted" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // incremental IVF: same recall-verdict contract as s8 — appended
    // vectors must be findable through the maintained index
    "s11_ivf_append" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // SQ8: recall-verdict contract, floor 0.85 measured (must beat PQ's 0.25)
    "s12_knn_sq8" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 10",

    // filtered search is EXACT (pre-filter): full brute-force twin over
    // the eligible set
    "s13_filtered_knn" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
        |  FROM q CROSS JOIN c WHERE c.vec_id != q.query_id)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,

    // s3 probes every IVF cell (nprobe = nlist) → exact, same oracle as s1
    "s3_knn_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,

    // closed SCD2 intervals of each user's event_type run-length sequence
    // stream-static ingest screen, batch twin: batch docs whose
    // fingerprint has no historical match — d11's survivor set without
    // the within-batch canonical (streaming emits every new arrival)
    "st6_screen_stream" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, source,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT b.doc_id, b.lang, b.source FROM fp b
        |WHERE b.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM fp h WHERE h.doc_id % 5 != 0 AND h.fp = b.fp)""".stripMargin,

    "st5_scd2_stream" ->
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |iv AS (
        |  SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
        |    CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS valid_to_us
        |  FROM ch)
        |SELECT user_id, event_type, valid_from_us, valid_to_us
        |FROM iv WHERE valid_to_us IS NOT NULL""".stripMargin,

    "st1_first_seen" ->
      """SELECT user_id, event_type, CAST(min(event_id) AS BIGINT) AS event_id
        |FROM events GROUP BY 1, 2""".stripMargin,

    // latest (ts, event_id) event's value per user
    "st3_latest_state" ->
      """SELECT user_id, event_id AS latest_event_id, value AS latest_value
        |FROM (
        |  SELECT user_id, event_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "st4_dedup_keys" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // table state as of batch 1: events of batches 0 and 1 only
    // (eid % 3 < 2) over the snapshot — batch 2 must be invisible
    "st8_time_travel" ->
      """WITH all_rows AS (
        |  SELECT c_custkey AS user_id, 'snapshot' AS src, c_acctbal AS value,
        |         CAST(-1 AS BIGINT) AS ts_us, CAST(-1 AS BIGINT) AS eid
        |  FROM customer
        |  UNION ALL
        |  SELECT user_id, 'event', value,
        |         CAST(epoch_us(ts) AS BIGINT), event_id
        |  FROM events WHERE event_id % 3 < 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us DESC, eid DESC) AS rn
        |  FROM all_rows)
        |SELECT user_id, src, eid AS latest_event_id, value AS latest_value
        |FROM ranked WHERE rn = 1""".stripMargin,

    // maintained CDC upsert table: snapshot rows carry version (-1,-1)
    // so any event beats them; latest (ts_us, eid) per user wins
    "st7_cdc_upsert" ->
      """WITH all_rows AS (
        |  SELECT c_custkey AS user_id, 'snapshot' AS src, c_acctbal AS value,
        |         CAST(-1 AS BIGINT) AS ts_us, CAST(-1 AS BIGINT) AS eid
        |  FROM customer
        |  UNION ALL
        |  SELECT user_id, 'event', value,
        |         CAST(epoch_us(ts) AS BIGINT), event_id
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us DESC, eid DESC) AS rn
        |  FROM all_rows)
        |SELECT user_id, src, eid AS latest_event_id, value AS latest_value
        |FROM ranked WHERE rn = 1""".stripMargin,

    "st2_interval_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'""".stripMargin,

    // left-outer interval join: unconverted clicks survive with NULL
    "st9_outer_interval" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin,

    "t1_text_stats" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) AS digit_ratio,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS DOUBLE) / greatest(nt, 1) AS stopword_ratio,
        |    CAST(length(text) - nt + 1 AS DOUBLE) / greatest(nt, 1) AS mean_token_len
        |  FROM f)
        |SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
        |  CAST((CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.25 ELSE 0.0 END
        |      + CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
        |      + CASE WHEN stopword_ratio > 0.01 THEN 0.25 ELSE 0.0 END
        |      + CASE WHEN punct_ratio < 0.2 AND digit_ratio < 0.3 THEN 0.25 ELSE 0.0 END) AS DOUBLE) AS quality_score
        |FROM g""".stripMargin,

    "t2_lang_id" -> {
      val scores = langScoreExprs.map { case (l, e) => s"$e AS $l" }.mkString(",\n    ")
      s"""WITH s AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM documents),
         |p AS (
         |  SELECT CASE
         |    WHEN greatest(en, de, fr, es, zh) = 0 THEN 'und'
         |    WHEN en >= de AND en >= fr AND en >= es AND en >= zh THEN 'en'
         |    WHEN de >= fr AND de >= es AND de >= zh THEN 'de'
         |    WHEN fr >= es AND fr >= zh THEN 'fr'
         |    WHEN es >= zh THEN 'es'
         |    ELSE 'zh' END AS lang_pred
         |  FROM s)
         |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY lang_pred""".stripMargin
    },

    "t3_token_counts" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    // the pretraining recipe: t12 gates -> t16 classifier (vocab over
    // gate survivors) -> fingerprint dedup -> t11 source cap(40) ->
    // t14 token-budget prefix (20k by logit) -> per-source summary
    "p2_pipeline" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, text, len(toks) AS nt,
         |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS na
         |  FROM f),
         |gated AS (
         |  SELECT d.doc_id, d.text, d.source FROM documents d JOIN g USING (doc_id)
         |  WHERE (g.nt BETWEEN 5 AND 1000)
         |    AND ((CAST(length(g.text) - g.nt + 1 AS DOUBLE) / greatest(g.nt, 1)) BETWEEN 2.0 AND 12.0)
         |    AND (len(regexp_extract_all(g.text, '\\b(the|a|of|and|to|in|is|that|it|for)\\b')) >= 2)
         |    AND (CAST(len(regexp_extract_all(g.text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(g.text), 1) < 0.2)
         |    AND (CAST(len(regexp_extract_all(g.text, '[0-9]')) AS DOUBLE) / greatest(length(g.text), 1) < 0.3)
         |    AND (CAST(g.na AS DOUBLE) / greatest(g.nt, 1) >= 0.7)),
         |toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS tok
         |  FROM gated),
         |vocab AS (
         |  SELECT tok, ${bucketSql("tok", 2001)} * 1000 - 1000000 AS w_micro
         |  FROM (SELECT tok, count(DISTINCT doc_id) AS dfd FROM toks
         |        GROUP BY tok ORDER BY dfd DESC, tok LIMIT 1000)),
         |per AS (
         |  SELECT t.doc_id, count(*) AS n_tok, coalesce(sum(v.w_micro), 0) AS lm
         |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id),
         |filtered AS (
         |  SELECT ga.doc_id, ga.text, ga.source, per.n_tok, per.lm
         |  FROM gated ga JOIN per USING (doc_id) WHERE per.lm > 0),
         |canon AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
         |      ORDER BY doc_id) AS rn
         |    FROM filtered) WHERE rn = 1),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT doc_id, source, n_tok, lm, row_number() OVER (
         |      PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn2
         |    FROM canon) WHERE rn2 <= 40),
         |budget AS (
         |  SELECT doc_id, sum(n_tok) OVER (
         |    ORDER BY lm DESC, doc_id ROWS UNBOUNDED PRECEDING) AS rt
         |  FROM capped),
         |chosen AS (SELECT doc_id FROM budget WHERE rt <= 20000)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(lm) AS BIGINT) AS sum_logit_micro
         |FROM capped JOIN chosen USING (doc_id) GROUP BY source""".stripMargin,

    // the composed pipeline: t1 quality filter -> t7 scrub -> t4/d1
    // fingerprint dedup (min-id canonical) -> q_train_split buckets
    "p1_pipeline" ->
      raw"""WITH f AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, text,
        |    (CASE WHEN nt BETWEEN 5 AND 1000 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN CAST(length(text) - nt + 1 AS DOUBLE) / greatest(nt, 1) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS DOUBLE) / greatest(nt, 1) > 0.01 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) < 0.2
        |          AND CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) < 0.3 THEN 0.25 ELSE 0.0 END) AS qs
        |  FROM f),
        |sc AS (
        |  SELECT doc_id, ${scrubSql("text")} AS scrubbed
        |  FROM g WHERE qs >= 0.5),
        |canon AS (
        |  SELECT doc_id, scrubbed FROM (
        |    SELECT doc_id, scrubbed, row_number() OVER (
        |      PARTITION BY md5(lower(regexp_replace(trim(scrubbed), '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT ${bucketSql("doc_id", 100)} AS b,
        |         len(list_filter(string_split_regex(scrubbed, '\s+'), t -> len(t) > 0)) AS ntok
        |  FROM canon)
        |GROUP BY 1""".stripMargin,

    // column profile: one branch per column; min/max aggregated in the
    // native type then cast to VARCHAR (identical for bigint/string)
    "q_expectations" -> {
      def row(tbl: String, rule: String, c: String, viol: String) =
        s"""SELECT '$tbl' AS tbl, '$rule' AS rule, '$c' AS col_name,
           |  CAST(($viol) AS BIGINT) AS n_violations,
           |  (CAST(($viol) AS BIGINT) = 0) AS pass FROM $tbl""".stripMargin
      Seq(
        row("documents", "not_null", "doc_id",
          "coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0)"),
        row("documents", "unique", "doc_id",
          "count(doc_id) - count(DISTINCT doc_id)"),
        row("documents", "not_null", "text",
          "coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)"),
        row("documents", "in_set", "lang",
          "coalesce(sum(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 0 ELSE 1 END), 0)"),
        row("documents", "chars_match", "n_chars",
          "coalesce(sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END), 0)"),
        row("embeddings", "not_null", "vec_id",
          "coalesce(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END), 0)"),
        row("embeddings", "unique", "vec_id",
          "count(vec_id) - count(DISTINCT vec_id)"),
        row("embeddings", "dim_64", "embedding",
          "coalesce(sum(CASE WHEN len(embedding) = 64 THEN 0 ELSE 1 END), 0)"),
        """SELECT 'orders' AS tbl, 'ref_integrity' AS rule, 'o_custkey' AS col_name,
          |  CAST(count(*) AS BIGINT) AS n_violations, (count(*) = 0) AS pass
          |FROM orders o
          |WHERE o.o_custkey IS NOT NULL
          |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""".stripMargin,
      ).mkString("\nUNION ALL\n")
    },

    "q_profile" -> Seq("event_id", "user_id", "event_type", "props").map(c =>
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_v, CAST(max($c) AS VARCHAR) AS max_v
         |FROM events""".stripMargin).mkString("\nUNION ALL\n"),

    // equi-width histogram: cents through DECIMAL(18,2), then pure
    // integer binning — `(c-mn)*bins // (mx-mn+1)`, max lands in the
    // last bin with no clamp
    "q_histogram" ->
      """WITH c AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem),
        |m AS (SELECT min(c) AS mn, max(c) AS mx FROM c)
        |SELECT ((c - mn) * 20) // (mx - mn + 1) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM c, m GROUP BY 1""".stripMargin,

    // A-priori pair mining: downward-closure prefilter, then the
    // order-keyed pair self-join
    "q_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |freq AS (SELECT p FROM (SELECT p, count(*) AS sup FROM items GROUP BY p) f
        |         WHERE sup * 2 >= 3),
        |fi AS (SELECT i.o, i.p FROM items i JOIN freq USING (p)),
        |pairs AS (
        |  SELECT a.p AS part_a, b.p AS part_b, count(*) AS support
        |  FROM fi a JOIN fi b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, CAST(support AS BIGINT) AS support
        |FROM pairs WHERE support >= 3
        |ORDER BY support DESC, part_a, part_b
        |LIMIT 20""".stripMargin,

    // TWA: all-integer — cents × whole seconds, truncating division to
    // 1e-4-dollar units (a wide-decimal→double cast differs between
    // engines in the last ulp; no float appears anywhere here)
    "q_time_weighted" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |    epoch_us(ts) // 1000000 AS t,
        |    lead(epoch_us(ts) // 1000000) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS nt
        |  FROM events),
        |w AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * (nt - t) AS wv,
        |    nt - t AS dt
        |  FROM e WHERE nt IS NOT NULL)
        |SELECT user_id,
        |       CAST((sum(wv) * 100) // sum(dt) AS BIGINT) AS twa_e4,
        |       CAST(sum(dt) AS BIGINT) AS span_seconds
        |FROM w GROUP BY user_id HAVING sum(dt) > 0""".stripMargin,

    // CUSUM via the prefix-min identity; integer deviations n·c − Σc
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
        |         count(*) AS c
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(c) AS total, count(*) AS nb FROM daily),
        |p AS (
        |  SELECT bucket_ts, c, total,
        |    sum(c * nb - total) OVER (ORDER BY bucket_ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM daily, t),
        |s AS (
        |  SELECT bucket_ts, c, total,
        |    p - min(least(p, 0)) OVER (ORDER BY bucket_ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_scaled
        |  FROM p)
        |SELECT bucket_ts, c, CAST(s_scaled AS BIGINT) AS s_scaled,
        |       s_scaled > 2 * total AS drift_flag
        |FROM s""".stripMargin,

    // weekly cohort retention: both engines truncate weeks to Monday,
    // so the day difference is an exact multiple of 7
    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
        |  FROM events),
        |f AS (SELECT u, min(w) AS cohort_week FROM ev GROUP BY u)
        |SELECT f.cohort_week,
        |       date_diff('day', f.cohort_week, ev.w) // 7 AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM ev JOIN f ON ev.u = f.u
        |GROUP BY 1, 2""".stripMargin,

    // CDC merge: latest (seq, op) change per key wins; D removes,
    // I/U upsert, untouched snapshot rows pass through
    "q_cdc_apply" ->
      """WITH snap AS (SELECT c_custkey, c_acctbal FROM customer),
        |chg AS (
        |  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, 1 AS seq, 'U' AS op
        |  FROM snap WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, NULL, 1, 'D' FROM snap WHERE c_custkey % 10 = 1
        |  UNION ALL SELECT c_custkey + 1000000, 42.0, 1, 'I' FROM snap WHERE c_custkey % 10 = 2
        |  UNION ALL SELECT c_custkey, 1.0, 1, 'U' FROM snap WHERE c_custkey % 10 = 3
        |  UNION ALL SELECT c_custkey, 2.0, 2, 'U' FROM snap WHERE c_custkey % 10 = 3),
        |latest AS (
        |  SELECT c_custkey, c_acctbal, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |                                 ORDER BY seq DESC, op DESC) AS rn
        |    FROM chg) WHERE rn = 1)
        |SELECT s.c_custkey, s.c_acctbal FROM snap s
        |WHERE s.c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_acctbal FROM latest WHERE op <> 'D'""".stripMargin,

    // SCD2: same version-point union, change-wins lag dedup, lead close-out
    "q_scd2" ->
      """WITH cust AS (SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |              FROM customer),
        |v AS (
        |  SELECT c_custkey, bal, CAST(0 AS BIGINT) AS eff, 0 AS src FROM cust
        |  UNION ALL SELECT c_custkey, CAST(0 AS DECIMAL(12,2)), 0, 1
        |  FROM cust WHERE c_custkey % 25 = 0
        |  UNION ALL SELECT c_custkey, CAST(bal + 50 AS DECIMAL(12,2)), 1, 1
        |  FROM cust WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, CAST(bal + 100 AS DECIMAL(12,2)), 2, 1
        |  FROM cust WHERE c_custkey % 20 = 0),
        |d AS (
        |  SELECT c_custkey, bal, eff,
        |         lag(eff) OVER (PARTITION BY c_custkey ORDER BY eff, src DESC) = eff
        |           AS dup
        |  FROM v),
        |f AS (SELECT c_custkey, bal, eff FROM d WHERE dup IS NULL OR NOT dup)
        |SELECT c_custkey, CAST(bal AS DOUBLE) AS bal, eff AS valid_from,
        |       lead(eff) OVER (PARTITION BY c_custkey ORDER BY eff) AS valid_to,
        |       lead(eff) OVER (PARTITION BY c_custkey ORDER BY eff) IS NULL
        |         AS is_current
        |FROM f""".stripMargin,

    // Gopher hard gates: per-rule booleans + conjunction — identical
    // tokenisation and single-division ratio shapes as t1, so boundary
    // comparisons are bit-reproducible
    "t12_quality_filter" ->
      s"""WITH $gopherCtes
         |SELECT doc_id,
         |  ${gopherRuleSql.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")},
         |  $gopherKeepSql AS keep
         |FROM g""".stripMargin,

    // water-filling mix rebalance: scale = min over target groups of
    // n_g / w_g (all five langs present in the fixture, so the inner
    // join sees every target), per-group limit = floor(scale · w_g),
    // rows chosen by the portable md5 order — double shapes match the
    // Spark side exactly
    "t13_mix_rebalance" ->
      """WITH t(lang, w) AS (VALUES ('en', 0.4), ('de', 0.15), ('fr', 0.15),
        |                           ('es', 0.15), ('zh', 0.15)),
        |c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |s AS (SELECT min(CAST(n AS DOUBLE) / w) AS scale FROM c JOIN t USING (lang)),
        |lim AS (SELECT t.lang, CAST(floor(s.scale * t.w) AS BIGINT) AS lim
        |        FROM t CROSS JOIN s),
        |r AS (SELECT d.doc_id, d.lang,
        |        row_number() OVER (PARTITION BY d.lang
        |          ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        |      FROM documents d)
        |SELECT r.doc_id, r.lang FROM r JOIN lim ON r.lang = lim.lang
        |WHERE r.rn <= lim.lim""".stripMargin,

    // token-budget prefix: t1's quality score ranks docs; the budget is
    // 30% (integer floor) of the corpus' whitespace tokens; the Spark
    // side's distributed prefix sum equals this one global window
    "t14_token_budget" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) AS digit_ratio,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS DOUBLE) / greatest(nt, 1) AS stopword_ratio,
        |    CAST(length(text) - nt + 1 AS DOUBLE) / greatest(nt, 1) AS mean_token_len
        |  FROM f),
        |q AS (
        |  SELECT doc_id, n_tokens,
        |    CAST((CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.25 ELSE 0.0 END
        |        + CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
        |        + CASE WHEN stopword_ratio > 0.01 THEN 0.25 ELSE 0.0 END
        |        + CASE WHEN punct_ratio < 0.2 AND digit_ratio < 0.3 THEN 0.25 ELSE 0.0 END) AS DOUBLE) AS quality_score
        |  FROM g),
        |b AS (SELECT CAST(sum(n_tokens) AS BIGINT) * 3 // 10 AS budget FROM q),
        |r AS (
        |  SELECT doc_id, quality_score, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS running_total
        |  FROM q)
        |SELECT r.doc_id, r.quality_score, r.n_tokens, r.running_total
        |FROM r, b WHERE r.running_total <= b.budget""".stripMargin,

    // per-domain cap: ≤ 10 docs per source, chosen by portable md5
    // order with id tiebreak — the Spark side's two-phase salted top-k
    // equals this one-phase window
    "t11_domain_cap" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin,

    // salted skew join == plain join (salting is invisible to results)
    "q_skew_join" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    // stratified training mix: per-mille keep rates per language over
    // the portable md5 bucket (integer per-mille — no float rounding)
    // A-ES weighted sample: same portable-u, same quantised ln(u)/w key
    "q_weighted_sample" ->
      s"""SELECT doc_id, lang, wt FROM (
         |  SELECT doc_id, lang, CAST(length(text) + 1 AS DOUBLE) AS wt,
         |    CAST(floor(ln((${bucketSql("doc_id", 1000000000)} + 0.5) / 1e9)
         |               / (length(text) + 1) * 1000000) AS BIGINT) AS k
         |  FROM documents)
         |ORDER BY k DESC, doc_id LIMIT 100""".stripMargin,

    "q_stratified_sample" ->
      raw"""SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(count(CASE WHEN b < f THEN 1 END) AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN b < f THEN ntok ELSE 0 END) AS BIGINT) AS tokens_sampled
         |FROM (
         |  SELECT lang,
         |    ${bucketSql("doc_id", 1000)} AS b,
         |    CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 WHEN 'fr' THEN 125
         |              WHEN 'es' THEN 63 WHEN 'zh' THEN 32 ELSE 0 END AS f,
         |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS ntok
         |  FROM documents)
         |GROUP BY 1""".stripMargin,

    // fractional-epoch upsampling: floor(w) copies + one more iff the
    // portable per-mille bucket clears the fractional part
    "q_upsample_mix" ->
      raw"""WITH n AS (
         |  SELECT doc_id, source,
         |    (wt // 1000) + CASE WHEN b < wt % 1000 THEN 1 ELSE 0 END AS copies
         |  FROM (
         |    SELECT doc_id, source,
         |      CASE WHEN CAST(substr(source, 4) AS INT) <= 4 THEN 2500
         |           WHEN CAST(substr(source, 4) AS INT) <= 9 THEN 1000
         |           WHEN CAST(substr(source, 4) AS INT) <= 14 THEN 700
         |           WHEN CAST(substr(source, 4) AS INT) <= 19 THEN 250
         |           ELSE 0 END AS wt,
         |      ${bucketSql("doc_id", 1000)} AS b
         |    FROM documents))
         |SELECT doc_id, source, CAST(g.i AS BIGINT) AS copy
         |FROM n, LATERAL (SELECT unnest(range(1, copies + 1)) AS i) AS g
         |WHERE copies > 0""".stripMargin,

    // MG sketch verdict: n_heavy is exact; the two booleans are the
    // sketch's mathematical guarantee, so the oracle expects true
    // CMS verdict: n_checked = the top-20 cut (or fewer distinct
    // tokens); the one-sided and eps-band guarantees asserted
    // Spark-side read as literal true here (the q_approx_topk recipe)
    "q_approx_cms" ->
      """WITH c AS (
        |  SELECT t AS token, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS t
        |    FROM documents) GROUP BY 1)
        |SELECT CAST(least(20, count(*)) AS BIGINT) AS n_checked,
        |       true AS never_undercounts, true AS all_within_eps
        |FROM c""".stripMargin,

    "q_approx_topk" ->
      """WITH c AS (
        |  SELECT t AS token, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS t
        |    FROM documents) GROUP BY 1),
        |s AS (SELECT sum(cnt) AS n FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_heavy,
        |       true AS all_heavy_in_sketch, true AS sketch_within_budget
        |FROM c, s WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) / 65.0""".stripMargin,

    // top-100 tokens; the (cnt DESC, token) tiebreak makes the cut at
    // k deterministic in both engines
    "t8_top_terms" ->
      """SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt
        |FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS t
        |  FROM documents)
        |GROUP BY 1
        |ORDER BY cnt DESC, t
        |LIMIT 100""".stripMargin,

    // per-token log2 quantised to integer micro-bits in the vocab CTE,
    // then integer-summed per doc — order-independent, so the
    // transcendental surprisal is hash-exact across engines
    // per-doc TF-IDF top-3 keywords — idf quantised once per token to
    // integer micro-bits (t9's recipe), tf·idf ranked in pure integer
    // math with token-ascending tie-breaks: hash-exact cross-engine
    "t10_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |idf AS (
        |  SELECT tok, CAST(floor(log2(CAST((SELECT n_docs FROM n) AS DOUBLE) / df) * 1000000) AS BIGINT) AS idf_micro
        |  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1)),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf * idf.idf_micro AS score_micro
        |  FROM tf JOIN idf USING (tok)),
        |r AS (SELECT doc_id, tok, score_micro,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, tok) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rank, tok AS term,
        |  CAST(score_micro AS BIGINT) AS score_micro
        |FROM r WHERE rnk <= 3""".stripMargin,

    "t9_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(floor(log2(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT) AS l2n FROM vocab),
        |vl AS (SELECT tok, CAST(floor(log2(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS l2c FROM vocab),
        |per AS (
        |  SELECT t.doc_id, count(*) AS n_tok, sum(vl.l2c) AS s
        |  FROM toks t JOIN vl USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(n_tok * (SELECT l2n FROM tot) - s AS BIGINT) AS surprisal_micro,
        |  CAST((n_tok * (SELECT l2n FROM tot) - s) // n_tok AS BIGINT) AS mean_surprisal_micro
        |FROM per""".stripMargin,

    // bigram-LM surprisal: Σ (log2 c(w1·) − log2 c(w1w2)) with both
    // factors quantised once in the bigram vocab to integer micro-bits
    // (the t9 recipe) — integer sums, hash-exact
    "t15_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, tk[i.i] AS w1, tk[i.i] || ' ' || tk[i.i + 1] AS bg
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) AS i),
        |vocab AS (SELECT bg, any_value(w1) AS w1, count(*) AS c FROM bi GROUP BY bg),
        |vb AS (SELECT bg, CAST(floor(log2(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS l2b FROM vocab),
        |vf AS (SELECT w1, CAST(floor(log2(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT) AS l2f
        |       FROM vocab GROUP BY w1),
        |per AS (
        |  SELECT b.doc_id, count(*) AS n, sum(vf.l2f - vb.l2b) AS s
        |  FROM bi b JOIN vb USING (bg) JOIN vf USING (w1)
        |  GROUP BY b.doc_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, CAST(s AS BIGINT) AS surprisal_micro,
        |  CAST(s // n AS BIGINT) AS mean_surprisal_micro
        |FROM per""".stripMargin,

    // linear classifier inference: top-1000 doc-frequency vocab, each
    // weight the portable md5 bucket mapped to micro-logits — the twin
    // rebuilds the identical model table, scores are integer-exact
    "t16_classifier_score" ->
      s"""WITH $classifierCtes
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(n_hits AS BIGINT) AS n_hits, CAST(lm AS BIGINT) AS logit_micro,
         |  lm > 0 AS pass
         |FROM per""".stripMargin,

    // novelty: distinct 5-gram shingles, gram doc-frequencies, and
    // the per-mille score re-derived
    "t25_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(t[i:i+4], ' ')
        |                   for i in range(1, len(t) - 3)]) AS gs
        |  FROM toks WHERE len(t) >= 5),
        |sx AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |dfq AS (SELECT gram, count(*) AS dfd FROM sx GROUP BY 1),
        |per AS (
        |  SELECT sx.doc_id, count(*) AS n_grams,
        |         sum(CASE WHEN dfd >= 2 THEN 1 ELSE 0 END) AS n_shared
        |  FROM sx JOIN dfq USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(per.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(CASE WHEN per.n_grams > 0
        |       THEN ((per.n_grams - per.n_shared) * 1000) // per.n_grams
        |       END AS BIGINT) AS novelty_pm
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,

    // calibration: the t16 score, a global (logit, id) rank, integer
    // decile boundaries, per-decile label rates
    "q_calibration" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS tok
         |  FROM documents),
         |vocab AS (
         |  SELECT tok, ${bucketSql("tok", 2001)} * 1000 - 1000000 AS w_micro
         |  FROM (SELECT tok, count(DISTINCT doc_id) AS dfd FROM toks
         |        GROUP BY tok ORDER BY dfd DESC, tok LIMIT 1000)),
         |scored AS (
         |  SELECT t.doc_id, coalesce(sum(v.w_micro), 0) AS logit_micro
         |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id),
         |ranked AS (
         |  SELECT doc_id, logit_micro,
         |    row_number() OVER (ORDER BY logit_micro, doc_id) AS pos,
         |    count(*) OVER () AS n_all
         |  FROM scored),
         |lab AS (SELECT doc_id, strpos(text, 'the') > 0 AS label FROM documents)
         |SELECT CAST(((pos - 1) * 10) // n_all AS INTEGER) AS decile,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |       CAST((sum(CASE WHEN label THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS rate_pm
         |FROM ranked JOIN lab USING (doc_id)
         |GROUP BY 1""".stripMargin,

    // CCNet head/middle/tail perplexity thirds: global rank over
    // (mean surprisal, doc_id) — integer 3·pos vs n boundary arithmetic
    "t17_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(floor(log2(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT) AS l2n FROM vocab),
        |vl AS (SELECT tok, CAST(floor(log2(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS l2c FROM vocab),
        |per AS (
        |  SELECT t.doc_id, count(*) AS n_tok, sum(vl.l2c) AS s
        |  FROM toks t JOIN vl USING (tok) GROUP BY t.doc_id),
        |scored AS (
        |  SELECT doc_id,
        |    CAST((n_tok * (SELECT l2n FROM tot) - s) // n_tok AS BIGINT) AS mean_surprisal_micro
        |  FROM per),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY mean_surprisal_micro, doc_id) AS pos,
        |    count(*) OVER () AS n
        |  FROM scored)
        |SELECT doc_id, mean_surprisal_micro, CAST(pos AS BIGINT) AS pos,
        |  CASE WHEN pos * 3 <= n THEN 'head'
        |       WHEN pos * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM ranked""".stripMargin,

    // word-level Gopher repetition ratios — exact integer ratios, so the
    // doubles match bit-exactly
    "t6_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |),
        |w AS (SELECT doc_id, max(c) AS top_1, count(*) AS d_1, sum(c) AS n_1 FROM (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(tk) AS g FROM toks) GROUP BY 1, 2) GROUP BY 1),
        |b AS (SELECT doc_id, max(c) AS top_2, count(*) AS d_2, sum(c) AS n_2 FROM (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, tk[i.i] || ' ' || tk[i.i + 1] AS g
        |    FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) AS i) GROUP BY 1, 2) GROUP BY 1),
        |t AS (SELECT doc_id, max(c) AS top_3, count(*) AS d_3, sum(c) AS n_3 FROM (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, tk[i.i] || ' ' || tk[i.i + 1] || ' ' || tk[i.i + 2] AS g
        |    FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) AS i) GROUP BY 1, 2) GROUP BY 1)
        |SELECT w.doc_id,
        |  CAST(top_1 AS DOUBLE) / CAST(n_1 AS DOUBLE) AS top_word_frac,
        |  CAST(top_2 AS DOUBLE) / CAST(n_2 AS DOUBLE) AS top_bigram_frac,
        |  CAST(n_3 - d_3 AS DOUBLE) / CAST(n_3 AS DOUBLE) AS dup_trigram_frac
        |FROM w JOIN b ON w.doc_id = b.doc_id JOIN t ON w.doc_id = t.doc_id""".stripMargin,

    // identical RE2 patterns, identical mask order → byte-identical
    // scrubbed text (compared via md5)
    "t7_pii_scrub" ->
      raw"""SELECT doc_id,
         |  CAST(${piiCountSql("text")} AS BIGINT) AS n_pii,
         |  md5(${scrubSql("text")}) AS scrubbed_md5
         |FROM documents""".stripMargin,

    // hash-bucket split: md5-derived bucket is engine- and
    // partitioning-independent, so the split is exactly reproducible
    "q_train_split" ->
      raw"""SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens
         |FROM (
         |  SELECT ${bucketSql("doc_id", 100)} AS b,
         |         len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS ntok
         |  FROM documents)
         |GROUP BY 1""".stripMargin,

    // full winnowing re-derivation: positional 5-token shingles, the
    // portable 60-bit md5-prefix hash, min per 4-shingle window, distinct
    "t5_winnowing" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id, g.i AS pos,
        |         CAST(('0x' || substr(md5(array_to_string(tk[g.i : g.i + 4], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS i) AS g
        |  WHERE len(tk) >= 5
        |),
        |win AS (
        |  SELECT doc_id, pos,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh,
        |         count(*) OVER (PARTITION BY doc_id) AS nsh
        |  FROM sh
        |)
        |SELECT DISTINCT doc_id, minh AS fp FROM win WHERE pos <= greatest(nsh - 3, 1)""".stripMargin,

    // the containers are REAL (BMP / WAV / MP4) but their construction
    // parameters derive from md5(text) and doc_id, and each format's
    // byte length is closed-form (BMP 1078 + h*ceil4(w); WAV 44 + data
    // truncated to a whole frame; MP4 244 fixed boxes + mdat payload) —
    // so DuckDB predicts every parsed-back field analytically.
    // Agreement proves the box/chunk/header walks read back exactly
    // what the writers encoded.
    "mm1_decode_meta" ->
      mm1MetaSql,

    // streaming-ingest summary: the SAME prediction relation as mm1,
    // aggregated per media type (Multimodal.decodeMeta, the stream decode;
    // stream == batch is spec-asserted, this gate pins the totals)
    "st22_media_summary" ->
      s"""WITH meta AS ($mm1MetaSql)
        |SELECT media_type,
        |  CAST(count(*) AS BIGINT) AS n_assets,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(max(duration_ms) AS BIGINT) AS max_duration_ms,
        |  CAST(max(width) AS INTEGER) AS max_width,
        |  CAST(max(height) AS INTEGER) AS max_height
        |FROM meta GROUP BY 1""".stripMargin,

    // REAL nearest-neighbour resize: output box in exact integer
    // arithmetic, every sampled source pixel re-derived from the
    // DigestPixels formula (both nibbles this time — the full byte),
    // summed into the checksum the Spark kernel computes from the
    // ImageIO-decoded raster
    "mm3_resize_spec" ->
      s"""WITH dims AS (
        |  SELECT doc_id, text,
        |    16 + ((strpos('0123456789abcdef', substr(md5(text),1,1))-1)*16
        |        + (strpos('0123456789abcdef', substr(md5(text),2,1))-1)) % 17 AS w,
        |    16 + ((strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16
        |        + (strpos('0123456789abcdef', substr(md5(text),4,1))-1)) % 13 AS h
        |  FROM documents),
        |box AS (
        |  SELECT doc_id, text, w, h,
        |    GREATEST(1, w*16 // GREATEST(w, h)) AS ow,
        |    GREATEST(1, h*16 // GREATEST(w, h)) AS oh
        |  FROM dims),
        |spx AS (
        |  SELECT doc_id, text,
        |    (oy.y * h // oh) * w + (ox.x * w // ow) AS idx
        |  FROM box,
        |    LATERAL (SELECT unnest(range(0, CAST(oh AS BIGINT))) AS y) oy,
        |    LATERAL (SELECT unnest(range(0, CAST(ow AS BIGINT))) AS x) ox),
        |vals AS (
        |  SELECT doc_id,
        |    ${pixelLumaSql("idx")} AS v
        |  FROM spx)
        |SELECT b.doc_id AS asset_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(ow AS INTEGER) AS out_width, CAST(oh AS INTEGER) AS out_height,
        |  CAST(s.rs AS BIGINT) AS resized_sum
        |FROM box b JOIN (SELECT doc_id, sum(v) AS rs FROM vals GROUP BY 1) s
        |  USING (doc_id)""".stripMargin,

    "mm2_frame_samples" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(text),7,1))-1)*16 + (strpos('0123456789abcdef', substr(md5(text),8,1))-1) AS b3
        |  FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2)
        |SELECT doc_id AS asset_id,
        |  CAST(floor((5000 + b3*512) / 1000) + 1 AS BIGINT) AS n_frames
        |FROM b""".stripMargin,

    // media → features → ANN, fully re-derived over REAL pixels: the
    // image payloads are genuine PNGs whose grayscale raster carries the
    // DigestPixels formula stream (pixel i of a doc = byte i%16 of
    // md5(text:'i//16')), so the oracle predicts each decoded pixel's
    // 16-bin bucket (= the byte's HIGH nibble) analytically; histograms
    // are L2-normalised at FLOAT precision — each cast below mirrors a
    // float step of the Scala kernel, so the vectors (and hence the
    // exact IVF ranking at nprobe=nlist) are bit-identical across
    // engines. Agreement proves the ImageIO decode recovered exactly
    // the encoded raster plus the whole downstream recipe.
    "mm4_feature_knn" ->
      s"""WITH dims AS (
        |  SELECT doc_id, text,
        |    16 + ((strpos('0123456789abcdef', substr(md5(text),1,1))-1)*16
        |        + (strpos('0123456789abcdef', substr(md5(text),2,1))-1)) % 17 AS w,
        |    16 + ((strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16
        |        + (strpos('0123456789abcdef', substr(md5(text),4,1))-1)) % 13 AS h
        |  FROM documents),
        |bytes AS (
        |  SELECT doc_id,
        |         (${pixelLumaSql("g.i")}) // 16 AS bin
        |  FROM dims,
        |       LATERAL (SELECT unnest(range(0, CAST(w*h AS BIGINT))) AS i) AS g
        |),
        |hist AS (
        |  SELECT d.doc_id, b.bin, coalesce(h.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) b
        |  LEFT JOIN (SELECT doc_id, bin, count(*) AS cnt FROM bytes GROUP BY 1, 2) h
        |    ON h.doc_id = d.doc_id AND h.bin = b.bin
        |),
        |normed AS (
        |  SELECT doc_id, bin,
        |    CAST(CAST(CAST(cnt AS FLOAT) AS DOUBLE) /
        |         CAST(CAST(sqrt(sum(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE))
        |                        OVER (PARTITION BY doc_id)) AS FLOAT) AS DOUBLE)
        |      AS FLOAT) AS v
        |  FROM hist
        |),
        |vecs AS (SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY bin) AS emb FROM normed GROUP BY doc_id),
        |q AS (SELECT doc_id AS query_id, emb AS qv FROM vecs WHERE doc_id < 10),
        |scored AS (
        |  SELECT q.query_id, c.doc_id AS neighbor_id, list_cosine_similarity(q.qv, c.emb) AS sim
        |  FROM q CROSS JOIN vecs c WHERE c.doc_id != q.query_id)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM scored) WHERE rnk <= 10""".stripMargin,

    // the WAV payloads are REAL RIFF files built from (doc_id-derived
    // format params, text bytes truncated to whole frames); the oracle
    // predicts each field analytically from that construction, so
    // agreement means the parser read back exactly what the writer
    // encoded
    "mm5_audio_meta" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |    CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |         WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER) AS sample_rate,
        |    (doc_id % 2 + 1) * 2 AS block_align,
        |    octet_length(encode(text)) AS raw
        |  FROM documents)
        |SELECT doc_id AS asset_id, channels, sample_rate,
        |  CAST(16 AS INTEGER) AS bits_per_sample,
        |  CAST(raw // block_align * block_align AS BIGINT) AS data_bytes,
        |  CAST((raw // block_align * block_align) * 1000
        |       // (sample_rate * block_align) AS BIGINT) AS duration_ms
        |FROM p""".stripMargin,

    // REAL audio sample decode: the WAV data chunk is the text's UTF-8
    // bytes truncated to whole frames, read as signed 16-bit LE PCM —
    // the oracle re-derives every sample from the byte pairs (hex()
    // is uppercase in DuckDB) and predicts the exact integer level
    // stats the JDK decoder produces on the Spark side
    // demuxer metadata over real sample tables: every field parsed
    // back from stts/stsz/mdhd is predicted analytically — n from
    // md5-byte 9, delta from byte 10, per-sample sizes from the
    // digest stream over text#s, and the container byte length is
    // closed-form (377 + 4n + sum(sizes))
    "mm9_video_samples" -> {
      val b9 = "((strpos('0123456789abcdef', substr(md5(text),19,1))-1)*16 + (strpos('0123456789abcdef', substr(md5(text),20,1))-1))"
      val b10 = "((strpos('0123456789abcdef', substr(md5(text),21,1))-1)*16 + (strpos('0123456789abcdef', substr(md5(text),22,1))-1))"
      s"""WITH p AS (
        |  SELECT doc_id, text,
        |    4 + $b9 % 5 AS n,
        |    512 * (1 + $b10 % 4) AS delta
        |  FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2),
        |sz AS (
        |  SELECT doc_id, 64 + ${digestByteSql("f.i", "text || '#s'")} AS s
        |  FROM p, LATERAL (SELECT unnest(range(0, CAST(n AS BIGINT))) AS i) f),
        |agg AS (SELECT doc_id, sum(s) AS total, max(s) AS mx FROM sz GROUP BY 1)
        |SELECT p.doc_id AS asset_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(delta AS BIGINT) AS delta,
        |  CAST(12800 AS BIGINT) AS media_timescale,
        |  CAST(n * delta AS BIGINT) AS media_duration,
        |  CAST(12800 * 1000 // delta AS BIGINT) AS fps_milli,
        |  CAST(total AS BIGINT) AS total_sample_bytes,
        |  CAST(mx AS BIGINT) AS max_sample_bytes,
        |  CAST(377 + 4 * n + total AS BIGINT) AS n_bytes
        |FROM p JOIN agg USING (doc_id)""".stripMargin
    },

    // the genuine 64-bit aHash: 8x8 nearest-neighbour downsample via
    // the mm3 integer sampling recipe, bit i iff px*64 > sum (strict),
    // bit 63 contributed as -2^63 (DuckDB 1<<63 overflows BIGINT)
    "mm10_ahash64" ->
      s"""$ahash64CteSql
        |SELECT asset_id, ahash64 FROM ah""".stripMargin,

    "mm8_audio_levels" ->
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) // ((doc_id % 2 + 1) * 2)
        |      * ((doc_id % 2 + 1) * 2) AS nbytes
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    (strpos('0123456789ABCDEF', substr(hx, CAST(4*g.i + 1 AS INTEGER), 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF', substr(hx, CAST(4*g.i + 2 AS INTEGER), 1)) - 1)
        |    + ((strpos('0123456789ABCDEF', substr(hx, CAST(4*g.i + 3 AS INTEGER), 1)) - 1) * 16
        |     + (strpos('0123456789ABCDEF', substr(hx, CAST(4*g.i + 4 AS INTEGER), 1)) - 1)) * 256
        |      AS u
        |  FROM p, LATERAL (SELECT unnest(range(0, nbytes // 2)) AS i) g),
        |sv AS (SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM s),
        |agg AS (
        |  SELECT doc_id, count(*) AS n, max(abs(v)) AS pk, sum(v*v) AS sq
        |  FROM sv GROUP BY 1)
        |SELECT p.doc_id AS asset_id,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_samples,
        |  CAST(coalesce(a.pk, 0) AS BIGINT) AS peak_abs,
        |  CAST(coalesce(a.sq, 0) AS BIGINT) AS sum_sq
        |FROM p LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // C4-style segment dedup: the keeper per segment fingerprint is the
    // min (doc_id, idx) — the window keeps the same row the Spark
    // struct-min aggregate keeps
    "d16_segment_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS idx,
        |         array_to_string(ts[g.i*10+1 : g.i*10+10], ' ') AS seg
        |  FROM tok, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ts)/10.0) AS BIGINT))) AS i) g),
        |marked AS (
        |  SELECT doc_id, idx, seg,
        |         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, idx) AS rn,
        |         count(*) OVER (PARTITION BY md5(seg)) AS cnt
        |  FROM segs),
        |kept AS (SELECT doc_id, idx, seg FROM marked WHERE rn = 1 OR cnt = 1),
        |agg AS (
        |  SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS clean_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |totals AS (SELECT doc_id, count(*) AS n FROM segs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.clean_text, '') AS clean_text,
        |  CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_seg_kept,
        |  CAST(coalesce(t.n, 0) - coalesce(a.n_kept, 0) AS INTEGER) AS n_seg_dropped
        |FROM documents d
        |LEFT JOIN totals t USING (doc_id)
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // persisted bloom screen: exact counts are SQL; the two booleans are
    // the bloom's structural invariants (no false negatives; fp
    // attrition within budget), computed exactly Spark-side
    "d17_bloom_persisted" ->
      """WITH fps AS (
        |  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |hist AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 5 != 0),
        |batch AS (SELECT * FROM fps WHERE doc_id % 5 = 0),
        |newf AS (SELECT DISTINCT b.fp FROM batch b ANTI JOIN hist h ON b.fp = h.fp)
        |SELECT CAST((SELECT count(*) FROM batch) AS BIGINT) AS n_batch,
        |       CAST((SELECT count(*) FROM newf) AS BIGINT) AS n_new_fps,
        |       true AS no_false_negatives,
        |       true AS fp_within_budget""".stripMargin,

    // PMI collocations: identical quantise-once integer arithmetic;
    // (pmi desc, bigram asc) is a deterministic total order so the
    // LIMIT selects the same 50 rows
    "t19_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS cu
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |bi AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bg, t[i] AS w1, t[i+1] AS w2, count(*) AS cb
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g(i)
        |  WHERE len(t) >= 2
        |  GROUP BY 1, 2, 3),
        |nu AS (SELECT sum(cu) AS nu FROM uni),
        |nb AS (SELECT sum(cb) AS nb FROM bi)
        |SELECT bg AS bigram, cb AS c_bigram, u1.cu AS c_w1, u2.cu AS c_w2,
        |  (CAST(floor(log2(CAST(cb AS DOUBLE)) * 1000000) AS BIGINT)
        |   - CAST(floor(log2(CAST(nb.nb AS DOUBLE)) * 1000000) AS BIGINT)
        |   - CAST(floor(log2(CAST(u1.cu AS DOUBLE)) * 1000000) AS BIGINT)
        |   - CAST(floor(log2(CAST(u2.cu AS DOUBLE)) * 1000000) AS BIGINT)
        |   + 2 * CAST(floor(log2(CAST(nu.nu AS DOUBLE)) * 1000000) AS BIGINT)) AS pmi_micro
        |FROM bi
        |JOIN uni u1 ON bi.w1 = u1.w
        |JOIN uni u2 ON bi.w2 = u2.w
        |CROSS JOIN nu CROSS JOIN nb
        |WHERE cb >= 5
        |ORDER BY pmi_micro DESC, bg
        |LIMIT 50""".stripMargin,

    // BPE merge-pair statistic: vocabulary first (Zipf collapse), then
    // adjacent character pairs weighted by word frequency. Symbols are
    // ASCII runs so substr semantics agree across engines.
    "t20_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, count(*) AS f
        |  FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS w
        |        FROM documents)
        |  GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, i, 2) AS pair, sum(f) AS c_pair
        |  FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i) g(i)
        |  WHERE len(w) >= 2
        |  GROUP BY 1)
        |SELECT pair, CAST(c_pair AS BIGINT) AS c_pair FROM pairs
        |WHERE c_pair >= 2
        |ORDER BY c_pair DESC, pair
        |LIMIT 50""".stripMargin,

    // forward fill: per-bucket latest = the same (ts, event_id) ordering
    // the Spark max-struct aggregate resolves; the fill is the standard
    // IGNORE NULLS running last_value over the per-user grid
    "q_forward_fill" ->
      """WITH obs AS (
        |  SELECT user_id, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS b, value,
        |         row_number() OVER (
        |           PARTITION BY user_id, epoch_us(ts) // 3600000000
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |o1 AS (SELECT user_id, b, value AS v_obs FROM obs WHERE rn = 1),
        |spans AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM o1 GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, CAST(g.i AS BIGINT) AS b
        |  FROM spans, LATERAL (SELECT unnest(range(b0, b1 + 1)) AS i) g),
        |j AS (
        |  SELECT g.user_id, g.b, o.v_obs
        |  FROM grid g LEFT JOIN o1 o ON g.user_id = o.user_id AND g.b = o.b)
        |SELECT user_id, make_timestamp(b * 3600000000) AS bucket_ts,
        |  last_value(v_obs IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |  v_obs IS NOT NULL AS is_observed
        |FROM j""".stripMargin,

    // interpolation: identical expression shape (vp + (vn-vp) * ((b-bp)/
    // (bn-bp)) in double) so IEEE doubles match bit-for-bit
    "q_interpolate" ->
      """WITH obs AS (
        |  SELECT user_id, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS b, value,
        |         row_number() OVER (
        |           PARTITION BY user_id, epoch_us(ts) // 3600000000
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |o1 AS (SELECT user_id, b, value AS v_obs FROM obs WHERE rn = 1),
        |spans AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM o1 GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, CAST(g.i AS BIGINT) AS b
        |  FROM spans, LATERAL (SELECT unnest(range(b0, b1 + 1)) AS i) g),
        |j AS (
        |  SELECT g.user_id, g.b, o.v_obs
        |  FROM grid g LEFT JOIN o1 o ON g.user_id = o.user_id AND g.b = o.b),
        |wins AS (
        |  SELECT user_id, b, v_obs,
        |    max(CASE WHEN v_obs IS NOT NULL THEN b END) OVER (
        |      PARTITION BY user_id ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bp,
        |    min(CASE WHEN v_obs IS NOT NULL THEN b END) OVER (
        |      PARTITION BY user_id ORDER BY b
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bn,
        |    last_value(v_obs IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
        |    first_value(v_obs IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY b
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn
        |  FROM j)
        |SELECT user_id, make_timestamp(b * 3600000000) AS bucket_ts,
        |  CASE WHEN v_obs IS NOT NULL THEN v_obs
        |       ELSE vp + (vn - vp) * (CAST(b - bp AS DOUBLE) / CAST(bn - bp AS DOUBLE))
        |  END AS value_interp,
        |  v_obs IS NOT NULL AS is_observed
        |FROM wins""".stripMargin,

    // char entropy: the same floor(1e6*log2 m) quantisation as the JVM
    // kernel (agreement pinned by the committed golden table), then an
    // exact integer sum — order-independent, engine-exact
    "t18_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, substr(text, CAST(g.i AS INTEGER), 1) AS ch
        |  FROM documents, LATERAL (SELECT unnest(range(1, len(text)+1)) AS i) g),
        |k AS (SELECT doc_id, ch, count(*) AS kc FROM chars GROUP BY 1, 2),
        |n AS (SELECT doc_id, len(text) AS n FROM documents),
        |s AS (
        |  SELECT k.doc_id,
        |    CAST(sum(kc * (CAST(floor(1000000.0*log2(CAST(n.n AS DOUBLE))) AS BIGINT)
        |                 - CAST(floor(1000000.0*log2(CAST(kc AS DOUBLE))) AS BIGINT))) AS BIGINT) AS entropy_microbits,
        |    CAST(any_value(n.n) AS INTEGER) AS n_codepoints
        |  FROM k JOIN n ON k.doc_id = n.doc_id GROUP BY k.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n_codepoints, 0) AS INTEGER) AS n_codepoints,
        |  CAST(coalesce(s.entropy_microbits, 0) AS BIGINT) AS entropy_microbits,
        |  coalesce(s.entropy_microbits, 0) >= CAST(4000000 AS BIGINT) * coalesce(s.n_codepoints, 0) AS r_entropy
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,

    // CDC diff of the maintained table between the seeded snapshot
    // (even-keyed customers only) and batch 2: every user with an event
    // changed state — 'I' when absent from the even-keyed base, 'U'
    // otherwise; post-image = the latest (ts_us, eid) event
    "st11_table_diff" ->
      """WITH ev AS (
        |  SELECT user_id, 'event' AS src, value,
        |         CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id AS eid
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us DESC, eid DESC) AS rn
        |  FROM ev)
        |SELECT CASE WHEN user_id % 2 = 0 THEN 'U' ELSE 'I' END AS op,
        |       user_id, src, eid AS latest_event_id, value AS latest_value
        |FROM ranked WHERE rn = 1""".stripMargin,

    // perceptual-hash near-dup over REAL pixels, the 64-BIT contract
    // (round 11 — the 16-bin form's saturating code space is retired):
    // every aHash bit re-derived from the formula pixels via the
    // SHARED ahash64 CTE, the planted perturbed companions replayed
    // (every 16th asset's hash under id + 2^40 with bit
    // (asset_id DIV 16) mod 64 flipped), and the pair set brute-forced
    // — the pigeonhole banding must find exactly these
    "mm6_image_neardup" ->
      s"""$ahash64CteSql,
        |all_h AS (
        |  SELECT asset_id, ahash64 FROM ah
        |  UNION ALL
        |  SELECT asset_id + 1099511627776,
        |    xor(ahash64,
        |      CASE WHEN (asset_id // 16) % 64 = 63 THEN -9223372036854775808
        |           ELSE CAST(1 AS BIGINT) << CAST((asset_id // 16) % 64 AS INTEGER) END)
        |  FROM ah WHERE asset_id % 16 = 0)
        |SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
        |       CAST(bit_count(xor(a.ahash64, b.ahash64)) AS INTEGER) AS hamming
        |FROM all_h a JOIN all_h b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.ahash64, b.ahash64)) <= 2""".stripMargin,

    // continuous anonymised replication: consistent md5 pseudonyms +
    // the t7 scrub chain over the JSON payload
    "st13_anonymise_stream" ->
      raw"""SELECT event_id,
         |  substr(md5(CAST(user_id AS VARCHAR)), 1, 16) AS user_pseud,
         |  event_type,
         |  CAST(${piiCountSql("props")} AS BIGINT) AS n_pii,
         |  md5(${scrubSql("props")}) AS props_scrubbed_md5
         |FROM events""".stripMargin,

    // tombstone deletes: resolved state = latest-per-key over
    // snapshot + batch-0 events, minus the winning-delete keys (mod 4
    // = 0); the losing deletes (mod 4 = 2, version below the snapshot)
    // must change nothing
    // right-to-be-forgotten: the erasure cascade recomputed with
    // NOT-EXISTS-victim chains; orphan audits per remaining edge prove
    // post-erasure closure (all genuinely computed, all zero)
    "o34_forget" -> {
      val victim = s"${bucketSql("c_custkey", 20)} = 0"
      s"""WITH kc AS (SELECT * FROM customer WHERE NOT ($victim)),
         |ko AS (SELECT o.* FROM orders o
         |       WHERE EXISTS (SELECT 1 FROM kc WHERE kc.c_custkey = o.o_custkey)),
         |kl AS (SELECT l.* FROM lineitem l
         |       WHERE EXISTS (SELECT 1 FROM ko WHERE ko.o_orderkey = l.l_orderkey)),
         |ke AS (SELECT e.* FROM events e
         |       WHERE EXISTS (SELECT 1 FROM kc WHERE kc.c_custkey = e.user_id))
         |SELECT 'region' AS table_name,
         |       CAST((SELECT count(*) FROM region) AS BIGINT) AS n_before,
         |       CAST(0 AS BIGINT) AS n_deleted,
         |       CAST((SELECT count(*) FROM region) AS BIGINT) AS n_after,
         |       CAST(0 AS BIGINT) AS n_orphans
         |UNION ALL SELECT 'nation', (SELECT count(*) FROM nation), 0,
         |  (SELECT count(*) FROM nation),
         |  (SELECT count(*) FROM nation n WHERE NOT EXISTS
         |     (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
         |UNION ALL SELECT 'customer', (SELECT count(*) FROM customer),
         |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM kc),
         |  (SELECT count(*) FROM kc),
         |  (SELECT count(*) FROM kc WHERE NOT EXISTS
         |     (SELECT 1 FROM nation n WHERE n.n_nationkey = kc.c_nationkey))
         |UNION ALL SELECT 'supplier', (SELECT count(*) FROM supplier), 0,
         |  (SELECT count(*) FROM supplier),
         |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
         |     (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
         |UNION ALL SELECT 'part', (SELECT count(*) FROM part), 0,
         |  (SELECT count(*) FROM part), 0
         |UNION ALL SELECT 'orders', (SELECT count(*) FROM orders),
         |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM ko),
         |  (SELECT count(*) FROM ko),
         |  (SELECT count(*) FROM ko WHERE NOT EXISTS
         |     (SELECT 1 FROM kc WHERE kc.c_custkey = ko.o_custkey))
         |UNION ALL SELECT 'lineitem', (SELECT count(*) FROM lineitem),
         |  (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM kl),
         |  (SELECT count(*) FROM kl),
         |  (SELECT count(*) FROM kl WHERE NOT EXISTS
         |     (SELECT 1 FROM ko WHERE ko.o_orderkey = kl.l_orderkey))
         |  + (SELECT count(*) FROM kl WHERE NOT EXISTS
         |     (SELECT 1 FROM part p WHERE p.p_partkey = kl.l_partkey))
         |  + (SELECT count(*) FROM kl WHERE NOT EXISTS
         |     (SELECT 1 FROM supplier s WHERE s.s_suppkey = kl.l_suppkey))
         |UNION ALL SELECT 'events', (SELECT count(*) FROM events),
         |  (SELECT count(*) FROM events) - (SELECT count(*) FROM ke),
         |  (SELECT count(*) FROM ke),
         |  (SELECT count(*) FROM ke WHERE NOT EXISTS
         |     (SELECT 1 FROM kc WHERE kc.c_custkey = ke.user_id))""".stripMargin
    },

    // native session_window: gap islands with the end-exclusive >=
    // break and session_end = last event + gap (overlap-merge of
    // per-event [ts, ts+gap) windows)
    "st18_session_window" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM e)
        |SELECT user_id,
        |       min(ts) AS session_start,
        |       max(ts) + INTERVAL '30' MINUTE AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // masked views: golden DDL per dialect (the o2 recorded-shape
    // posture) — any drift in quoting, rule rendering, or the
    // pseudonym expression breaks the compare
    "o35_masked_views" -> {
      // MySQL's CAST vocabulary: DOUBLE, never DOUBLE PRECISION
      val mysql = "CREATE OR REPLACE VIEW `customer_masked` AS\n" +
        "SELECT `c_custkey`, SUBSTR(MD5(CONCAT(''graft:'', CAST(`c_name` AS CHAR))), 1, 16) AS `c_name`, " +
        "`c_nationkey`, CAST(NULL AS DOUBLE) AS `c_acctbal`, ''REDACTED'' AS `c_mktsegment`\n" +
        "FROM `customer`;"
      val pg = "CREATE OR REPLACE VIEW \"customer_masked\" AS\n" +
        "SELECT \"c_custkey\", SUBSTR(MD5(CONCAT(''graft:'', CAST(\"c_name\" AS TEXT))), 1, 16) AS \"c_name\", " +
        "\"c_nationkey\", CAST(NULL AS DOUBLE PRECISION) AS \"c_acctbal\", ''REDACTED'' AS \"c_mktsegment\"\n" +
        "FROM \"customer\";"
      val lite = "DROP VIEW IF EXISTS \"customer_masked\";\n" +
        "CREATE VIEW \"customer_masked\" AS\n" +
        "SELECT \"c_custkey\", ''***'' AS \"c_name\", " +
        "\"c_nationkey\", CAST(NULL AS DOUBLE PRECISION) AS \"c_acctbal\", ''REDACTED'' AS \"c_mktsegment\"\n" +
        "FROM \"customer\";"
      s"""SELECT 'mysql' AS dialect, 'customer' AS table_name, '$mysql' AS view_sql
         |UNION ALL SELECT 'postgres', 'customer', '$pg'
         |UNION ALL SELECT 'sqlite', 'customer', '$lite'""".stripMargin
    },

    // A/B chi-square: the significance verdict as a cross-multiplied
    // polynomial inequality (HUGEINT here, DECIMAL(38,0) in the
    // engine — both exact), same md5-bucket variant coin
    "q_ab_chisq" -> {
      val coin = bucketSql("u", 2)
      s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events),
         |v AS (SELECT u, $coin AS variant FROM u),
         |cvt AS (SELECT DISTINCT user_id AS u FROM events
         |        WHERE event_type = 'purchase'),
         |cells AS (SELECT variant, count(*) AS n,
         |            sum(CASE WHEN cvt.u IS NOT NULL THEN 1 ELSE 0 END) AS k
         |          FROM v LEFT JOIN cvt ON v.u = cvt.u GROUP BY 1),
         |t AS (SELECT
         |        sum(CASE WHEN variant = 0 THEN n ELSE 0 END) AS n_a,
         |        sum(CASE WHEN variant = 0 THEN k ELSE 0 END) AS conv_a,
         |        sum(CASE WHEN variant = 1 THEN n ELSE 0 END) AS n_b,
         |        sum(CASE WHEN variant = 1 THEN k ELSE 0 END) AS conv_b
         |      FROM cells),
         |x AS (SELECT *,
         |        CAST(conv_a AS HUGEINT) * CAST(n_b - conv_b AS HUGEINT)
         |          - CAST(n_a - conv_a AS HUGEINT) * CAST(conv_b AS HUGEINT) AS df
         |      FROM t)
         |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
         |       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
         |       CAST(CASE WHEN n_a > 0 THEN (conv_a * 1000) // n_a END AS BIGINT) AS rate_a_pm,
         |       CAST(CASE WHEN n_b > 0 THEN (conv_b * 1000) // n_b END AS BIGINT) AS rate_b_pm,
         |       (3841 * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
         |             * CAST(conv_a + conv_b AS HUGEINT)
         |             * CAST(n_a + n_b - conv_a - conv_b AS HUGEINT) > 0
         |        AND 1000 * CAST(n_a + n_b AS HUGEINT) * df * df >=
         |        3841 * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
         |             * CAST(conv_a + conv_b AS HUGEINT)
         |             * CAST(n_a + n_b - conv_a - conv_b AS HUGEINT)) AS significant
         |FROM x""".stripMargin
    },

    // distributed k-means, three Lloyd rounds unrolled: integer
    // distances, cid-tiebroken argmin, floor-div centroid means,
    // empty clusters carry the previous centroid
    "s15_kmeans" -> {
      def round(r: Int): String = {
        val prev = if (r == 1) "c0" else s"c${r - 1}"
        s"""d$r AS (SELECT f.doc_id, c.cid, sum((f.v - c.cv)*(f.v - c.cv)) AS d2
           |        FROM fd f JOIN $prev c USING (dim) GROUP BY 1, 2),
           |a$r AS (SELECT doc_id, cid FROM (
           |          SELECT doc_id, cid, row_number() OVER (
           |            PARTITION BY doc_id ORDER BY d2, cid) AS rn
           |          FROM d$r) WHERE rn = 1),
           |u$r AS (SELECT a.cid, f.dim, sum(f.v) // count(*) AS cv
           |        FROM a$r a JOIN fd f USING (doc_id) GROUP BY 1, 2),
           |c$r AS (SELECT p.cid, p.dim, CAST(coalesce(u.cv, p.cv) AS BIGINT) AS cv
           |        FROM $prev p LEFT JOIN u$r u USING (cid, dim)),
           |n$r AS (SELECT s.cid, CAST(coalesce(m.n, 0) AS BIGINT) AS n
           |        FROM (SELECT DISTINCT cid FROM c0) s
           |        LEFT JOIN (SELECT cid, count(*) AS n FROM a$r GROUP BY 1) m
           |          USING (cid))""".stripMargin
      }
      def emit(r: Int): String =
        s"""SELECT $r AS round, cid, -1 AS dim, n AS value FROM n$r
           |UNION ALL SELECT $r, cid, dim, cv FROM c$r""".stripMargin
      s"""WITH fd AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS dim,
         |         CAST(32 - length(replace(md5(text),
         |           substr('0123456789abcdef', CAST(i AS INTEGER) + 1, 1), ''))
         |           AS BIGINT) AS v
         |  FROM documents, LATERAL (SELECT unnest(range(0, 16)) AS i) g(i)),
         |seeds AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS INTEGER) AS cid
         |  FROM (SELECT DISTINCT doc_id FROM documents ORDER BY doc_id LIMIT 4)),
         |c0 AS (SELECT s.cid, f.dim, f.v AS cv FROM seeds s JOIN fd f USING (doc_id)),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT CAST(round AS INTEGER) AS round, CAST(cid AS INTEGER) AS cid,
         |       CAST(dim AS INTEGER) AS dim, CAST(value AS BIGINT) AS value
         |FROM (${emit(1)} UNION ALL ${emit(2)} UNION ALL ${emit(3)})""".stripMargin
    },

    // perceptron training, three epochs unrolled: epoch 1 starts at
    // w = 0 so every row is misclassified (margin 0 ≤ 0) and the
    // update is the unconditioned Σ y·x; later epochs embed the
    // accumulated weights in the margin predicate
    "t23_perceptron" ->
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |         1 AS x0,
        |         least(len(list_filter(string_split_regex(text, '\s+'),
        |                               x -> len(x) > 0)), 1000) AS x1,
        |         (len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1000)
        |           // (length(text) + 1) AS x2,
        |         (len(regexp_extract_all(text, '[0-9]')) * 1000)
        |           // (length(text) + 1) AS x3
        |  FROM documents),
        |e1 AS (SELECT sum(y*x0) AS d0, sum(y*x1) AS d1, sum(y*x2) AS d2,
        |              sum(y*x3) AS d3, count(*) AS m FROM f),
        |w1 AS (SELECT d0 AS a0, d1 AS a1, d2 AS a2, d3 AS a3, m FROM e1),
        |e2 AS (SELECT
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x0 ELSE 0 END) AS d0,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x1 ELSE 0 END) AS d1,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x2 ELSE 0 END) AS d2,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x3 ELSE 0 END) AS d3,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN 1 ELSE 0 END) AS m
        |       FROM f, w1),
        |w2 AS (SELECT a0 + e2.d0 AS a0, a1 + e2.d1 AS a1,
        |              a2 + e2.d2 AS a2, a3 + e2.d3 AS a3, e2.m
        |       FROM w1, e2),
        |e3 AS (SELECT
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x0 ELSE 0 END) AS d0,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x1 ELSE 0 END) AS d1,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x2 ELSE 0 END) AS d2,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN y*x3 ELSE 0 END) AS d3,
        |         sum(CASE WHEN y*(a0*x0 + a1*x1 + a2*x2 + a3*x3) <= 0
        |                  THEN 1 ELSE 0 END) AS m
        |       FROM f, w2),
        |w3 AS (SELECT a0 + e3.d0 AS a0, a1 + e3.d1 AS a1,
        |              a2 + e3.d2 AS a2, a3 + e3.d3 AS a3, e3.m
        |       FROM w2, e3)
        |SELECT CAST(1 AS INTEGER) AS epoch, CAST(a0 AS BIGINT) AS w0,
        |       CAST(a1 AS BIGINT) AS w1, CAST(a2 AS BIGINT) AS w2,
        |       CAST(a3 AS BIGINT) AS w3, CAST(m AS BIGINT) AS n_mis
        |FROM w1
        |UNION ALL SELECT 2, CAST(a0 AS BIGINT), CAST(a1 AS BIGINT),
        |       CAST(a2 AS BIGINT), CAST(a3 AS BIGINT), CAST(m AS BIGINT) FROM w2
        |UNION ALL SELECT 3, CAST(a0 AS BIGINT), CAST(a1 AS BIGINT),
        |       CAST(a2 AS BIGINT), CAST(a3 AS BIGINT), CAST(m AS BIGINT) FROM w3""".stripMargin,

    // CDC chunking: boundary flags, chunk assembly and the cross-doc
    // dedup replayed in SQL windows (portable md5-prefix gram hash,
    // positive everywhere so % == pmod)
    "d19_cdc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, g.i - 1 AS pos, tk[g.i] AS tok
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
        |        FROM documents),
        |       LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) g
        |),
        |gr AS (SELECT doc_id, pos, tok,
        |         CASE WHEN lead(tok, 2) OVER w IS NOT NULL
        |              THEN CAST(('0x' || substr(md5(tok || ' ' ||
        |                     lead(tok, 1) OVER w || ' ' ||
        |                     lead(tok, 2) OVER w), 1, 15)) AS BIGINT)
        |         END AS gh
        |       FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |b AS (SELECT doc_id, pos, tok,
        |        CASE WHEN lag(gh, 2) OVER w IS NOT NULL
        |              AND lag(gh, 2) OVER w % 16 = 0 THEN 1 ELSE 0 END AS bf
        |      FROM gr WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |c AS (SELECT doc_id, pos, tok,
        |        coalesce(sum(bf) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        |      FROM b),
        |ch AS (SELECT doc_id, chunk_id, count(*) AS n_tok,
        |         md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
        |       FROM c GROUP BY 1, 2),
        |dh AS (SELECT chash FROM ch GROUP BY chash
        |       HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN chash IN (SELECT chash FROM dh)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |FROM ch GROUP BY 1""".stripMargin,

    // hybrid RRF: both shortlists and the integer fusion re-derived —
    // cosine ranks via list_cosine_similarity (the s1 recipe), lexical
    // ranks via distinct-token overlap, absent side contributes 0
    "s14_hybrid_rrf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |vs AS (SELECT q.query_id, e.vec_id AS doc_id,
        |         row_number() OVER (PARTITION BY q.query_id
        |           ORDER BY list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |                      CAST(e.embedding AS DOUBLE[])) DESC,
        |                    e.vec_id) AS rank_vec
        |       FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id),
        |v AS (SELECT query_id, doc_id, rank_vec FROM vs WHERE rank_vec <= 50),
        |dt AS (SELECT DISTINCT doc_id, t AS token FROM (
        |         SELECT doc_id,
        |                unnest(list_filter(string_split_regex(text, '\s+'),
        |                                   x -> len(x) > 0)) AS t
        |         FROM documents)),
        |qt AS (SELECT doc_id AS query_id, token FROM dt WHERE doc_id < 10),
        |ov AS (SELECT qt.query_id, dt.doc_id, count(*) AS n_shared
        |       FROM dt JOIN qt USING (token)
        |       WHERE dt.doc_id != qt.query_id GROUP BY 1, 2),
        |l AS (SELECT query_id, doc_id, rank_lex FROM (
        |        SELECT query_id, doc_id,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY n_shared DESC, doc_id) AS rank_lex
        |        FROM ov) WHERE rank_lex <= 50),
        |f AS (SELECT coalesce(v.query_id, l.query_id) AS query_id,
        |             coalesce(v.doc_id, l.doc_id) AS doc_id,
        |             coalesce(1000000 // (60 + rank_vec), 0)
        |               + coalesce(1000000 // (60 + rank_lex), 0) AS rrf
        |      FROM v FULL OUTER JOIN l
        |        ON v.query_id = l.query_id AND v.doc_id = l.doc_id)
        |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id,
        |       CAST(rrf AS BIGINT) AS rrf_micro
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf DESC, doc_id) AS rn FROM f)
        |WHERE rn <= 10""".stripMargin,

    // BPE training, three rounds unrolled: each round's argmax pair
    // (count desc, pair asc) merges into a fresh uppercase marker —
    // replace() is leftmost-non-overlapping in both engines, and the
    // marker alphabet is disjoint from the [a-z] symbols
    "t22_bpe_train" ->
      """WITH v0 AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |        FROM documents)
        |  GROUP BY w),
        |p1 AS (SELECT substr(w, i, 2) AS pair, sum(f) AS c
        |       FROM v0, LATERAL (SELECT unnest(range(1, len(w))) AS i) g(i)
        |       WHERE len(w) >= 2 GROUP BY 1),
        |m1 AS (SELECT pair, c FROM p1 ORDER BY c DESC, pair LIMIT 1),
        |v1 AS (SELECT replace(w, (SELECT pair FROM m1), 'A') AS w, f FROM v0),
        |p2 AS (SELECT substr(w, i, 2) AS pair, sum(f) AS c
        |       FROM v1, LATERAL (SELECT unnest(range(1, len(w))) AS i) g(i)
        |       WHERE len(w) >= 2 GROUP BY 1),
        |m2 AS (SELECT pair, c FROM p2 ORDER BY c DESC, pair LIMIT 1),
        |v2 AS (SELECT replace(w, (SELECT pair FROM m2), 'B') AS w, f FROM v1),
        |p3 AS (SELECT substr(w, i, 2) AS pair, sum(f) AS c
        |       FROM v2, LATERAL (SELECT unnest(range(1, len(w))) AS i) g(i)
        |       WHERE len(w) >= 2 GROUP BY 1),
        |m3 AS (SELECT pair, c FROM p3 ORDER BY c DESC, pair LIMIT 1)
        |SELECT CAST(1 AS INTEGER) AS round,
        |       (SELECT pair FROM m1) AS merged_pair,
        |       CAST((SELECT c FROM m1) AS BIGINT) AS pair_count
        |UNION ALL SELECT 2, (SELECT pair FROM m2), CAST((SELECT c FROM m2) AS BIGINT)
        |UNION ALL SELECT 3, (SELECT pair FROM m3), CAST((SELECT c FROM m3) AS BIGINT)""".stripMargin,

    // BPE encoding: the t22 unroll with the ORIGINAL word riding along
    // (w0), then per-doc word counts join the encoded vocabulary —
    // token count = length of the fully-merged form
    "t24_bpe_encode" ->
      s"""$bpeEncodeCtes
         |SELECT d.doc_id,
         |       CAST(coalesce(pd.n_pretokens, 0) AS BIGINT) AS n_pretokens,
         |       CAST(coalesce(pd.n_chars, 0) AS BIGINT) AS n_chars,
         |       CAST(coalesce(pd.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,

    // per-lang tokenizer fertility: the t24 accounting (shared CTE
    // prefix) aggregated by language, integer per-mille ratios
    "t28_fertility" ->
      s"""$bpeEncodeCtes,
         |j AS (
         |  SELECT d.lang,
         |         coalesce(pd.n_pretokens, 0) AS np,
         |         coalesce(pd.n_chars, 0) AS nc,
         |         coalesce(pd.n_bpe_tokens, 0) AS nb
         |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id),
         |a AS (
         |  SELECT lang, count(*) AS n_docs, sum(np) AS n_pretokens,
         |         sum(nb) AS n_bpe_tokens, sum(nc) AS n_chars
         |  FROM j GROUP BY 1)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_pretokens AS BIGINT) AS n_pretokens,
         |  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(CASE WHEN n_pretokens > 0
         |    THEN (n_bpe_tokens * 1000) // n_pretokens END AS BIGINT)
         |    AS fertility_pm,
         |  CAST(CASE WHEN n_bpe_tokens > 0
         |    THEN (n_chars * 1000) // n_bpe_tokens END AS BIGINT)
         |    AS chars_per_tok_pm
         |FROM a""".stripMargin,

    // drift report: the evolution replayed, both one-pass profiles,
    // schema facts as fixture literals (the o35 golden posture)
    "o37_drift" -> {
      val coin3 = bucketSql("c_custkey", 3)
      val coin10 = bucketSql("c_custkey", 10)
      s"""WITH v2 AS (
         |  SELECT c_custkey, c_name, c_nationkey,
         |    CASE WHEN $coin3 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
         |    CAST(c_custkey % 5 AS INTEGER) AS c_loyalty
         |  FROM customer WHERE $coin10 != 0),
         |p1 AS (SELECT count(*) AS r,
         |  sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS nb,
         |  count(DISTINCT c_acctbal) AS db,
         |  sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS nk,
         |  count(DISTINCT c_custkey) AS dk,
         |  sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nn,
         |  count(DISTINCT c_name) AS dn,
         |  sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS nt,
         |  count(DISTINCT c_nationkey) AS dt
         |  FROM customer),
         |p2 AS (SELECT count(*) AS r,
         |  sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS nb,
         |  count(DISTINCT c_acctbal) AS db,
         |  sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS nk,
         |  count(DISTINCT c_custkey) AS dk,
         |  sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nn,
         |  count(DISTINCT c_name) AS dn,
         |  sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS nt,
         |  count(DISTINCT c_nationkey) AS dt
         |  FROM v2),
         |rows_ AS (
         |  SELECT '*' AS col_name, 'row_count' AS check_name,
         |    CAST(p1.r AS BIGINT) AS v1_num, CAST(p2.r AS BIGINT) AS v2_num,
         |    CAST(NULL AS VARCHAR) AS v1_txt, CAST(NULL AS VARCHAR) AS v2_txt,
         |    p1.r != p2.r AS drifted
         |  FROM p1, p2
         |  UNION ALL SELECT c, 'presence', i1, i2, NULL, NULL, i1 != i2
         |  FROM (VALUES ('c_acctbal', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
         |               ('c_custkey', 1, 1), ('c_loyalty', 0, 1),
         |               ('c_mktsegment', 1, 0), ('c_name', 1, 1),
         |               ('c_nationkey', 1, 1)) t(c, i1, i2)
         |  UNION ALL SELECT c, 'type', NULL, NULL, ty, ty, false
         |  FROM (VALUES ('c_acctbal', 'DOUBLE PRECISION'),
         |               ('c_custkey', 'BIGINT'), ('c_name', 'TEXT'),
         |               ('c_nationkey', 'INTEGER')) t(c, ty)
         |  UNION ALL
         |  SELECT c, ck, v1n, v2n, NULL, NULL, v1n != v2n FROM (
         |    SELECT 'c_acctbal' AS c, 'null_count' AS ck,
         |      CAST(p1.nb AS BIGINT) AS v1n, CAST(p2.nb AS BIGINT) AS v2n
         |    FROM p1, p2
         |    UNION ALL SELECT 'c_acctbal', 'distinct_count',
         |      CAST(p1.db AS BIGINT), CAST(p2.db AS BIGINT) FROM p1, p2
         |    UNION ALL SELECT 'c_custkey', 'null_count',
         |      CAST(p1.nk AS BIGINT), CAST(p2.nk AS BIGINT) FROM p1, p2
         |    UNION ALL SELECT 'c_custkey', 'distinct_count',
         |      CAST(p1.dk AS BIGINT), CAST(p2.dk AS BIGINT) FROM p1, p2
         |    UNION ALL SELECT 'c_name', 'null_count',
         |      CAST(p1.nn AS BIGINT), CAST(p2.nn AS BIGINT) FROM p1, p2
         |    UNION ALL SELECT 'c_name', 'distinct_count',
         |      CAST(p1.dn AS BIGINT), CAST(p2.dn AS BIGINT) FROM p1, p2
         |    UNION ALL SELECT 'c_nationkey', 'null_count',
         |      CAST(p1.nt AS BIGINT), CAST(p2.nt AS BIGINT) FROM p1, p2
         |    UNION ALL SELECT 'c_nationkey', 'distinct_count',
         |      CAST(p1.dt AS BIGINT), CAST(p2.dt AS BIGINT) FROM p1, p2) s)
         |SELECT * FROM rows_""".stripMargin
    },

    // golden record: the three sources and the survivorship rules;
    // FirstNonNull = min over 'prio:value' (struct-min equivalent for
    // 1-digit priorities, ASCII values)
    "er2_golden_record" -> {
      val coin = bucketSql("c_custkey", 3)
      s"""WITH c AS (
         |  SELECT c_custkey AS entity, c_name, c_mktsegment,
         |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |    $coin AS coin
         |  FROM customer),
         |u AS (
         |  SELECT entity, 1 AS prio,
         |    CASE WHEN coin = 0 THEN NULL ELSE c_name END AS name,
         |    CAST(NULL AS VARCHAR) AS segment, cents - 100 AS bal_cents
         |  FROM c
         |  UNION ALL
         |  SELECT entity, 2, replace(c_name, '5', 'S'), c_mktsegment, cents
         |  FROM c
         |  UNION ALL
         |  SELECT entity, 3, lower(c_name), c_mktsegment, cents - 50
         |  FROM c WHERE coin = 2)
         |SELECT entity,
         |  substr(min(CASE WHEN name IS NOT NULL
         |             THEN CAST(prio AS VARCHAR) || ':' || name END), 3) AS name,
         |  substr(min(CASE WHEN segment IS NOT NULL
         |             THEN CAST(prio AS VARCHAR) || ':' || segment END), 3) AS segment,
         |  max(bal_cents) AS bal_cents,
         |  CAST(count(*) AS BIGINT) AS n_records
         |FROM u GROUP BY 1""".stripMargin
    },

    // record linkage: corruption coin, both blocking passes, integer
    // levenshtein weights and the min-id tie-break replayed exactly
    "er1_record_linkage" ->
      s"""WITH $er1MatchCtes
         |SELECT d_id, c_custkey AS matched_id, CAST(score AS BIGINT) AS score
         |FROM best WHERE rn = 1""".stripMargin,

    // frequency-capped blocking: er1's two passes plus the saturated
    // nation-only pass under a 1000-pairs-per-key budget — the oracle
    // replays the per-key nd*nc HAVING, the per-pass audit, and the
    // end-to-end match outcome on the capped candidate union
    "er5_block_cap" ->
      s"""WITH $er1MatchCtes,
         |ksp AS (SELECT ld.k, nd, nc FROM
         |    (SELECT bp AS k, count(*) AS nd FROM dk GROUP BY 1) ld
         |    JOIN (SELECT bp AS k, count(*) AS nc FROM ck GROUP BY 1) rc
         |      ON ld.k = rc.k),
         |ksn AS (SELECT ld.k, nd, nc FROM
         |    (SELECT bn AS k, count(*) AS nd FROM dk GROUP BY 1) ld
         |    JOIN (SELECT bn AS k, count(*) AS nc FROM ck GROUP BY 1) rc
         |      ON ld.k = rc.k),
         |kst AS (SELECT ld.k, nd, nc FROM
         |    (SELECT CAST(d_nation AS VARCHAR) AS k, count(*) AS nd
         |       FROM dk GROUP BY 1) ld
         |    JOIN (SELECT CAST(c_nationkey AS VARCHAR) AS k, count(*) AS nc
         |       FROM ck GROUP BY 1) rc ON ld.k = rc.k),
         |pstats AS (
         |  SELECT 'phone' AS pass, count(*) AS n_keys,
         |    sum(CASE WHEN nd * nc > 1000 THEN 1 ELSE 0 END) AS n_keys_capped,
         |    coalesce(sum(CASE WHEN nd * nc <= 1000 THEN nd * nc END), 0)
         |      AS n_candidates
         |  FROM ksp
         |  UNION ALL
         |  SELECT 'name', count(*),
         |    sum(CASE WHEN nd * nc > 1000 THEN 1 ELSE 0 END),
         |    coalesce(sum(CASE WHEN nd * nc <= 1000 THEN nd * nc END), 0)
         |  FROM ksn
         |  UNION ALL
         |  SELECT 'nation', count(*),
         |    sum(CASE WHEN nd * nc > 1000 THEN 1 ELSE 0 END),
         |    coalesce(sum(CASE WHEN nd * nc <= 1000 THEN nd * nc END), 0)
         |  FROM kst),
         |candc AS (
         |  SELECT d_id, d_name, d_phone, d_nation,
         |         c_custkey, c_name, c_phone, c_nationkey
         |  FROM dk JOIN ck ON dk.bp = ck.bp
         |  WHERE dk.bp IN (SELECT k FROM ksp WHERE nd * nc <= 1000)
         |  UNION ALL
         |  SELECT d_id, d_name, d_phone, d_nation,
         |         c_custkey, c_name, c_phone, c_nationkey
         |  FROM dk JOIN ck ON dk.bn = ck.bn
         |  WHERE dk.bn IN (SELECT k FROM ksn WHERE nd * nc <= 1000)
         |  UNION ALL
         |  SELECT d_id, d_name, d_phone, d_nation,
         |         c_custkey, c_name, c_phone, c_nationkey
         |  FROM dk JOIN ck ON CAST(dk.d_nation AS VARCHAR) =
         |                     CAST(ck.c_nationkey AS VARCHAR)
         |  WHERE CAST(dk.d_nation AS VARCHAR) IN
         |    (SELECT k FROM kst WHERE nd * nc <= 1000)),
         |scoredc AS (
         |  SELECT d_id, c_custkey,
         |    greatest(30 - 6 * levenshtein(d_name, c_name), 0)
         |    + CASE WHEN d_phone = c_phone THEN 20
         |           ELSE greatest(20 - 4 * levenshtein(d_phone, c_phone), 0) END
         |    + CASE WHEN d_nation = c_nationkey THEN 5 ELSE 0 END AS score
         |  FROM candc),
         |bestc AS (
         |  SELECT d_id, c_custkey, score, row_number() OVER (
         |    PARTITION BY d_id ORDER BY score DESC, c_custkey) AS rn
         |  FROM scoredc WHERE score >= 35),
         |mrow AS (SELECT count(*) AS n_matches,
         |    coalesce(sum(CASE WHEN d_id = c_custkey THEN 1 ELSE 0 END), 0)
         |      AS n_true
         |  FROM bestc WHERE rn = 1),
         |allrows AS (
         |  SELECT pass, n_keys, n_keys_capped, n_candidates,
         |    0 AS n_matches, 0 AS n_true
         |  FROM pstats
         |  UNION ALL
         |  SELECT 'union', (SELECT sum(n_keys) FROM pstats),
         |    (SELECT sum(n_keys_capped) FROM pstats),
         |    (SELECT sum(n_candidates) FROM pstats),
         |    n_matches, n_true
         |  FROM mrow)
         |SELECT pass, CAST(n_keys AS BIGINT) AS n_keys,
         |  CAST(n_keys_capped AS BIGINT) AS n_keys_capped,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_matches AS BIGINT) AS n_matches,
         |  CAST(n_true AS BIGINT) AS n_true
         |FROM allrows ORDER BY pass""".stripMargin,

    // blocking-quality audit: per-pass candidate volume, recall vs the
    // known origin key, reduction vs the cross product — er1's CTEs
    "er3_blocking_quality" ->
      s"""WITH $er1MatchCtes,
         |tot AS (SELECT (SELECT count(*) FROM dirty) AS nd,
         |               (SELECT count(*) FROM cust) AS nc),
         |pa AS (SELECT DISTINCT d_id, c_custkey FROM dk JOIN ck ON dk.bp = ck.bp),
         |pb AS (SELECT DISTINCT d_id, c_custkey FROM dk JOIN ck ON dk.bn = ck.bn),
         |pu AS (SELECT DISTINCT d_id, c_custkey FROM
         |         (SELECT * FROM pa UNION ALL SELECT * FROM pb)),
         |st AS (
         |  SELECT 'phone' AS pass, count(*) AS n_candidates,
         |    sum(CASE WHEN d_id = c_custkey THEN 1 ELSE 0 END) AS n_true_found
         |  FROM pa
         |  UNION ALL
         |  SELECT 'name', count(*),
         |    sum(CASE WHEN d_id = c_custkey THEN 1 ELSE 0 END) FROM pb
         |  UNION ALL
         |  SELECT 'union', count(*),
         |    sum(CASE WHEN d_id = c_custkey THEN 1 ELSE 0 END) FROM pu)
         |SELECT pass, CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_true_found AS BIGINT) AS n_true_found,
         |  CAST((n_true_found * 1000) // nd AS BIGINT) AS recall_pm,
         |  CAST(((nd * nc - n_candidates) * 1000) // (nd * nc) AS BIGINT) AS reduction_pm
         |FROM st, tot""".stripMargin,

    // incremental linkage: the er1 CTEs, a 4% returning batch plus
    // md5-renamed walk-ins, batch-only candidates, left-join is_new
    "er4_incremental_linkage" ->
      s"""WITH $er1MatchCtes,
         |bk AS (
         |  SELECT * FROM dk WHERE d_id % 25 = 0
         |  UNION ALL
         |  SELECT d_id + 1000000000 AS d_id, md5(d_name) AS d_name,
         |    d_phone, d_nation, bp,
         |    CAST(d_nation AS VARCHAR) || ':' || substr(md5(d_name), 13, 6)
         |      AS bn
         |  FROM dk WHERE d_id % 25 = 0),
         |bcand AS (
         |  SELECT d_id, d_name, d_phone, d_nation,
         |         c_custkey, c_name, c_phone, c_nationkey
         |  FROM bk JOIN ck ON bk.bp = ck.bp
         |  UNION ALL
         |  SELECT d_id, d_name, d_phone, d_nation,
         |         c_custkey, c_name, c_phone, c_nationkey
         |  FROM bk JOIN ck ON bk.bn = ck.bn),
         |bscored AS (
         |  SELECT d_id, c_custkey,
         |    greatest(30 - 6 * levenshtein(d_name, c_name), 0)
         |    + CASE WHEN d_phone = c_phone THEN 20
         |           ELSE greatest(20 - 4 * levenshtein(d_phone, c_phone), 0) END
         |    + CASE WHEN d_nation = c_nationkey THEN 5 ELSE 0 END AS score
         |  FROM bcand),
         |bbest AS (
         |  SELECT d_id, c_custkey, score, row_number() OVER (
         |    PARTITION BY d_id ORDER BY score DESC, c_custkey) AS rn
         |  FROM bscored WHERE score >= 35)
         |SELECT ids.d_id, b.c_custkey AS matched_id,
         |  CAST(b.score AS BIGINT) AS score,
         |  b.c_custkey IS NULL AS is_new
         |FROM (SELECT d_id FROM bk) ids
         |LEFT JOIN (SELECT * FROM bbest WHERE rn = 1) b USING (d_id)""".stripMargin,

    // the master-data capstone: er1's match CTEs, the er2 survivorship
    // min-encoding, the o32 pseudonym digest, one summary aggregate
    "p5_link_pipeline" -> {
      val coin5 = bucketSql("c_custkey", 5)
      s"""WITH $er1MatchCtes,
         |m AS (SELECT d_id, c_custkey AS matched_id FROM best WHERE rn = 1),
         |reg AS (
         |  SELECT c_custkey AS entity, 1 AS prio,
         |    CASE WHEN $coin5 = 0 THEN NULL ELSE c_name END AS name,
         |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
         |  FROM customer),
         |u AS (
         |  SELECT entity, prio, name, bal FROM reg
         |  UNION ALL
         |  SELECT m.matched_id, 2, d.d_name, NULL
         |  FROM dirty d JOIN m ON m.d_id = d.d_id),
         |g AS (
         |  SELECT entity,
         |    substr(min(CASE WHEN name IS NOT NULL
         |               THEN CAST(prio AS VARCHAR) || ':' || name END), 3) AS name,
         |    max(bal) AS bal
         |  FROM u GROUP BY 1),
         |meta AS (
         |  SELECT c_custkey AS entity, c_mktsegment AS segment,
         |         $coin5 = 0 AS reg_name_missing
         |  FROM customer)
         |SELECT segment,
         |  CAST(count(*) AS BIGINT) AS n_entities,
         |  CAST(sum(CASE WHEN g.name IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_named,
         |  CAST(sum(CASE WHEN reg_name_missing AND g.name IS NOT NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_name_from_feed,
         |  CAST(sum(bal) AS BIGINT) AS bal_sum_cents,
         |  CAST(count(DISTINCT substr(md5('p5:' || g.name), 1, 16)) AS BIGINT) AS n_pseudonyms
         |FROM g JOIN meta USING (entity)
         |GROUP BY 1""".stripMargin
    },

    // DP counts: the draw (md5 bucket of salt||group) and the noise
    // ladder (the SAME generated CASE text the engine compiles)
    "o36_dp_counts" -> {
      val u = bucketSql("'dp:' || c_mktsegment",
        graft.anonymise.Anonymiser.DpLadderModulus)
      val noise = graft.anonymise.Anonymiser.dpNoiseSql("u")
      s"""WITH c AS (
         |  SELECT c_mktsegment AS segment,
         |         CAST(count(*) AS BIGINT) AS n_true,
         |         CAST($u AS BIGINT) AS u
         |  FROM customer GROUP BY 1),
         |n AS (SELECT segment, n_true, CAST($noise AS BIGINT) AS noise FROM c)
         |SELECT segment, n_true, noise,
         |       greatest(n_true + noise, 0) AS n_released
         |FROM n""".stripMargin
    },

    // randomized response: coin, mechanism and estimator replayed
    // bit-for-bit via the portable md5 bucket
    "o33_randomized_response" -> {
      val coin = bucketSql("c_custkey", 4)
      s"""WITH c AS (
         |  SELECT c_mktsegment AS segment,
         |         c_acctbal > 5000.0 AS truth,
         |         CASE WHEN $coin = 0 THEN NOT (c_acctbal > 5000.0)
         |              ELSE c_acctbal > 5000.0 END AS rep
         |  FROM customer)
         |SELECT segment,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |       CAST(sum(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT) AS n_reported,
         |       CAST(4*sum(CASE WHEN rep THEN 1 ELSE 0 END) - count(*) AS BIGINT) AS est_x2,
         |       CAST(4*sum(CASE WHEN rep THEN 1 ELSE 0 END) - count(*)
         |            - 2*sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS err_x2
         |FROM c GROUP BY 1""".stripMargin
    },

    // CDF replication: base snapshot + the change feed reconstructs the
    // primary's resolved state exactly (the st11 fixture, so the oracle
    // is the latest-per-key over even-customer snapshot ∪ all events)
    "st17_cdf_replication" ->
      """WITH all_rows AS (
        |  SELECT c_custkey AS user_id, 'snapshot' AS src, c_acctbal AS value,
        |         CAST(-1 AS BIGINT) AS ts_us, CAST(-1 AS BIGINT) AS eid
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT user_id, 'event', value,
        |         CAST(epoch_us(ts) AS BIGINT), event_id
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us DESC, eid DESC) AS rn
        |  FROM all_rows)
        |SELECT user_id, src, eid AS latest_event_id, value AS latest_value
        |FROM ranked WHERE rn = 1""".stripMargin,

    // privacy pipeline: subset closure (the o29 anchor) + the o31
    // ladder at k=5 over the SUBSET customers + a raw-key join where
    // the engine joined pseudonyms — equality proves the anonymised
    // release carries exactly the identified release's statistics
    "p4_privacy_pipeline" -> {
      val anchor = bucketSql("o_orderkey", 10)
      s"""WITH ko AS (SELECT * FROM orders WHERE $anchor = 0),
         |kc0 AS (SELECT c.* FROM customer c
         |        WHERE EXISTS (SELECT 1 FROM ko WHERE ko.o_custkey = c.c_custkey)),
         |c AS (SELECT c_custkey,
         |             'n:'||c_nationkey||':'||c_mktsegment AS q0,
         |             'r:'||n_regionkey||':'||c_mktsegment AS q1,
         |             c_mktsegment AS q2
         |      FROM kc0 JOIN nation ON c_nationkey = n_nationkey),
         |s0 AS (SELECT q0, count(*) AS n0 FROM c GROUP BY 1),
         |a0 AS (SELECT c.*, n0 FROM c JOIN s0 USING (q0)),
         |r0 AS (SELECT * FROM a0 WHERE n0 < 5),
         |s1 AS (SELECT q1, count(*) AS n1 FROM r0 GROUP BY 1),
         |a1 AS (SELECT r0.*, n1 FROM r0 JOIN s1 USING (q1)),
         |r1 AS (SELECT * FROM a1 WHERE n1 < 5),
         |s2 AS (SELECT q2, count(*) AS n2 FROM r1 GROUP BY 1),
         |a2 AS (SELECT r1.*, n2 FROM r1 JOIN s2 USING (q2)),
         |lab AS (
         |  SELECT c_custkey, q0 AS qi_value, 0 AS lvl FROM a0 WHERE n0 >= 5
         |  UNION ALL SELECT c_custkey, q1, 1 FROM a1 WHERE n1 >= 5
         |  UNION ALL SELECT c_custkey, q2, 2 FROM a2 WHERE n2 >= 5
         |  UNION ALL SELECT c_custkey, '*', 3 FROM a2 WHERE n2 < 5)
         |SELECT qi_value, CAST(lvl AS INTEGER) AS gen_level,
         |       CAST(count(DISTINCT ko.o_custkey) AS BIGINT) AS n_custs,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_cents
         |FROM ko JOIN lab ON ko.o_custkey = lab.c_custkey
         |GROUP BY 1, 2""".stripMargin
    },

    // join-preserving pseudonymisation: the oracle joins on RAW keys —
    // equality with the Spark pseudonym join proves the pseudonyms kept
    // referential integrity (and collided nowhere)
    "o32_pseudonym_join" ->
      """SELECT c_mktsegment AS mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // scene changes over REAL decoded frames: every per-frame histogram
    // bin and L1 distance re-derived from the frame-scoped DigestPixels
    // formula (pixel i of frame f = byte i%16 of md5(text:'f'f:'i//16'),
    // bucket = its high nibble) that the genuine PNG frames were encoded
    // with — the Spark side reads the same values back with ImageIO
    "mm7_scene_changes" ->
      """WITH v AS (
        |  SELECT doc_id AS asset_id, text,
        |    4 + ((strpos('0123456789abcdef', substr(md5(text),7,1))-1)*16
        |       + (strpos('0123456789abcdef', substr(md5(text),8,1))-1)) % 5 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT asset_id, text, unnest(range(0, nf)) AS fi FROM v),
        |px AS (
        |  SELECT asset_id, fi,
        |         strpos('0123456789abcdef',
        |           substr(md5(text || ':f' || CAST(fi AS VARCHAR)
        |                       || ':' || CAST(g.i // 16 AS VARCHAR)),
        |                  CAST(2*(g.i % 16) + 1 AS INTEGER), 1)) - 1 AS bin
        |  FROM f, LATERAL (SELECT unnest(range(0, 256)) AS i) g),
        |b AS (
        |  SELECT f.asset_id, f.fi, bb.bin, coalesce(h.cnt, 0) AS h
        |  FROM f
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) bb
        |  LEFT JOIN (SELECT asset_id, fi, bin, count(*) AS cnt
        |             FROM px GROUP BY 1, 2, 3) h
        |    ON h.asset_id = f.asset_id AND h.fi = f.fi AND h.bin = bb.bin),
        |p AS (SELECT a.asset_id, a.fi, sum(abs(a.h - c.h)) AS l1
        |      FROM b a JOIN b c ON a.asset_id = c.asset_id AND a.bin = c.bin
        |                       AND c.fi = a.fi - 1
        |      GROUP BY 1, 2)
        |SELECT asset_id,
        |       CAST(count(*) AS BIGINT) AS n_transitions,
        |       CAST(sum(CASE WHEN l1 > 72 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |       CAST(max(l1) AS BIGINT) AS max_l1
        |FROM p GROUP BY 1""".stripMargin,

    // robust outliers: DuckDB's continuous median over integers lands
    // on .0/.5 exactly, so the doubled/quadrupled encodings recover the
    // same integers the histogram walk produces
    "q_mad_outliers" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM customer),
        |m AS (SELECT seg, CAST(2*median(v) AS BIGINT) AS m2,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM c GROUP BY 1),
        |d AS (SELECT c.seg, abs(2*v - m2) AS d2 FROM c JOIN m USING (seg)),
        |m4t AS (SELECT seg, CAST(2*median(d2) AS BIGINT) AS m4 FROM d GROUP BY 1),
        |o AS (SELECT d.seg,
        |        CAST(sum(CASE WHEN d2*20000 > 44478*m4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |      FROM d JOIN m4t USING (seg) GROUP BY 1)
        |SELECT m.seg AS segment, n, m2, m4, n_outliers
        |FROM m JOIN m4t USING (seg) JOIN o USING (seg)""".stripMargin,

    // seasonal robust profile: the mad-outlier recipe with DuckDB's
    // 0-origin dayofweek as the (integer) segment
    "q_seasonal_mad" ->
      """WITH c AS (
        |  SELECT CAST(dayofweek(ts) AS BIGINT) AS seg,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |m AS (SELECT seg, CAST(2*median(v) AS BIGINT) AS m2,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM c GROUP BY 1),
        |d AS (SELECT c.seg, abs(2*v - m2) AS d2 FROM c JOIN m USING (seg)),
        |m4t AS (SELECT seg, CAST(2*median(d2) AS BIGINT) AS m4 FROM d GROUP BY 1),
        |o AS (SELECT d.seg,
        |        CAST(sum(CASE WHEN d2*20000 > 44478*m4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |      FROM d JOIN m4t USING (seg) GROUP BY 1)
        |SELECT m.seg AS segment, n, m2, m4, n_outliers
        |FROM m JOIN m4t USING (seg) JOIN o USING (seg)""".stripMargin,

    // change feed: the fixture's delta batches ARE the eid-mod-3 event
    // split, so the per-batch census recomputes from the events table;
    // equality proves no write was lost, duplicated, or mis-stamped
    "st16_table_cdf" ->
      """SELECT CAST(event_id % 3 AS BIGINT) AS batch_id,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       min(event_id) AS min_eid,
        |       max(event_id) AS max_eid
        |FROM events GROUP BY 1""".stripMargin,

    // cleaning pass: same three explicit-ASCII-range regex stages (RE2
    // needs the 'g' flag for the global replace Java does by default)
    "t21_clean_text" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_raw,
        |       CAST(length(clean) AS BIGINT) AS n_clean,
        |       md5(clean) AS clean_md5
        |FROM (SELECT doc_id, text,
        |        trim(regexp_replace(regexp_replace(regexp_replace(
        |          text, '<[^>]*>', ' ', 'g'),
        |          '[\x00-\x1f\x7f]', ' ', 'g'),
        |          ' +', ' ', 'g')) AS clean
        |      FROM documents)""".stripMargin,

    // bottom-up generalisation replayed in SQL: each round's class
    // census runs over the previous round's undersized remainder only
    "o31_generalize" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |         'n:'||c_nationkey||':'||c_mktsegment AS q0,
        |         'r:'||n_regionkey||':'||c_mktsegment AS q1,
        |         c_mktsegment AS q2
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |s0 AS (SELECT q0, count(*) AS n0 FROM c GROUP BY 1),
        |a0 AS (SELECT c.*, n0 FROM c JOIN s0 USING (q0)),
        |r0 AS (SELECT * FROM a0 WHERE n0 < 10),
        |s1 AS (SELECT q1, count(*) AS n1 FROM r0 GROUP BY 1),
        |a1 AS (SELECT r0.*, n1 FROM r0 JOIN s1 USING (q1)),
        |r1 AS (SELECT * FROM a1 WHERE n1 < 10),
        |s2 AS (SELECT q2, count(*) AS n2 FROM r1 GROUP BY 1),
        |a2 AS (SELECT r1.*, n2 FROM r1 JOIN s2 USING (q2)),
        |lab AS (
        |  SELECT q0 AS qi_value, 0 AS lvl FROM a0 WHERE n0 >= 10
        |  UNION ALL SELECT q1, 1 FROM a1 WHERE n1 >= 10
        |  UNION ALL SELECT q2, 2 FROM a2 WHERE n2 >= 10
        |  UNION ALL SELECT '*', 3 FROM a2 WHERE n2 < 10)
        |SELECT qi_value, CAST(lvl AS INTEGER) AS gen_level,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lab GROUP BY 1, 2""".stripMargin,

    // transition matrix: event_id breaks ts ties, so lead() is total-
    // ordered; probabilities in integer micro-units (positive operands,
    // so DuckDB's floor-div == Spark's trunc-div)
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS ft,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS tt
        |  FROM events),
        |pairs AS (SELECT ft, tt, count(*) AS n FROM seq
        |          WHERE tt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT ft, sum(n) AS t FROM pairs GROUP BY 1)
        |SELECT p.ft AS from_type, p.tt AS to_type, CAST(p.n AS BIGINT) AS n,
        |       CAST((p.n * 1000000) // t.t AS BIGINT) AS p_micro
        |FROM pairs p JOIN tot t ON p.ft = t.ft""".stripMargin,

    "st15_table_delete" ->
      """WITH all_rows AS (
        |  SELECT c_custkey AS user_id, 'snapshot' AS src, c_acctbal AS value,
        |         CAST(-1 AS BIGINT) AS ts_us, CAST(-1 AS BIGINT) AS eid
        |  FROM customer
        |  UNION ALL
        |  SELECT user_id, 'event', value,
        |         CAST(epoch_us(ts) AS BIGINT), event_id
        |  FROM events WHERE event_id % 3 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us DESC, eid DESC) AS rn
        |  FROM all_rows)
        |SELECT user_id, src, eid AS latest_event_id, value AS latest_value
        |FROM ranked WHERE rn = 1 AND user_id % 4 != 0""".stripMargin,

    // late-data audit: the hash-permuted arrival key, the per-user
    // event-time high-water mark over PRECEDING arrivals, the counters
    "st19_late_audit" -> {
      val arr = s"${bucketSql("event_id", 1 << 20)} * 1099511627776 + event_id"
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, $arr AS arrival
         |  FROM events),
         |h AS (
         |  SELECT *, max(ts_us) OVER (PARTITION BY user_id ORDER BY arrival
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
         |  FROM e)
         |SELECT user_id,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN hwm IS NOT NULL AND ts_us < hwm - 3600000000
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         |  CAST(coalesce(max(CASE WHEN hwm IS NOT NULL AND ts_us < hwm - 3600000000
         |                    THEN hwm - ts_us END), 0) AS BIGINT) AS max_late_us
         |FROM h GROUP BY 1""".stripMargin
    },

    // per-user CUSUM drift vs the fixed 50.00 target: the prefix-min
    // identity per user, then a plain max
    "st14_user_drift" ->
      """WITH d AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) - 5000 AS dev
        |  FROM events),
        |p AS (
        |  SELECT user_id, ts, event_id,
        |    sum(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM d),
        |s AS (
        |  SELECT user_id,
        |    p - min(least(p, 0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM p)
        |SELECT user_id, CAST(max(s) AS BIGINT) AS max_drift_cents,
        |       max(s) > 20000 AS drift_flag
        |FROM s GROUP BY user_id""".stripMargin,

    // windowed MG heavy hitters: the oracle derives heavy items (above
    // n/5 of a day, EventsStream.TopKBudget = 4) from exact counts and
    // asserts the sketch guarantee as true constants —
    // the q_approx_topk posture per day window (a broken sketch flips
    // the Spark-side booleans). date_trunc('day') is DATE in DuckDB,
    // TIMESTAMP in Spark — cast.
    "st12_window_topk" ->
      """WITH c AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT day, sum(cnt) AS n FROM c GROUP BY 1)
        |SELECT c.day, CAST(count(*) AS BIGINT) AS n_heavy,
        |       true AS all_heavy_in_sketch, true AS sketch_within_budget
        |FROM c JOIN t ON c.day = t.day
        |WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) / 5.0
        |GROUP BY 1""".stripMargin,

    // the portable md5 MinHash family makes the APPROXIMATE band screen
    // hash-exact: DuckDB re-derives signatures, bands, and the anti
    // join byte-for-byte
    "st10_neardup_screen" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS shs
        |  FROM toks WHERE len(t) >= 3),
        |sx AS (SELECT doc_id, unnest(shs) AS s FROM sh),
        |fam AS (
        |  SELECT doc_id, g.i AS i, min(md5(md5(s) || '_' || CAST(g.i AS VARCHAR))) AS sig
        |  FROM sx, LATERAL (SELECT unnest(range(0, 8)) AS i) g
        |  GROUP BY doc_id, g.i),
        |bands AS (
        |  SELECT a.doc_id, CAST(a.i // 2 AS INTEGER) AS band_idx,
        |         md5(a.sig || '|' || b.sig || '|' || CAST(a.i // 2 AS VARCHAR)) AS h
        |  FROM fam a JOIN fam b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 0),
        |corpus AS (SELECT DISTINCT band_idx, h FROM bands WHERE doc_id % 5 != 0),
        |matched AS (
        |  SELECT DISTINCT b.doc_id FROM bands b JOIN corpus c USING (band_idx, h)
        |  WHERE b.doc_id % 5 = 0)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d ANTI JOIN matched m ON d.doc_id = m.doc_id
        |WHERE d.doc_id % 5 = 0""".stripMargin,
  )
}
