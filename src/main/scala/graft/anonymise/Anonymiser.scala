package graft.anonymise

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.config._

/** Rule compiler: per-table column anonymisation as Catalyst `Column`
  * expressions (no row-level map churn — contrast the reference's
  * per-row `AnonymiseRow`, /root/reference/internal/anonymiser/anonymiser.go:34-101).
  *
  * Rule semantics (anonymiser.go:50-96):
  *  - `null` / empty rule → NULL (cast to the column's type)
  *  - `{{faker.X}}`       → generator X with value-consistent output
  *  - anything else       → static replacement value
  *  - configured-but-absent columns are skipped (anonymiser.go:46-48)
  *
  * Consistency (anonymiser.go:19-22, 73-91; README.md:305-307): the same
  * original value must map to the same fake everywhere, keyed by
  * `column:value` — the table name is NOT part of the key, so
  * `users.email` and `orders.email` share mappings. The reference holds
  * this map in driver memory (its one scalability hazard, SURVEY.md §4);
  * we get the same observable contract with zero state: each fake is
  * generated from a seed hashed from `column:value` (`seedCol`) — a
  * stateless, shuffle-free, narrow per-row transform, consistent across
  * tables, executors and runs by construction.
  */
object Anonymiser {

  /** Consistent keyed pseudonym for an identifier column: the seeded-
    * deterministic o11 consistency recipe specialised to KEYS, where
    * the property that matters is REFERENTIAL — the same identifier
    * pseudonymises identically in every table it appears in, with no
    * shared state, so foreign-key joins still line up after
    * anonymisation (proven end-to-end by `o32_pseudonym_join`: the
    * pseudonym-join aggregate equals the raw-key-join aggregate). The
    * salt separates pseudonym domains: two datasets salted differently
    * cannot be linked through their pseudonyms.
    */
  def pseudonym(c: Column, salt: String = ""): Column =
    substring(md5(concat(lit(salt), c.cast(StringType))), 1, 16)

  /** FORMAT-PRESERVING consistent pseudonym: digits map to digits,
    * letters to case-preserving letters, everything else (spaces,
    * punctuation, '#') passes through — so downstream format
    * validators, fixed-width parsers and pattern-matched ETL keep
    * working on the anonymised value (the property plain `pseudonym`'s
    * hex digest destroys). Each character shifts by a bucket of
    * `md5(key:position:value)` within its class, so the mapping is a
    * pure function of (key, whole original value): the same original
    * pseudonymises identically everywhere — the o11 consistency
    * contract — while sharing a prefix leaks nothing (the shift hashes
    * the WHOLE value). One-way by design (the reference's contract is
    * consistency, not reversibility; a keyed FF1/FF3 cipher would slot
    * in here if decryption were ever required).
    *
    * Scale shape: a narrow per-row `transform` HOF over the character
    * positions. The lambda references the outer VALUE column — but as
    * a plain attribute read, not a computed expression, so the
    * documented nested-HOF re-evaluation trap costs nothing here; the
    * per-position whole-string md5 is the DESIGNED O(len²) — value-
    * length-bounded, corpus-size-independent, no shuffle, no state.
    */
  def formatPreserving(c: Column, key: String = "graft-fpe"): Column = {
    def bucketAt(i: Column, m: Int): Column =
      graft.ops.Sampling.bucket(
        concat_ws(":", lit(key), i.cast(StringType), c.cast(StringType)), m)
    val mapped = transform(sequence(lit(1), length(c)), i => {
      val ch = c.substr(i, lit(1))
      val a = ascii(ch)
      when(a.between(48, 57),
        call_function("chr", (a - 48 + bucketAt(i, 10)) % 10 + 48))
        .when(a.between(65, 90),
          call_function("chr", (a - 65 + bucketAt(i, 26)) % 26 + 65))
        .when(a.between(97, 122),
          call_function("chr", (a - 97 + bucketAt(i, 26)) % 26 + 97))
        .otherwise(ch)
    })
    array_join(mapped, "")
  }

  /** Warner's randomized response (1965) — the local-DP perturbation
    * mechanism: with probability `(modulus-1)/modulus` report the true
    * boolean, otherwise report its negation. The "coin" is the
    * portable md5 bucket of the row's id, so the mechanism is
    * DETERMINISTIC given the data (reproducible releases, SQL-oracle-
    * checkable) while still unbiased-estimable: with p = (m-1)/m,
    * `T̂ = (m·reported − n) / (m−2)` recovers the true count in
    * expectation. Narrow map, zero shuffle.
    *
    * Determinism trade documented: a keyed-hash coin means re-running
    * the release never flips different rows (no privacy amplification
    * from fresh randomness across releases — by design, the same
    * reason the consistency map is seeded).
    */
  def randomizedResponse(id: Column, truth: Column, modulus: Int = 4): Column = {
    require(modulus >= 3, "randomizedResponse: modulus must be >= 3 " +
      "(m=2 flips half the rows and the estimator divides by zero)")
    when(graft.ops.Sampling.bucket(id, modulus) === 0, !truth).otherwise(truth)
  }

  /** The truncated discrete-Laplace noise ladder for ε = ln 2:
    * P(k) ∝ (1/2)^|k|, exactly rational over a modulus of 3·2¹⁰ —
    * w(0) = 1024, w(±k) = 2^(10−k) for 1 ≤ k ≤ 10, and the residual
    * mass (2/3072) sits on ±11. Truncation makes the mechanism
    * (ε, δ)-DP with δ = 2/3072 ≈ 6.5·10⁻⁴ rather than pure ε-DP —
    * the price of a bounded, integer-exact, SQL-portable ladder.
    */
  val DpLadderModulus: Int = 3072

  /** `(cumulative upper bound exclusive, noise k)` ascending over
    * k = −11 … 11; a uniform draw u ∈ [0, 3072) maps to the first
    * entry with u < bound.
    */
  val dpLadder: Seq[(Long, Long)] = {
    def w(k: Int): Long =
      if (k == 0) 1024L
      else if (math.abs(k) == 11) 1L
      else 1L << (10 - math.abs(k))
    val ks = (-11 to 11).toSeq
    val cums = ks.scanLeft(0L)((acc, k) => acc + w(k)).tail
    ks.map(_.toLong).zip(cums).map { case (k, c) => (c, k) }
  }

  /** The ladder as a SQL CASE over `u` (an expression evaluating to the
    * uniform draw). ONE definition serves both the engine (`expr`) and
    * the DuckDB oracle — the scrubSql anti-drift pattern.
    */
  def dpNoiseSql(u: String): String =
    "CASE " +
      dpLadder.init.map { case (c, k) => s"WHEN $u < $c THEN ($k)" }
        .mkString(" ") +
      s" ELSE (${dpLadder.last._2}) END"

  /** Differentially-private group-count release — the CENTRAL-model
    * complement of [[randomizedResponse]]'s local mechanism: exact
    * per-group counts perturbed by discrete-Laplace noise, released as
    * `max(n + noise, 0)`. Count queries have sensitivity 1 when each
    * individual contributes one row (contribution bounding is the
    * caller's duty — `.distinct()` on the individual key first).
    *
    * The noise draw is DETERMINISTIC: u = md5-bucket(salt ‖ group) —
    * the seeded-release rationale shared with o11/o33 (re-running a
    * release never re-randomises; a fresh salt is a fresh release).
    * `n_true` and `noise` are DIAGNOSTIC columns for the correctness
    * gate; a production release ships `group, n_released` only.
    *
    * Scale shape: one mergeable count aggregate, then a narrow
    * group-cardinality-sized CASE map — nothing else moves.
    */
  def dpCounts(df: DataFrame, groupCol: Column,
               salt: String = "dp:"): DataFrame =
    df.groupBy(groupCol.as("grp"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("__u", graft.ops.Sampling.bucket(
        concat(lit(salt), col("grp").cast(StringType)), DpLadderModulus))
      .withColumn("noise", expr(dpNoiseSql("__u")))
      .select(col("grp"), col("n_true"), col("noise"),
        greatest(col("n_true") + col("noise"), lit(0L)).as("n_released"))

  /** Seed column: stable 64-bit hash of `column ":" value` (NULL original
    * hashes the bare prefix — all NULLs of a column share one fake; the
    * reference instead regenerates randomly per NULL row, a quirk noted
    * as fidelity-optional in SURVEY.md §7.3).
    */
  private def seedCol(columnName: String, c: Column): Column =
    xxhash64(concat_ws(":", lit(columnName), c.cast(StringType)))

  private def fakerUdf(function: String) =
    udf((seed: Long) => Faker.generate(function, seed))

  /** Compile one column's rule into a replacement expression. */
  def compileRule(columnName: String, dataType: org.apache.spark.sql.types.DataType,
                  rule: ColumnRule): Column = rule match {
    case NullRule       => lit(null).cast(dataType)
    case StaticRule(s)  =>
      if (dataType == StringType) lit(s)
      else expr(s"try_cast('${s.replace("'", "''")}' AS ${dataType.sql})")
    case FakerRule(fn)  => fakerUdf(fn)(seedCol(columnName, col(columnName)))
  }

  /** Apply a table's configured rules to a DataFrame. */
  def apply(df: DataFrame, tableConfig: TableConfig): DataFrame = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    tableConfig.columns.foldLeft(df) { case (acc, (name, rule)) =>
      present.get(name) match {
        case None     => acc // configured-but-absent: skip (anonymiser.go:46-48)
        case Some(dt) => acc.withColumn(name, compileRule(name, dt, rule))
      }
    }
  }

  /** Validation warnings for unknown faker functions (anonymiser.go:167-189). */
  def validateRules(cfg: GraftConfig): Seq[String] =
    for {
      table <- cfg.tableOrder
      tc    <- cfg.configuration.get(table).toSeq
      (c, rule) <- tc.columns.toSeq.sortBy(_._1)
      warning <- rule match {
        case FakerRule(fn) if !Faker.isKnown(fn) =>
          Some(s"unknown faker function '$fn' for $table.$c")
        case _ => None
      }
    } yield warning

  /** Columns a table's config anonymises (dry-run reporting, main.go:220-222). */
  def anonymisedColumns(tc: TableConfig): Seq[String] = tc.columns.keys.toSeq.sorted
}
