package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis

/** Streaming ingest screen over the documents table — the stream-STATIC
  * join pattern (st2 covers stream-stream; st1/st3-5 cover stateful
  * aggregation/dedup/SCD2). Newly arriving documents anti-join a static
  * history fingerprint set, so only genuinely new content flows
  * downstream — the streaming twin of `Dedup.bloomScreenNew`'s exact
  * route (reference scope: the reference engine is batch-only; this is
  * an [EXT] op).
  *
  * Scale shape: a stream-static `left_anti` is STATELESS — each
  * micro-batch probes the static side and nothing accumulates in the
  * state store, so there is no watermark to tune and no state to
  * expire. The static side should be the pre-built fingerprint table
  * (one `fp` column, not raw text): at 100 TB of history that table is
  * the thing you maintain incrementally (append on every accepted
  * ingest), and Spark broadcast-joins it when small or shuffles only
  * the micro-batch when not.
  *
  * One definition, both modes: `screenNew` and `nearDupScreen` are
  * stateless stream-static joins, so each is one DataFrame program for
  * a streaming and a batch frame (stream == batch asserted in
  * StreamingSpec). The row-local t26 chunker and t27 watermark audit
  * need no streaming wrapper at all: `TextAnalysis.chunks` and
  * `TextAnalysis.watermarkAudit` take a streaming frame as they are
  * (`Partitioning.ensureParallelism` leaves a stream unchanged).
  */
object DocsStream {

  /** Fingerprints of the historical corpus: the single-column static
    * side of the screen (build once, maintain incrementally).
    */
  def historyFingerprints(docs: DataFrame): DataFrame =
    docs.select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()

  /** Emit every arriving doc whose normalized-text fingerprint has no
    * historical match. No within-stream dedup here — first-arrival
    * semantics across micro-batches would make the emitted set depend
    * on arrival order; compose with `dropDuplicatesWithinWatermark`
    * when the source carries event time and that trade is wanted.
    */
  def screenNew(docs: DataFrame, historyFps: DataFrame): DataFrame =
    docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .join(historyFps, Seq("fp"), "left_anti")
      .drop("fp")

  /** The band screen's MinHash signature length and rows per band. */
  private val SignatureSlots = 8
  private val RowsPerBand = 2

  /** PER-ROW portable MinHash LSH band keys — the streaming-shaped twin
    * of `Dedup.minhashCandidates`' banding. The batch form aggregates
    * signature minima with an explode + `groupBy(id)`; a streaming
    * screen can't (a stateless stream-static join permits no stateful
    * aggregation), so each signature slot is an `array_min` over a
    * higher-order `transform` of the row's OWN shingle hashes — the
    * whole banding collapses to one narrow codegen'd projection, no
    * shuffle, no state.
    *
    * The hash family is the repo's portable md5 recipe (the
    * `t5_winnowing` rationale): slot i re-hashes the shingle digest
    * with a salt, bands concatenate `RowsPerBand` adjacent slots —
    * every byte DuckDB-reproducible, so even this approximate op is
    * hash-checked exactly by its oracle. Docs with fewer than 3 tokens
    * have no shingles and emit NULL (no bands, never matched).
    *
    * Lambdas here reference only their bound variables, so the
    * documented HOF re-evaluation trap ([[graft.ops.Dedup.shingles]]) does not
    * bite: the shingle kernel runs once per row, each slot's transform
    * is one md5 per (shingle, slot).
    */
  private def portableBandKeys(text: Column): Column = {
    val hs = transform(graft.ops.Dedup.shingles(text, 3), s => md5(s))
    val sigs = (0 until SignatureSlots).map(i =>
      array_min(transform(hs, h => md5(concat(h, lit("_" + i))))))
    val bands = (0 until SignatureSlots / RowsPerBand).map { j =>
      val slots = (0 until RowsPerBand).map(r => sigs(j * RowsPerBand + r))
      md5(concat_ws("|", slots :+ lit(j.toString): _*))
    }
    when(size(hs) >= 1, array(bands: _*))
  }

  /** The maintained static side of the near-dup screen: every distinct
    * (band index, band hash) the historical corpus occupies — like
    * `historyFingerprints`, append-maintained on every accepted ingest.
    */
  def corpusBandKeys(docs: DataFrame): DataFrame =
    graft.ops.Partitioning.ensureParallelism(docs)
      .select(posexplode(portableBandKeys(col("text")))
        .as(Seq("band_idx", "h")))
      .distinct()

  /** NEAR-dup ingest screen: emit every arriving doc that shares NO LSH
    * band with the historical corpus — certainly below the banding's
    * similarity knee (8 slots, 2 rows per band ⇒ s-curve threshold
    * (1/4)^(1/2) = 0.5 Jaccard), so safe to admit without an exact
    * check; docs with a band hit are near-dup SUSPECTS a pipeline
    * routes to the exact verifier (`Dedup.minhashNearDupsIncremental`,
    * the d6 batch op).
    *
    * Scale shape: one stateless stream-static `left_anti` per band (a
    * fixed, small count — 4 here), each an equi-join of the micro-batch
    * against the maintained band table; nothing accumulates in the
    * state store and no watermark is needed. At 100 TB of history the
    * band table is the artifact you maintain; Spark broadcasts it when
    * small and shuffles only the micro-batch when not.
    */
  def nearDupScreen(docs: DataFrame, corpusBands: DataFrame): DataFrame = {
    val withBands = docs.withColumn("__bands", portableBandKeys(col("text")))
    (0 until SignatureSlots / RowsPerBand).foldLeft(withBands) { (df, j) =>
      df.join(
        corpusBands.filter(col("band_idx") === j).select(col("h").as(s"__h$j")),
        col("__bands")(j) === col(s"__h$j"), "left_anti")
    }.drop("__bands")
  }
}
