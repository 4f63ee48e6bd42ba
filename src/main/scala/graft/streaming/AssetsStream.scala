package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Streaming multimodal ingest — the mm1 container-metadata pass as a
  * continuous feed: binary asset rows arrive, the REAL parsers
  * (BMP/GIF/PNG/JPEG headers, RIFF chunks, ISO-BMFF boxes) read the
  * metadata back out of the bytes, rejects drop. The decode kernel is
  * a stateless narrow map, so [[Multimodal.decodeMeta]] itself is the
  * streaming operator (no shuffle, no state store, no watermark) and
  * stream == batch row-identical is a structural property,
  * spec-asserted.
  *
  * Scale shape: payloads never shuffle (decode happens on the arriving
  * split, only id+stat rows leave the map); the downstream per-type
  * summary is one mergeable aggregate over metadata-scale rows. On a
  * real cluster this is the ingest topology: decode at the edge,
  * aggregate the stats.
  */
object AssetsStream {

  /** Batch twin of the full ingest (the oracle-gated catalog form):
    * synthesise the mixed-media assets from the documents fixture,
    * decode, and summarise per media type — row counts, byte volume,
    * duration and dimension maxima. Every input to the aggregate is a
    * field the oracle predicts analytically (the mm1 construction),
    * so the summary is hash-exact cross-engine.
    */
  def mediaSummaryBatch(docs: DataFrame): DataFrame =
    mediaSummary(Multimodal.decodeMeta(Multimodal.assetsFromDocuments(docs)))

  /** Per-type summary over decoded metadata rows — shared by the batch
    * catalog key and the streaming spec (applied to the stream's
    * collected output, proving the continuous pipeline lands on the
    * same totals).
    */
  def mediaSummary(meta: DataFrame): DataFrame =
    meta.groupBy("media_type").agg(
      count(lit(1)).as("n_assets"),
      sum("n_bytes").as("total_bytes"),
      max("duration_ms").as("max_duration_ms"),
      max("width").as("max_width"),
      max("height").as("max_height"))
}
