package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ExactCols.tokens

/** Streaming deduplication for an unbounded document feed — the
  * training-pipeline operators (Dedup q20/q23-24) in their streaming
  * forms.
  *
  * State is the crux at 100 TB/day: `dropDuplicatesWithinWatermark`
  * keeps one state-store entry per key only until the watermark
  * passes it, so memory is bounded by the dedup horizon, not the
  * stream's lifetime. (Plain `dropDuplicates` would grow state
  * forever.) Exact dedup keys on the content hash; near-dup keys on
  * the full MinHash signature — colliding signatures are treated as
  * duplicates without the batch path's jaccard verification, the
  * standard streaming precision/state tradeoff (run the batch LSH
  * pipeline over the survivors for exact pair confirmation).
  */
object DedupStream {

  /** Keep the first-seen row per exact content hash within the
    * watermark horizon. */
  def dedupExact(docs: DataFrame, tsCol: String, contentCol: String,
                 watermark: String): DataFrame =
    docs
      .withColumn("__h", md5(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** The MinHash key "mh0-…-mh7" as a per-row expression: the batch
    * signature kernel ([[graft.queries.Dedup.minhashKey]]), so a
    * streamed document keys exactly as q23 signs it — no per-doc
    * aggregation state, no interpreted lambdas. */
  def minhashSig(contentCol: Column): Column = graft.queries.Dedup.minhashKey(contentCol)

  /** Keep the first-seen row per MinHash signature within the
    * watermark horizon (near-dup suppression). */
  def dedupMinhash(docs: DataFrame, tsCol: String, contentCol: String,
                   watermark: String): DataFrame =
    docs
      .withColumn("__sig", minhashSig(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Streaming form of the C4 destructive span dedup
    * (`Pipeline.spanDedupAudit`): explode each arriving document into
    * its non-overlapping b-token block hashes (the same scan-stage
    * BlockHash kernel, 1-based positions carried) and keep the
    * first-SEEN occurrence per block hash within the watermark
    * horizon — the dedupExact state contract at block granularity,
    * one state-store entry per distinct in-horizon block hash. Emits
    * the surviving (doc_id, j, h) block stream a downstream writer
    * reassembles documents from. Exactly one occurrence survives per
    * distinct hash (as in batch); WHICH doc keeps a cross-doc dup is
    * arrival order here vs global min (doc_id, pos) in batch — the
    * two agree whenever ingest follows doc_id order, and
    * DedupStreamSpec pins that correspondence per hash. */
  def spanDedupBlocks(docs: DataFrame, tsCol: String, textCol: String,
                      watermark: String, b: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), col(tsCol),
        posexplode(graft.functions.TextExprs.blockHash(
          tokens(col(textCol)), b)))
      .select(col("doc_id"), col(tsCol),
        (col("pos") + 1).cast("long").as("j"), col("col").as("h"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("h")

  /** Streaming form of the content-defined-chunk dedup
    * (`Pipeline.cdcChunkAudit`) — CDC is the canonical STREAMING
    * granularity (the LBFS insight was built for exactly this: chunk
    * boundaries derived from content re-align across inserted/deleted
    * bytes in an incoming stream, where fixed blocks lose alignment
    * forever). Each arriving document explodes into its chunk hashes
    * (same CdcChunkHash kernel, 1-based chunk index carried) and the
    * first-seen occurrence per chunk hash survives within the
    * watermark horizon; state is one entry per distinct in-horizon
    * chunk hash — bounded by the horizon's content volume / ~mod. */
  def cdcChunkBlocks(docs: DataFrame, tsCol: String, textCol: String,
                     watermark: String, mod: Int = 16): DataFrame =
    docs
      .select(col("doc_id"), col(tsCol),
        posexplode(graft.functions.TextExprs.cdcChunkHash(
          tokens(col(textCol)), mod)))
      .select(col("doc_id"), col(tsCol),
        (col("pos") + 1).cast("long").as("j"), col("col").as("h"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("h")
}
