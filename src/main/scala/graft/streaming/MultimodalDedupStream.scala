package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.dedup.Dedup
import graft.multimodal.Modality

/** The perceptual image/audio/video dedup indexes
  * ([[graft.dedup.Dedup.writeFingerprintIndex]]) deployed as CONTINUOUS
  * ingest — the production shape of a multimodal crawl, which lands
  * shards around the clock rather than in one batch rebuild. Two jobs
  * per [[Modality]], composing the same shipped parts the batch queries
  * prove:
  *
  *  - '''gate''': every arriving shard fingerprints (the modality's
  *    narrow partition-parallel decode, [[Modality.fingerprints]] — zero
  *    shuffle, never re-decoding anything already ingested) and
  *    band-joins against the STATIC persisted fingerprint index via
  *    [[Dedup.hammingMatchesAgainst]], flagging near-duplicate arrivals
  *    with their best index match before they enter the corpus. The
  *    index side is a plain DIRECTORY re-read per micro-batch (the
  *    [[DeconStream]] contract): a DataFrame captured at start() would
  *    pin its file listing, so the first batch after a publishSwap
  *    index refresh would scan deleted files and kill the query.
  *  - '''ingest''': arriving shards' fingerprints append to the live
  *    index under the [[DedupStream]] idempotence contract — each
  *    micro-batch writes its own `ingest_batch` partition with dynamic
  *    partition overwrite, so a replayed batch replaces itself instead
  *    of duplicating rows, and the fingerprint being a pure per-document
  *    function means ingest-equals-rebuild (pinned in StreamingSpec).
  *
  * Both jobs ride [[DedupStream.readStream]]'s document-shard source. A
  * document arrives WHOLE inside one shard, so per-batch processing is
  * per-entity-atomic with zero streaming state — no watermark, no store. */
object MultimodalDedupStream {

  /** One micro-batch of the modality's gate against the raw
    * (doc_id, fpCol) index — THE SAME algebra as the batch registry
    * queries (`dedup_<modality>_stream_gate`), so stream and batch cannot
    * drift. */
  def gateBatch(m: Modality, batch: DataFrame, index: DataFrame,
                maxHamming: Int = 3): DataFrame =
    Dedup.hammingMatchesAgainst(m.fingerprints(batch), index, m.fpCol, maxHamming)

  /** [[gateBatch]] served from the PRE-BANDED index table
    * ([[Dedup.writeFingerprintIndex]]'s `.../<table>_banded`,
    * [[Dedup.bandedFpIndex]]'s shape): the index-side rep groupBy and
    * hot-bucket cap were paid once at index build, so the per-batch plan
    * is the arrivals' narrow fingerprint map + band explode + one
    * equi-join. Same match output as the raw-index path (DedupSpec pins
    * equality for every modality; the registry oracle re-proves it per
    * query). */
  def gateBatchIndexed(m: Modality, batch: DataFrame, bandedIdx: DataFrame,
                       maxHamming: Int = 3): DataFrame =
    Dedup.hammingMatchesAgainstBanded(m.fingerprints(batch), bandedIdx, m.fpCol, maxHamming)

  /** Start the modality's ingest gate: arriving shards are flagged
    * against the static fingerprint index at `indexDir` (the
    * [[Dedup.writeFingerprintIndex]] `.../<table>` table), per-doc match
    * reports appending idempotently under `outDir`. Clean documents
    * produce no row — the downstream corpus writer anti-joins this
    * table. */
  def gate(m: Modality, stream: DataFrame, indexDir: String, outDir: String,
           checkpoint: String, maxHamming: Int = 3): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // retry once around the whole idempotent batch: a publishSwap
        // index refresh can bite between the directory listing and the
        // scan (the DeconStream rationale)
        graft.sources.Sinks.readRetry(attempts = 2) {
          gateBatch(m, batch, batch.sparkSession.read.parquet(indexDir), maxHamming)
            .withColumn("ingest_batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(outDir)
        }
      }
      .start()

  /** Start continuous index maintenance for the modality: each
    * micro-batch appends ONLY the new shard's (doc_id, fpCol) rows under
    * `indexDir/<table>` — the existing corpus is never re-decoded (the
    * fingerprint is a pure per-document function of the payload bytes). */
  def ingest(m: Modality, stream: DataFrame, indexDir: String,
             checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        m.fingerprints(batch)
          .withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(s"$indexDir/${m.table}")
      }
      .start()

  /** The live streamed index table (ingest partition column dropped —
    * serve plans see the exact batch-index schema and can feed
    * [[Dedup.fingerprintPairsFrom]] / [[Dedup.hammingMatchesAgainst]]
    * unchanged). */
  def fps(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("ingest_batch")

  /** The accumulated gate reports (partition column dropped — consumers
    * see the exact batch-gate schema). */
  def flagged(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).drop("ingest_batch")
}
