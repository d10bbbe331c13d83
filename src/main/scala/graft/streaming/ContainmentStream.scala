package graft.streaming

import graft.util.Ckpt.RichCkpt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Dedup
import graft.sinks.ParquetMergeSink

/** Streaming containment (quote/subset) detection: the
  * continuous-intake twin of [[graft.llm.Dedup.containmentPairs]],
  * completing the family's batch + incremental + streaming triple (the
  * [[WinnowingStream]] / [[FuzzyDedupStream]] / [[PostingsStream]]
  * shape). Each micro-batch probes the current version of the
  * persisted shingle-set index for containment pairs touching the
  * batch — in BOTH roles, contained and container
  * ([[graft.llm.Dedup.containmentDeltaPairs]]; stale re-upload rows
  * excluded, df order and the `maxDf` hot-shingle cap evaluated over
  * the post-batch corpus) — hands them to `sink`, then GROUP-UPSERTS
  * its own (id, sh, sz) rows into the versioned store with the batch's
  * full id set as the replace keys, so the index always equals
  * [[graft.llm.Dedup.containmentIndex]] over the latest revision of
  * everything ingested (pinned by LlmOpsSpec).
  *
  * Scale shape: per-batch cost is the delta-bounded candidate joins of
  * the incremental form — the ingested corpus is probed through its
  * thin index, never re-shingled and never self-joined. Intake is
  * file-level exactly-once (checkpointed source); the index write is
  * idempotent under mid-batch replay (the store's version guard); pair
  * EMISSION is at-least-once, and a pair's containment value is
  * evaluated against the corpus AS OF its emission batch (with the cap
  * engaged, a pair whose candidate shingles later go hot is not
  * retracted — streams cannot retract; resolve at the consumer, or run
  * the batch form for a final sweep). */
object ContainmentStream {

  /** Start mining containment pairs from `docsStream`, handing each
    * micro-batch's pairs (a_id, b_id, containment) to `sink` and
    * maintaining the shingle-set index at `<warehouse>/<table>`
    * (created on the first batch; version = batch id + 1). */
  def start(docsStream: DataFrame, idCol: String, textCol: String,
            warehouse: String, table: String, checkpoint: String,
            n: Int = 3, threshold: Double = 0.8,
            dfHeadSize: Int = 100000, maxDf: Int = Int.MaxValue)
           (sink: (DataFrame, Long) => Unit): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val cached = batch.persist()
        try {
          val idx = ParquetMergeSink.readCurrent(spark, warehouse, table)
            .getOrElse(Dedup.containmentIndex(cached.limit(0), idCol, textCol, n))
          sink(Dedup.containmentDeltaPairs(cached, idCol, textCol, idx,
            n, threshold, dfHeadSize, maxDf), id)
          ParquetMergeSink.mergeGroups(spark, warehouse, table,
            Dedup.containmentIndex(cached, idCol, textCol, n),
            Seq("id"), id + 1,
            replaceKeySet = Some(cached.select(col(idCol).as("id")))): Unit
          // free the merged-index cache the delta probe persisted —
          // without this each micro-batch leaves one entry behind
          Dedup.releaseContainmentDeltaCache(cached, idCol, textCol, idx, n)
        } finally {
          cached.unpersist(): Unit
        }
      }
      .start()

  /** Store-backed variant: probes and maintains the VERSIONED unified
    * dedup store ([[graft.llm.NearDupIndexStore]] built
    * `withContainment`) instead of a flat shingle-set table — the
    * [[WinnowingStream.startIndexed]] shape for the containment
    * family. Per-batch cost drops to the indexed probe's (bucket-pruned
    * postings/census reads, broadcast joins, one thin census scan for
    * the global order) and every component — postings, census, prefix,
    * sets, head — flips behind ONE atomic `_CURRENT` swap per batch.
    * First non-empty batch builds the store; crash replay converges
    * (order-independent probe, replace-by-key append). */
  def startIndexed(docsStream: DataFrame, idCol: String, textCol: String,
                   storeRoot: String, checkpoint: String,
                   n: Int = 3, threshold: Double = 0.8,
                   dfHeadSize: Int = 100000, maxDf: Int = Int.MaxValue)
                  (sink: (DataFrame, Long) => Unit): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import graft.llm.NearDupIndexStore
        val spark = batch.sparkSession
        val cached = batch.ckpt()
        if (NearDupIndexStore.currentVersion(storeRoot).isEmpty) {
          if (!cached.isEmpty) {
            NearDupIndexStore.build(spark, cached, idCol, textCol, storeRoot,
              n = n, threshold = threshold, dfHeadSize = dfHeadSize,
              withContainment = true): Unit
            sink(NearDupIndexStore.containmentPairsForDelta(spark, storeRoot,
              cached, idCol, textCol, maxDf, dfHeadSize), id)
          } else sink(Dedup.containmentDeltaPairs(cached, idCol, textCol,
            Dedup.containmentIndex(cached, idCol, textCol, n),
            n, threshold, dfHeadSize, maxDf).limit(0), id)
        } else {
          sink(NearDupIndexStore.containmentPairsForDelta(spark, storeRoot,
            cached, idCol, textCol, maxDf, dfHeadSize), id)
          NearDupIndexStore.appendDelta(spark, storeRoot, cached,
            idCol, textCol): Unit
        }
        NearDupIndexStore.currentPath(storeRoot).foreach(p =>
          Dedup.releaseIndexedProbeCache(p, cached, idCol, textCol))
      }
      .start()
}
