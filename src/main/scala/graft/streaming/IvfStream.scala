package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Similarity
import graft.sinks.ParquetMergeSink
import graft.store.RecordedSchema

/** Streaming IVF ANN index maintenance: the continuous-intake twin of
  * [[graft.llm.Similarity.ivfAssignedIndex]] / t112, completing the
  * incremental-index family (exact fingerprints, fuzzy-key segments,
  * BM25 postings, and now the embedding assignment — every index the
  * engine persists has a batch, a delta, and a streaming form).
  * Vectors arrive as a stream; each micro-batch assigns against the
  * PERSISTED centroid set ([[graft.llm.Similarity.kMeansIndex]], read
  * once at start — assignment is a pure function of (vector,
  * centroids), so batches land exactly where a full re-assignment
  * would put them) and group-upserts into the versioned curated store.
  * Between batches any query set can
  * [[graft.llm.Similarity.ivfSearchAssigned]] against the current
  * version, and [[graft.llm.Similarity.ivfCellStats]] over a batch
  * gives the drift signal that schedules the next re-cluster.
  *
  * Scale shape: per-batch cost is ∝ |batch| × k (centroid matrix is
  * driver-side control state folded into literal expressions — no
  * join, no shuffle on the batch); the store rewrite anti-joins with
  * the broadcast batch key set, the corpus side streaming. Same write
  * amplification trade as [[PostingsStream]].
  */
object IvfStream {

  /** Start maintaining the assignment index for `embsStream` at
    * `<warehouse>/<table>` against the centroids persisted at
    * `centroidsPath` (version = batch id + 1). */
  def start(embsStream: DataFrame, idCol: String, vecCol: String,
            centroidsPath: String, warehouse: String, table: String,
            checkpoint: String): StreamingQuery = {
    val spark0 = embsStream.sparkSession
    val centroids = Similarity.centroidsOf(RecordedSchema.read(spark0, centroidsPath))
    embsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ParquetMergeSink.mergeGroups(batch.sparkSession, warehouse, table,
          Similarity.ivfAssignedIndex(batch, idCol, vecCol, centroids),
          Seq(idCol), id + 1): Unit
      }
      .start()
  }
}
