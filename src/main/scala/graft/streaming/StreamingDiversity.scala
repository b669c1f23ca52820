package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.{Centroid, Similarity}

/** Continuous cluster-balanced selection: maintain the
  * [[Similarity.diversitySampleIncremental]] kept-state as vectors
  * stream in, so the corpus's diversity sample (or prototype set) is
  * always current without re-scoring history. The state is ≤
  * clusters·cap rows — config-sized, the "census stays global" regime —
  * and the fold is replay-absorbing (selection is a pure function of the
  * id set), so the [[VersionedState]] chain's predecessor-recompute and
  * the fold's own idempotence back each other up, exactly as
  * [[StreamingCardinality]].
  *
  * Centroids are pinned at stream start by contract: they are the
  * selection's frame of reference — retraining mid-stream is a NEW
  * sample (start a new state dir), not a fold.
  */
object StreamingDiversity {

  /** The current committed kept-state, if any batch committed. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** The ranked sample derived from the committed state. */
  def latestSample(spark: SparkSession, stateDir: String,
                   keepCentral: Boolean): Option[DataFrame] =
    latestState(spark, stateDir)
      .map(Similarity.diversityReportFromState(_, keepCentral))

  /** Idempotent fold of one micro-batch of vectors into the kept-state. */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                centroids: Array[Centroid], cap: Int, keepCentral: Boolean,
                idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    VersionedState.advance(batch.sparkSession, stateDir, batchId) { prev =>
      Similarity.diversitySampleIncremental(batch,
        prev.getOrElse(Similarity.emptyDiversityState(batch.sparkSession)),
        centroids, cap, keepCentral, idCol, vecCol)
    }

  /** Start the stream; after each fold commits, `onSample` gets the
    * ranked sample and the batch id (materialize before returning — the
    * [[VersionedState]] GC contract). */
  def start(vecs: DataFrame, stateDir: String, checkpointDir: String,
            centroids: Array[Centroid], cap: Int, keepCentral: Boolean,
            onSample: (DataFrame, Long) => Unit = (_, _) => (),
            idCol: String = "vec_id", vecCol: String = "embedding",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, centroids, cap, keepCentral,
          idCol, vecCol)
        onSample(
          latestSample(batch.sparkSession, stateDir, keepCentral).get, batchId)
      }
      .start()
}
