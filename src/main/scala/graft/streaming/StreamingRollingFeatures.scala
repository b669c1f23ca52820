package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventAnalytics

/** Continuous rolling-feature computation: maintain the window-bounded
  * event state ([[EventAnalytics.rollingFeaturesIncremental]]) as events
  * stream in, shipping each micro-batch's featurized rows downstream —
  * the durable twin of the q206 fold chain on [[VersionedState.advance]].
  *
  * Ordering contract: `onFeatures` runs BEFORE the state commit —
  * features are delivered at-least-once and the state never gets ahead
  * of the deliveries. Micro-batches must be STRICTLY time-partitioned
  * (append-only log in arrival order, no boundary timestamp ties); the
  * operator's broadcast-tail raise enforces it against the visible
  * state. */
object StreamingRollingFeatures {

  /** The committed state, if any batch committed. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** Idempotent fold of one micro-batch; `onFeatures` must materialize
    * its frame before returning (it reads versions the GC window deletes
    * two batches later). */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                tsUs: DataFrame => Column, valueCol: DataFrame => Column,
                windows: Seq[(String, Long)],
                userCol: String = "user_id", tieCol: String = "event_id",
                onFeatures: (DataFrame, Long) => Unit = (_, _) => ()): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      VersionedState.advance(spark, stateDir, batchId) { prev =>
        val (features, state) = EventAnalytics.rollingFeaturesIncremental(
          batch,
          prev.getOrElse(EventAnalytics.emptyRollingState(spark, userCol,
            tieCol)),
          tsUs(batch), valueCol(batch), windows, userCol, tieCol)
        onFeatures(features, batchId)
        state
      }
    }

  // ── The 100 TB state shape ──────────────────────────────────────────

  /** [[foldBatch]] in the [[BucketedState]] layout — the state is
    * key-cardinality (a gap anchor per user) plus a window of recent
    * events, so a micro-batch touching a sliver of users must not
    * rewrite everything. The batch reads ONLY the buckets its users
    * hash into; the per-bucket replay combine is
    * `prune(distinct(prev ∪ slice))` with
    * [[EventAnalytics.pruneRollingState]] — the retention rule is
    * monotone (a per-bucket tail only retains MORE, and extra rows
    * older than any future frame contribute nothing) and row-identical
    * duplicates collapse, which is exactly the mergeable-partial shape
    * the protocol requires. */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, stateDir: String,
                        tsUs: DataFrame => Column,
                        valueCol: DataFrame => Column,
                        windows: Seq[(String, Long)],
                        numBuckets: Int = 64,
                        userCol: String = "user_id",
                        tieCol: String = "event_id",
                        onFeatures: (DataFrame, Long) => Unit = (_, _) => ())
      : Unit = graft.CacheBarriers.withScope {
    val spark = batch.sparkSession
    BucketedState.ensureMeta(spark, stateDir, numBuckets)
    val maxW = windows.map(_._2).max
    val b = graft.CacheBarriers.barrier(batch)
    val prev = BucketedState.touchedBefore(stateDir, b.select(col(userCol)),
        numBuckets, batchId)
      .getOrElse(EventAnalytics.emptyRollingState(spark, userCol, tieCol))
    val (features, state) = EventAnalytics.rollingFeaturesIncremental(
      b, prev, tsUs(b), valueCol(b), windows, userCol, tieCol)
    onFeatures(features, batchId)
    BucketedState.mergeBatchWith(state, batchId, stateDir, numBuckets,
      keyCol = userCol) { df =>
      EventAnalytics.pruneRollingState(df.distinct(), maxW, userCol, tieCol)
    }
  }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. Featurized rows over the stream's lifetime equal
    * the one-shot [[EventAnalytics.rollingFeatures]] of everything
    * ingested — the q206 identity, continuously. */
  def start(events: DataFrame, stateDir: String, checkpointDir: String,
            tsUs: DataFrame => Column, valueCol: DataFrame => Column,
            windows: Seq[(String, Long)],
            userCol: String = "user_id", tieCol: String = "event_id",
            onFeatures: (DataFrame, Long) => Unit = (_, _) => (),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, tsUs, valueCol, windows,
          userCol, tieCol, onFeatures)
      }
      .start()
}
