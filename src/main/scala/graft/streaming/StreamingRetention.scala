package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventAnalytics

/** Continuous retention-triangle maintenance: fold each micro-batch
  * through [[EventAnalytics.retentionCohortsIncremental]], keeping the
  * distinct (user, day) state and the additive signed
  * (cohort_day, offset_days, n_users) cell census durable — the fourth
  * and last event artifact family to gain its streaming form. Like the
  * DAU/WAU fold the state is order-free set union (late events just add
  * pairs and may move cohorts RETROACTIVELY — the signed delta retracts
  * and re-emits, so the census still folds by pure addition); like the
  * transition census the report chain is config-sized (day pairs).
  *
  * Bucketing axis: the state buckets by USER — the retention recompute
  * reads a batch user's FULL day history (the slice premise of
  * [[EventAnalytics.retentionDeltaFrom]]), which user buckets give
  * exactly, while the DAU/WAU fold buckets the same (user, day) table
  * by DAY because ITS recompute reads day windows across all users. Same
  * table, two stores, each pruned along its read axis.
  */
object StreamingRetention {

  /** The committed triangle (cohort_day, offset_days, n_users). */
  def latestCensus(spark: SparkSession,
                   censusDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, censusDir)

  /** The committed (user, day) state of the global chain. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** Idempotent fold of one micro-batch into census + state; census
    * commits first (delivery-before-state, replay-safe on both chains). */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                censusDir: String, tsUs: DataFrame => Column,
                userCol: String = "user_id"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      VersionedState.advance(spark, stateDir, batchId) { prev =>
        val (delta, state) = EventAnalytics.retentionCohortsIncremental(
          batch, prev.getOrElse(EventAnalytics.emptyActiveState(spark)),
          tsUs(batch), userCol)
        mergeCensus(spark, censusDir, batchId, delta)
        state
      }
    }

  private def mergeCensus(spark: SparkSession, censusDir: String,
                          batchId: Long, delta: DataFrame): Unit =
    VersionedState.advance(spark, censusDir, batchId)(
      _.map(EventAnalytics.mergeRetentionCells(_, delta)).getOrElse(delta))

  /** [[foldBatch]] with the user×day-cardinality state bucketed by
    * USER: the batch reads only the buckets its users hash into (their
    * full day histories ride along — the slice premise), computes the
    * signed delta from that slice, and commits only buckets holding
    * novel pairs, with a distinct combine. The census stays global. */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, stateDir: String,
                        censusDir: String, tsUs: DataFrame => Column,
                        numBuckets: Int = 64,
                        userCol: String = "user_id"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      BucketedState.ensureMeta(spark, stateDir, numBuckets)
      val pairs = graft.CacheBarriers.barrier(
        EventAnalytics.activityPairs(batch, tsUs(batch), userCol))
      val slice = BucketedState.touchedBefore(stateDir,
          pairs.select(col("__u")), numBuckets, batchId)
        .getOrElse(EventAnalytics.emptyActiveState(spark))
      val (delta, fresh) = EventAnalytics.retentionDeltaFrom(pairs, slice)
      mergeCensus(spark, censusDir, batchId, delta)
      BucketedState.mergeBatchWith(fresh, batchId, stateDir, numBuckets,
        keyCol = "__u")(_.distinct())
    }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. The committed census over the stream's lifetime
    * equals [[EventAnalytics.retentionCohorts]] of everything ingested —
    * the q162 identity, continuously. */
  def start(events: DataFrame, stateDir: String, censusDir: String,
            checkpointDir: String, tsUs: DataFrame => Column,
            userCol: String = "user_id",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, censusDir, tsUs, userCol)
      }
      .start()
}
