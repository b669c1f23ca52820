package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventAnalytics

/** Continuous DAU/WAU maintenance: fold each micro-batch of events
  * through [[EventAnalytics.activeUsersIncremental]], keeping the
  * distinct (user, day) activity state and the day-keyed
  * (day, dau, wau, stickiness) report durable — the family's last
  * missing durable form after sessions and transitions. Unlike those,
  * the state folds by SET UNION, so batches carry NO time-partitioning
  * contract: late events just add pairs, and replays are absorbed (a
  * replayed pair is not novel).
  *
  * Both chains ride [[VersionedState.advance]], the report nested inside
  * the state's fold so it commits first. The report merge is a day-keyed
  * upsert (the batch's recomputed rows win —
  * [[EventAnalytics.mergeActiveReport]]), which is exactly
  * [[StreamingUpsert]]'s LWW shape keyed by day.
  */
object StreamingActiveUsers {

  /** The committed (day, dau, wau, stickiness_micro) report. */
  def latestReport(spark: SparkSession,
                   reportDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, reportDir)

  /** The committed (user, day) state of the global chain. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** Idempotent fold of one micro-batch into state + report. The report
    * commits FIRST (delivery-before-state): a crash between the two
    * replays the batch against both predecessors and rewrites both
    * versions identically. */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                reportDir: String, tsUs: DataFrame => Column,
                windowDays: Int = 7,
                userCol: String = "user_id"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      VersionedState.advance(spark, stateDir, batchId) { prev =>
        val (delta, state) = EventAnalytics.activeUsersIncremental(batch,
          prev.getOrElse(EventAnalytics.emptyActiveState(spark)),
          tsUs(batch), windowDays, userCol)
        mergeReport(spark, reportDir, batchId, delta)
        state
      }
    }

  private def mergeReport(spark: SparkSession, reportDir: String,
                          batchId: Long, delta: DataFrame): Unit =
    VersionedState.advance(spark, reportDir, batchId)(
      _.map(EventAnalytics.mergeActiveReport(_, delta)).getOrElse(delta))

  // ── The 100 TB state shape ────────────────────────────────────────────

  /** [[foldBatch]] with the user×day-cardinality state in the
    * [[BucketedState]] layout, bucketed by DAY — not by user: the WAU
    * recompute for an affected day d reads every user active in
    * (d − w, d], so user-hash buckets could prune nothing (any user may
    * be active any day), while day buckets make the read exactly the
    * influence range. A batch spanning days [lo, hi] reads the buckets
    * of days [lo − w + 1, hi + w − 1] (calendar-bounded — the one
    * driver-side list here is a day range, not data), computes novelty
    * and the report delta from that slice (sound by
    * [[EventAnalytics.activeUsersDeltaFrom]]'s slice premise), and
    * commits ONLY the buckets holding novel pairs, with a distinct
    * combine — set union is the mergeable partial, trivially. The
    * report stays a GLOBAL chain: day-cardinality, config-sized. */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, stateDir: String,
                        reportDir: String, tsUs: DataFrame => Column,
                        windowDays: Int = 7, numBuckets: Int = 64,
                        userCol: String = "user_id"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      BucketedState.ensureMeta(spark, stateDir, numBuckets)
      val pairs = graft.CacheBarriers.barrier(
        EventAnalytics.activityPairs(batch, tsUs(batch), userCol))
      val bounds = pairs.agg(min(col("day")).as("lo"),
        max(col("day")).as("hi")).collect().head
      if (bounds.isNullAt(0)) {
        // no valid activity — nothing to fold, but the report chain
        // still needs its version so replays stay monotone
        import org.apache.spark.sql.types._
        mergeReport(spark, reportDir, batchId,
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("day", LongType),
              StructField("dau", LongType), StructField("wau", LongType),
              StructField("stickiness_micro", LongType)))))
        return
      }
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val sliceDays = (lo - (windowDays - 1)) to (hi + (windowDays - 1))
      // day → bucket via the same hash the layout pins (a tiny job — the
      // day range is calendar-bounded, never data-sized)
      import spark.implicits._
      val slice = BucketedState.touchedBefore(stateDir,
          sliceDays.toDF("day"), numBuckets, batchId)
        .getOrElse(EventAnalytics.emptyActiveState(spark))
        // a bucket holds every day hashing into it — re-restrict to the
        // influence range so the slice premise is what the math sees
        .filter(col("day").between(sliceDays.head, sliceDays.last))
      val (delta, fresh, _) = EventAnalytics.activeUsersDeltaFrom(
        pairs, slice, windowDays)
      mergeReport(spark, reportDir, batchId, delta)
      BucketedState.mergeBatchWith(fresh, batchId, stateDir, numBuckets,
        keyCol = "day")(_.distinct())
    }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. The committed report over the stream's lifetime
    * equals [[EventAnalytics.activeUsers]] of everything ingested — the
    * q158 identity, continuously. */
  def start(events: DataFrame, stateDir: String, reportDir: String,
            checkpointDir: String, tsUs: DataFrame => Column,
            windowDays: Int = 7, userCol: String = "user_id",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, reportDir, tsUs, windowDays,
          userCol)
      }
      .start()
}
