package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventAnalytics

/** Continuous path-census maintenance — [[StreamingTransition]]
  * generalized from pairs to k-grams: fold each micro-batch through
  * [[EventAnalytics.pathCensusIncremental]], keeping TWO durable
  * artifacts — the per-user last-(k−1)-events TAIL state (one row per
  * user: (ts, tie, type) arrays) that stitches boundary-crossing runs,
  * and the additive (path, n) census the report reads.
  *
  * Both chains ride [[VersionedState.advance]], the census nested inside
  * the state's fold so it commits FIRST (delivery-before-state).
  *
  * Micro-batches must be time-partitioned per user in (ts, tie) order —
  * the operator's raise_error enforces it row-lazily, including on an
  * exactly duplicated boundary (ts, tie).
  */
object StreamingPathCensus {

  /** The committed per-user tail state, if any batch committed. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** The committed path census (path, n). */
  def latestCensus(spark: SparkSession,
                   censusDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, censusDir)

  /** Idempotent fold of one micro-batch into census + state. */
  def foldBatch(batch: DataFrame, batchId: Long, k: Int, stateDir: String,
                censusDir: String, tsUs: DataFrame => Column,
                userCol: String = "user_id",
                typeCol: String = "event_type",
                tieCol: String = "event_id"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      VersionedState.advance(spark, stateDir, batchId) { prev =>
        // the empty state's tie/user types come from THIS batch's
        // schema — a hardcoded default would make the first fold of a
        // non-long tie (or user) column an AnalysisException
        val (delta, state) = EventAnalytics.pathCensusIncremental(batch,
          prev.getOrElse(EventAnalytics.emptyPathState(spark, userCol,
            batch.schema(tieCol).dataType, batch.schema(userCol).dataType)),
          k, tsUs(batch), userCol, typeCol, tieCol)
        mergeCensus(spark, censusDir, batchId, delta)
        state
      }
    }

  private def mergeCensus(spark: SparkSession, censusDir: String,
                          batchId: Long, delta: DataFrame): Unit =
    VersionedState.advance(spark, censusDir, batchId)(
      _.map(EventAnalytics.mergePathCounts(_, delta)).getOrElse(delta))

  // ── The 100 TB state shape ────────────────────────────────────────────

  /** [[foldBatch]] with the USER-cardinality tail state in the
    * [[BucketedState]] layout: the batch reads ONLY the buckets its
    * users hash into, stitches through the same operator, and commits
    * per-bucket versions with a per-user max-by combine keyed on the
    * tail's LAST (ts, tie) — sound because the strict time-partitioning
    * contract makes a user's newer tail strictly greater on that pair
    * (the tail always ends at the user's newest ingested event), so
    * max-by is the mergeable partial the replay protocol requires, and
    * a carried (identical) row merges to itself; the array columns ride
    * the winning struct. The census stays a GLOBAL chain: ≤|types|^k
    * rows, config-sized. */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, k: Int,
                        stateDir: String, censusDir: String,
                        tsUs: DataFrame => Column,
                        numBuckets: Int = 64,
                        userCol: String = "user_id",
                        typeCol: String = "event_type",
                        tieCol: String = "event_id"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      BucketedState.ensureMeta(spark, stateDir, numBuckets)
      val events = graft.CacheBarriers.barrier(batch)
      val prev = BucketedState.touchedBefore(stateDir,
          events.select(col(userCol)), numBuckets, batchId)
        .getOrElse(EventAnalytics.emptyPathState(spark, userCol,
          events.schema(tieCol).dataType, events.schema(userCol).dataType))
      val (delta, state) = EventAnalytics.pathCensusIncremental(
        events, prev, k, tsUs(events), userCol, typeCol, tieCol)
      mergeCensus(spark, censusDir, batchId, delta)
      BucketedState.mergeBatchWith(
        state.select(col(userCol), col("tail_ts"), col("tail_tie"),
          col("tail_type")),
        batchId, stateDir, numBuckets, keyCol = userCol) { df =>
        df.groupBy(col(userCol)).agg(
          max_by(struct(col("tail_ts"), col("tail_tie"),
            col("tail_type")),
            struct(element_at(col("tail_ts"), -1),
              element_at(col("tail_tie"), -1))).as("__s"))
          .select(col(userCol), col("__s.*"))
      }
    }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. Census-over-the-stream's-lifetime equals the
    * full batch [[EventAnalytics.pathCensus]] counts of everything
    * ingested — the q165 identity, continuously. */
  def start(events: DataFrame, k: Int, stateDir: String,
            censusDir: String, checkpointDir: String,
            tsUs: DataFrame => Column,
            userCol: String = "user_id", typeCol: String = "event_type",
            tieCol: String = "event_id",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, k, stateDir, censusDir, tsUs, userCol,
          typeCol, tieCol)
      }
      .start()
}
