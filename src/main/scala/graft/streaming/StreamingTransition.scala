package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventAnalytics

/** Continuous transition-matrix maintenance: fold each micro-batch of
  * events through [[EventAnalytics.transitionMatrixIncremental]], keeping
  * TWO durable artifacts — the per-user last-event state (4 columns:
  * user, last_type, last_ts, last_tie) that stitches boundary-crossing
  * pairs, and the additive (from_type, to_type, n) transition census the
  * report reads — the family's durable form, slotting into the
  * [[VersionedState]] chain exactly as [[StreamingSessionize]] does for
  * sessions and [[StreamingAdditiveCensus]] does for additive censuses.
  *
  * Both chains ride [[VersionedState.advance]], the census nested inside
  * the state's fold so it commits FIRST (delivery-before-state): a crash
  * between the commits replays both against the same predecessors into
  * identical versions — no double-count window exists.
  *
  * Micro-batches must be time-partitioned per user in (ts, tie) order —
  * the operator's raise_error enforces it row-lazily, including on an
  * exactly duplicated boundary (ts, tie), where the full window's order
  * would be nondeterministic.
  */
object StreamingTransition {

  /** The committed per-user last-event state, if any batch committed. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** The committed transition census (from_type, to_type, n). */
  def latestCensus(spark: SparkSession,
                   censusDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, censusDir)

  /** Idempotent fold of one micro-batch into census + state. */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                censusDir: String, tsUs: DataFrame => Column,
                userCol: String = "user_id",
                typeCol: String = "event_type",
                tieCol: String = "event_id"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      VersionedState.advance(spark, stateDir, batchId) { prev =>
        // tie/user types derived from THIS batch's schema — a hardcoded
        // default makes the first fold of a non-long tie (or user)
        // column an AnalysisException at the state union
        val (delta, state) = EventAnalytics.transitionMatrixIncremental(
          batch,
          prev.getOrElse(EventAnalytics.emptyTransitionState(spark, userCol,
            batch.schema(tieCol).dataType, batch.schema(userCol).dataType)),
          tsUs(batch), userCol, typeCol, tieCol)
        mergeCensus(spark, censusDir, batchId, delta)
        state
      }
    }

  private def mergeCensus(spark: SparkSession, censusDir: String,
                          batchId: Long, delta: DataFrame): Unit =
    VersionedState.advance(spark, censusDir, batchId)(
      _.map(EventAnalytics.mergeTransitionCounts(_, delta)).getOrElse(delta))

  // ── The 100 TB state shape ────────────────────────────────────────────

  /** [[foldBatch]] with the USER-cardinality last-event state in the
    * [[BucketedState]] layout — the state is one row per user (billions
    * at web scale), so the global chain's whole-table rewrite per batch
    * has exactly the flaw the session state had before its bucketed
    * form. The batch reads ONLY the buckets its users hash into,
    * stitches through the same operator, and commits per-bucket versions
    * with a per-user max-by combine on (last_ts, last_tie) — sound
    * because the time-partitioning contract (now strict: equality
    * raises) makes a user's newer state row strictly greater on that
    * pair, so max-by is the mergeable partial the replay protocol
    * requires, and a carried (identical) row merges to itself; last_type
    * rides the winning struct. The census stays a GLOBAL chain: it is
    * type-pair-cardinality (config-sized), where bucketing would buy
    * nothing and cost a listing per bucket. */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, stateDir: String,
                        censusDir: String, tsUs: DataFrame => Column,
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
        .getOrElse(EventAnalytics.emptyTransitionState(spark, userCol,
          events.schema(tieCol).dataType, events.schema(userCol).dataType))
      val (delta, state) = EventAnalytics.transitionMatrixIncremental(
        events, prev, tsUs(events), userCol, typeCol, tieCol)
      mergeCensus(spark, censusDir, batchId, delta)
      BucketedState.mergeBatchWith(
        state.select(col(userCol), col("last_type"), col("last_ts"),
          col("last_tie")),
        batchId, stateDir, numBuckets, keyCol = userCol) { df =>
        df.groupBy(col(userCol)).agg(
          max_by(struct(col("last_type"), col("last_ts"), col("last_tie")),
            struct(col("last_ts"), col("last_tie"))).as("__s"))
          .select(col(userCol), col("__s.*"))
      }
    }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. Census-over-the-stream's-lifetime equals the full
    * batch [[EventAnalytics.transitionMatrix]] counts of everything
    * ingested — the q155 identity, continuously. */
  def start(events: DataFrame, stateDir: String, censusDir: String,
            checkpointDir: String, tsUs: DataFrame => Column,
            userCol: String = "user_id", typeCol: String = "event_type",
            tieCol: String = "event_id",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, censusDir, tsUs, userCol,
          typeCol, tieCol)
      }
      .start()
}
