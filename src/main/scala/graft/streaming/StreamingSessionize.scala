package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Sessionize

/** Continuous sessionization: maintain the per-user OPEN-session state
  * ([[Sessionize.sessionStatsIncremental]]) as events stream in, shipping
  * each micro-batch's CLOSED sessions downstream — the durable twin of
  * the q141 fold chain on [[VersionedState.advance]].
  *
  * Ordering contract: `onClosed` runs BEFORE the state commit — a failed
  * sink means the batch replays and no state exists for unshipped
  * sessions (the [[StreamingSpanCensus.cutBatch]] ordering), so closed
  * sessions are delivered at-least-once and the state never gets ahead
  * of the deliveries. Micro-batches must be time-partitioned per user
  * (an append-only event log in arrival order); the operator's
  * row-lazy raise_error enforces it per user rather than trusting it.
  */
object StreamingSessionize {

  /** The committed open-session state, if any batch committed. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** Idempotent fold of one micro-batch of events into the session
    * state; `onClosed` must materialize its frame before returning (it
    * reads versions the GC window deletes two batches later). */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                gapUs: Long, tsUs: DataFrame => Column,
                userCol: String = "user_id", tieCol: String = "event_id",
                onClosed: (DataFrame, Long) => Unit = (_, _) => ()): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      VersionedState.advance(spark, stateDir, batchId) { prev =>
        val (closed, state) = Sessionize.sessionStatsIncremental(batch,
          prev.getOrElse(Sessionize.emptySessionState(spark, userCol)),
          gapUs, tsUs(batch), userCol, tieCol)
        onClosed(closed, batchId)
        state
      }
    }

  // ── The 100 TB state shape ────────────────────────────────────────────

  /** [[foldBatch]] in the [[BucketedState]] layout — the open-session
    * state is USER-cardinality (billions of rows at web scale), so the
    * whole-table rewrite of the global chain has the flaw the bucketed
    * stores exist for: a micro-batch touching a sliver of users rewrites
    * everything. Here the batch reads ONLY the
    * buckets its users hash into, stitches via the same
    * [[Sessionize.sessionStatsIncremental]], and commits per-bucket
    * versions through [[BucketedState.mergeBatchWith]] with a per-user
    * max-by combine — sound because a user's new state row dominates
    * their old one componentwise on (session_seq, end_us, n_events):
    * the stitch only ever extends the open session (seq equal, end/n
    * grow) or opens later ones (seq grows), so max-by is the
    * mergeable-partial the replay protocol requires, and a carried
    * (identical) row merges to itself. Closed sessions ship BEFORE any
    * bucket commits — the same at-least-once ordering as the global
    * chain. */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, stateDir: String,
                        gapUs: Long, tsUs: DataFrame => Column,
                        numBuckets: Int = 64,
                        userCol: String = "user_id",
                        tieCol: String = "event_id",
                        onClosed: (DataFrame, Long) => Unit = (_, _) => ())
      : Unit = graft.CacheBarriers.withScope {
    val spark = batch.sparkSession
    BucketedState.ensureMeta(spark, stateDir, numBuckets)
    val events = graft.CacheBarriers.barrier(
      batch.withColumn("__t", tsUs(batch)))
    val prev = BucketedState.touchedBefore(stateDir,
        events.select(col(userCol)), numBuckets, batchId)
      .getOrElse(Sessionize.emptySessionState(spark, userCol))
    val (closed, state) = Sessionize.sessionStatsIncremental(
      events, prev, gapUs, col("__t"), userCol, tieCol)
    onClosed(closed, batchId)
    val stateCols = Seq(userCol, "session_seq", "n_events", "start_us",
      "end_us", "dur_us")
    BucketedState.mergeBatchWith(
      state.select(stateCols.map(col): _*), batchId, stateDir, numBuckets,
      keyCol = userCol) { df =>
      df.groupBy(col(userCol)).agg(
        max_by(
          struct(col("session_seq"), col("n_events"), col("start_us"),
            col("end_us"), col("dur_us")),
          struct(col("session_seq"), col("end_us"), col("n_events")))
          .as("__s"))
        .select(col(userCol), col("__s.*"))
    }
  }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. Closed ∪ latest state over the stream's lifetime
    * equals the batch session table of everything ingested — the q141
    * identity, continuously. */
  def start(events: DataFrame, stateDir: String, checkpointDir: String,
            gapUs: Long, tsUs: DataFrame => Column,
            userCol: String = "user_id", tieCol: String = "event_id",
            onClosed: (DataFrame, Long) => Unit = (_, _) => (),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, gapUs, tsUs, userCol, tieCol,
          onClosed)
      }
      .start()
}
