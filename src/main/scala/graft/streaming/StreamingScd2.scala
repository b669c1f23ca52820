package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Scd2

/** Continuous SCD2 dimension versioning: maintain the one-row-per-key
  * open-interval state ([[Scd2.intervalsIncremental]]) as change events
  * stream in, shipping each micro-batch's CLOSED intervals downstream —
  * the durable twin of the q209 fold chain on [[VersionedState.advance]].
  *
  * Ordering contract: `onClosed` runs BEFORE the state commit — closed
  * intervals are delivered at-least-once and the state never gets ahead
  * of the deliveries. Micro-batches must be time-partitioned per key;
  * the operator's row-lazy raise enforces it against the folded-tail
  * fence (which collapsed events advance too). */
object StreamingScd2 {

  /** The committed open-interval state, if any batch committed. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** Idempotent fold of one micro-batch; `onClosed` must materialize its
    * frame before returning. */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                keyCols: Seq[String], tsUs: DataFrame => Column,
                valueCol: DataFrame => Column,
                tieCol: String = "event_id",
                onClosed: (DataFrame, Long) => Unit = (_, _) => ()): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      VersionedState.advance(spark, stateDir, batchId) { prev =>
        val (closed, state) = Scd2.intervalsIncremental(batch,
          prev.getOrElse(Scd2.emptyState(spark, keyCols, tieCol)), keyCols,
          tsUs(batch), valueCol(batch), tieCol)
        onClosed(closed, batchId)
        state
      }
    }

  // ── The 100 TB state shape ──────────────────────────────────────────

  /** [[foldBatch]] in the [[BucketedState]] layout — key-cardinality
    * state, so a batch reads and commits ONLY the buckets its keys hash
    * into. The replay combine is a per-key max-by on (last_ts_us,
    * valid_from_us, tie): the fold only ever advances the fence and the
    * open interval, so the newest row dominates componentwise — the
    * mergeable-partial shape [[BucketedState.mergeBatchWith]] requires
    * (a carried row merges to itself, a replay never regresses). */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, stateDir: String,
                        keyCol: String, tsUs: DataFrame => Column,
                        valueCol: DataFrame => Column,
                        tieCol: String = "event_id",
                        numBuckets: Int = 64,
                        onClosed: (DataFrame, Long) => Unit = (_, _) => ())
      : Unit = graft.CacheBarriers.withScope {
    val spark = batch.sparkSession
    BucketedState.ensureMeta(spark, stateDir, numBuckets)
    val b = graft.CacheBarriers.barrier(batch)
    val prev = BucketedState.touchedBefore(stateDir, b.select(col(keyCol)),
        numBuckets, batchId)
      .getOrElse(Scd2.emptyState(spark, Seq(keyCol), tieCol))
    val (closed, state) = Scd2.intervalsIncremental(
      b, prev, Seq(keyCol), tsUs(b), valueCol(b), tieCol)
    onClosed(closed, batchId)
    BucketedState.mergeBatchWith(state, batchId, stateDir, numBuckets,
      keyCol = keyCol) { df =>
      df.groupBy(col(keyCol)).agg(
        max_by(struct(col("value"), col("valid_from_us"), col(tieCol),
          col("last_ts_us")),
          struct(col("last_ts_us"), col("valid_from_us"), col(tieCol)))
          .as("__s"))
        .select(col(keyCol), col("__s.value"), col("__s.valid_from_us"),
          col(s"__s.$tieCol"), col("__s.last_ts_us"))
    }
  }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. Closed ∪ open-as-intervals over the stream's
    * lifetime equals [[Scd2.intervals]] of everything ingested — the
    * q209 identity, continuously. */
  def start(changes: DataFrame, stateDir: String, checkpointDir: String,
            keyCols: Seq[String], tsUs: DataFrame => Column,
            valueCol: DataFrame => Column, tieCol: String = "event_id",
            onClosed: (DataFrame, Long) => Unit = (_, _) => (),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, keyCols, tsUs, valueCol,
          tieCol, onClosed)
      }
      .start()
}
