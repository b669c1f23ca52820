package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.AsofJoin

/** Continuous point-in-time enrichment: maintain the latest-right-per-key
  * state ([[AsofJoin.asofBackwardIncremental]]) as a mixed event stream
  * arrives, shipping each micro-batch's matched left rows downstream —
  * the durable twin of the q202 fold chain on [[VersionedState.advance]].
  *
  * Ordering contract: `onMatched` runs BEFORE the state commit — a
  * failed sink means the batch replays and the state never gets ahead of
  * the deliveries (matches are at-least-once, the
  * [[StreamingSessionize]] cut ordering). Micro-batches must be
  * time-partitioned per key (an append-only log in arrival order); the
  * operator's row-lazy raise_error enforces it on both the left and the
  * right path rather than trusting it.
  *
  * The caller shapes the two sides out of the one stream frame (`lefts`
  * / `rights` — e.g. an event-type split); both shaped frames must carry
  * their micros timestamp under the named columns. */
object StreamingAsof {

  /** The committed latest-rights state, if any batch committed. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** Idempotent fold of one micro-batch; `onMatched` must materialize its
    * frame before returning (it reads versions the GC window deletes two
    * batches later). */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                keyCols: Seq[String],
                lefts: DataFrame => DataFrame,
                rights: DataFrame => DataFrame,
                leftTsCol: String, rightTsCol: String, rightTie: String,
                toleranceUs: Option[Long] = None,
                prefix: String = "asof_",
                onMatched: (DataFrame, Long) => Unit = (_, _) => ()): Unit =
    graft.CacheBarriers.withScope {
      VersionedState.advance(batch.sparkSession, stateDir, batchId) { prev =>
        val rb = rights(batch)
        val (matched, state) = AsofJoin.asofBackwardIncremental(
          lefts(batch), rb, prev.getOrElse(AsofJoin.emptyState(rb)),
          keyCols, col(leftTsCol), col(rightTsCol), rightTie, toleranceUs,
          prefix)
        onMatched(matched, batchId)
        state
      }
    }

  // ── The 100 TB state shape ──────────────────────────────────────────

  /** [[foldBatch]] in the [[BucketedState]] layout — the latest-rights
    * state is KEY-cardinality, so the global chain's whole-table rewrite
    * has the flaw the bucketed stores exist for: a micro-batch touching
    * a sliver of keys rewrites everything. Here the batch reads ONLY the
    * buckets its keys (either side) hash into and commits per-bucket
    * versions through [[BucketedState.mergeBatchWith]]; the merge is
    * [[AsofJoin.latestRights]] itself — (ts, tie)-max is the mergeable
    * partial the replay protocol requires (a carried row merges to
    * itself, a replayed row never regresses the state). */
  def foldBatchBucketed(batch: DataFrame, batchId: Long, stateDir: String,
                        keyCol: String,
                        lefts: DataFrame => DataFrame,
                        rights: DataFrame => DataFrame,
                        leftTsCol: String, rightTsCol: String,
                        rightTie: String,
                        toleranceUs: Option[Long] = None,
                        numBuckets: Int = 64,
                        prefix: String = "asof_",
                        onMatched: (DataFrame, Long) => Unit = (_, _) => ())
      : Unit = graft.CacheBarriers.withScope {
    BucketedState.ensureMeta(batch.sparkSession, stateDir, numBuckets)
    val lb = graft.CacheBarriers.barrier(lefts(batch))
    val rb = graft.CacheBarriers.barrier(rights(batch))
    val prev = BucketedState.touchedBefore(stateDir,
        lb.select(col(keyCol)).unionByName(rb.select(col(keyCol))),
        numBuckets, batchId)
      .getOrElse(AsofJoin.emptyState(rb))
    val (matched, state) = AsofJoin.asofBackwardIncremental(
      lb, rb, prev, Seq(keyCol), col(leftTsCol), col(rightTsCol),
      rightTie, toleranceUs, prefix)
    onMatched(matched, batchId)
    BucketedState.mergeBatchWith(state, batchId, stateDir, numBuckets,
      keyCol = keyCol) { df =>
      AsofJoin.latestRights(df, Seq(keyCol), col(rightTsCol), rightTie)
    }
  }

  /** The committed bucketed state (union of bucket latests). */
  def latestStateBucketed(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, stateDir)

  /** Start the stream. Matched rows over the stream's lifetime equal the
    * one-shot [[AsofJoin.asofBackward]] of everything ingested — the
    * q202 identity, continuously. */
  def start(events: DataFrame, stateDir: String, checkpointDir: String,
            keyCols: Seq[String],
            lefts: DataFrame => DataFrame, rights: DataFrame => DataFrame,
            leftTsCol: String, rightTsCol: String, rightTie: String,
            toleranceUs: Option[Long] = None,
            prefix: String = "asof_",
            onMatched: (DataFrame, Long) => Unit = (_, _) => (),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, keyCols, lefts, rights,
          leftTsCol, rightTsCol, rightTie, toleranceUs, prefix, onMatched)
      }
      .start()
}
