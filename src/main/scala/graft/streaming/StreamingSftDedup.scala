package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Chat

/** Streaming twin of the SFT prompt dedup (q237/q241): conversations
  * arrive as micro-batches of `(convId, json)`, each batch parses →
  * gates on role structure → extracts pairs → dedups against the
  * DURABLE prompt census, and the batch's own prompt counts fold into
  * that census for the next batch.
  *
  * The prompt census `(prompt_hash, n)` is an additive artifact, so
  * durability rides [[StreamingAdditiveCensus]]'s [[VersionedState]]
  * chain unchanged: a REPLAYED batch reads the predecessor version
  * (never its own partial fold), the `_SUCCESS` protocol keeps torn
  * writes invisible, and the stale-checkpoint guard fails loudly.
  * Identity with the one-shot batch dedup (the q241 proof) holds when
  * batches arrive in convId order — the same daily-ingest contract
  * every incremental fold in this package states.
  *
  * Scale shape per micro-batch: the parse/extract chain is narrow, the
  * dedup window exchanges on the 128-bit prompt key, and the census
  * join/fold is prompt-class-sized — never corpus-sized state. */
object StreamingSftDedup {

  /** The prompt census of one batch's pairs. */
  def promptCensus(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("prompt_hash")).agg(count(lit(1)).as("n"))

  /** Start the stream. Each micro-batch's deduplicated pairs (with the
    * `kept` verdict) are handed to `onPairs` with the batch id —
    * `onPairs` must materialize the frame (write/collect) before
    * returning, because the census fold commits right after it. */
  def start(convs: DataFrame, stateDir: String, checkpointDir: String,
            onPairs: (DataFrame, Long) => Unit,
            convIdCol: String = "conv_id", jsonCol: String = "conv_json",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    convs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.CacheBarriers.withScope {
          val spark = batch.sparkSession
          val pairs = graft.CacheBarriers.barrier(Chat.sftPairs(
            Chat.withTurnStats(Chat.parseTurns(batch, jsonCol)), convIdCol))
          // predecessor census ONLY (beforeBatch): a replayed batch must
          // not see its own committed fold, or every pair turns kept=false
          val seen = StreamingUpsert
            .latestState(spark, stateDir, beforeBatch = batchId)
            .map(_.select(col("prompt_hash")))
            .getOrElse(pairs.select(col("prompt_hash")).limit(0))
          onPairs(Chat.dedupByPromptIncremental(pairs, seen, convIdCol),
            batchId)
          StreamingAdditiveCensus.mergeBatch(promptCensus(pairs), batchId,
            stateDir, Seq("prompt_hash"))
        }
        ()
      }
      .start()
}
