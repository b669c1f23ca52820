package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Dedup

/** Continuous eval-set decontamination: flag contaminated documents as
  * they arrive, against a static benchmark corpus. The LSH verification
  * needs a per-batch pair `distinct` and the measured signature persist —
  * per-batch algorithm state, not engine keyed state — so the twin is a
  * `foreachBatch` over the BATCH operator (the same shape as
  * [[StreamingUpsert.start]]'s merge), not a declarative stream-static
  * join: a streaming `distinct` would be cross-batch stateful and grow
  * without bound.
  *
  * Correctness rests on the batch operator being per-corpus-doc
  * independent (each doc's verdict depends only on that doc and the eval
  * set), so per-batch runs union to exactly the one-shot batch answer —
  * StreamingDecontamSpec pins that identity, kill+resume included via the
  * checkpoint. The eval set is signed and persisted ONCE at start
  * ([[Dedup.signEval]]); each micro-batch pays only its own signing pass
  * plus broadcast-sized joins against the benchmark tables. */
object StreamingDecontam {

  /** Start the stream: each micro-batch's verified contamination pairs
    * (doc_id, eval_id, inter, uni) are handed to `onPairs` with the batch
    * id — sink them to the drop-log table of choice. `onPairs` must
    * materialize the frame (write/collect) before returning: the batch's
    * cached signature table is dropped right after it returns. */
  def start(docs: DataFrame, evalDocs: DataFrame, checkpointDir: String,
            onPairs: (DataFrame, Long) => Unit,
            idCol: String = "doc_id", textCol: String = "text",
            shingleN: Int = 3,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val evalSigned = Dedup.signEval(evalDocs, idCol, textCol, shingleN)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch's signature barrier is scoped to the batch, so a
        // long-running stream accretes no cached signature table per
        // micro-batch, even when a flaky sink makes onPairs throw and
        // Spark replays the batch
        graft.CacheBarriers.withScope {
          val signed = graft.CacheBarriers.barrier(
            Dedup.withSignature(batch, textCol, shingleN)
              .select(col(idCol).as("doc_id"), col("sh"), col("bkeys")))
          onPairs(Dedup.pairsBetweenSigned(signed, evalSigned), batchId)
        }
        ()
      }
      .start()
  }
}
