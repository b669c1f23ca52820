package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Dedup

/** Continuous span dedup: each micro-batch is span-CUT against the
  * persisted (g, n_docs) census ([[Dedup.spanCensus]]) of everything
  * before it, and the merged census commits as the batch's version — so
  * the stream emits deduplicated text while maintaining the artifact
  * that scores the next batch, never re-reading the old corpus. The
  * census alone (no cut) folds through [[StreamingAdditiveCensus]] with
  * `censusOf = Dedup.spanCensus(_, k)` and `keyCols = Seq("g")`.
  *
  * Contracts: batches are doc-id-DISJOINT (append-only corpus — a doc in
  * two batches double-counts its grams), and every batch must use the
  * SAME window width `k` (the census has no per-row k; mixing widths
  * silently unions incomparable gram spaces).
  */
object StreamingSpanCensus {

  /** Idempotent cut-and-fold of one micro-batch on
    * [[VersionedState.advance]]: the batch is cut
    * ([[Dedup.cutDupSpansIncremental]]) against the predecessor census
    * plus itself, the cut rows go to `onCut`, and the merged census
    * commits. A replayed batch recomputes BOTH from the same predecessor,
    * so the cut output and the census version are bit-identical on
    * re-delivery (StreamingSpanCensusSpec pins it kill+resume). `onCut`
    * runs BEFORE the census commit, so a failed sink replays the whole
    * batch rather than committing state for rows that were never
    * written; it must materialize its frame before returning. */
  def cutBatch(batch: DataFrame, batchId: Long, censusDir: String,
               onCut: (DataFrame, Long) => Unit,
               k: Int = 8, idCol: String = "doc_id",
               textCol: String = "text"): Unit =
    // withScope: the cut registers the batch's windowed/positional
    // barriers — scoped so a long-lived stream doesn't accrete one
    // cached pair per micro-batch
    graft.CacheBarriers.withScope {
      VersionedState.advance(batch.sparkSession, censusDir, batchId) { prev =>
        val (cut, merged) = prev match {
          case Some(p) =>
            Dedup.cutDupSpansIncremental(batch, p, k, idCol, textCol)
          case None =>
            // first batch: no old corpus — the batch cut against itself
            // IS the batch operator, and its census seeds the chain
            (Dedup.cutDupSpans(batch, k, idCol, textCol),
              Dedup.spanCensus(batch, k, idCol, textCol))
        }
        onCut(cut, batchId)
        merged
      }
    }

  /** Start the stream: continuous span dedup. */
  def startCut(docs: DataFrame, censusDir: String, checkpointDir: String,
               onCut: (DataFrame, Long) => Unit,
               k: Int = 8, idCol: String = "doc_id",
               textCol: String = "text",
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cutBatch(batch, batchId, censusDir, onCut, k, idCol, textCol)
      }
      .start()
}
