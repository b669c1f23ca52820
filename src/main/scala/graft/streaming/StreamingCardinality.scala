package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Cardinality

/** Continuous distinct-count sketching: maintain the per-group
  * [[Cardinality]] register table as documents stream in, so "how many
  * distinct words has each source contributed so far" is answered from a
  * ≤ M-rows-per-group artifact without ever re-reading the corpus.
  *
  * The register merge is componentwise MAX — associative, commutative,
  * and IDEMPOTENT, the strongest merge law in the streaming family: a
  * replayed batch folds to the very same registers even if it were
  * double-merged. The [[VersionedState]] chain is kept anyway, for the
  * family's uniform crash story.
  *
  * No bucketed form: the state is ≤ M·|groups| rows — config-sized (the
  * "census stays global" regime), never data-sized, which is the entire
  * point of sketching.
  */
object StreamingCardinality {

  /** The current committed register table, if any batch committed. */
  def latestRegisters(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, stateDir)

  /** The estimate derived from the committed registers. */
  def latestEstimate(spark: SparkSession, stateDir: String,
                     groupCol: String = "source"): Option[DataFrame] =
    latestRegisters(spark, stateDir)
      .map(Cardinality.estimate(_, Seq(groupCol)))

  /** Idempotent fold of one micro-batch of documents into the registers. */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                groupCol: String = "source", textCol: String = "text"): Unit = {
    val bs = Cardinality.wordSketch(batch, groupCol, textCol)
    VersionedState.advance(batch.sparkSession, stateDir, batchId)(
      _.map(Cardinality.mergeSketches(_, bs, Seq(groupCol))).getOrElse(bs))
  }

  /** Start the stream; after each fold commits, `onEstimate` gets the
    * updated per-group estimate and the batch id. It must materialize the
    * frame before returning (the [[VersionedState]] GC contract). */
  def start(docs: DataFrame, stateDir: String, checkpointDir: String,
            onEstimate: (DataFrame, Long) => Unit = (_, _) => (),
            groupCol: String = "source", textCol: String = "text",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, groupCol, textCol)
        onEstimate(
          latestEstimate(batch.sparkSession, stateDir, groupCol).get, batchId)
      }
      .start()
}
