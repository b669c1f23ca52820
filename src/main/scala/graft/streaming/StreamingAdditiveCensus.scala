package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The durable fold for the WHOLE additive-census family — one streaming
  * twin serving every artifact that merges by key-wise SUM. `censusOf`
  * and `keyCols` pick the artifact:
  *
  *   - line census: [[graft.llm.Dedup.lineCensus]] on `lh`;
  *   - span census: [[graft.llm.Dedup.spanCensus]] on `g`;
  *   - document-frequency census with its doc count:
  *     [[graft.llm.Features.dfCensusWithCount]] on `wh` (the count rides
  *     the NULL-key row; NULL keys group as one);
  *   - score histogram: [[graft.llm.Quantiles.scoreHistogram]] on
  *     `(source, bin)`;
  *   - centroid sums: [[graft.llm.Similarity.labelCentroidSums]] on
  *     `(label, pos)`;
  *   - quantile bucket census ([[graft.llm.QuantileSketch.census]], q173),
  *     count-min cells ([[graft.llm.CountMin.census]], q176), the BM25
  *     (doc, term, tf) census ([[graft.llm.Features.bm25Census]], q174),
  *     or any future `(keys…, counts…)` frame with the same algebra.
  *
  * Additive censuses are associative and commutative but NOT idempotent
  * (a replayed batch would double-count), so durability rides
  * [[VersionedState.advance]]: a replayed batch recomputes its version
  * from the predecessor rather than re-merging.
  *
  * Two layouts, matching the artifact's size class:
  *
  *   - [[mergeBatch]] — one global chain. Right when the census is
  *     CONFIG-sized by construction (quantile sketch: ≤ a few hundred
  *     rows per group; CMS: ≤ D·W rows per group) or fits a few GB.
  *   - [[mergeBatchBucketed]] — [[BucketedState]]'s layout keyed by
  *     `hash(bucketKey)`, an additive per-bucket combine. The 100 TB
  *     shape for CORPUS-keyed censuses (BM25: one row per (doc, term);
  *     span: one per distinct window): a batch rewrites only the buckets
  *     its own keys hash into.
  *
  * Reference framing: the reference engine keeps no mergeable statistics
  * at all — `/root/reference/monstache.go` delegates aggregation to the
  * target store; this family is the Spark-native state a training-data
  * pipeline maintains itself.
  */
object StreamingAdditiveCensus {

  /** The summed columns: every non-key column, and there must be one. */
  private def countCols(census: DataFrame, keyCols: Seq[String]): Seq[String] = {
    val cnt = census.columns.filterNot(keyCols.contains).toSeq
    require(cnt.nonEmpty,
      s"additive census has no count column: every column is a key " +
        s"(${keyCols.mkString(", ")}), so there is nothing to sum")
    cnt
  }

  private def sumByKeys(rows: DataFrame, keyCols: Seq[String]): DataFrame = {
    val sums = countCols(rows, keyCols).map(c => sum(col(c)).as(c))
    rows.groupBy(keyCols.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Key-wise additive merge: every non-key column must be summable.
    * Column set is taken from `a` (both sides must agree — unionByName
    * raises otherwise). */
  def merge(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    sumByKeys(a.unionByName(b), keyCols)

  /** The current committed census, if any batch committed. */
  def latest(spark: SparkSession, censusDir: String): Option[DataFrame] =
    StreamingUpsert.latestState(spark, censusDir)

  /** Idempotent fold of one micro-batch's census into the global chain. */
  def mergeBatch(batchCensus: DataFrame, batchId: Long, censusDir: String,
                 keyCols: Seq[String]): Unit = {
    countCols(batchCensus, keyCols) // refuse a key-only census up front
    VersionedState.advance(batchCensus.sparkSession, censusDir, batchId)(
      _.map(merge(_, batchCensus, keyCols)).getOrElse(batchCensus))
  }

  /** The bucketed fold: same versioned-merge idempotence per bucket,
    * same `_meta` bucket-count pin. `bucketKey` picks which key column
    * the bucket hash rides (the highest-cardinality one). */
  def mergeBatchBucketed(batchCensus: DataFrame, batchId: Long,
                         censusDir: String, numBuckets: Int,
                         bucketKey: String, keyCols: Seq[String]): Unit = {
    countCols(batchCensus, keyCols) // refuse a key-only census up front
    BucketedState.mergeBatchWith(batchCensus, batchId, censusDir,
      numBuckets, keyCol = bucketKey)(sumByKeys(_, keyCols))
  }

  /** The committed bucketed census (union of bucket latests). */
  def latestBucketed(spark: SparkSession, censusDir: String): Option[DataFrame] =
    BucketedState.latestState(spark, censusDir)

  /** Start the stream: `censusOf` maps each micro-batch of rows to its
    * batch census (e.g. `QuantileSketch.census(_, col("n_chars"),
    * Seq("source"))`), which folds into the chain. After each commit
    * `onCensus` gets the updated census and the batch id; it must
    * materialize the frame before returning (the [[VersionedState]] GC
    * contract). Each batch's census, fold and `onCensus` run in one
    * [[graft.CacheBarriers.withScope]], so barriers a census registers
    * ([[graft.llm.Dedup.spanCensus]]'s two) are freed per batch. */
  def start(rows: DataFrame, censusDir: String, checkpointDir: String,
            censusOf: DataFrame => DataFrame, keyCols: Seq[String],
            onCensus: (DataFrame, Long) => Unit = (_, _) => (),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.CacheBarriers.withScope {
          mergeBatch(censusOf(batch), batchId, censusDir, keyCols)
          onCensus(latest(batch.sparkSession, censusDir).get, batchId)
        }
      }
      .start()
}
