package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.{Dedup, Similarity}

/** Streaming semantic dedup: an embedding stream deduplicated batch by
  * batch against a DURABLE index and cluster artifact, with
  * checkpoint/resume. The cluster artifact lives in [[BucketedState]]'s
  * hash(doc_id)-bucketed layout, so a micro-batch rewrites only the
  * buckets its fresh rows hash into — at web scale near-dup membership
  * is corpus-order rows and a daily batch touches a sliver.
  *
  * Cross-bucket label merges (one new vector bridging two old clusters)
  * never rewrite old bucket rows: bucket rows keep their ORIGINAL labels
  * and a small versioned `labelmap/` forwarding table is applied
  * broadcast at read — the label-forwarding rule of
  * [[BucketedState.forwardLabels]], shared with [[BucketedCuration]]. The
  * map grows with cluster-merge EVENTS, not the corpus.
  *
  * The index is APPEND-ONLY (manifest-idempotent appends, frozen
  * centroids). Commit protocol, one [[VersionedState.advance]] on
  * `labelmap/`: guard → torn-append heal → decisions → cluster buckets
  * → index append → labelmap version LAST (its version is the batch's
  * commit signal — every read goes through `stateBefore`/`tableBefore`,
  * so a crashed attempt's partial bucket writes are invisible to its
  * replay) → GC. Deciding before the append, plus the no-self-pair guard
  * in [[Similarity.semanticDedupDeltas]], makes a crash-anywhere replay
  * converge. A crash inside the index append can leave index data
  * without its `_ids` manifest rows; attempt evidence (the decisions
  * dir) triggers `rebuildIdManifest` before the re-append. */
object BucketedSemanticDedup {

  private def combineClusters(df: DataFrame): DataFrame =
    // identical replayed slices collapse; min is the safe fold for the
    // impossible-by-contract case of a doc appearing with two labels
    df.groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))

  /** Seed the index + stores from the bootstrap corpus (version -1). */
  def bootstrap(vectors: DataFrame, stateDir: String,
                centroidPred: org.apache.spark.sql.Column, minCos: Double,
                numBuckets: Int = 64, idCol: String = "vec_id",
                vecCol: String = "embedding"): Unit =
    graft.CacheBarriers.withScope {
      val spark = vectors.sparkSession
      VersionedState.advance(spark, s"$stateDir/labelmap", -1L) { _ =>
        Similarity.buildIndex(vectors,
          Similarity.collectCentroids(vectors.filter(centroidPred), idCol,
            vecCol),
          s"$stateDir/index", idCol, vecCol)
        val clusters = Dedup.dupClusters(
          Similarity.embeddingNearDupPairs(vectors, centroidPred, minCos,
            idCol, vecCol))
          .select(col("doc_id"), col("cluster_id"))
        Similarity.decorateClusters(vectors, clusters, idCol)
          .write.mode("overwrite").parquet(s"$stateDir/decisions/b-1")
        BucketedState.ensureTemplate(clusters, s"$stateDir/clusters")
        BucketedState.mergeBatchWith(clusters, -1L, s"$stateDir/clusters",
          numBuckets, keyCol = "doc_id")(combineClusters)
        // an empty forwarding map; its version commits the bootstrap
        clusters.select(col("doc_id").as("from_lbl"),
          col("cluster_id").as("to_lbl")).limit(0)
      }
    }

  /** The cluster view as of the latest committed batch strictly below
    * `maxExcl`, `labelmap` being the forwarding map at that batch. */
  private def clustersBefore(spark: SparkSession, stateDir: String,
                             maxExcl: Long,
                             labelmap: Option[DataFrame]): DataFrame =
    BucketedState.forwardLabels(
      BucketedState.stateBefore(spark, s"$stateDir/clusters", maxExcl)
        .getOrElse(throw new IllegalStateException(
          s"BucketedSemanticDedup: no committed cluster store in " +
            s"$stateDir — run bootstrap() before streaming")),
      labelmap)

  /** Idempotent semantic dedup of one micro-batch, bucket-sliced. */
  def mergeBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 minCos: Double, numBuckets: Int = 64,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      val lmDir = s"$stateDir/labelmap"
      VersionedState.advance(spark, lmDir, batchId) { labelmap =>
        // torn-append healing: the decisions dir is written before the
        // index append, so its existence under this batchId means a prior
        // attempt may have appended index data without its manifest rows
        val decDir = new org.apache.hadoop.fs.Path(
          s"$stateDir/decisions/b$batchId")
        if (VersionedState.fs(spark, stateDir).exists(decDir))
          Similarity.rebuildIdManifest(spark, s"$stateDir/index", idCol)
        val (decisions, fresh, relabels) = Similarity.semanticDedupDeltas(
          batch, s"$stateDir/index",
          clustersBefore(spark, stateDir, batchId, labelmap),
          minCos, idCol, vecCol)
        decisions.write.mode("overwrite")
          .parquet(s"$stateDir/decisions/b$batchId")
        BucketedState.ensureTemplate(fresh, s"$stateDir/clusters")
        BucketedState.mergeBatchWith(fresh, batchId, s"$stateDir/clusters",
          numBuckets, keyCol = "doc_id")(combineClusters)
        Similarity.appendToIndex(batch, s"$stateDir/index", idCol, vecCol)
        BucketedState.composeLabels(labelmap, relabels)
      }
    }

  /** Continuous form. */
  def start(vectors: DataFrame, stateDir: String, checkpointDir: String,
            minCos: Double, numBuckets: Int = 64,
            idCol: String = "vec_id", vecCol: String = "embedding",
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, stateDir, minCos, numBuckets, idCol,
          vecCol)
      }
      .start()

  /** The cluster view at the last fully-committed batch (forwarding
    * applied); None before bootstrap. */
  def latestClusters(spark: SparkSession,
                     stateDir: String): Option[DataFrame] =
    VersionedState.versions(spark, s"$stateDir/labelmap").headOption
      .map(v => clustersBefore(spark, stateDir, v + 1,
        Some(spark.read.parquet(s"$stateDir/labelmap/v$v"))))

  /** Every batch's decisions (including the bootstrap's). */
  def allDecisions(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/decisions/b*")
}
