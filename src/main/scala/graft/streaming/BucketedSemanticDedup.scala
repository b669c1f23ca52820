package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.{Dedup, Similarity}

/** The 100 TB form of [[StreamingSemanticDedup]]: the cluster artifact
  * in [[BucketedState]]'s hash(doc_id)-bucketed layout, so a micro-batch
  * rewrites only the buckets its fresh rows hash into — the global twin
  * rewrites the whole cluster table per batch, which is right while the
  * table fits a few GB and wrong at web scale, where near-dup membership
  * is corpus-order rows and a daily batch touches a sliver.
  *
  * Cross-bucket label merges (one new vector bridging two old clusters)
  * never rewrite old bucket rows: bucket rows keep their ORIGINAL labels
  * and a small versioned `labelmap/` forwarding table (from_lbl →
  * to_lbl, composed per batch so every entry points at its terminal
  * label) is applied broadcast at read — the same label-forwarding
  * design as [[BucketedCuration]]. The map grows with cluster-merge
  * EVENTS, not the corpus.
  *
  * Commit protocol: decisions → cluster buckets → index append →
  * labelmap version LAST (its version is the batch's commit signal —
  * every read goes through `stateBefore`/`tableBefore`, so a crashed
  * attempt's partial bucket writes are invisible to its replay). The
  * torn-index-append healing of the global twin applies unchanged:
  * attempt evidence (the decisions dir) triggers `rebuildIdManifest`
  * before the re-append. */
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
      // empty forwarding map; its version commits the bootstrap
      clusters
        .select(col("doc_id").as("from_lbl"),
          col("cluster_id").as("to_lbl"))
        .limit(0)
        .write.mode("overwrite").parquet(s"$stateDir/labelmap/v-1")
    }

  /** The cluster view as of the latest committed batch strictly below
    * `maxExcl`: bucket union with the forwarding map applied
    * broadcast. */
  private def clustersBefore(spark: SparkSession, stateDir: String,
                             maxExcl: Long): DataFrame = {
    val raw = BucketedState.stateBefore(spark, s"$stateDir/clusters",
      maxExcl).getOrElse(throw new IllegalStateException(
      s"BucketedSemanticDedup: no committed cluster store in $stateDir " +
        "— run bootstrap() before streaming"))
    VersionedState.tableBefore(spark, s"$stateDir/labelmap", maxExcl) match {
      case None => raw
      case Some(m) =>
        raw.alias("c")
          .join(broadcast(m.alias("m")),
            col("c.cluster_id") === col("m.from_lbl"), "left")
          .select(col("c.doc_id"),
            coalesce(col("m.to_lbl"), col("c.cluster_id")).as("cluster_id"))
    }
  }

  /** Idempotent semantic dedup of one micro-batch, bucket-sliced. */
  def mergeBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 minCos: Double, numBuckets: Int = 64,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      val lmDir = s"$stateDir/labelmap"
      val lmVs = VersionedState.versions(spark, lmDir)
      VersionedState.requireNoNewerThan(lmVs, lmDir, batchId)
      // torn-append healing, the StreamingSemanticDedup argument: the
      // decisions dir is written before the index append, so its
      // existence under this batchId means a prior attempt may have
      // appended index data without its manifest rows
      val decDir = new org.apache.hadoop.fs.Path(
        s"$stateDir/decisions/b$batchId")
      if (VersionedState.fs(spark, stateDir).exists(decDir))
        Similarity.rebuildIdManifest(spark, s"$stateDir/index", idCol)
      val oldClusters = clustersBefore(spark, stateDir, batchId)
      val (decisions, fresh, relabels) = Similarity.semanticDedupDeltas(
        batch, s"$stateDir/index", oldClusters, minCos, idCol, vecCol)
      decisions.write.mode("overwrite")
        .parquet(s"$stateDir/decisions/b$batchId")
      BucketedState.ensureTemplate(fresh, s"$stateDir/clusters")
      BucketedState.mergeBatchWith(fresh, batchId, s"$stateDir/clusters",
        numBuckets, keyCol = "doc_id")(combineClusters)
      Similarity.appendToIndex(batch, s"$stateDir/index", idCol, vecCol)
      // labelmap: compose so every entry still points at its TERMINAL
      // label (the batch's relabels' domain — labels terminal until now
      // — is disjoint from the map's domain, so the union stays a
      // function); written LAST = the batch's commit signal
      val lm = VersionedState.tableBefore(spark, lmDir, batchId) match {
        case None => relabels
        case Some(old) =>
          val r = relabels.select(col("from_lbl").as("r_from"),
            col("to_lbl").as("r_to"))
          old.join(broadcast(r), old("to_lbl") === col("r_from"), "left")
            .select(old("from_lbl"),
              coalesce(col("r_to"), old("to_lbl")).as("to_lbl"))
            .unionByName(relabels)
      }
      lm.write.mode("overwrite").parquet(s"$lmDir/v$batchId")
      VersionedState.gcBefore(spark, lmDir, batchId, lmVs)
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
      .map(v => clustersBefore(spark, stateDir, v + 1))

  /** Every batch's decisions (including the bootstrap's). */
  def allDecisions(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/decisions/b*")
}
