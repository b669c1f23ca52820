package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.{Curation, QualityModel}
import graft.llm.Curation.CurationArtifacts
import graft.llm.Dedup

/** Streaming incremental curation ([[Curation.curateIncremental]] run
  * batch by batch against DURABLE artifacts, with checkpoint/resume) in
  * the 100 TB layout: the corpus-sized artifacts live in
  * [[BucketedState]]'s hash-bucketed layout, so a micro-batch rewrites
  * ONLY the buckets its deltas touch. A whole-table chain would rewrite
  * `signed` (one row per kept doc — corpus-sized) every batch; here that
  * super-linear per-batch cost disappears, and the old corpus is never
  * re-read.
  *
  * Stores under `stateDir` (each a [[BucketedState.mergeBatchWith]]
  * chain with its own per-bucket versions, replay guard, and GC):
  *
  *  - `hashreps/` keyed `th` — rows (th, rep_id); combine = per-hash min
  *    (the merged-representative rule).
  *  - `signed/` keyed `doc_id` — rows (doc_id, sh, bkeys, del); a
  *    batch's slice is its new signatures plus `del` tombstones for
  *    demoted representatives; combine drops deleted groups.
  *  - `clusters/` keyed `doc_id` — rows (doc_id, cluster_id, del); adds
  *    are the batch's fresh cluster rows, dels its demoted reps. Labels
  *    stored in a row are AS OF its insert batch: the relabeling a
  *    batch causes (old components merging) is NOT a row rewrite but a
  *    new entry in `labelmap/` — see below.
  *  - `census/` keyed `lh` — rows (lh, n_docs); combine = per-line sum
  *    (the additive line census).
  *  - `labelmap/v<id>/` — ONE whole-table chain (from_lbl, to_lbl): the
  *    forwarding of old cluster labels merged into bigger components
  *    ([[BucketedState.forwardLabels]] / [[BucketedState.composeLabels]]).
  *    Pair-graph-sized, so its per-version rewrite is control-plane cost.
  *  - `small/v<id>/` — the census-sized artifacts (sourceCounts, LM
  *    model, qualityCounts) as multi-table versions committed by
  *    [[VersionedState.advanceDir]] (`_SUCCESS` marker LAST); its
  *    committed versions double as the "batch fully merged" signal
  *    ([[latestArtifacts]] keys off it).
  *  - `kept/b<id>/` — each batch's kept slice, overwrite-mode so a replay
  *    rewrites it deterministically. Output, not state: GC never touches
  *    it, and with batch-monotone ids the union over slices equals a full
  *    `curate` over everything ingested (representatives are min-id).
  *
  * Commit order per batch: the `small/` and `labelmap/` guards both run
  * before any write, then buckets → labelmap → kept slice → small tables
  * → small marker. Replay safety: every input to a batch's delta
  * computation is read per-store at the latest version STRICTLY BELOW
  * the batch id, so a replayed batch (some buckets already committed at
  * its id by a crashed attempt) recomputes the SAME deltas from the
  * predecessor state and rewrites its version dirs byte-identically —
  * the [[BucketedState]] contract, store by store. Deletion contract: a
  * tombstoned id never re-enters (batch ids are previously unseen,
  * [[Curation.curateIncremental]]'s append-only contract), so combines
  * may consume tombstones instead of persisting them.
  *
  * Consistency window: like [[BucketedState]], a read concurrent with an
  * in-flight merge can mix bucket versions; [[latestArtifacts]] reads at
  * the last committed `small/` version, which only advances after every
  * store's merge for that batch completed. */
object BucketedCuration {

  // ── per-store combines (the pluggable BucketedState merges) ───────────

  /** hashreps: the merged representative of a hash is the min id ever
    * seen for it (least-over-union, per bucket). */
  private def combineReps(df: DataFrame): DataFrame =
    df.groupBy("th").agg(min(col("rep_id")).as("rep_id"))

  /** signed/clusters: drop every key group containing a tombstone, then
    * the tombstones themselves. Assumes deleted ids never re-enter (the
    * append-only id contract) — which is also what makes this a valid
    * mergeable partial: adds and dels never race within a key. */
  private def combineWithDeletes(df: DataFrame): DataFrame =
    df.filter(!col("del"))
      .join(df.filter(col("del")).select("doc_id"), Seq("doc_id"),
        "left_anti")

  /** census: per-line-hash doc counts are additive. */
  private def combineCensus(df: DataFrame): DataFrame =
    df.groupBy("lh").agg(sum(col("n_docs")).as("n_docs"))

  // ── state assembly ────────────────────────────────────────────────────

  /** Assemble the [[CurationArtifacts]] view of all stores as of the
    * latest committed state strictly below `maxExcl`: `smallV` is the
    * `small/` version and `labelmap` the forwarding map at that state. */
  private def artifactsBefore(spark: SparkSession, stateDir: String,
                              maxExcl: Long, smallV: Option[Long],
                              labelmap: Option[DataFrame]
                             ): CurationArtifacts = {
    def need[A](name: String, a: Option[A]): A =
      a.getOrElse(throw new IllegalStateException(
        s"BucketedCuration: no committed $name state below batch " +
          s"$maxExcl in $stateDir — run bootstrap() before streaming"))
    def buckets(store: String): DataFrame =
      need(store,
        BucketedState.stateBefore(spark, s"$stateDir/$store", maxExcl))
    val clusters = BucketedState.forwardLabels(
      buckets("clusters").drop("del"), labelmap)
    val sd = s"$stateDir/small/v${need("small-artifact", smallV)}"
    val f = VersionedState.fs(spark, stateDir)
    def opt(name: String): Option[DataFrame] =
      if (f.exists(new Path(s"$sd/$name"))) Some(spark.read.parquet(s"$sd/$name"))
      else None
    CurationArtifacts(
      hashReps = buckets("hashreps"),
      signed = buckets("signed").drop("del"),
      clusters = clusters,
      lineCensus = buckets("census"),
      sourceCounts = opt("counts"),
      model = (spark.read.parquet(s"$sd/bigrams"),
        spark.read.parquet(s"$sd/unigrams")),
      qualityCounts = opt("qcounts"))
  }

  // ── writes ────────────────────────────────────────────────────────────

  private def writeBucketed(stateDir: String,
                            batchId: Long, numBuckets: Int,
                            newMin: DataFrame, demoted: DataFrame,
                            newSigned: DataFrame, freshRows: DataFrame,
                            censusDelta: DataFrame): Unit = {
    val reps = newMin.select(col("th"), col("new_min").as("rep_id"))
    BucketedState.ensureTemplate(reps, s"$stateDir/hashreps")
    BucketedState.mergeBatchWith(reps,
      batchId, s"$stateDir/hashreps", numBuckets, "th")(combineReps)
    val sT = newSigned.schema
    val signedSlice = newSigned.withColumn("del", lit(false))
      .unionByName(demoted.select(col("doc_id"),
        lit(null).cast(sT("sh").dataType).as("sh"),
        lit(null).cast(sT("bkeys").dataType).as("bkeys"),
        lit(true).as("del")))
    BucketedState.ensureTemplate(signedSlice, s"$stateDir/signed")
    BucketedState.mergeBatchWith(signedSlice,
      batchId, s"$stateDir/signed", numBuckets, "doc_id")(combineWithDeletes)
    val cT = freshRows.schema
    val clusterSlice = freshRows.withColumn("del", lit(false))
      .unionByName(demoted.select(col("doc_id"),
        lit(null).cast(cT("cluster_id").dataType).as("cluster_id"),
        lit(true).as("del")))
    BucketedState.ensureTemplate(clusterSlice, s"$stateDir/clusters")
    BucketedState.mergeBatchWith(clusterSlice,
      batchId, s"$stateDir/clusters", numBuckets, "doc_id")(combineWithDeletes)
    BucketedState.ensureTemplate(censusDelta, s"$stateDir/census")
    BucketedState.mergeBatchWith(censusDelta, batchId,
      s"$stateDir/census", numBuckets, "lh")(combineCensus)
  }

  /** Seed all stores from the bootstrap corpus (version -1: batch 0
    * merges against it). */
  def bootstrap(docs: DataFrame, stateDir: String, numBuckets: Int = 64,
                idCol: String = "doc_id", textCol: String = "text",
                sourceCol: Option[String] = None,
                lineMinChars: Int = 10,
                classifier: Option[QualityModel.LocalClassifier] = None,
                trainQuality: Boolean = false): Unit =
    graft.CacheBarriers.withScope {
      val spark = docs.sparkSession
      VersionedState.advanceDir(spark, s"$stateDir/small", -1L) { (_, sd) =>
        val (kept, art) = Curation.artifactsOf(docs, idCol, textCol,
          sourceCol, lineMinChars, classifier, trainQuality)
        VersionedState.advance(spark, s"$stateDir/labelmap", -1L) { _ =>
          // the bootstrap is "everything is a delta": adds only
          writeBucketed(stateDir, -1L, numBuckets,
            newMin = art.hashReps.select(col("th"),
              col("rep_id").as("new_min")),
            demoted = art.signed.select("doc_id").limit(0),
            newSigned = art.signed,
            freshRows = art.clusters,
            censusDelta = art.lineCensus)
          // ... and forwards no label
          art.clusters.select(col("doc_id").as("from_lbl"),
            col("cluster_id").as("to_lbl")).limit(0)
        }
        kept.write.mode("overwrite").parquet(s"$stateDir/kept/b-1")
        Curation.writeSmallArtifacts(art, sd)
      }
    }

  /** Idempotent curation of one micro-batch: deltas are computed against
    * the pre-batch state and written per store, touching only the
    * buckets they hash into. */
  def mergeBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 numBuckets: Int = 64,
                 idCol: String = "doc_id", textCol: String = "text",
                 sourceCol: Option[String] = None,
                 lineMinChars: Int = 10,
                 classifier: Option[QualityModel.LocalClassifier] = None): Unit =
    graft.CacheBarriers.withScope {
      val spark = batch.sparkSession
      val (smallDir, lmDir) = (s"$stateDir/small", s"$stateDir/labelmap")
      VersionedState.advanceDir(spark, smallDir, batchId) { (smallV, sd) =>
        // the batch's outputs, computed inside the labelmap fold (they
        // need its predecessor) and written after its commit
        var outputs: Option[(DataFrame, CurationArtifacts)] = None
        VersionedState.advance(spark, lmDir, batchId) { labelmap =>
          val art = artifactsBefore(spark, stateDir, batchId, smallV,
            labelmap)
          val (kept, art2, d) = Curation.curateIncrementalFull(batch, art,
            idCol, textCol, sourceCol, lineMinChars, classifier)
          writeBucketed(stateDir, batchId, numBuckets,
            d.newMin, d.demoted, d.newSigned, d.freshRows,
            Dedup.lineCensus(batch, idCol, textCol, lineMinChars))
          outputs = Some((kept, art2))
          BucketedState.composeLabels(labelmap, d.relabels)
        }
        val (kept, art2) = outputs.get
        kept.write.mode("overwrite").parquet(s"$stateDir/kept/b$batchId")
        // small artifacts roll forward whole (census-sized); the marker
        // advanceDir writes after them commits the batch
        Curation.writeSmallArtifacts(art2, sd)
      }
    }

  /** Continuous form: document stream → per-batch bucketed merges. */
  def start(docs: DataFrame, stateDir: String, checkpointDir: String,
            numBuckets: Int = 64,
            idCol: String = "doc_id", textCol: String = "text",
            sourceCol: Option[String] = None,
            lineMinChars: Int = 10,
            trigger: Trigger = Trigger.AvailableNow(),
            classifier: Option[QualityModel.LocalClassifier] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, stateDir, numBuckets, idCol, textCol,
          sourceCol, lineMinChars, classifier)
      }
      .start()

  /** The artifact view at the last fully-committed batch; None before
    * bootstrap. */
  def latestArtifacts(spark: SparkSession,
                      stateDir: String): Option[CurationArtifacts] =
    VersionedState.versions(spark, s"$stateDir/small").headOption
      .map(v => artifactsBefore(spark, stateDir, v + 1, Some(v),
        VersionedState.tableBefore(spark, s"$stateDir/labelmap", v + 1)))

  /** The accumulated kept corpus: the union of every batch's kept slice,
    * bootstrap included. */
  def keptCorpus(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/kept/b*")
}
