package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.{Curation, QualityModel}
import graft.llm.Curation.CurationArtifacts
import graft.llm.Dedup

/** The 100 TB form of [[StreamingCuration]]: the corpus-sized curation
  * artifacts live in [[BucketedState]]'s hash-bucketed layout, so a
  * micro-batch rewrites ONLY the buckets its deltas touch instead of the
  * whole artifact tables. [[StreamingCuration]] rewrites `signed` (one
  * row per kept doc — corpus-sized) per version; here that rewrite is
  * the one super-linear per-batch cost that disappears.
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
  *    forwarding of old cluster labels merged into bigger components.
  *    Composed per batch so every entry maps straight to its TERMINAL
  *    label (one hop); pair-graph-sized, so its per-version rewrite is
  *    control-plane cost. Reading cluster state = bucket rows left-join
  *    the (broadcast) map, coalescing to the terminal label — exactly
  *    the relabeled table [[StreamingCuration]] materializes per batch.
  *  - `small/v<id>/` — the census-sized artifacts (sourceCounts, LM
  *    model, qualityCounts) as whole-table versions with a `_SUCCESS`
  *    marker written LAST; its committed versions double as the "batch
  *    fully merged" signal ([[latestArtifacts]] keys off it).
  *  - `kept/b<id>/` — output slices, exactly like [[StreamingCuration]].
  *
  * Replay safety: every input to a batch's delta computation is read
  * per-store at the latest version STRICTLY BELOW the batch id, so a
  * replayed batch (some buckets already committed at its id by a
  * crashed attempt) recomputes the SAME deltas from the predecessor
  * state and rewrites its version dirs byte-identically — the
  * [[BucketedState]] contract, store by store. Deletion contract: a
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

  // replay-safe reads + schema templates live on [[BucketedState]] — one
  // definition shared with every bucketed artifact store
  private def bucketStateBefore(spark: SparkSession, dir: String,
                                maxExcl: Long): Option[DataFrame] =
    BucketedState.stateBefore(spark, dir, maxExcl)

  private def ensureTemplate(slice: DataFrame, dir: String): Unit =
    BucketedState.ensureTemplate(slice, dir)

  private def tableBefore(spark: SparkSession, dir: String,
                          maxExcl: Long): Option[DataFrame] =
    VersionedState.tableBefore(spark, dir, maxExcl)

  /** Assemble the [[CurationArtifacts]] view of all stores as of the
    * latest committed state strictly below `maxExcl`. */
  private def artifactsBefore(spark: SparkSession, stateDir: String,
                              maxExcl: Long): CurationArtifacts = {
    def need(name: String, df: Option[DataFrame]): DataFrame =
      df.getOrElse(throw new IllegalStateException(
        s"BucketedCuration: no committed $name state below batch " +
          s"$maxExcl in $stateDir — run bootstrap() before streaming"))
    val rows = need("clusters",
      bucketStateBefore(spark, s"$stateDir/clusters", maxExcl)).drop("del")
    // terminal labels: stored labels are as-of-insert; the composed map
    // forwards every since-merged label in one (broadcast) hop
    val clusters = tableBefore(spark, s"$stateDir/labelmap", maxExcl) match {
      case None => rows
      case Some(lm) =>
        rows.join(broadcast(lm), rows("cluster_id") === lm("from_lbl"),
            "left")
          .select(rows("doc_id"),
            coalesce(lm("to_lbl"), rows("cluster_id")).as("cluster_id"))
    }
    // small/ versions are multi-table dirs: resolve the version number,
    // then read the member tables
    val smallV = VersionedState.versions(spark, s"$stateDir/small")
      .find(_ < maxExcl).getOrElse(throw new IllegalStateException(
        s"BucketedCuration: no committed small-artifact state below " +
          s"batch $maxExcl in $stateDir — run bootstrap() before streaming"))
    val sd = s"$stateDir/small/v$smallV"
    val f = VersionedState.fs(spark, stateDir)
    def opt(name: String): Option[DataFrame] =
      if (f.exists(new Path(s"$sd/$name"))) Some(spark.read.parquet(s"$sd/$name"))
      else None
    CurationArtifacts(
      hashReps = need("hashreps",
        bucketStateBefore(spark, s"$stateDir/hashreps", maxExcl)),
      signed = need("signed",
        bucketStateBefore(spark, s"$stateDir/signed", maxExcl)).drop("del"),
      clusters = clusters,
      lineCensus = need("census",
        bucketStateBefore(spark, s"$stateDir/census", maxExcl)),
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
    ensureTemplate(reps, s"$stateDir/hashreps")
    BucketedState.mergeBatchWith(reps,
      batchId, s"$stateDir/hashreps", numBuckets, "th")(combineReps)
    val sT = newSigned.schema
    val signedSlice = newSigned.withColumn("del", lit(false))
      .unionByName(demoted.select(col("doc_id"),
        lit(null).cast(sT("sh").dataType).as("sh"),
        lit(null).cast(sT("bkeys").dataType).as("bkeys"),
        lit(true).as("del")))
    ensureTemplate(signedSlice, s"$stateDir/signed")
    BucketedState.mergeBatchWith(signedSlice,
      batchId, s"$stateDir/signed", numBuckets, "doc_id")(combineWithDeletes)
    val cT = freshRows.schema
    val clusterSlice = freshRows.withColumn("del", lit(false))
      .unionByName(demoted.select(col("doc_id"),
        lit(null).cast(cT("cluster_id").dataType).as("cluster_id"),
        lit(true).as("del")))
    ensureTemplate(clusterSlice, s"$stateDir/clusters")
    BucketedState.mergeBatchWith(clusterSlice,
      batchId, s"$stateDir/clusters", numBuckets, "doc_id")(combineWithDeletes)
    ensureTemplate(censusDelta, s"$stateDir/census")
    BucketedState.mergeBatchWith(censusDelta, batchId,
      s"$stateDir/census", numBuckets, "lh")(combineCensus)
  }

  private def writeSmall(spark: SparkSession, stateDir: String,
                         batchId: Long, art: CurationArtifacts,
                         smallVs: Seq[Long]): Unit = {
    val sd = s"$stateDir/small/v$batchId"
    // the one shared layout definition (Curation.writeArtifacts' small
    // half) — the whole-table and bucketed stores cannot diverge
    Curation.writeSmallArtifacts(art, sd)
    // marker LAST: the small version is the batch's commit signal, so
    // every other write of the batch (buckets, labelmap, kept slice)
    // must already be on storage when it lands
    VersionedState.commitMarker(spark, sd)
    VersionedState.gcBefore(spark, s"$stateDir/small", batchId, smallVs)
  }

  /** Seed all stores from the bootstrap corpus (version -1, the
    * [[StreamingCuration.bootstrap]] convention). */
  def bootstrap(docs: DataFrame, stateDir: String, numBuckets: Int = 64,
                idCol: String = "doc_id", textCol: String = "text",
                sourceCol: Option[String] = None,
                lineMinChars: Int = 10,
                classifier: Option[QualityModel.LocalClassifier] = None,
                trainQuality: Boolean = false): Unit =
    graft.CacheBarriers.withScope {
      val spark = docs.sparkSession
      val (kept, art) = Curation.artifactsOf(docs, idCol, textCol,
        sourceCol, lineMinChars, classifier, trainQuality)
      // the bootstrap is "everything is a delta": adds only, no map
      writeBucketed(stateDir, -1L, numBuckets,
        newMin = art.hashReps.select(col("th"),
          col("rep_id").as("new_min")),
        demoted = art.signed.select("doc_id").limit(0),
        newSigned = art.signed,
        freshRows = art.clusters,
        censusDelta = art.lineCensus)
      art.clusters
        .select(col("doc_id").as("from_lbl"), col("cluster_id").as("to_lbl"))
        .limit(0)
        .write.mode("overwrite").parquet(s"$stateDir/labelmap/v-1")
      // kept BEFORE the small marker: the marker is the commit signal
      kept.write.mode("overwrite").parquet(s"$stateDir/kept/b-1")
      writeSmall(spark, stateDir, -1L, art,
        VersionedState.versions(spark, s"$stateDir/small"))
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
      // the stale-checkpoint guard at the whole-state level rides the
      // small/ chain (every committed batch has a version there); the
      // per-bucket chains re-guard themselves inside mergeBatchWith
      val smallVs = VersionedState.versions(spark, s"$stateDir/small")
      VersionedState.requireNoNewerThan(smallVs, s"$stateDir/small", batchId)
      val art = artifactsBefore(spark, stateDir, batchId)
      val (kept, art2, d) = Curation.curateIncrementalFull(batch, art,
        idCol, textCol, sourceCol, lineMinChars, classifier)
      writeBucketed(stateDir, batchId, numBuckets,
        d.newMin, d.demoted, d.newSigned, d.freshRows,
        Dedup.lineCensus(batch, idCol, textCol, lineMinChars))
      // labelmap: compose so every entry still points at its TERMINAL
      // label (the batch's relabels' domain — terminal labels until now —
      // is disjoint from the map's domain, so the union stays a function)
      val lmDir = s"$stateDir/labelmap"
      val lmVs = VersionedState.versions(spark, lmDir)
      VersionedState.requireNoNewerThan(lmVs, lmDir, batchId)
      val lm = tableBefore(spark, lmDir, batchId) match {
        case None => d.relabels
        case Some(old) =>
          val r = d.relabels.select(col("from_lbl").as("r_from"),
            col("to_lbl").as("r_to"))
          old.join(broadcast(r), old("to_lbl") === col("r_from"), "left")
            .select(old("from_lbl"),
              coalesce(col("r_to"), old("to_lbl")).as("to_lbl"))
            .unionByName(d.relabels)
      }
      lm.write.mode("overwrite").parquet(s"$lmDir/v$batchId")
      VersionedState.gcBefore(spark, lmDir, batchId, lmVs)
      // kept BEFORE the small marker (same ordering as
      // [[StreamingCuration.mergeBatch]]): a crash between the two
      // leaves the batch uncommitted and the replay rewrites the kept
      // slice deterministically — never a committed batch with a
      // missing output slice
      kept.write.mode("overwrite").parquet(s"$stateDir/kept/b$batchId")
      // small artifacts roll forward whole (census-sized); their marker
      // commits the batch
      writeSmall(spark, stateDir, batchId, art2, smallVs)
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
      .map(v => artifactsBefore(spark, stateDir, v + 1))

  /** The accumulated kept corpus (union of every batch's kept slice,
    * bootstrap included) — same contract as
    * [[StreamingCuration.keptCorpus]]. */
  def keptCorpus(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/kept/b*")
}
