package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.source.ChangeEvent

/** The 100 TB shape of [[StreamingUpsert]]'s durable state: state bucketed
  * by `hash(id)`, so a micro-batch rewrites ONLY the buckets it touches
  * instead of the whole table. [[StreamingUpsert.mergeBatch]] rewrites
  * full state per batch — correct while state fits a few GB; at terabyte
  * state the rewrite dominates. Here each bucket keeps its own version
  * chain `stateDir/b<bucket>/v<batchId>`:
  *
  *  - a batch groups by bucket, and per touched bucket merges the bucket's
  *    latest version strictly below the batch id with the batch slice —
  *    the same idempotent versioned-merge contract as the global path
  *    (a replayed batch merges against its predecessor, never its own
  *    partial output), now per bucket;
  *  - untouched buckets are not read, not written, not listed; touched
  *    buckets merge CONCURRENTLY (independent chains — per-batch latency
  *    must not scale linearly with touched-bucket count, or the layout's
  *    own scale story dies);
  *  - the bucket count is pinned in `stateDir/_meta` on first write and
  *    validated on every merge — a different count silently splits each
  *    key's history across buckets (two "latest" rows per id, deletes
  *    resurrected from the other bucket), so a mismatch is a loud error;
  *  - reading full state unions each bucket's latest version — on a real
  *    cluster each bucket is its own partition subtree, so point lookups
  *    and delete-meta reads prune to one bucket.
  *
  * Consistency window: the union is per-bucket-latest with NO global cut
  * — a read concurrent with an in-flight mergeBatch (or between a crash
  * and its replay) can mix batch N's winners in committed buckets with
  * batch N−1's in the rest. Per-key results are still internally
  * consistent (a key lives in exactly one bucket); readers needing a
  * cross-key atomic snapshot must read between merges, or use the global
  * [[StreamingUpsert]] chain whose single version IS the cut.
  *
  * The reference's analog is MongoDB collections as state (T6) — which
  * also only touches the documents a batch writes.
  */
object BucketedState {

  def bucketOf(id: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(id), lit(numBuckets.toLong))

  /** Pin (first write) or validate (every later write) the bucket count. */
  private[streaming] def ensureMeta(spark: SparkSession, stateDir: String,
                                    numBuckets: Int): Unit = {
    val f = VersionedState.fs(spark, stateDir)
    val meta = new Path(stateDir, "_meta")
    if (f.exists(meta)) {
      val in = f.open(meta)
      val raw =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
        finally in.close()
      val pinned = raw.toIntOption.getOrElse(throw new IllegalStateException(
        s"state dir $stateDir has a torn _meta marker (content: '$raw') — " +
          "a crash interrupted its write; no versions can have committed " +
          "under it (the marker is written before the first merge), so " +
          "delete the _meta file and re-run"))
      require(pinned == numBuckets,
        s"state dir $stateDir was created with numBuckets=$pinned; " +
          s"merging with numBuckets=$numBuckets would split each key's " +
          "history across buckets — pass the original count")
    } else {
      // write-then-rename with a UNIQUE temp (a shared temp name lets a
      // racing writer overwrite ours between write and rename): a crash
      // mid-write leaves only the temp file, never a torn _meta (the
      // same torn-write stance as VersionedState's _SUCCESS protocol)
      f.mkdirs(new Path(stateDir))
      val tmp = new Path(stateDir,
        s"._meta.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(numBuckets.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      f.rename(tmp, meta)
      if (f.exists(tmp)) f.delete(tmp, false)
      // validate AFTER commit regardless of who won: local filesystems
      // let a later rename clobber the destination, so re-reading the
      // final marker is the only check that catches every interleaving
      require(f.exists(meta),
        s"state dir $stateDir: failed to commit the _meta marker")
      ensureMeta(spark, stateDir, numBuckets)
    }
  }

  /** Idempotent per-bucket LWW merge of one micro-batch (the
    * [[StreamingUpsert]] semantics in the bucketed layout). */
  def mergeBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 numBuckets: Int = 64): Unit =
    mergeBatchWith(batch, batchId, stateDir, numBuckets, keyCol = "id")(
      Upsert.lastWriterWins(_))

  /** Generalized per-bucket versioned merge — the bucketed layout with a
    * pluggable combine, so the SAME only-touched-buckets-rewrite story
    * serves every artifact whose merge is a keyed partial-aggregate:
    * LWW winners ([[mergeBatch]]), additive censuses
    * ([[StreamingAdditiveCensus.mergeBatchBucketed]]), count tables, model
    * counts. `combine` runs per touched bucket over (previous bucket
    * state ∪ batch slice) and must treat its input rows as mergeable
    * partials keyed within the bucket — i.e.
    * `combine(combine(a ∪ b) ∪ c) == combine(a ∪ b ∪ c)` (max-by and
    * sum-by aggregations both qualify); that is exactly what makes the
    * replay-against-predecessor protocol idempotent per bucket. */
  def mergeBatchWith(batch: DataFrame, batchId: Long, stateDir: String,
                     numBuckets: Int, keyCol: String)
                    (combine: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    ensureMeta(spark, stateDir, numBuckets)
    graft.CacheBarriers.withScope {
      val bucketed = graft.CacheBarriers.barrier(batch
        .withColumn("__bucket", bucketOf(col(keyCol), numBuckets)))
      val touched = bucketed.select("__bucket").distinct()
        .collect().map(_.getLong(0)).sorted
      // independent version chains → concurrent Spark jobs (the scheduler
      // is thread-safe); a bounded pool keeps driver/fs pressure sane
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.max(1, math.min(touched.length, 8)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val merges = touched.toSeq.map { b =>
          Future {
            val slice = bucketed.filter(col("__bucket") === b).drop("__bucket")
            VersionedState.advance(spark, s"$stateDir/b$b", batchId)(prev =>
              combine(prev.fold(slice)(_.unionByName(slice))))
          }
        }
        Await.result(Future.sequence(merges), Duration.Inf)
      } finally pool.shutdown()
    }
  }

  /** Compact the store: rewrite each bucket's latest committed version
    * as ONE file and delete its superseded versions — the
    * [[graft.llm.Similarity.compactIndex]] maintenance discipline
    * applied to versioned state. Every merge writes its bucket version
    * at the plan's own parallelism (up to shuffle-partitions part
    * files) and GC keeps the predecessor as the crash window, so a
    * year-long stream accretes per-file open/footer costs on every
    * read — the standard small-files decay of any append-only store.
    *
    * `upToExcl` is the replay fence: batch ids STRICTLY BELOW it are
    * durably committed in the stream's checkpoint and can never replay
    * (pass `lastCommittedBatchId + 1`; the default compacts everything
    * — only valid on a STOPPED stream). A bucket whose latest version
    * is at or beyond the fence is skipped whole: its predecessor IS the
    * crash window a replay merges against, and its own files may be
    * overwritten by that replay anyway.
    *
    * In-place rewrite, crash-safe per bucket: the compacted copy lands
    * in a dot-prefixed sibling (invisible to [[VersionedState.versions]]
    * and to parquet reads), swaps in with two checked renames
    * (live → `.v<N>.old`, tmp → live), and only then deletes the `.old`
    * recovery copy and the superseded versions — a crash at any point
    * leaves either the original or the recovery copy intact, and a
    * leftover `.old` fails the next compaction fast at that bucket.
    * Run offline between merges (the compactIndex contract): a merge
    * concurrent with compaction could read a bucket mid-swap. */
  def compact(spark: SparkSession, stateDir: String,
              upToExcl: Long = Long.MaxValue): Unit = {
    val f = VersionedState.fs(spark, stateDir)
    bucketDirs(spark, stateDir).foreach { bDir =>
      val vs = VersionedState.versions(spark, bDir)
      vs.headOption.filter(_ < upToExcl).foreach { v =>
        val live = new Path(s"$bDir/v$v")
        val tmp = new Path(s"$bDir/.v$v.compacting")
        val old = new Path(s"$bDir/.v$v.old")
        require(!f.exists(old),
          s"$old exists: a prior compaction crashed mid-swap. Recover " +
            s"first (rename it back to $live if $live is missing, " +
            "else delete it).")
        // a crashed pre-swap rewrite left only the tmp copy: discard
        if (f.exists(tmp)) f.delete(tmp, true)
        spark.read.parquet(live.toString).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        require(f.rename(live, old),
          s"compact: rename $live -> $old failed; live state untouched")
        require(f.rename(tmp, live),
          s"compact: rename $tmp -> $live failed; recover by renaming " +
            s"$old back to $live")
        f.delete(old, true)
        // superseded versions: the fence says v can never be replayed,
        // so its predecessor crash window is no longer needed
        vs.filter(_ != v).foreach(o =>
          f.delete(new Path(s"$bDir/v$o"), true))
      }
    }
  }

  /** The bucket chains (`<stateDir>/b<bucket>`) present under a store. */
  private def bucketDirs(spark: SparkSession, stateDir: String): Seq[String] = {
    val f = VersionedState.fs(spark, stateDir)
    val root = new Path(stateDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b"))
      .map(_.getPath.toString)
  }

  /** Full state: each bucket's latest COMMITTED version, unioned. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    bucketDirs(spark, stateDir)
      .flatMap(VersionedState.tableBefore(spark, _, Long.MaxValue))
      .reduceOption(_.unionByName(_))

  /** The touched-bucket read: each bucket's latest version strictly
    * below `maxExcl`, unioned over ONLY the buckets the values of `keys`
    * (a one-column frame) hash into — the partition-pruned read a
    * bucketed fold stitches its batch against. Untouched buckets are not
    * listed. */
  private[streaming] def touchedBefore(stateDir: String, keys: DataFrame,
                                       numBuckets: Int,
                                       maxExcl: Long): Option[DataFrame] =
    keys.select(bucketOf(keys.col(keys.columns.head), numBuckets))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
      .flatMap(b => VersionedState.tableBefore(keys.sparkSession,
        s"$stateDir/b$b", maxExcl))
      .reduceOption(_.unionByName(_))

  /** Live view (winners that are not tombstones), like
    * [[StreamingUpsert.liveState]] — empty-envelope schema before the
    * first commit, for the same reason. */
  def liveState(spark: SparkSession, stateDir: String): DataFrame =
    StreamingUpsert.liveView(spark, latestState(spark, stateDir))

  /** Union of each bucket's latest version STRICTLY BELOW `maxExcl` —
    * the replay-safe read (a crashed attempt's own partial commits are
    * invisible to its replay). Falls back to the store's `_schema`
    * template when no bucket has committed yet: an artifact can be
    * legitimately EMPTY at bootstrap (a corpus with no near-dup pairs
    * has no cluster rows), which must read as an empty typed frame, not
    * as a missing store. Shared by every bucketed artifact store
    * ([[BucketedCuration]], [[BucketedSemanticDedup]]). */
  private[graft] def stateBefore(spark: SparkSession, dir: String,
                                     maxExcl: Long): Option[DataFrame] =
    bucketDirs(spark, dir)
      .flatMap(VersionedState.tableBefore(spark, _, maxExcl))
      .reduceOption(_.unionByName(_))
      .orElse {
        if (VersionedState.fs(spark, dir)
            .exists(new Path(s"$dir/_schema/_SUCCESS")))
          Some(spark.read.parquet(s"$dir/_schema"))
        else None
      }

  /** Label forwarding, the one rule both bucketed cluster stores
    * ([[BucketedCuration]], [[BucketedSemanticDedup]]) share: bucket rows
    * keep the label AS OF their insert batch, and a small `labelmap/`
    * chain (from_lbl, to_lbl) maps every since-merged label straight to
    * its TERMINAL label, so reading (doc_id, cluster_id) rows is one
    * broadcast hop. */
  private[streaming] def forwardLabels(rows: DataFrame,
                                       labelmap: Option[DataFrame]): DataFrame =
    labelmap.fold(rows) { lm =>
      rows.join(broadcast(lm), rows("cluster_id") === lm("from_lbl"), "left")
        .select(rows("doc_id"),
          coalesce(lm("to_lbl"), rows("cluster_id")).as("cluster_id"))
    }

  /** The map after a batch: old entries re-pointed through the batch's
    * `relabels`, plus the relabels themselves. The relabels' domain
    * (labels terminal until now) is disjoint from the map's domain, so
    * the union stays a function onto terminal labels. */
  private[streaming] def composeLabels(labelmap: Option[DataFrame],
                                       relabels: DataFrame): DataFrame =
    labelmap.fold(relabels) { old =>
      val r = relabels.select(col("from_lbl").as("r_from"),
        col("to_lbl").as("r_to"))
      old.join(broadcast(r), old("to_lbl") === col("r_from"), "left")
        .select(old("from_lbl"),
          coalesce(col("r_to"), old("to_lbl")).as("to_lbl"))
        .unionByName(relabels)
    }

  /** Persist the store's row schema once (an empty parquet table) so an
    * empty store reads as an empty TYPED frame. Overwrite-on-missing
    * keeps a torn first write self-healing. */
  private[graft] def ensureTemplate(slice: DataFrame,
                                        dir: String): Unit = {
    val f = VersionedState.fs(slice.sparkSession, dir)
    if (!f.exists(new Path(s"$dir/_schema/_SUCCESS")))
      slice.limit(0).write.mode("overwrite").parquet(s"$dir/_schema")
  }
}
