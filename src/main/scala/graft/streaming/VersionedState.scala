package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned-state protocol every durable streaming fold shares: a
  * state directory holds one parquet version per micro-batch,
  * `<dir>/v<batchId>`, and [[advance]] is the one way to commit the next.
  *
  *  - COMMITTED: a version counts iff Spark's `_SUCCESS` job-commit marker
  *    exists inside it. A crash mid-write leaves a directory without the
  *    marker (or with only `_temporary`), which every reader here ignores,
  *    so a torn version is never selected over its intact predecessor.
  *  - PREDECESSOR: batch N folds into the latest committed version
  *    STRICTLY below N ([[tableBefore]]). A replayed batch therefore
  *    recomputes `vN` from `vN−1` instead of re-merging into its own
  *    output, which makes non-idempotent folds (additive censuses)
  *    replay-safe under at-least-once delivery.
  *  - GUARD: committed versions NEWER than the batch mean the dir belongs
  *    to a further-progressed checkpoint; merging would stay invisible to
  *    readers until the batch ids caught up, so it fails loudly. Seeing
  *    its own version is fine.
  *  - GC: after the write, everything older than the predecessor is
  *    deleted — this version plus its predecessor are the crash window.
  *    A callback reading a committed version must materialize it before
  *    returning: the GC deletes it two batches later.
  *
  * Two-chain folds (a state plus the census or report it feeds) nest one
  * [[advance]] inside the other's fold: both guards run before any write,
  * and the inner chain (the delivery) commits before the outer (the
  * state), so a crash between the commits replays into identical
  * versions. Side effects a fold ships (closed sessions, cut rows) run
  * inside the fold, before the commit: a failed sink replays the batch
  * rather than committing state for rows never delivered.
  *
  * [[BucketedState]] runs [[advance]] per bucket. A version that holds
  * several tables (the curation stores' `small/` chain) commits through
  * [[advanceDir]]: the same guard, predecessor and GC around a caller's
  * multi-table write, with the dir-level `_SUCCESS` marker written LAST.
  */
private[streaming] object VersionedState {

  private val VersionRe = "^v(-?\\d+)$".r

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed versions under `dir`, newest first. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(n) if f.exists(new Path(st.getPath, "_SUCCESS")) =>
          Some(n.toLong)
        case _ => None
      }
    }.sorted.reverse
  }

  /** The latest committed version strictly below `maxExcl`
    * (`Long.MaxValue`: the latest). */
  def tableBefore(spark: SparkSession, dir: String,
                  maxExcl: Long): Option[DataFrame] =
    read(spark, dir, versions(spark, dir), maxExcl)

  private def read(spark: SparkSession, dir: String, vs: Seq[Long],
                   maxExcl: Long): Option[DataFrame] =
    vs.find(_ < maxExcl).map(v => spark.read.parquet(s"$dir/v$v"))

  /** Commit `v<batchId>` = `next(predecessor)`. ONE listing serves the
    * guard, the predecessor read and the GC: on object stores the
    * listings, not the fold, dominate small batches. */
  def advance(spark: SparkSession, dir: String, batchId: Long)
             (next: Option[DataFrame] => DataFrame): Unit =
    commit(spark, dir, batchId) { vs =>
      next(read(spark, dir, vs, batchId))
        .write.mode("overwrite").parquet(s"$dir/v$batchId")
    }

  /** Commit a MULTI-TABLE `v<batchId>`: `write(predecessor version,
    * version dir)` lays down the member tables (each job-commits on its
    * own), then the dir-level `_SUCCESS` marker [[versions]] keys off is
    * written LAST, so a crash anywhere in `write` leaves the version
    * invisible and the replay rewrites it. */
  def advanceDir(spark: SparkSession, dir: String, batchId: Long)
                (write: (Option[Long], String) => Unit): Unit =
    commit(spark, dir, batchId) { vs =>
      val out = s"$dir/v$batchId"
      write(vs.find(_ < batchId), out)
      fs(spark, out).create(new Path(out, "_SUCCESS"), true).close()
    }

  /** guard → `write(listing)` → GC, over ONE listing taken this batch. */
  private def commit(spark: SparkSession, dir: String, batchId: Long)
                    (write: Seq[Long] => Unit): Unit = {
    val vs = versions(spark, dir)
    requireNoNewerThan(vs, dir, batchId)
    write(vs)
    gcBefore(spark, dir, batchId, vs)
  }

  /** The stale-checkpoint guard. */
  private def requireNoNewerThan(vs: Seq[Long], dir: String,
                                 batchId: Long): Unit = {
    val newer = vs.filter(_ > batchId)
    require(newer.isEmpty,
      s"state dir $dir already holds committed versions ${newer.mkString(",")} " +
        s"newer than batch $batchId — it belongs to a further-progressed " +
        "checkpoint; use a fresh state dir or restore the matching checkpoint")
  }

  /** GC: keep the newest version strictly below `batchId` and delete
    * everything older. Targets are strictly below `batchId`, so a listing
    * taken before this batch's own write is exactly the candidate set. */
  private def gcBefore(spark: SparkSession, dir: String, batchId: Long,
                       vs: Seq[Long]): Unit = {
    val f = fs(spark, dir)
    vs.filter(_ < batchId).drop(1)
      .foreach(v => f.delete(new Path(s"$dir/v$v"), true))
  }
}
