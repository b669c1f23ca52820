package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.slf4j.LoggerFactory

/** One owner's set of registered materializations. Obtained via
  * [[CacheBarriers.withScope]]; released as a unit without touching any
  * other owner's frames. */
final class BarrierScope private[graft] () {
  /** (frame, is a truncation) in registration order. */
  private val reg = new ConcurrentLinkedQueue[(Dataset[_], Boolean)]()

  private[graft] def add(ds: Dataset[_], truncation: Boolean): Unit =
    reg.add((ds, truncation))

  /** Free `ds` now if this scope holds it. */
  private[graft] def release(ds: Dataset[_]): Unit =
    reg.asScala.find(_._1 eq ds).filter(reg.remove(_))
      .foreach { case (d, truncation) => CacheBarriers.free(d, truncation) }

  /** Free every frame registered in this scope (non-blocking) and forget
    * them. Returns how many were released. */
  def release(): Int = Iterator.continually(reg.poll()).takeWhile(_ != null)
    .map { case (ds, truncation) => CacheBarriers.free(ds, truncation) }.size
}

/** The one registry for intermediates the engine materializes. The rule:
  * every operator-internal [[barrier]] (persist, for reuse) and
  * [[truncate]] (localCheckpoint, to cut a plan or lineage) registers
  * with the innermost [[withScope]] open on its thread — the
  * session-global scope outside any — and is freed when that scope exits,
  * or earlier by [[release]] once a loop's next round supersedes it. Only
  * a caller owning the whole session (a bench or verify loop) may call
  * [[releaseAll]]; pipelines sharing it (the daemon, the streaming twins)
  * scope each micro-batch. Frames a caller persisted, or an operator
  * hands back ([[graft.llm.Dedup.signCorpus]]), are the caller's.
  *
  * Reading a released barrier recomputes it; reading a released
  * truncation fails loudly (a `SparkException`: its lineage is gone). So
  * a scope must consume everything its truncations feed before it exits.
  */
object CacheBarriers {

  private val global = new BarrierScope

  /** Scope receiving registrations on the current thread; defaults to the
    * session-global scope. DynamicVariable rides an
    * InheritableThreadLocal, so operator calls made on the scoping thread
    * (where plan construction — and thus registration — happens) resolve
    * the right scope even under foreachBatch's dedicated thread. */
  private val current = new DynamicVariable[BarrierScope](global)

  /** Truncations released by [[free]]'s fallback branch. Stays 0 on the
    * supported Spark version; anything else is a block leak. */
  val fallbackReleases = new AtomicLong(0L)

  private lazy val log = LoggerFactory.getLogger(getClass)

  /** Persist `ds` at `level` and register it with the current scope. A
    * frame the CALLER already persisted is left alone and NOT registered
    * — its cache belongs to the caller, and a scope release yanking it
    * would break the caller's own barrier contract. */
  def barrier[T](ds: Dataset[T],
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.persist(level)
      current.value.add(ds, truncation = false)
    }
    ds
  }

  /** `ds.localCheckpoint(eager)`, registered with the current scope:
    * consumers read the materialized blocks instead of re-planning `ds`,
    * and an iterative loop's lineage stops growing. The blocks are
    * executor-local and unreplicated, so losing an executor while they
    * are live (dynamic allocation, decommission) fails every reader where
    * a [[barrier]] would recompute — Spark marks localCheckpoint unsafe
    * under dynamic allocation. */
  def truncate[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val t = ds.localCheckpoint(eager)
    current.value.add(t, truncation = true)
    t
  }

  /** Free `ds` now and unregister it, if the current scope holds it — an
    * iterative loop's superseded round. A frame the scope does not hold
    * (caller-owned) is left alone. */
  def release(ds: Dataset[_]): Unit = current.value.release(ds)

  /** Free one registered frame by its kind. Dataset.unpersist is a no-op
    * for a truncation, so its `LogicalRDD`'s RDD is unpersisted instead;
    * any other plan shape is counted, logged and unpersisted best-effort. */
  private[graft] def free(ds: Dataset[_], truncation: Boolean): Unit =
    if (!truncation) ds.unpersist(false)
    else ds.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(false)
      case other =>
        fallbackReleases.incrementAndGet()
        log.warn(s"graft: truncation is a ${other.nodeName}, not a " +
          "LogicalRDD; its blocks may outlive its scope")
        ds.unpersist(false)
    }

  /** Run `body` with a fresh [[BarrierScope]] capturing every frame
    * registered on this thread, then release them. Use when the block
    * fully consumes its operators' results (everything on storage /
    * collected) before returning — the per-micro-batch shape. */
  def withScope[A](body: => A): A = {
    val scope = new BarrierScope
    try current.withValue(scope)(body)
    finally scope.release()
  }

  /** Free every frame in the SESSION-GLOBAL scope (non-blocking) and
    * forget them. Returns how many were released. Safe only when this
    * caller owns the whole session (see the object doc). */
  def releaseAll(): Int = global.release()
}
