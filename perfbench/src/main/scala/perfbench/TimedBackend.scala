package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.GraftConfig
import graft.sink.SinkBackend

/** A `SinkBackend` that forwards every call — `applyPreDelete` included —
  * to `inner` and times it. Per micro-batch it accumulates each call
  * kind's wall time; with tracing on, each call is also a span. The batch
  * is the one the stream is running on this (driver) thread. */
final class TimedBackend(inner: SinkBackend) extends SinkBackend {

  /** batch id → call name → (calls, total µs). */
  val perBatch =
    new ConcurrentHashMap[Long, ConcurrentHashMap[String, (Long, Long)]]()

  private def timed[T](name: String)(body: => T): T = {
    val batch = TimedBackend.currentBatch()
    val t0 = Trace.nowUs()
    try body
    finally {
      val t1 = Trace.nowUs()
      perBatch.computeIfAbsent(batch, _ => new ConcurrentHashMap())
        .merge(name, (1L, t1 - t0),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      Trace.record(Trace.Span(batch, Trace.Layer.Call, s"sink.$name", t0, t1))
    }
  }

  override def bootstrap(cfg: GraftConfig,
                         fileIndexes: Seq[(String, String)]): Unit =
    timed("bootstrap")(inner.bootstrap(cfg, fileIndexes))
  override def bulkUpsert(docs: DataFrame): Unit =
    timed("bulk_upsert")(inner.bulkUpsert(docs))
  override def delete(deletes: DataFrame): Unit =
    timed("delete")(inner.delete(deletes))
  override def dropIndexes(drops: DataFrame): Unit =
    timed("drop_indexes")(inner.dropIndexes(drops))
  override def appendHistory(history: DataFrame): Unit =
    timed("append_history")(inner.appendHistory(history))
  override def quarantine(rejects: DataFrame): Unit =
    timed("quarantine")(inner.quarantine(rejects))
  override def sinkState(spark: SparkSession): DataFrame =
    timed("sink_state")(inner.sinkState(spark))
  override def applyPreDelete(quarantineRows: Option[DataFrame],
                              history: Option[DataFrame],
                              drops: DataFrame,
                              upserts: DataFrame): Unit =
    timed("pre_delete")(
      inner.applyPreDelete(quarantineRows, history, drops, upserts))
}

object TimedBackend {
  /** The micro-batch the calling driver thread is running, or -1. */
  def currentBatch(): Long =
    Option(org.apache.spark.SparkContext.getOrCreate()
        .getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(-1L)
}
