package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.TaskContext

import graft.sink.EsTransport

/** In-process stand-in for an Elasticsearch cluster with the semantics
  * the engine's `EsSinkBackend` relies on:
  *
  *  - `index` with `version_type: external` answers 409 when the stored
  *    version is at or above the new one, else stores the document;
  *  - `index` without a version overwrites (history and rejects);
  *  - a versioned `delete` answers 404 for an absent document, 409 when
  *    the stored version is at or above the delete's, else removes it;
  *  - `deleteIndex` removes an exact index or a `prefix*` pattern.
  *
  * The transport is serialized into `foreachPartition` closures, so it
  * carries only a name; the cluster it names lives in a JVM-global
  * registry (executors run in the driver JVM under `local[N]`). The
  * cluster also counts what crosses into it and times its own work, so
  * that cost can be kept out of the engine's self times. */
object MockEs {

  final case class Doc(version: Long, routing: String, source: String,
                       versioned: Boolean)

  final class Cluster(val indexNamespace: String => String) {
    /** (index, id) → document. */
    val docs = new ConcurrentHashMap[(String, String), Doc]()
    val bulkCalls = new LongAdder
    val actions = new LongAdder
    val payloadBytes = new LongAdder
    val conflicts = new LongAdder
    val notFound = new LongAdder
    val mockNs = new LongAdder
    /** Rows returned by each `scanState` call. */
    val scanLog = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    /** Index actions per index kind, and deletes. */
    val byKind = new ConcurrentHashMap[String, LongAdder]()

    def count(kind: String): Long =
      Option(byKind.get(kind)).map(_.sum()).getOrElse(0L)

    private def bump(kind: String): Unit =
      byKind.computeIfAbsent(kind, _ => new LongAdder).increment()

    /** Seed a document directly (the pre-loaded index of the tail run). */
    def put(index: String, id: String, d: Doc): Unit = docs.put((index, id), d)

    def snapshot(): Map[(String, String), Doc] = docs.asScala.toMap

    def copy(): Cluster = {
      val c = new Cluster(indexNamespace)
      c.docs.putAll(docs)
      c
    }

    def bulk(payload: String): Seq[Int] = {
      val t0 = System.nanoTime()
      val lines = payload.split('\n')
      val out = Vector.newBuilder[Int]
      var i = 0
      while (i < lines.length) {
        if (lines(i).nonEmpty) {
          val action = Json.readTree(lines(i))
          val (op, meta) = {
            val f = action.fields().next()
            (f.getKey, f.getValue)
          }
          val index = meta.get("_index").asText()
          val id = meta.get("_id").asText()
          val routing = Option(meta.get("routing")).map(_.asText()).orNull
          val version = Option(meta.get("version")).map(_.asLong())
          op match {
            case "index" =>
              val source = lines(i + 1)
              i += 1
              bump(kindOf(index, version.isDefined))
              out += indexDoc(index, id, routing, version, source)
            case "delete" =>
              bump("delete")
              out += delete(index, id, version)
            case other =>
              throw new IllegalArgumentException(s"mock es: bulk op $other")
          }
          actions.increment()
        }
        i += 1
      }
      bulkCalls.increment()
      payloadBytes.add(payload.length.toLong)
      val res = out.result()
      val took = System.nanoTime() - t0
      mockNs.add(took)
      if (Trace.on) {
        val end = Trace.nowUs()
        Trace.record(Trace.Span(batchOfTask(), Trace.Layer.Bulk, "es.bulk",
          end - took / 1000, end))
      }
      res
    }

    private def indexDoc(index: String, id: String, routing: String,
                         version: Option[Long], source: String): Int = {
      var status = 201
      docs.compute((index, id), (_, old) => version match {
        case Some(v) if old != null && old.version >= v =>
          status = 409; old
        case Some(v) => Doc(v, routing, source, versioned = true)
        case None => Doc(-1L, routing, source, versioned = false)
      })
      if (status == 409) conflicts.increment()
      status
    }

    private def delete(index: String, id: String,
                       version: Option[Long]): Int = {
      var status = 200
      docs.compute((index, id), (_, old) =>
        if (old == null) { status = 404; null }
        else if (version.exists(_ <= old.version)) { status = 409; old }
        else null)
      if (status == 409) conflicts.increment()
      if (status == 404) notFound.increment()
      status
    }

    def deleteIndex(pattern: String): Unit = {
      val hit: String => Boolean =
        if (pattern.endsWith("*")) _.startsWith(pattern.dropRight(1))
        else _ == pattern
      docs.keySet().removeIf(k => hit(k._1))
    }

    /** The versioned documents' coordinates: what a connector read of the
      * sink indices returns (history and rejects are not sink state). */
    def scanState(): Seq[(String, String, String, String)] = {
      val rows = docs.entrySet().asScala.iterator
        .filter(_.getValue.versioned)
        .map { e =>
          val (ix, id) = e.getKey
          (indexNamespace(ix), id, ix, e.getValue.routing)
        }.toVector
      scanLog.add(rows.size)
      rows
    }
  }

  /** Index kind of an `index` action: versioned sink documents split by
    * index, unversioned ones into history and rejects. */
  val RejectsIndex = "graft.rejects"

  def kindOf(index: String, versioned: Boolean): String =
    if (index == RejectsIndex) "rejects"
    else if (!versioned) "history"
    else if (index == Topology.indexOf("app.supplier")) "suppliers"
    else "docs"

  private val Json = new ObjectMapper()

  private val registry = new ConcurrentHashMap[String, Cluster]()

  def register(name: String, c: Cluster): Unit = registry.put(name, c)

  def unregister(name: String): Unit = registry.remove(name)

  def apply(name: String): Cluster = {
    val c = registry.get(name)
    require(c != null, s"mock es: no cluster registered as '$name'")
    c
  }

  /** Micro-batch id of the running task (the stream sets it on every
    * job it runs), or -1 outside a streaming job. */
  def batchOfTask(): Long =
    Option(TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)

  def parse(json: String): JsonNode = Json.readTree(json)
}

/** The serializable transport handed to `EsSinkBackend`: a name only. */
final class MockEsTransport(name: String) extends EsTransport {
  override def bulk(payload: String): Seq[Int] = MockEs(name).bulk(payload)
  override def deleteIndex(pattern: String): Unit =
    MockEs(name).deleteIndex(pattern)
  override def putPipeline(id: String, body: String): Unit = ()
  override def scanState(): Seq[(String, String, String, String)] =
    MockEs(name).scanState()
}
