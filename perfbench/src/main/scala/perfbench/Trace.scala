package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span is one timed
  * crossing into a layer: a micro-batch, its `addBatch`, a sink backend
  * call, a mock-ES bulk call, a source poll or a Spark job. Every span
  * carries the id of the micro-batch it belongs to; the tree is implied
  * by layer and time (a span's children are the next layer's spans of
  * the same batch that start inside it), so recording needs no context
  * passing across driver and executor threads.
  *
  * Times are wall-clock epoch microseconds, the clock Spark's progress
  * events and job events use too. */
object Trace {

  /** Layer depth: batch → addBatch → backend call → bulk call; polls sit
    * under the batch, jobs under addBatch. */
  object Layer {
    val Batch = 0
    val Phase = 1
    val Call = 2
    val Bulk = 3
  }

  final case class Span(batch: Long, layer: Int, name: String,
                        startUs: Long, endUs: Long) {
    def durUs: Long = endUs - startUs
  }

  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Everything recorded since the last drain. */
  def drain(): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result()
  }

  /** Length of the union of `intervals`, each clipped to `[lo, hi)`. */
  def unionUs(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The children of `parent` among `spans`: the next layer's spans of
    * the same batch that start inside it. */
  def children(parent: Span, spans: Seq[Span]): Seq[Span] =
    spans.filter(c => c.batch == parent.batch &&
      c.layer == parent.layer + 1 &&
      c.startUs >= parent.startUs && c.startUs < parent.endUs)

  /** Time covered by `parent`'s children (their union, clipped to the
    * parent), and the parent's self time; the two sum to its duration. */
  def childUs(parent: Span, spans: Seq[Span]): Long =
    unionUs(parent.startUs, parent.endUs,
      children(parent, spans).map(c => (c.startUs, c.endUs)))

  def selfUs(parent: Span, spans: Seq[Span]): Long =
    parent.durUs - childUs(parent, spans)

  /** One JSON object per span, with its self time; `rounds` holds each
    * daemon run's spans (batch ids restart with every run). */
  def write(path: java.nio.file.Path, rounds: Seq[Seq[Span]]): Unit = {
    val lines = rounds.zipWithIndex.flatMap { case (spans, round) =>
      spans.sortBy(s => (s.batch, s.startUs, s.layer)).map { s =>
        val esc = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"round":$round,"batch":${s.batch},"layer":${s.layer},""" +
          s""""name":"$esc","start_us":${s.startUs},"end_us":${s.endUs},""" +
          s""""self_us":${selfUs(s, spans)}}"""
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
