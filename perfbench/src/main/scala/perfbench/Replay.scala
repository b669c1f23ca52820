package perfbench

import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import graft.source.{ChangeEvent, SourceBatch, SourceTransport}

/** The benchmark's replayable in-memory change stream. The log is fixed
  * up front; `released` is how much of it the "database" has produced so
  * far. A poll from token `t` (the log position after the op that ended
  * the previous poll) returns up to `maxDocs` released ops, so replaying a
  * token gives the same ops — the `SourceTransport` contract.
  *
  * Each poll is timed and counted; a poll span goes to the trace with the
  * batch unresolved (-1) and is attributed later by the position it
  * returned, which is the micro-batch's end offset. */
final class Replay(log: IndexedSeq[ChangeEvent]) extends SourceTransport {

  private val releasedN = new AtomicInteger(0)

  def released: Int = releasedN.get()

  def release(upTo: Int): Unit =
    releasedN.accumulateAndGet(math.min(upTo, log.size), math.max(_, _))

  def releaseAll(): Unit = release(log.size)

  val polls = new LongAdder
  val rowsPolled = new LongAdder

  /** (end position, poll duration µs, ops released but not yet polled
    * when the poll started) for every poll. */
  val pollLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int)]()

  override def poll(resumeToken: Option[String], maxDocs: Int): SourceBatch = {
    val t0 = Trace.nowUs()
    val from = resumeToken.map(_.toInt).getOrElse(0)
    val avail = released
    val until = math.max(from, math.min(avail, from + maxDocs))
    val events: Seq[ChangeEvent] = log.slice(from, until)
    val t1 = Trace.nowUs()
    polls.increment()
    rowsPolled.add((until - from).toLong)
    pollLog.add((until, t1 - t0, avail - from))
    Trace.record(Trace.Span(-1L, Trace.Layer.Phase, s"poll@$until", t0, t1))
    SourceBatch(events, until.toString)
  }
}
