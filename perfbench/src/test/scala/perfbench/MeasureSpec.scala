package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: lags and span accounting. */
class MeasureSpec extends AnyFunSuite {

  private def batch(id: Long, startMs: Long, trigger: Long, end: Int) =
    BatchRec("q", id, startMs, Map("triggerExecution" -> trigger,
      "addBatch" -> (trigger - 10)), Some(end))

  test("lag runs from the due time, so generator lateness is charged") {
    // ops 0-3 due at 1000 ms; the generator released ops 2-3 late, at
    // 1400 ms, so they missed batch 0 and rode batch 1
    val batches = Seq(batch(0, 1100, 200, 2), batch(1, 1500, 300, 4))
    val lags = Stats.lags(batches, 0, 4, _ => 1000.0)
    assert(lags == Vector(300.0, 300.0, 800.0, 800.0))
  }

  test("an op is covered by the first batch whose end lies past it") {
    val batches = Seq(batch(1, 2000, 100, 5), batch(0, 1000, 100, 3))
    assert(Stats.lags(batches, 0, 5, _ => 0.0) ==
      Vector(1100.0, 1100.0, 1100.0, 2100.0, 2100.0))
  }

  test("span self time plus child time equals the span's duration") {
    import Trace.{Layer, Span}
    val parent = Span(4, Layer.Phase, "addBatch", 1000, 2000)
    val spans = Seq(parent,
      Span(4, Layer.Call, "sink.pre_delete", 1100, 1400),
      Span(4, Layer.Call, "job.1", 1300, 1500), // overlaps the call
      Span(4, Layer.Call, "sink.delete", 1900, 2300), // runs past the end
      Span(5, Layer.Call, "other batch", 1200, 1300),
      Span(4, Layer.Bulk, "es.bulk", 1150, 1200)) // a grandchild
    val child = Trace.childUs(parent, spans)
    assert(child == 400 + 100)
    assert(Trace.selfUs(parent, spans) + child == parent.durUs)
    spans.foreach(s =>
      assert(Trace.selfUs(s, spans) + Trace.childUs(s, spans) == s.durUs))
  }

  test("union of intervals merges overlaps and clips to the window") {
    assert(Trace.unionUs(0, 100, Seq((10, 20), (15, 30), (50, 60))) == 30)
    assert(Trace.unionUs(0, 100, Seq((-50, 10), (90, 150))) == 20)
    assert(Trace.unionUs(0, 100, Nil) == 0)
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.75) == 7.5)
    assert(Stats.quantile(Nil, 0.5).isNaN)
  }
}
