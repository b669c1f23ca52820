package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Quantiles

/** [[Quantiles]] — order statistics from an additive histogram, no
  * global sort. Pins the bucket semantics on a hand-computable fixture,
  * the histogram's additive roll-forward, and the quarantine of
  * unscorable rows. */
class QuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // source "a": scores 1..8 (bins 1..8 at width 1); "b": all equal
  private def docs = {
    import spark.implicits._
    ((1 to 8).map(i => (i.toLong, "a", i.toLong)) ++
      (1 to 4).map(i => (100L + i, "b", 5L)))
      .toDF("doc_id", "source", "score")
  }

  test("quartile buckets split a uniform source evenly; a constant source is one bucket") {
    val hist = Quantiles.scoreHistogram(docs, col("score"), 1)
    val thr = Quantiles.binThresholds(hist, 4)
    val out = Quantiles.withQuantileBucket(docs, thr, col("score"), 1)
      .select("doc_id", "q_bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // source a, 8 docs into quartiles: edges at bins 2, 4, 6
    assert((1 to 8).map(i => out(i.toLong)) ==
      Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L))
    // source b: every doc in the edge bin stays in bucket 1
    assert((1 to 4).forall(i => out(100L + i) == 1L))
  }

  test("histograms merge additively: merged thresholds == full-corpus thresholds") {
    import spark.implicits._
    val (b1, b2) = (docs.filter(col("doc_id") <= 4),
      docs.filter(col("doc_id") > 4))
    val merged = Quantiles.mergeHistograms(
      Quantiles.scoreHistogram(b1, col("score"), 1),
      Quantiles.scoreHistogram(b2, col("score"), 1))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    assert(rows(merged) ==
      rows(Quantiles.scoreHistogram(docs, col("score"), 1)))
    assert(rows(Quantiles.binThresholds(merged, 4)) ==
      rows(Quantiles.binThresholds(
        Quantiles.scoreHistogram(docs, col("score"), 1), 4)))
  }

  test("a source unknown to the thresholds keeps its rows, bucket NULL") {
    import spark.implicits._
    // the incremental-flow hazard: batch 2 brings a source the persisted
    // histogram has never seen — its docs must stay visible (bucket
    // NULL), not silently vanish in the join
    val thr = Quantiles.binThresholds(
      Quantiles.scoreHistogram(docs, col("score"), 1), 4)
    val newSource = Seq((500L, "c", 3L)).toDF("doc_id", "source", "score")
    val out = Quantiles.withQuantileBucket(
      docs.unionByName(newSource), thr, col("score"), 1)
    val row = out.filter(col("doc_id") === 500L)
      .select("q_bucket").collect()
    assert(row.length == 1 && row.head.isNullAt(0))
  }

  test("streamed histogram folds across a checkpoint resume equal full-corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val histDir = java.nio.file.Files
      .createTempDirectory("graft-sq-state").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sq-ckpt").toString
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val (b1, b2) = rows.splitAt(6)

    val s1 = MemoryStream[(Long, String, Long)]
    s1.addData(b1)
    def start(src: MemoryStream[(Long, String, Long)]) =
      graft.streaming.StreamingAdditiveCensus.start(
        src.toDF().toDF("doc_id", "source", "score"), histDir, ckpt,
        censusOf = Quantiles.scoreHistogram(_, col("score"), 1),
        keyCols = Seq("source", "bin"))
    start(s1).awaitTermination()
    // "crash": same checkpoint, b1 not replayed
    val s2 = MemoryStream[(Long, String, Long)]
    s2.addData(b1)
    s2.addData(b2)
    start(s2).awaitTermination()

    def rset(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingAdditiveCensus
      .latest(spark, histDir).getOrElse(fail("no histogram"))
    assert(rset(streamed) ==
      rset(Quantiles.scoreHistogram(docs, col("score"), 1)))
    // thresholds derived from the artifact == full-corpus thresholds
    assert(rset(Quantiles.binThresholds(streamed, 4)) ==
      rset(Quantiles.binThresholds(
        Quantiles.scoreHistogram(docs, col("score"), 1), 4)))
  }

  test("NULL scores quarantine into bin NULL and never reach buckets") {
    import spark.implicits._
    val withNull = docs.unionByName(
      Seq((999L, "a")).toDF("doc_id", "source")
        .withColumn("score", lit(null).cast("long")))
    val hist = Quantiles.scoreHistogram(withNull, col("score"), 1)
    assert(hist.filter(col("bin").isNull).head().getLong(2) == 1L)
    val out = Quantiles.withQuantileBucket(withNull,
      Quantiles.binThresholds(hist, 4), col("score"), 1)
    assert(!out.select("doc_id").collect().map(_.getLong(0)).contains(999L))
  }
}
