package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity
import graft.streaming.StreamingAdditiveCensus

/** The additive centroid artifact ([[Similarity.labelCentroidSums]] on
  * `(label, pos)`) maintained continuously through
  * [[StreamingAdditiveCensus]]. Streamed folds (with a checkpoint-resume boundary) must
  * equal the full-corpus sums exactly, and scoring a batch against the
  * rolled-forward artifact must equal the full-corpus scoring. */
class StreamingCentroidSumsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val b1 = Seq((1L, 0L, Array(1.0, 0.0)), (2L, 0L, Array(0.9, 0.1)),
    (10L, 1L, Array(0.0, 1.0)))
  private val b2 = Seq((3L, 0L, Array(-1.0, 0.0)), (11L, 1L, Array(0.0, 0.8)))
  private val b3 = Seq((4L, 2L, Array(0.5, 0.5)))

  private def df(rows: Seq[(Long, Long, Array[Double])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "embedding")
  }

  private val keys = Seq("label", "pos")

  private def startSums(src: MemoryStream[(Long, Long, Array[Double])],
                        sumsDir: String, ckpt: String) =
    StreamingAdditiveCensus.start(
      src.toDF().toDF("vec_id", "label", "embedding"), sumsDir, ckpt,
      censusOf = Similarity.labelCentroidSums(_), keyCols = keys)

  test("streamed folds across a checkpoint resume equal full-corpus sums") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sumsDir = Files.createTempDirectory("graft-scs-state").toString
    val ckpt = Files.createTempDirectory("graft-scs-ckpt").toString

    val s1 = MemoryStream[(Long, Long, Array[Double])]
    s1.addData(b1)
    startSums(s1, sumsDir, ckpt).awaitTermination()

    // "crash": new query, same checkpoint — b1 is not replayed
    val s2 = MemoryStream[(Long, Long, Array[Double])]
    s2.addData(b1)
    s2.addData(b2)
    s2.addData(b3)
    startSums(s2, sumsDir, ckpt).awaitTermination()

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    val streamed = StreamingAdditiveCensus.latest(spark, sumsDir)
      .getOrElse(fail("no committed sums"))
    val full = Similarity.labelCentroidSums(df(b1 ++ b2 ++ b3))
    assert(rows(streamed) == rows(full) && rows(full).nonEmpty)

    // scoring the last batch against the artifact == full-corpus scoring
    val incr = StreamingAdditiveCensus.latest(spark, sumsDir).get
    val got = Similarity.scoreAgainstCentroidSums(df(b3), incr, minCos = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val want = Similarity.labelCentroidOutliers(df(b1 ++ b2 ++ b3),
        minCos = 0.5)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 4L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("a replayed batch recomputes its version, never double-merges") {
    val sumsDir = Files.createTempDirectory("graft-scs-state2").toString
    def fold(rows: Seq[(Long, Long, Array[Double])], batchId: Long): Unit =
      StreamingAdditiveCensus.mergeBatch(Similarity.labelCentroidSums(df(rows)),
        batchId, sumsDir, keys)
    fold(b1, 0L)
    fold(b2, 1L)
    def rows() = StreamingAdditiveCensus.latest(spark, sumsDir).get
      .collect().map(_.toSeq).toSet
    val before = rows()
    fold(b2, 1L) // replay
    assert(rows() == before)
  }
}
