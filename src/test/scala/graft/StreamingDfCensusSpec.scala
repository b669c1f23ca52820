package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Features
import graft.streaming.StreamingAdditiveCensus

/** The document-frequency census ([[Features.dfCensusWithCount]] on
  * `wh`) through the generic [[StreamingAdditiveCensus]] fold:
  * per-micro-batch folds into the versioned chain equal the one-shot
  * census (doc count
  * included, via the NULL-key sentinel), the checkpoint + versioned
  * state survive kill + resume without double-counting, the bucketed
  * form rewrites only touched buckets, and a streamed census drives
  * incremental TF-IDF featurization to the exact full-union answer
  * (the q118 identity). */
class StreamingDfCensusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // "a" in 3 docs, "b" in 2, the rest in 1
  private val docRows = Seq(
    (1L, "a b c"),
    (2L, "a d"),
    (3L, "a b e"),
    (4L, "f"))

  private def censusSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Long)].collect()
      .map { case (wh, df_) => Option(wh) -> df_ }.toSet

  private def startDf(src: MemoryStream[(Long, String)], censusDir: String,
                      ckpt: String, trigger: Trigger = Trigger.AvailableNow()) =
    StreamingAdditiveCensus.start(src.toDF().toDF("doc_id", "text"),
      censusDir, ckpt, censusOf = Features.dfCensusWithCount(_),
      keyCols = Seq("wh"), trigger = trigger)

  private def oneShot =
    Features.dfCensusWithCount(docRows.toDF("doc_id", "text"))

  test("streamed census folds equal the one-shot census, count included") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-dfcensus-state").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-dfcensus-ckpt").toString
    val src = MemoryStream[(Long, String)]
    val q = startDf(src, censusDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    src.addData(docRows.take(2))
    q.processAllAvailable()
    src.addData(docRows.drop(2))
    q.processAllAvailable()
    q.stop()

    val streamed = StreamingAdditiveCensus.latest(spark, censusDir).get
    assert(censusSet(streamed) == censusSet(oneShot))
    val (census, n) = Features.censusParts(streamed)
    assert(n === 4L)
    assert(census.filter(org.apache.spark.sql.functions.col("wh").isNull)
      .count() === 0L)
  }

  test("kill + resume continues the census without double-counting") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-dfcensus-state2").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-dfcensus-ckpt2").toString

    val src1 = MemoryStream[(Long, String)]
    src1.addData(docRows.take(2))
    val q1 = startDf(src1, censusDir, ckpt)
    q1.processAllAvailable()
    q1.stop()

    // new source on the same checkpoint re-serves the committed prefix:
    // offsets skip it, and the versioned state keeps batch 0's fold
    val src2 = MemoryStream[(Long, String)]
    src2.addData(docRows.take(2))
    src2.addData(docRows.drop(2))
    val q2 = startDf(src2, censusDir, ckpt)
    q2.processAllAvailable()
    q2.stop()

    assert(censusSet(StreamingAdditiveCensus.latest(spark, censusDir).get)
      == censusSet(oneShot))
  }

  test("bucketed census: equal to global, only touched buckets rewrite") {
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-dfcensus-bkt").toString
    def fold(rows: Seq[(Long, String)], batchId: Long): Unit =
      StreamingAdditiveCensus.mergeBatchBucketed(
        Features.dfCensusWithCount(rows.toDF("doc_id", "text")), batchId,
        censusDir, numBuckets = 8, bucketKey = "wh", keyCols = Seq("wh"))
    fold(docRows.take(2), 0L)
    fold(docRows.drop(2), 1L)
    val bucketed = censusSet(
      StreamingAdditiveCensus.latestBucketed(spark, censusDir).get)
    assert(bucketed == censusSet(oneShot))
    // replay idempotence per bucket
    fold(docRows.drop(2), 1L)
    assert(censusSet(
      StreamingAdditiveCensus.latestBucketed(spark, censusDir).get)
      == bucketed)
    // only-touched-buckets: a one-word batch touches at most two buckets
    // (its word's and the sentinel's) — not all eight
    fold(Seq((99L, "zz")), 2L)
    val root = new java.io.File(censusDir)
    val withV2 = root.listFiles().filter(_.getName.startsWith("b"))
      .filter(d => new java.io.File(d, "v2").exists())
    assert(withV2.length <= 2,
      s"expected at most two buckets to rewrite, got ${withV2.length}")
  }

  test("streamed census drives incremental tf-idf to the full-union answer") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-dfcensus-q118").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-dfcensus-q118-ckpt").toString
    val src = MemoryStream[(Long, String)]
    src.addData(docRows.take(2))
    src.addData(docRows.drop(2))
    val q = startDf(src, censusDir, ckpt)
    q.processAllAvailable()
    q.stop()

    val b2 = Seq(11L -> "a b zz", 12L -> "f").toDF("doc_id", "text")
    val (artifact, nOld) = Features.censusParts(
      StreamingAdditiveCensus.latest(spark, censusDir).get)
    val merged = Features.mergeDfCensus(artifact, Features.dfCensus(b2))
    val inc = Features.hashedTfIdfVectors(b2, merged, nDocs = nOld + 2L,
        dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

    val union = docRows.toDF("doc_id", "text").unionByName(b2)
    val full = Features.hashedTfIdfVectors(union, Features.dfCensus(union),
        nDocs = 6L, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(inc === full.view.filterKeys(_ >= 11L).toMap)
  }
}
