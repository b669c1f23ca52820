package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
import graft.streaming.StreamingAdditiveCensus

/** The line census ([[Dedup.lineCensus]] on `lh`) through the generic
  * [[StreamingAdditiveCensus]] fold: per-micro-batch folds into the
  * versioned census chain equal the one-shot batch census, and the
  * checkpoint + versioned state survive kill + resume without
  * double-counting. */
class StreamingLineCensusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Boiler = "subscribe to the newsletter today"
  private val docRows = Seq(
    (1L, s"alpha content one\n$Boiler"),
    (2L, s"$Boiler\nbeta content two"),
    (3L, s"gamma content three\n$Boiler"),
    (4L, "delta original content\nalpha content one"))

  private def censusSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Long)].collect().toSet

  private def startLine(src: MemoryStream[(Long, String)], censusDir: String,
                        ckpt: String,
                        onCensus: (DataFrame, Long) => Unit = (_, _) => (),
                        trigger: Trigger = Trigger.AvailableNow()) =
    StreamingAdditiveCensus.start(src.toDF().toDF("doc_id", "text"),
      censusDir, ckpt, censusOf = Dedup.lineCensus(_), keyCols = Seq("lh"),
      onCensus = onCensus, trigger = trigger)

  test("streamed census folds equal the one-shot batch census") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-linecensus-state").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-linecensus-ckpt").toString
    var lastBatch = -1L
    val src = MemoryStream[(Long, String)]
    val q = startLine(src, censusDir, ckpt,
      onCensus = (_, b) => lastBatch = b,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    src.addData(docRows.take(2))
    q.processAllAvailable()
    src.addData(docRows.drop(2))
    q.processAllAvailable()
    q.stop()

    val streamed = censusSet(
      StreamingAdditiveCensus.latest(spark, censusDir).get)
    val oneShot = censusSet(Dedup.lineCensus(docRows.toDF("doc_id", "text")))
    assert(streamed == oneShot)
    assert(lastBatch >= 1L)
    // the boilerplate line counts its three distinct carrier docs
    assert(streamed.map(_._2).max == 3L)
  }

  test("kill + resume continues the census without double-counting") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-linecensus-state2").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-linecensus-ckpt2").toString

    val src1 = MemoryStream[(Long, String)]
    src1.addData(docRows.take(2))
    val q1 = startLine(src1, censusDir, ckpt)
    q1.processAllAvailable()
    q1.stop()

    // new source on the same checkpoint re-serves the committed prefix:
    // offsets skip it, and the versioned state keeps batch 0's fold
    val src2 = MemoryStream[(Long, String)]
    src2.addData(docRows.take(2))
    src2.addData(docRows.drop(2))
    val q2 = startLine(src2, censusDir, ckpt)
    q2.processAllAvailable()
    q2.stop()

    val streamed = censusSet(
      StreamingAdditiveCensus.latest(spark, censusDir).get)
    assert(streamed ==
      censusSet(Dedup.lineCensus(docRows.toDF("doc_id", "text"))))
  }

  test("bucketed census: equal to global, only touched buckets rewrite") {
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-linecensus-bkt").toString
    def fold(rows: Seq[(Long, String)], batchId: Long): Unit =
      StreamingAdditiveCensus.mergeBatchBucketed(
        Dedup.lineCensus(rows.toDF("doc_id", "text")), batchId, censusDir,
        numBuckets = 8, bucketKey = "lh", keyCols = Seq("lh"))
    fold(docRows.take(2), 0L)
    fold(docRows.drop(2), 1L)
    val bucketed = censusSet(
      StreamingAdditiveCensus.latestBucketed(spark, censusDir).get)
    assert(bucketed ==
      censusSet(Dedup.lineCensus(docRows.toDF("doc_id", "text"))))
    // replay idempotence per bucket
    fold(docRows.drop(2), 1L)
    assert(censusSet(
      StreamingAdditiveCensus.latestBucketed(spark, censusDir).get)
      == bucketed)
    // only-touched-buckets: a single-line batch hashes into exactly one
    // bucket — no other bucket directory gains a v2 version
    fold(Seq((99L, "a single fresh line of text")), 2L)
    val root = new java.io.File(censusDir)
    val withV2 = root.listFiles().filter(_.getName.startsWith("b"))
      .filter(d => new java.io.File(d, "v2").exists())
    assert(withV2.length == 1,
      s"expected exactly one bucket to rewrite, got ${withV2.length}")
    assert(censusSet(
      StreamingAdditiveCensus.latestBucketed(spark, censusDir).get)
      .exists(_._1.nonEmpty))
  }
}
