package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
import graft.streaming.{StreamingAdditiveCensus, StreamingSpanCensus}

/** The span census ([[Dedup.spanCensus]] on `g`) through the generic
  * [[StreamingAdditiveCensus]] fold, and the [[StreamingSpanCensus]]
  * cut stream: per-micro-batch folds into the
  * versioned census chain equal the one-shot batch census, the
  * checkpoint + versioned state survive kill + resume without
  * double-counting, the bucketed form rewrites only touched buckets,
  * and a streamed census drives [[Dedup.dupSpanStatsIncremental]] to
  * the exact full-corpus answer (the q108 identity). k=4 keeps window
  * counts hand-computable (DupSpanSpec's convention). */
class StreamingSpanCensusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // docs 1/2 share the w-prefix grams; 3 is fresh; 4 repeats doc 1
  private val docRows = Seq(
    (1L, "w1 w2 w3 w4 w5 w6"),
    (2L, "w1 w2 w3 w4 x5 x6"),
    (3L, "f1 f2 f3 f4 f5"),
    (4L, "w1 w2 w3 w4 w5 w6"))

  private def censusSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Long)].collect().toSet

  private def startSpan(src: MemoryStream[(Long, String)], censusDir: String,
                        ckpt: String,
                        onCensus: (DataFrame, Long) => Unit = (_, _) => (),
                        trigger: Trigger = Trigger.AvailableNow()) =
    StreamingAdditiveCensus.start(src.toDF().toDF("doc_id", "text"),
      censusDir, ckpt, censusOf = Dedup.spanCensus(_, k = 4),
      keyCols = Seq("g"), onCensus = onCensus, trigger = trigger)

  private def oneShot = Dedup.spanCensus(docRows.toDF("doc_id", "text"), k = 4)

  test("streamed census folds equal the one-shot batch census") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-spancensus-state").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-spancensus-ckpt").toString
    var lastBatch = -1L
    val src = MemoryStream[(Long, String)]
    val q = startSpan(src, censusDir, ckpt,
      onCensus = (_, b) => lastBatch = b,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    src.addData(docRows.take(2))
    q.processAllAvailable()
    src.addData(docRows.drop(2))
    q.processAllAvailable()
    q.stop()

    val streamed = censusSet(
      StreamingAdditiveCensus.latest(spark, censusDir).get)
    assert(streamed == censusSet(oneShot))
    assert(lastBatch >= 1L)
    // the shared w1..w4 gram counts its three distinct carrier docs
    assert(streamed.map(_._2).max == 3L)
  }

  test("kill + resume continues the census without double-counting") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-spancensus-state2").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-spancensus-ckpt2").toString

    val src1 = MemoryStream[(Long, String)]
    src1.addData(docRows.take(2))
    val q1 = startSpan(src1, censusDir, ckpt)
    q1.processAllAvailable()
    q1.stop()

    // new source on the same checkpoint re-serves the committed prefix:
    // offsets skip it, and the versioned state keeps batch 0's fold
    val src2 = MemoryStream[(Long, String)]
    src2.addData(docRows.take(2))
    src2.addData(docRows.drop(2))
    val q2 = startSpan(src2, censusDir, ckpt)
    q2.processAllAvailable()
    q2.stop()

    assert(censusSet(
      StreamingAdditiveCensus.latest(spark, censusDir).get)
      == censusSet(oneShot))
  }

  test("bucketed census: equal to global, only touched buckets rewrite") {
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-spancensus-bkt").toString
    def fold(rows: Seq[(Long, String)], batchId: Long): Unit =
      CacheBarriers.withScope {
        StreamingAdditiveCensus.mergeBatchBucketed(
          Dedup.spanCensus(rows.toDF("doc_id", "text"), k = 4), batchId,
          censusDir, numBuckets = 8, bucketKey = "g", keyCols = Seq("g"))
      }
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
    // only-touched-buckets: a one-window batch hashes into exactly one
    // bucket — no other bucket directory gains a v2 version
    fold(Seq((99L, "z1 z2 z3 z4")), 2L)
    val root = new java.io.File(censusDir)
    val withV2 = root.listFiles().filter(_.getName.startsWith("b"))
      .filter(d => new java.io.File(d, "v2").exists())
    assert(withV2.length == 1,
      s"expected exactly one bucket to rewrite, got ${withV2.length}")
  }

  test("streamed census drives incremental span stats to the full answer") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-spancensus-q108").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-spancensus-q108-ckpt").toString
    val src = MemoryStream[(Long, String)]
    src.addData(docRows.take(2))
    src.addData(docRows.drop(2))
    val q = startSpan(src, censusDir, ckpt)
    q.processAllAvailable()
    q.stop()

    // 11 = exact dup of streamed doc 1; 12 fresh
    val b2 = Seq(11L -> "w1 w2 w3 w4 w5 w6", 12L -> "g1 g2 g3 g4 g5")
      .toDF("doc_id", "text")
    val (inc, _) = Dedup.dupSpanStatsIncremental(b2,
      StreamingAdditiveCensus.latest(spark, censusDir).get, k = 4)
    val incM = inc.collect().map(r => r.getLong(0) -> ((r.getLong(1),
      r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val full = Dedup.dupSpanStats(
      docRows.toDF("doc_id", "text").unionByName(b2), k = 4)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 11L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(incM === full)
    assert(incM(11L) === ((3L, 3L, 1000000L, false)))
    assert(incM(12L)._2 === 0L)
  }

  test("startCut: each batch's cut matches its prefix-union verdict") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-spancut-state").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-spancut-ckpt").toString
    val cuts = scala.collection.mutable.Map[Long, (String, Long)]()
    val src = MemoryStream[(Long, String)]
    val q = StreamingSpanCensus.startCut(
      src.toDF().toDF("doc_id", "text"), censusDir, ckpt,
      onCut = (df, _) => df.collect().foreach(r =>
        cuts(r.getLong(0)) = (r.getString(1), r.getLong(3))),
      k = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    src.addData(docRows.take(2))
    q.processAllAvailable()
    src.addData(docRows.drop(2))
    q.processAllAvailable()
    q.stop()

    // batch 0 (docs 1, 2 share only the w1..w4 window): both cut their
    // first 4 words
    assert(cuts(1L) === (("w5 w6", 4L)))
    assert(cuts(2L) === (("x5 x6", 4L)))
    // batch 1: doc 4 repeats streamed doc 1 -> cut whole; doc 3 fresh
    assert(cuts(4L) === (("", 6L)))
    assert(cuts(3L) === (("f1 f2 f3 f4 f5", 0L)))
    // and the census chain kept folding: it now equals the one-shot
    assert(censusSet(
      StreamingAdditiveCensus.latest(spark, censusDir).get)
      == censusSet(oneShot))
  }

  test("startCut kill + resume: cuts and census survive without drift") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-spancut-state2").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-spancut-ckpt2").toString
    val cuts = scala.collection.mutable.Map[Long, String]()
    def run(src: MemoryStream[(Long, String)]) = StreamingSpanCensus.startCut(
      src.toDF().toDF("doc_id", "text"), censusDir, ckpt,
      onCut = (df, _) => df.collect().foreach(r =>
        cuts(r.getLong(0)) = r.getString(1)),
      k = 4)
    val src1 = MemoryStream[(Long, String)]
    src1.addData(docRows.take(2))
    val q1 = run(src1)
    q1.processAllAvailable()
    q1.stop()
    val src2 = MemoryStream[(Long, String)]
    src2.addData(docRows.take(2))
    src2.addData(docRows.drop(2))
    val q2 = run(src2)
    q2.processAllAvailable()
    q2.stop()

    assert(cuts === Map(1L -> "w5 w6", 2L -> "x5 x6",
      3L -> "f1 f2 f3 f4 f5", 4L -> ""))
    assert(censusSet(
      StreamingAdditiveCensus.latest(spark, censusDir).get)
      == censusSet(oneShot))
  }

  test("a multi-batch span-census stream leaves no cached blocks behind") {
    implicit val sqlCtx = spark.sqlContext
    val censusDir = java.nio.file.Files
      .createTempDirectory("graft-spancensus-scope").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-spancensus-scope-ckpt").toString
    CacheBarriers.releaseAll()
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val src = MemoryStream[(Long, String)]
    val q = startSpan(src, censusDir, ckpt,
      onCensus = (df, _) => { df.collect(); () },
      trigger = Trigger.ProcessingTime(0L))
    try docRows.grouped(1).take(3).foreach { chunk => // three batches
      src.addData(chunk)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    val left = sc.getRDDStorageInfo.filterNot(r => before(r.id))
    assert(left.isEmpty, s"blocks left: ${left.mkString(", ")}")
    assert(CacheBarriers.releaseAll() == 0)
  }
}
