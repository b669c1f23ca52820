package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{CountMin, Features, QuantileSketch}
import graft.streaming.StreamingAdditiveCensus

/** The generic additive-census streaming twin: per-micro-batch folds of
  * the quantile bucket census and the CMS cell table into the versioned
  * chain equal their one-shot censuses, a replayed batch id recomputes
  * rather than double-counts, kill + resume survives on the checkpoint,
  * and the bucketed layout folds the corpus-keyed BM25 census to the
  * one-shot index state. */
class StreamingAdditiveCensusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docRows = Seq(
    (1L, "s0", "a b c a", 40L),
    (2L, "s0", "a d", 7L),
    (3L, "s1", "a b e b", 900L),
    (4L, "s1", "f", 3L),
    (5L, "s0", "a a a", 1000000L))

  private def docs(rows: Seq[(Long, String, String, Long)]): DataFrame =
    rows.toDF("doc_id", "source", "text", "n_chars")

  private def keyedSet(df: DataFrame, keys: Seq[String]): Set[Seq[Any]] = {
    val cols = (keys ++ df.columns.filterNot(keys.contains)).map(col)
    df.select(cols: _*).collect().map(_.toSeq).toSet
  }

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-addcensus-$tag").toString

  test("streamed quantile-sketch census equals the one-shot census") {
    implicit val sqlCtx = spark.sqlContext
    val (censusDir, ckpt) = (tmp("qs-state"), tmp("qs-ckpt"))
    val src = MemoryStream[(Long, String, String, Long)]
    val q = StreamingAdditiveCensus.start(
      src.toDF().toDF("doc_id", "source", "text", "n_chars"),
      censusDir, ckpt,
      censusOf = QuantileSketch.census(_, col("n_chars"), Seq("source")),
      keyCols = Seq("source", "code"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    src.addData(docRows.take(2))
    q.processAllAvailable()
    src.addData(docRows.drop(2))
    q.processAllAvailable()
    q.stop()

    val streamed = StreamingAdditiveCensus.latest(spark, censusDir).get
    val oneShot = QuantileSketch.census(docs(docRows), col("n_chars"), Seq("source"))
    assert(keyedSet(streamed, Seq("source", "code")) ==
      keyedSet(oneShot, Seq("source", "code")))
    // and the folded census rank-selects like the one-shot one
    assert(keyedSet(QuantileSketch.estimates(streamed, Seq("source"), Seq(50, 99)),
      Seq("source", "pct")) ==
      keyedSet(QuantileSketch.estimates(oneShot, Seq("source"), Seq(50, 99)),
        Seq("source", "pct")))
  }

  test("streamed CMS census equals the one-shot census; replay recomputes") {
    val (censusDir, _) = (tmp("cms-state"), ())
    val keys = Seq("source", "r", "c")
    def cms(rows: Seq[(Long, String, String, Long)]) =
      CountMin.wordCensus(docs(rows))
    StreamingAdditiveCensus.mergeBatch(cms(docRows.take(2)), 0L, censusDir, keys)
    StreamingAdditiveCensus.mergeBatch(cms(docRows.drop(2)), 1L, censusDir, keys)
    val folded = StreamingAdditiveCensus.latest(spark, censusDir).get
    assert(keyedSet(folded, keys) == keyedSet(cms(docRows), keys))

    // replayed batch 1 recomputes v1 from v0 — no double-count
    StreamingAdditiveCensus.mergeBatch(cms(docRows.drop(2)), 1L, censusDir, keys)
    assert(keyedSet(StreamingAdditiveCensus.latest(spark, censusDir).get, keys) ==
      keyedSet(cms(docRows), keys))

    // a batch id older than the committed head fails loudly
    intercept[IllegalArgumentException] {
      StreamingAdditiveCensus.mergeBatch(cms(docRows.take(2)), 0L, censusDir, keys)
    }
  }

  test("kill + resume on the checkpoint continues without double-counting") {
    implicit val sqlCtx = spark.sqlContext
    val (censusDir, ckpt) = (tmp("kr-state"), tmp("kr-ckpt"))
    def start(src: MemoryStream[(Long, String, String, Long)]) =
      StreamingAdditiveCensus.start(
        src.toDF().toDF("doc_id", "source", "text", "n_chars"),
        censusDir, ckpt,
        censusOf = QuantileSketch.census(_, col("n_chars"), Seq("source")),
        keyCols = Seq("source", "code"))

    val src1 = MemoryStream[(Long, String, String, Long)]
    src1.addData(docRows.take(2))
    val q1 = start(src1)
    q1.processAllAvailable()
    q1.stop()

    val src2 = MemoryStream[(Long, String, String, Long)]
    src2.addData(docRows.take(2)) // committed prefix, re-served
    src2.addData(docRows.drop(2))
    val q2 = start(src2)
    q2.processAllAvailable()
    q2.stop()

    val streamed = StreamingAdditiveCensus.latest(spark, censusDir).get
    val oneShot = QuantileSketch.census(docs(docRows), col("n_chars"), Seq("source"))
    assert(keyedSet(streamed, Seq("source", "code")) ==
      keyedSet(oneShot, Seq("source", "code")))
  }

  test("bucketed fold of the corpus-keyed BM25 census equals one-shot") {
    val censusDir = tmp("bm25-state")
    val keys = Seq("doc_id", "wh")
    def census(rows: Seq[(Long, String, String, Long)]) =
      Features.bm25Census(docs(rows))
    StreamingAdditiveCensus.mergeBatchBucketed(
      census(docRows.take(2)), 0L, censusDir, numBuckets = 4,
      bucketKey = "wh", keyCols = keys)
    StreamingAdditiveCensus.mergeBatchBucketed(
      census(docRows.drop(2)), 1L, censusDir, numBuckets = 4,
      bucketKey = "wh", keyCols = keys)
    val folded = StreamingAdditiveCensus.latestBucketed(spark, censusDir).get
    assert(keyedSet(folded.select("doc_id", "wh", "tf"), keys) ==
      keyedSet(census(docRows), keys))
    // the folded index serves retrieval identically to the one-shot index
    val probes = Seq((1L, "a b")).toDF("query_id", "qtext")
    assert(keyedSet(Features.bm25TopKFromCensus(
      folded.select("doc_id", "wh", "tf"), probes, k = 3),
      Seq("query_id")) ==
      keyedSet(Features.bm25TopKFromCensus(census(docRows), probes, k = 3),
        Seq("query_id")))
  }

  test("a census whose columns are all keys is refused by name") {
    val keyOnly = docs(docRows).select("source", "doc_id")
    val keys = Seq("source", "doc_id")
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("no count column") &&
        e.getMessage.contains("source, doc_id"), e.getMessage)
    }
    refused(StreamingAdditiveCensus.merge(keyOnly, keyOnly, keys))
    val censusDir = tmp("keyonly-state")
    refused(StreamingAdditiveCensus.mergeBatch(keyOnly, 0L, censusDir, keys))
    refused(StreamingAdditiveCensus.mergeBatchBucketed(keyOnly, 0L,
      tmp("keyonly-bkt"), numBuckets = 4, bucketKey = "doc_id",
      keyCols = keys))
    // refused before anything committed
    assert(StreamingAdditiveCensus.latest(spark, censusDir).isEmpty)
  }
}
