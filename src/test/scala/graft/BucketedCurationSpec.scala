package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation
import graft.streaming.{BucketedCuration, BucketedState}

/** The bucketed form of streaming curation: per-batch merges must touch
  * ONLY the buckets the batch's deltas hash into (the 100 TB claim —
  * no whole-artifact rewrite), while the assembled artifact view and
  * the kept slices stay exactly what a full rebuild produces. */
class BucketedCurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val NumBuckets = 16

  private def text(i: Long): String =
    (0 until 26).map(j => s"k${i}x$j").mkString(" ")
  private def rev(t: String): String = t.split(" ").reverse.mkString(" ")
  private def trunc(t: String): String =
    t.split(" ").dropRight(5).mkString(" ")

  private def df(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  // bootstrap + two batches: cross-batch exact dup, near-dup, fresh
  // content, a fresh in-batch near-dup pair, and (batch 3) an exact dup
  // of batch 2's kept doc — so hashreps/signed/clusters/census all move
  private val b1 = (0L until 20L).map(i => (i, text(i), "web"))
  private val b2 = Seq(
    (100L, text(3), "web"),               // exact dup of b1 -> dropped
    (101L, trunc(text(5)), "web"),        // near-dup of b1 -> dropped
    (102L, rev(text(7)), "books"),        // fresh -> kept
    (103L, trunc(rev(text(7))), "books")) // near-dup of 102 -> dropped
  private val b3 = Seq(
    (200L, rev(text(7)), "books"),        // exact dup of 102 -> dropped
    (201L, rev(text(9)), "books"))        // fresh -> kept

  private def keptSet(d: DataFrame): Set[Long] =
    d.select("doc_id").collect().map(_.getLong(0)).toSet
  private def rows(d: DataFrame): Set[Seq[Any]] =
    d.collect().map(_.toSeq).toSet

  test("bootstrap + merges: artifact view and kept slices == full rebuild") {
    val stateDir = Files.createTempDirectory("graft-bcur").toString
    BucketedCuration.bootstrap(df(b1), stateDir, NumBuckets,
      sourceCol = Some("source"), trainQuality = true)
    BucketedCuration.mergeBatch(df(b2), 0L, stateDir, NumBuckets,
      sourceCol = Some("source"))
    BucketedCuration.mergeBatch(df(b3), 1L, stateDir, NumBuckets,
      sourceCol = Some("source"))

    val union = df(b1 ++ b2 ++ b3)
    assert(keptSet(BucketedCuration.keptCorpus(spark, stateDir)) ==
      keptSet(Curation.curate(union)))

    val art = BucketedCuration.latestArtifacts(spark, stateDir)
      .getOrElse(fail("no committed artifacts"))
    val (_, full) = Curation.artifactsOf(union,
      sourceCol = Some("source"), trainQuality = true)
    assert(rows(art.hashReps) == rows(full.hashReps))
    assert(rows(art.signed.select("doc_id")) ==
      rows(full.signed.select("doc_id")))
    assert(rows(art.clusters) == rows(full.clusters))
    assert(rows(art.clusters).nonEmpty) // the near-dup path really fired
    assert(rows(art.lineCensus) == rows(full.lineCensus))
    assert(rows(art.sourceCounts.get) == rows(full.sourceCounts.get))
    assert(rows(art.model._1) == rows(full.model._1))
    assert(rows(art.qualityCounts.get) == rows(full.qualityCounts.get))
  }

  test("a batch rewrites ONLY the buckets its deltas touch") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-bcur2").toString
    BucketedCuration.bootstrap(df(b1), stateDir, NumBuckets)
    BucketedCuration.mergeBatch(df(b2), 0L, stateDir, NumBuckets)

    // buckets holding a v0 dir in the signed store
    def bucketsWithVersion(store: String, v: Long): Set[Long] = {
      val dir = java.nio.file.Paths.get(s"$stateDir/$store")
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("b") &&
          Files.exists(p.resolve(s"v$v").resolve("_SUCCESS")))
        .map(_.getFileName.toString.drop(1).toLong).toSet
      finally s.close()
    }
    // expected: batch 2's exact-kept docs are 102 and 103 (101 is kept
    // at the exact stage too — its truncated text is a distinct hash);
    // no demotions (ids are monotone), so signed touches exactly the
    // buckets those ids hash into
    val expected = Seq(101L, 102L, 103L).toDF("doc_id")
      .select(BucketedState.bucketOf(col("doc_id"), NumBuckets).as("b"))
      .collect().map(_.getLong(0)).toSet
    val touched = bucketsWithVersion("signed", 0L)
    assert(touched == expected)
    // the 100 TB claim: the batch did NOT rewrite the whole store
    val allSignedBuckets = {
      val s = Files.list(java.nio.file.Paths.get(s"$stateDir/signed"))
      try s.iterator().asScala
        .count(_.getFileName.toString.startsWith("b"))
      finally s.close()
    }
    assert(touched.size < allSignedBuckets)
    // census: only buckets of the batch's line hashes move
    assert(bucketsWithVersion("census", 0L).size <
      {
        val s = Files.list(java.nio.file.Paths.get(s"$stateDir/census"))
        try s.iterator().asScala
          .count(_.getFileName.toString.startsWith("b"))
        finally s.close()
      })
  }

  test("a replayed micro-batch is idempotent; stale checkpoints are loud") {
    val stateDir = Files.createTempDirectory("graft-bcur3").toString
    BucketedCuration.bootstrap(df(b1), stateDir, NumBuckets)
    BucketedCuration.mergeBatch(df(b2), 0L, stateDir, NumBuckets)
    BucketedCuration.mergeBatch(df(b3), 1L, stateDir, NumBuckets)
    def snapshot() = (
      keptSet(BucketedCuration.keptCorpus(spark, stateDir)),
      rows(BucketedCuration.latestArtifacts(spark, stateDir).get.signed
        .select("doc_id")),
      rows(BucketedCuration.latestArtifacts(spark, stateDir).get.clusters))
    val once = snapshot()
    BucketedCuration.mergeBatch(df(b3), 1L, stateDir, NumBuckets) // replay
    assert(snapshot() == once)
    val e = intercept[IllegalArgumentException](
      BucketedCuration.mergeBatch(df(b3), 0L, stateDir, NumBuckets))
    assert(e.getMessage.contains("further-progressed"))
  }

  test("streamed via checkpointed foreachBatch, surviving a restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-bcur4").toString
    val ckpt = Files.createTempDirectory("graft-bcur4-ckpt").toString
    BucketedCuration.bootstrap(df(b1), stateDir, NumBuckets)
    val s1 = MemoryStream[(Long, String, String)]
    s1.addData(b2)
    BucketedCuration.start(s1.toDF().toDF("doc_id", "text", "source"),
      stateDir, ckpt, NumBuckets).awaitTermination()
    // restart on the same checkpoint: b2 is not replayed, b3 processes
    val s2 = MemoryStream[(Long, String, String)]
    s2.addData(b2)
    s2.addData(b3)
    BucketedCuration.start(s2.toDF().toDF("doc_id", "text", "source"),
      stateDir, ckpt, NumBuckets).awaitTermination()
    assert(keptSet(BucketedCuration.keptCorpus(spark, stateDir)) ==
      keptSet(Curation.curate(df(b1 ++ b2 ++ b3))))
  }

  test("one mergeBatch leaves no RDD blocks and registers nothing globally") {
    val stateDir = Files.createTempDirectory("bcur-leak").toString
    BucketedCuration.bootstrap(df(b1), stateDir, NumBuckets)
    CacheBarriers.releaseAll()
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    BucketedCuration.mergeBatch(df(b2), 0L, stateDir, NumBuckets)
    val left = sc.getRDDStorageInfo.filterNot(r => before(r.id))
    assert(left.isEmpty, s"blocks left: ${left.mkString(", ")}")
    assert(CacheBarriers.releaseAll() == 0)
  }

  test("an increment never re-reads the bootstrap corpus (black-box)") {
    // bootstrap from parquet on disk, then DELETE the source files: if
    // any stage of the incremental path touched the old corpus instead
    // of the artifacts, the merge would crash on the missing files
    val srcDir = Files.createTempDirectory("graft-bcur-src").toString
    val stateDir = Files.createTempDirectory("graft-bcur6").toString
    df(b1).write.mode("overwrite").parquet(srcDir)
    BucketedCuration.bootstrap(spark.read.parquet(srcDir), stateDir,
      NumBuckets, sourceCol = Some("source"))
    val walk = Files.walk(java.nio.file.Paths.get(srcDir))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    finally walk.close()
    BucketedCuration.mergeBatch(df(b2), 0L, stateDir, NumBuckets,
      sourceCol = Some("source"))
    assert(keptSet(BucketedCuration.keptCorpus(spark, stateDir))
      .contains(102L))
    val art = BucketedCuration.latestArtifacts(spark, stateDir).get
    assert(art.lineCensus.count() > 0)
  }

  test("merging without bootstrap fails loudly") {
    val stateDir = Files.createTempDirectory("graft-bcur5").toString
    val e = intercept[IllegalStateException](
      BucketedCuration.mergeBatch(df(b2), 0L, stateDir, NumBuckets))
    assert(e.getMessage.contains("bootstrap"))
  }
}
