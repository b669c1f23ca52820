package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity}
import graft.streaming.{BucketedSemanticDedup, BucketedState}

/** [[BucketedSemanticDedup]] — the bucketed cluster store with label
  * forwarding. The claims under test: the forwarded view equals a
  * full-union rebuild (including a streamed vector BRIDGING two old
  * clusters, whose merge travels through the labelmap, never a bucket
  * rewrite), a batch rewrites only the buckets its fresh rows hash
  * into, and replays converge. */
class BucketedSemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val NumBuckets = 8

  private def vec(theta: Double): Array[Double] =
    Array(math.cos(theta), math.sin(theta))

  private val theta = math.acos(0.999)
  private val minCos = 0.9975

  private def b1 = {
    import spark.implicits._
    Seq((1L, vec(0)), (2L, vec(theta)),
      (3L, vec(4 * theta)), (4L, vec(5 * theta)))
      .toDF("vec_id", "embedding")
  }
  private val batch2 = Seq((10L, vec(2.5 * theta)), (11L, Array(0.0, -1.0)))
  private val batch3 = Seq((12L, vec(2 * theta)))

  private def fullClusters(vs: org.apache.spark.sql.DataFrame) =
    Dedup.dupClusters(Similarity.embeddingNearDupPairs(vs,
        centroidPred = col("vec_id") === 1L, minCos))
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  test("streamed batches: forwarded view == full rebuild; bridge rides the labelmap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-bsd-state").toString
    val ckpt = Files.createTempDirectory("graft-bsd-ckpt").toString
    BucketedSemanticDedup.bootstrap(b1, stateDir,
      centroidPred = col("vec_id") === 1L, minCos, NumBuckets)

    val s1 = MemoryStream[(Long, Array[Double])]
    s1.addData(batch2)
    BucketedSemanticDedup.start(s1.toDF().toDF("vec_id", "embedding"),
      stateDir, ckpt, minCos, NumBuckets).awaitTermination()
    val s2 = MemoryStream[(Long, Array[Double])]
    s2.addData(batch2)
    s2.addData(batch3)
    BucketedSemanticDedup.start(s2.toDF().toDF("vec_id", "embedding"),
      stateDir, ckpt, minCos, NumBuckets).awaitTermination()

    val union = b1.unionByName(
      (batch2 ++ batch3).toDF("vec_id", "embedding"))
    val got = BucketedSemanticDedup.latestClusters(spark, stateDir)
      .getOrElse(fail("no committed state")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == fullClusters(union).toSeq)
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 1L), (12L, 1L)))
    // the old-cluster merge is IN the forwarding map (3 -> 1), and the
    // bucket rows of docs 3 and 4 still carry their original label
    val raw = BucketedState.stateBefore(spark, s"$stateDir/clusters",
        Long.MaxValue).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(raw(3L) == 3L && raw(4L) == 3L)
  }

  test("a batch rewrites ONLY the buckets its fresh rows hash into") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-bsd-state2").toString
    BucketedSemanticDedup.bootstrap(b1, stateDir,
      centroidPred = col("vec_id") === 1L, minCos, NumBuckets)
    BucketedSemanticDedup.mergeBatch(batch2.toDF("vec_id", "embedding"),
      0L, stateDir, minCos, NumBuckets)
    def bucketsWithVersion(v: Long): Set[Long] = {
      val s = Files.list(java.nio.file.Paths.get(s"$stateDir/clusters"))
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("b") &&
          Files.exists(p.resolve(s"v$v").resolve("_SUCCESS")))
        .map(_.getFileName.toString.drop(1).toLong).toSet
      finally s.close()
    }
    // batch 2's only fresh row is the bridge (10) — the far singleton
    // (11) pairs nothing; old rows 3/4 relabel via the map, not buckets
    val expected = Seq(10L).toDF("doc_id")
      .select(BucketedState.bucketOf(col("doc_id"), NumBuckets).as("b"))
      .collect().map(_.getLong(0)).toSet
    assert(bucketsWithVersion(0L) == expected)
  }

  test("a torn index append (data landed, manifest did not) heals on replay") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-bsd-state4").toString
    BucketedSemanticDedup.bootstrap(b1, stateDir,
      centroidPred = col("vec_id") === 1L, minCos, NumBuckets)
    // simulate mergeBatch crashing INSIDE appendToIndex: the decisions
    // dir written, index DATA appended, `_ids` manifest NOT updated, and
    // no labelmap version committed for the batch
    val batch = batch2.toDF("vec_id", "embedding")
    batch.write.mode("overwrite")
      .parquet(s"$stateDir/decisions/b0") // placeholder attempt evidence
    Similarity.ivfAssign(batch,
        Similarity.readCentroids(spark, s"$stateDir/index"),
        "vec_id", "embedding")
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$stateDir/index")
    // the checkpoint replays batch 0; without the manifest rebuild the
    // anti-join would re-admit the landed rows as duplicates
    BucketedSemanticDedup.mergeBatch(batch, 0L, stateDir, minCos, NumBuckets)
    val ids = spark.read.parquet(s"$stateDir/index")
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      s"duplicate index rows after torn-append replay: ${ids.sorted.toSeq}")
    assert(ids.toSet == Set(1L, 2L, 3L, 4L, 10L, 11L))
  }

  test("a stale batch id fails further-progressed and writes nothing") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-bsd-state5").toString
    BucketedSemanticDedup.bootstrap(b1, stateDir,
      centroidPred = col("vec_id") === 1L, minCos, NumBuckets)
    BucketedSemanticDedup.mergeBatch(batch2.toDF("vec_id", "embedding"),
      0L, stateDir, minCos, NumBuckets)
    BucketedSemanticDedup.mergeBatch(batch3.toDF("vec_id", "embedding"),
      2L, stateDir, minCos, NumBuckets)
    def manifestRows() =
      spark.read.parquet(s"$stateDir/index/_ids").count()
    def decisionDirs() = {
      val s = Files.list(java.nio.file.Paths.get(s"$stateDir/decisions"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val (ids, decs) = (manifestRows(), decisionDirs())
    // batch 1 under a chain already committed at batch 2 (a checkpoint
    // restored behind its state): refused before the decisions write or
    // the index append, which would admit vector 20
    val e = intercept[IllegalArgumentException](
      BucketedSemanticDedup.mergeBatch(
        Seq((20L, vec(7 * theta))).toDF("vec_id", "embedding"),
        1L, stateDir, minCos, NumBuckets))
    assert(e.getMessage.contains("further-progressed"))
    assert(manifestRows() == ids)
    assert(decisionDirs() == decs)
  }

  test("a replayed micro-batch converges to the same state") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-bsd-state3").toString
    BucketedSemanticDedup.bootstrap(b1, stateDir,
      centroidPred = col("vec_id") === 1L, minCos, NumBuckets)
    val batch = batch2.toDF("vec_id", "embedding")
    BucketedSemanticDedup.mergeBatch(batch, 0L, stateDir, minCos, NumBuckets)
    def snapshot() = (
      BucketedSemanticDedup.latestClusters(spark, stateDir).get
        .collect().map(_.toSeq).toSet,
      BucketedSemanticDedup.allDecisions(spark, stateDir)
        .collect().map(_.toSeq).toSet)
    val before = snapshot()
    BucketedSemanticDedup.mergeBatch(batch, 0L, stateDir, minCos, NumBuckets)
    assert(snapshot() == before)
  }
}
