package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Zero-norm embeddings (an all-zeros vector is a real artifact of
  * failed upstream encoders at corpus scale) must degrade
  * deterministically: NaN cosines never enter a top-k ordering, the
  * assignment argmax routes them to the unassignable bucket, and no
  * code path throws. */
class SimilarityEdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame() = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.0f, 0.0f)) // zero-norm: cosine undefined vs everything
    ).toDF("vec_id", "embedding")
  }

  test("bruteForceTopK: zero-norm candidates never appear as neighbors") {
    val out = Similarity.bruteForceTopK(frame(), col("vec_id") === 1L, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // only 2 and 3 are rankable; 4 is NaN against everything
    assert(out.toSeq == Seq((1L, 1, 2L), (1L, 2, 3L)))
  }

  test("bruteForceTopK: a zero-norm query yields no rows, not a crash") {
    val out = Similarity.bruteForceTopK(frame(), col("vec_id") === 4L, k = 3)
    assert(out.collect().isEmpty)
  }

  test("ivfAssign: zero-norm vectors land in the unassignable bucket") {
    val assigned = Similarity.ivfAssign(frame(),
        centroidPred = col("vec_id").isin(1L, 3L))
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(1L) == 1L && assigned(2L) == 1L && assigned(3L) == 3L)
    assert(assigned(4L) == Long.MinValue)
  }

  test("NULL embeddings are quarantined, never an NPE") {
    import spark.implicits._
    val withNull = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Option.empty[Array[Float]].orNull) // failed upstream encoder
    ).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(withNull,
        centroidPred = col("vec_id") === 1L)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(3L) == Similarity.UnassignedBucket)
    // as a query row: probes nothing, crashes nothing
    val out = Similarity.ivfTopK(withNull, centroidPred = col("vec_id") === 1L,
      queryPred = col("vec_id") === 3L, k = 2, nprobe = 1)
    assert(out.collect().isEmpty)
    // selected as a CENTROID: skipped driver-side, not an NPE — vectors
    // assign among the remaining (non-null) centroids
    val a2 = Similarity.ivfAssign(withNull,
        centroidPred = col("vec_id").isin(1L, 3L))
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2(1L) == 1L && a2(2L) == 1L)
  }

  test("near-dup pair generation never self-joins the unassignable bucket") {
    import spark.implicits._
    // two zero vectors with cosine NaN between them: without the bucket
    // guard they would pair up (quadratically, at corpus scale)
    val vs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.001)),
      (10L, Array(0.0, 0.0)), (11L, Array(0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(vs,
        centroidPred = col("vec_id") === 1L, minCos = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("NULL-ELEMENT embeddings are quarantined whole, never a deserializer crash") {
    import spark.implicits._
    // [0.1, null]: a partially failed encoder — without the cleanVec
    // guard the Seq[Double] UDF deserializer throws on the null element,
    // killing the whole job on one bad row
    val vs = Seq(
      (1L, Seq[Option[Double]](Some(1.0), Some(0.0))),
      (2L, Seq[Option[Double]](Some(0.9), Some(0.1))),
      (3L, Seq[Option[Double]](Some(0.1), None))
    ).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(vs, centroidPred = col("vec_id") === 1L)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(3L) == Similarity.UnassignedBucket)
    // as a query row: probes nothing, crashes nothing
    val out = Similarity.ivfTopK(vs, centroidPred = col("vec_id") === 1L,
      queryPred = col("vec_id") === 3L, k = 2, nprobe = 1)
    assert(out.collect().isEmpty)
    // selected as a CENTROID: skipped driver-side, not an NPE
    val a2 = Similarity.ivfAssign(vs, centroidPred = col("vec_id").isin(1L, 3L))
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2(1L) == 1L && a2(2L) == 1L && a2(3L) == Similarity.UnassignedBucket)
    // brute force: null-element rows score NULL cosines (native dot) and
    // are excluded from the ranking, on either side of the pair
    val bf = Similarity.bruteForceTopK(vs, col("vec_id") === 1L, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(bf.toSeq == Seq((1L, 1, 2L)))
  }

  test("NON-FINITE elements (NaN / Inf) are quarantined whole") {
    import spark.implicits._
    // an exploded encoder: NaN and Inf elements poison every downstream
    // dot — and a NaN dot breaks sign-LSH's cross-engine bit parity (NaN
    // signs 0 in Spark, 1 in DuckDB) — so cleanVec nulls the vector whole
    val vs = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.9, 0.1)),
      (3L, Seq(Double.NaN, 1.0)),
      (4L, Seq(Double.PositiveInfinity, 0.0))
    ).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(vs, centroidPred = col("vec_id") === 1L)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(3L) == Similarity.UnassignedBucket)
    assert(assigned(4L) == Similarity.UnassignedBucket)
    val bf = Similarity.bruteForceTopK(vs, col("vec_id") === 1L, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(bf.toSeq == Seq((1L, 1, 2L)))
  }

  test("ivfTopK: zero-norm rows are inert on both sides") {
    val out = Similarity.ivfTopK(frame(), centroidPred = col("vec_id").isin(1L, 3L),
        queryPred = col("vec_id") === 2L, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // both buckets probed; 4 (zero-norm, unassignable bucket) never scored
    assert(out.toSeq == Seq((2L, 1, 1L), (2L, 2, 3L)))
  }

  test("quantized probe with full rerank equals the exact IVF top-k") {
    import spark.implicits._
    // with rerank covering every probed candidate, stage 1 prunes
    // nothing and stage 2 IS the exact computation — any divergence
    // would mean the two-stage plumbing (not quantization) loses or
    // reorders candidates
    val vs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * (j + 1) + 1).toFloat))
    }.toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val exact = key(Similarity.ivfTopK(vs,
      centroidPred = col("vec_id") % 10 === 0,
      queryPred = col("vec_id") % 7 === 0, k = 3, nprobe = 2))
    val quant = key(Similarity.ivfTopKQuantized(vs,
      centroidPred = col("vec_id") % 10 === 0,
      queryPred = col("vec_id") % 7 === 0, k = 3, nprobe = 2, rerank = 40))
    assert(quant == exact)
  }

  test("a quantized probe consumed inside withScope leaves no cache") {
    import spark.implicits._
    CacheBarriers.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    val vs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * (j + 1) + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val n = CacheBarriers.withScope {
      Similarity.ivfTopKQuantized(vs, centroidPred = col("vec_id") % 10 === 0,
        queryPred = col("vec_id") % 7 === 0, k = 3, nprobe = 2, rerank = 6)
        .count()
    }
    assert(n > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
