package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Bpe, Dedup, Sampling}

/** The operator-internal persist barriers must be releasable by a
  * long-lived session (the ADVICE leak: repeated batch calls accreting
  * cached tables forever), and the config guards must fail loudly. */
class CacheBarriersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("releaseAll unpersists operator-internal barriers") {
    import spark.implicits._
    CacheBarriers.releaseAll() // drain barriers left by earlier suites
    spark.sharedState.cacheManager.clearCache() // and non-registered ones
    val docs =(0 until 40).map { i =>
      (i.toLong, (s"alpha beta gamma delta $i " * 4) + "epsilon zeta")
    }.toDF("doc_id", "text")
    val pairs = Dedup.verbatimOverlapPairs(docs, shingleN = 4)
    pairs.count() // consume the returned frame (materializes the barrier)
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(CacheBarriers.releaseAll() >= 1)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(CacheBarriers.releaseAll() == 0) // idempotent, nothing left
  }

  test("withScope releases its own barriers and leaves others alone") {
    import spark.implicits._
    CacheBarriers.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    // an "other pipeline's" barrier, registered to the global scope
    val outside = CacheBarriers.barrier(
      Seq((1L, "a")).toDF("doc_id", "text"))
    outside.count()
    assert(outside.storageLevel.useMemory)
    val docs = (0 until 40).map { i =>
      (i.toLong, (s"alpha beta gamma delta $i " * 4) + "epsilon zeta")
    }.toDF("doc_id", "text")
    CacheBarriers.withScope {
      Dedup.verbatimOverlapPairs(docs, shingleN = 4).count()
    }
    // the scope released the operator's internal barrier on exit...
    assert(CacheBarriers.releaseAll() == 1) // ...but NOT the outside one
    assert(!outside.storageLevel.useMemory)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("temperatureRates leaves no cache behind and validates alpha") {
    import spark.implicits._
    CacheBarriers.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "de"))
      .toDF("doc_id", "lang")
    val rates = Sampling.temperatureRates(docs, "lang")
    // eager + self-releasing: the strata-sized rate table is a local
    // relation and the internal counts barrier is gone already
    assert(spark.sharedState.cacheManager.isEmpty)
    val byLang = rates.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byLang("de") == 1000000L) // rarest stratum keeps everything
    assert(byLang("en") < 1000000L)
    // alpha = 1 is the identity mix; out-of-range temperatures are loud
    val id1 = Sampling.temperatureRates(docs, "lang", alpha = 1.0)
    assert(id1.collect().forall(_.getLong(2) == 1000000L))
    intercept[IllegalArgumentException](
      Sampling.temperatureRates(docs, "lang", alpha = 1.5))
    intercept[IllegalArgumentException](
      Sampling.temperatureRates(docs, "lang", alpha = -0.1))
    // data-cardinality stratum column fails loudly instead of collecting
    // an unbounded rate table to the driver
    intercept[IllegalArgumentException](
      Sampling.temperatureRates(docs, "doc_id", maxStrata = 2))
    assert(spark.sharedState.cacheManager.isEmpty) // even on the loud path
  }

  /** RDD ids with live blocks that were not live in `before`. */
  private def newBlocks(before: Set[Int]): Seq[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).filterNot(before).toSeq
  private def liveBlocks(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
  private def rddId(ds: DataFrame): Int =
    ds.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  for (eager <- Seq(true, false))
    test(s"truncate(eager = $eager) registers with the open scope; exit " +
        "frees its blocks through the LogicalRDD") {
      CacheBarriers.releaseAll()
      val fallbacks = CacheBarriers.fallbackReleases.get
      val before = liveBlocks()
      val n = CacheBarriers.withScope {
        val t = CacheBarriers.truncate(spark.range(100).toDF("id"), eager)
        val n = t.count()
        assert(newBlocks(before) == Seq(rddId(t)))
        n
      }
      assert(n == 100)
      assert(newBlocks(before).isEmpty)
      assert(CacheBarriers.releaseAll() == 0) // nothing leaked to global
      assert(CacheBarriers.fallbackReleases.get == fallbacks)
    }

  test("release(prev) in a loop frees only the superseded round") {
    val before = liveBlocks()
    CacheBarriers.withScope {
      var cur = CacheBarriers.truncate(spark.range(50).toDF("id"), eager = true)
      for (_ <- 1 to 3) {
        val prev = cur
        cur = CacheBarriers.truncate(
          prev.select((col("id") + 1).as("id")), eager = true)
        CacheBarriers.release(prev)
        assert(newBlocks(before) == Seq(rddId(cur)))
      }
      assert(cur.agg(sum("id")).head().getLong(0) == (3L to 52L).sum)
    }
    assert(newBlocks(before).isEmpty)
  }

  test("Bpe.train with 5 merges leaves one round's blocks, not 6") {
    import spark.implicits._
    CacheBarriers.releaseAll()
    val before = liveBlocks()
    val census = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)).toDF("w", "n")
    val (merges, syms) = Bpe.train(census, nMerges = 5)
    assert(merges.size == 5)
    assert(newBlocks(before) == Seq(rddId(syms)))
    assert(CacheBarriers.releaseAll() == 1)
    assert(newBlocks(before).isEmpty)
  }

  test("reading a truncation after its scope closed fails loudly") {
    val t = CacheBarriers.withScope {
      val t = CacheBarriers.truncate(spark.range(10).toDF("id"), eager = true)
      assert(t.count() == 10)
      t
    }
    var rows: Array[org.apache.spark.sql.Row] = null
    intercept[SparkException] { rows = t.collect() }
    assert(rows == null)
  }
}
