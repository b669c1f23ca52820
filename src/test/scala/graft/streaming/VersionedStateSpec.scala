package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[VersionedState]]'s commit protocol, pinned once for every fold that
  * rides [[VersionedState.advance]]: first-batch bootstrap, replay against
  * the predecessor, the stale-checkpoint guard, the GC window, and
  * `_SUCCESS`-gated visibility. The fold here counts batches: each
  * version holds one row, its predecessor's count plus one. */
class VersionedStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft-vs-$tag").toString

  private def count(dir: String, batchId: Long): Unit =
    VersionedState.advance(spark, dir, batchId) {
      case Some(prev) => prev.select((col("n") + 1L).as("n"))
      case None => Seq(1L).toDF("n")
    }

  private def value(df: Option[DataFrame]): Long =
    df.getOrElse(fail("no committed version")).as[Long].collect().toSeq match {
      case Seq(n) => n
      case other => fail(s"expected one row, got $other")
    }

  private def dirs(dir: String): Set[String] =
    new File(dir).listFiles().map(_.getName).filter(_.startsWith("v")).toSet

  test("advance passes None on the first batch") {
    val dir = tmp("first")
    var seen: Option[Option[DataFrame]] = None
    VersionedState.advance(spark, dir, 0L) { prev =>
      seen = Some(prev)
      Seq(1L).toDF("n")
    }
    assert(seen.contains(None))
    assert(VersionedState.versions(spark, dir) == Seq(0L))
  }

  test("replaying batch N recomputes from N-1, not from its own vN") {
    val dir = tmp("replay")
    (0L to 2L).foreach(count(dir, _))
    assert(value(VersionedState.tableBefore(spark, dir, Long.MaxValue)) == 3L)
    count(dir, 2L) // replay: folds v1 (2) again, not v2 (3)
    assert(value(VersionedState.tableBefore(spark, dir, Long.MaxValue)) == 3L)
    assert(value(VersionedState.tableBefore(spark, dir, 2L)) == 2L)
  }

  test("a committed version newer than the batch fails as further-progressed") {
    val dir = tmp("guard")
    (0L to 2L).foreach(count(dir, _))
    val e = intercept[IllegalArgumentException](count(dir, 1L))
    assert(e.getMessage.contains("further-progressed"))
    // the refused batch wrote nothing
    assert(VersionedState.versions(spark, dir) == Seq(2L, 1L))
  }

  test("GC keeps exactly the predecessor") {
    val dir = tmp("gc")
    (0L to 4L).foreach(count(dir, _))
    assert(dirs(dir) == Set("v3", "v4"))
    assert(VersionedState.versions(spark, dir) == Seq(4L, 3L))
  }

  test("a version dir without _SUCCESS is invisible to tableBefore") {
    val dir = tmp("torn")
    count(dir, 0L)
    count(dir, 1L)
    // a crash mid-write of v2: data landed, the job-commit marker did not
    Seq(99L).toDF("n").write.parquet(s"$dir/v2")
    assert(new File(s"$dir/v2/_SUCCESS").delete())
    assert(VersionedState.versions(spark, dir) == Seq(1L, 0L))
    assert(value(VersionedState.tableBefore(spark, dir, Long.MaxValue)) == 2L)
    // and the replay of batch 2 folds the intact v1, overwriting the tear
    count(dir, 2L)
    assert(value(VersionedState.tableBefore(spark, dir, Long.MaxValue)) == 3L)
  }

  test("advanceDir: a failing write leaves the version uncommitted") {
    val dir = tmp("dir-fail")
    VersionedState.advanceDir(spark, dir, 0L) { (_, out) =>
      Seq(1L).toDF("n").write.parquet(s"$out/a")
    }
    intercept[IllegalStateException] {
      VersionedState.advanceDir(spark, dir, 1L) { (prev, out) =>
        assert(prev.contains(0L))
        // one member table landed, then the body died
        Seq(2L).toDF("n").write.parquet(s"$out/a")
        throw new IllegalStateException("crash mid-version")
      }
    }
    assert(new File(s"$dir/v1/a/_SUCCESS").exists())
    assert(!new File(s"$dir/v1/_SUCCESS").exists())
    assert(VersionedState.versions(spark, dir) == Seq(0L))
  }

  test("advanceDir: the guard fires before write is called") {
    val dir = tmp("dir-guard")
    VersionedState.advanceDir(spark, dir, 2L)((_, _) => ())
    var called = false
    val e = intercept[IllegalArgumentException](
      VersionedState.advanceDir(spark, dir, 1L)((_, _) => called = true))
    assert(e.getMessage.contains("further-progressed"))
    assert(!called)
    assert(!new File(s"$dir/v1").exists())
    assert(VersionedState.versions(spark, dir) == Seq(2L))
  }
}
