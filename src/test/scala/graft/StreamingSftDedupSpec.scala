package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Chat
import graft.streaming.StreamingSftDedup

/** [[StreamingSftDedup]] ≡ the one-shot batch dedup (the q241 identity,
  * continuous form): convId-ordered micro-batches fold through the
  * durable prompt census and the union of per-batch kept verdicts
  * matches [[Chat.dedupByPrompt]] over everything at once —
  * kill+resume included (the census chain and the checkpoint replay
  * the interrupted batch against the predecessor version). */
class StreamingSftDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def conv(id: Long, tmpl: Int, resp: String): (Long, String) =
    (id,
      s"""[{"role":"user","content":"template $tmpl"},""" +
        s"""{"role":"assistant","content":"$resp"}]""")

  // templates collide across batches: convs 1/3 share template 0,
  // 2/5 share template 1; 4 is unique
  private val all = Seq(
    conv(1L, 0, "first answer"), conv(2L, 1, "second answer"),
    conv(3L, 0, "cross batch dup"), conv(4L, 2, "unique"),
    conv(5L, 1, "another dup"))

  private def batchAnswer = {
    import spark.implicits._
    Chat.dedupByPrompt(Chat.sftPairs(Chat.withTurnStats(Chat.parseTurns(
      all.toDF("conv_id", "conv_json"), "conv_json")), "conv_id"),
      "conv_id")
      .select("conv_id", "turn_idx", "kept")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2))
      .toMap
  }

  test("batch-folded stream reproduces the one-shot dedup, kill+resume") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("sftdedup").toString
    val got = scala.collection.mutable.Map[(Long, Int), Boolean]()
    val sink = (df: org.apache.spark.sql.DataFrame, _: Long) => {
      df.select("conv_id", "turn_idx", "kept").collect().foreach(r =>
        got((r.getLong(0), r.getInt(1))) = r.getBoolean(2))
      ()
    }

    val src = MemoryStream[(Long, String)]
    val q1 = StreamingSftDedup.start(
      src.toDF().toDF("conv_id", "conv_json"),
      s"$dir/state", s"$dir/ckpt", sink)
    src.addData(all.take(2): _*) // convs 1, 2
    q1.processAllAvailable()
    q1.stop() // kill between batches

    val src2 = MemoryStream[(Long, String)]
    src2.addData(all.take(2): _*) // replayed source history
    src2.addData(all.slice(2, 4): _*) // convs 3 (dup of 1), 4
    src2.addData(all.drop(4): _*) // conv 5 (dup of 2)
    val q2 = StreamingSftDedup.start(
      src2.toDF().toDF("conv_id", "conv_json"),
      s"$dir/state", s"$dir/ckpt", sink)
    q2.processAllAvailable()
    q2.stop()

    assert(got.toMap === batchAnswer)
    // the dedup did real cross-batch work
    assert(got.exists(!_._2), "expected a cross-batch duplicate dropped")
    // durable census carries every distinct prompt
    val census = graft.streaming.StreamingUpsert
      .latestState(spark, s"$dir/state").get
    assert(census.count() === 3L) // templates 0, 1, 2
    assert(census.agg(sum("n")).collect()(0).getLong(0) === 5L)
  }

  test("a multi-batch run leaves nothing in the global registry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("sftdedup-scope").toString
    CacheBarriers.releaseAll()
    val src = MemoryStream[(Long, String)]
    val q = StreamingSftDedup.start(
      src.toDF().toDF("conv_id", "conv_json"), s"$dir/state", s"$dir/ckpt",
      (df, _) => { df.collect(); () },
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try all.grouped(2).foreach { chunk => // three micro-batches
      src.addData(chunk: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(CacheBarriers.releaseAll() == 0)
  }
}
