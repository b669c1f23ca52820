package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of the traced window, each measured from outside the
  * engine at the boundary where work crosses into a layer. A layer a
  * workload bypasses reads 0 (the sink layers on `curate_backlog`, the
  * curation layers on the sync workloads). */
object Layers {

  /** Every per-layer metric name (trace.overhead.* added by the caller). */
  val Names: Seq[String] = Seq(
    "source.poll_ms_p50", "source.polls_per_batch",
    "source.rows_polled_per_op", "source.lag_ops_p50",
    "source.generator_late_ms_p99",
    "stream.batches", "stream.ops_per_batch_p50", "stream.trigger_ms_p50",
    "stream.add_batch_ms_p50", "stream.query_planning_ms_p50",
    "stream.latest_offset_ms_p50", "stream.commit_ms_p50",
    "spark.jobs_per_batch", "spark.stages_per_batch",
    "spark.tasks_per_batch", "spark.driver_gap_ms_per_batch",
    "spark.executor_cpu_ms_per_batch", "spark.executor_run_ms_per_batch",
    "spark.shuffle_bytes_per_batch", "spark.spill_bytes_per_batch",
    "spark.rdd_blocks_retained",
    "sink.pre_delete_ms_p50", "sink.delete_ms_p50",
    "sink.sink_state_ms_p50", "sink.sink_state_rows_p50",
    "sink.self_ms_p50",
    "es.bulk_calls_per_batch", "es.actions_per_op", "es.payload_bytes_per_op",
    "es.conflict_ratio", "es.mock_ms_per_batch",
    "pipeline.upserts_per_op", "pipeline.fanout_per_t2_op",
    "pipeline.history_per_op", "pipeline.deletes_per_op",
    "pipeline.rejects_per_op",
    "curate.add_batch_ms_p50", "curate.kept_ratio", "curate.state_mb",
    "curate.files_written_per_batch",
    "jvm.gc_ms_per_batch", "jvm.heap_peak_mb")

  def unit(name: String): String = name match {
    case n if n.startsWith("trace.overhead.") =>
      n.stripPrefix("trace.overhead.") match {
        case "setup_s" => "s"
        case "ops_per_s" => "1/s"
        case "retained_heap_mb" => "MB"
        case _ => "ms"
      }
    case n if n.endsWith("_ms_p50") || n.endsWith("_ms_p99") ||
      n.endsWith("_ms_per_batch") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.contains("bytes") => "bytes"
    case n if n.endsWith("_ratio") => "ratio"
    case _ => "count"
  }

  /** Total size of the files under `dir`, in MB. */
  def dirMb(dir: Path): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum / 1048576.0
      finally s.close()
    }

  /** Number of regular files under `dir`. */
  def dirFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(Files.isRegularFile(_)).toLong
      finally s.close()
    }

  def apply(workload: String, rounds: Seq[Round], jobs: JobProbe,
            spark: SparkSession, gcMs: Long,
            heapPeakMb: Double): Map[String, Double] = {
    val batches = rounds.flatMap(r => r.batches.map(b => (r, b)))
    // counters kept for a whole daemon run divide by all of its batches
    // (a tail round's warm phase included); per-batch timings use the
    // measured batches
    val nb = math.max(rounds.map(r =>
      r.extra.getOrElse("batches", r.batches.size.toDouble)).sum, 1.0)
    // per-op figures divide by every op the daemon was fed
    val ops = rounds.map(_.extra.getOrElse("fed", 0.0)).sum
    def perOp(x: Double) = if (ops > 0) x / ops else 0.0
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(k: String) = p50(batches.map(_._2.dur(k).toDouble))

    // source: polls timed inside the replay transport
    val polls = rounds.flatMap(_.replay.pollLog.asScala)
    val source = Map(
      "source.poll_ms_p50" -> p50(polls.map(_._2 / 1000.0)),
      "source.polls_per_batch" -> rounds.map(_.replay.polls.sum()).sum / nb,
      "source.rows_polled_per_op" ->
        perOp(rounds.map(_.replay.rowsPolled.sum()).sum.toDouble),
      "source.lag_ops_p50" -> p50(polls.map(_._3.toDouble)),
      "source.generator_late_ms_p99" -> {
        val late = rounds.flatMap(_.lateMs)
        if (late.isEmpty) 0.0 else Stats.quantile(late, 0.99)
      })

    // stream: the public progress events
    val stream = Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.ops_per_batch_p50" -> p50(rounds.flatMap { r =>
        val ends = r.batches.flatMap(_.endPos)
        ends.zip(0 +: ends).map { case (e, s) => (e - s).toDouble }
      }),
      "stream.trigger_ms_p50" -> dur("triggerExecution"),
      "stream.add_batch_ms_p50" -> dur("addBatch"),
      "stream.query_planning_ms_p50" -> dur("queryPlanning"),
      "stream.latest_offset_ms_p50" -> dur("latestOffset"),
      "stream.commit_ms_p50" -> dur("commitOffsets"))

    // spark: jobs attributed by their streaming batch id
    val perBatch = batches.map { case (r, b) =>
      val js = jobs.jobsOf(r.query, b.id)
      val ss = jobs.stagesOf(r.query, b.id)
      val jobUnionMs = Trace.unionUs(Long.MinValue, Long.MaxValue,
        js.map(j => (j.startMs * 1000, j.endMs * 1000))) / 1000.0
      (js.size.toDouble, ss.size.toDouble, ss.map(_.tasks).sum.toDouble,
        math.max(b.dur("addBatch") - jobUnionMs, 0.0),
        ss.map(_.cpuNs).sum / 1e6, ss.map(_.runMs).sum.toDouble,
        ss.map(_.shuffleBytes).sum.toDouble, ss.map(_.spillBytes).sum.toDouble)
    }
    def mean(f: ((Double, Double, Double, Double, Double, Double, Double,
      Double)) => Double) = if (perBatch.isEmpty) 0.0 else
      perBatch.map(f).sum / perBatch.size
    val sparkM = Map(
      "spark.jobs_per_batch" -> mean(_._1),
      "spark.stages_per_batch" -> mean(_._2),
      "spark.tasks_per_batch" -> mean(_._3),
      "spark.driver_gap_ms_per_batch" -> mean(_._4),
      "spark.executor_cpu_ms_per_batch" -> mean(_._5),
      "spark.executor_run_ms_per_batch" -> mean(_._6),
      "spark.shuffle_bytes_per_batch" -> mean(_._7),
      "spark.spill_bytes_per_batch" -> mean(_._8),
      "spark.rdd_blocks_retained" ->
        spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions)
          .sum.toDouble)

    // sink: the delegating backend's per-batch call times
    val calls = batches.flatMap { case (r, b) =>
      r.backend.map(tb => (b, Option(tb.perBatch.get(b.id))
        .map(_.asScala.toMap).getOrElse(Map.empty[String, (Long, Long)])))
    }
    def callMs(name: String) = p50(calls.map(c =>
      c._2.get(name).map(_._2 / 1000.0).getOrElse(0.0)))
    val scans = rounds.flatMap(_.cluster.toSeq.flatMap(_.scanLog.asScala))
    val sink = Map(
      "sink.pre_delete_ms_p50" -> callMs("pre_delete"),
      "sink.delete_ms_p50" -> callMs("delete"),
      "sink.sink_state_ms_p50" -> callMs("sink_state"),
      "sink.sink_state_rows_p50" -> p50(scans.map(_.toDouble)),
      "sink.self_ms_p50" -> p50(calls.map { case (b, cs) =>
        b.dur("addBatch") - cs.values.map(_._2).sum / 1000.0 }))

    // es and pipeline: counted inside the mock cluster
    val clusters = rounds.flatMap(_.cluster.toSeq)
    def sum(f: MockEs.Cluster => Long) = clusters.map(f).sum.toDouble
    val actions = sum(_.actions.sum())
    val t2 = rounds.map(_.extra.getOrElse("t2_ops", 0.0)).sum
    val es = Map(
      "es.bulk_calls_per_batch" -> sum(_.bulkCalls.sum()) / nb,
      "es.actions_per_op" -> perOp(actions),
      "es.payload_bytes_per_op" -> perOp(sum(_.payloadBytes.sum())),
      "es.conflict_ratio" ->
        (if (actions > 0) sum(c => c.conflicts.sum() + c.notFound.sum()) /
          actions else 0.0),
      "es.mock_ms_per_batch" -> sum(_.mockNs.sum()) / 1e6 / nb,
      "pipeline.upserts_per_op" ->
        perOp(sum(c => c.count("docs") + c.count("suppliers"))),
      "pipeline.fanout_per_t2_op" ->
        (if (t2 > 0) sum(_.count("suppliers")) / t2 else 0.0),
      "pipeline.history_per_op" -> perOp(sum(_.count("history"))),
      "pipeline.deletes_per_op" -> perOp(sum(_.count("delete"))),
      "pipeline.rejects_per_op" -> perOp(sum(_.count("rejects"))))

    // curation: the add-batch time, kept share and state footprint
    val curating = workload == "curate_backlog"
    val curate = Map(
      "curate.add_batch_ms_p50" -> (if (curating) dur("addBatch") else 0.0),
      "curate.kept_ratio" ->
        (if (curating) perOp(rounds.map(_.extra.getOrElse("kept", 0.0)).sum)
         else 0.0),
      "curate.state_mb" ->
        p50(rounds.flatMap(_.extra.get("state_mb"))),
      "curate.files_written_per_batch" ->
        (if (curating) rounds.map(_.extra.getOrElse("files", 0.0)).sum / nb
         else 0.0))

    val jvm = Map(
      "jvm.gc_ms_per_batch" -> gcMs / nb,
      "jvm.heap_peak_mb" -> heapPeakMb)

    val all = source ++ stream ++ sparkM ++ sink ++ es ++ curate ++ jvm
    require(all.keySet == Names.toSet, "per-layer metric set drifted")
    all
  }
}
