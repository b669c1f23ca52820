package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Daemon, GraftSession}
import graft.config.GraftConfig
import graft.sink.{EsSinkBackend, InMemorySinkBackend, SinkWiring, SinkWirings}
import graft.source.{ChangeEvent, SourceTransports}

/** Command line:
  * {{{
  *   perfbench.Main --workload sync_backlog|sync_tail|curate_backlog
  *       --seed N --seconds S --trace 0|1 --work DIR [--spans FILE]
  * }}}
  * Prints one JSON result object as the last line of stdout. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, spans: Option[String])

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", need("--work"),
      m.get("--spans"))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    // the session is stopped by the time run() returns or throws, so the
    // JVM's shutdown hooks would only repeat that clean-up slowly: halt
    val status =
      try { println(new Bench(o).run()); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(status)
  }
}

/** One daemon run of a workload: what the benchmark measures and checks.
  * `lagsMs` are per-op lags from due time to the commit of the batch
  * covering the op; `busyMs` is the summed trigger time of the batches
  * that committed the measured ops. */
final case class Round(query: String, startMs: Long, batches: Vector[BatchRec],
                       ops: Long, busyMs: Long, lagsMs: Vector[Double],
                       replay: Replay, cluster: Option[MockEs.Cluster],
                       backend: Option[TimedBackend], check: Twin.Check,
                       lateMs: Vector[Double], wallMs: Long,
                       spans: Vector[Trace.Span],
                       extra: Map[String, Double] = Map.empty) {
  def setupS: Double = (batches.head.commitMs - startMs) / 1000.0
  def opsPerS: Double = ops * 1000.0 / math.max(busyMs, 1L)
}

final class Bench(o: Main.Opts) {

  private val work: Path = Paths.get(o.work).toAbsolutePath
  private val probe = new StreamProbe
  private var spark: SparkSession = _
  private var cfg: GraftConfig = _
  private var cfgPath: String = _
  private var roundNo = 0

  /** Size of one tail burst and its period: monstache's gtm buffer. */
  val Burst = 32
  val BurstMs = 75L

  def run(): String = {
    Files.createDirectories(work)
    cfgPath = work.resolve("graft.toml").toString
    Files.writeString(Paths.get(cfgPath), Topology.Toml)
    cfg = GraftConfig.load(cfgPath)
    val t0 = System.nanoTime()
    spark = GraftSession.ensure(GraftSession.configure(
      SparkSession.builder().master("local[4]").appName("perfbench")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.local.dir", work.resolve("local").toString)
        .config("spark.sql.streaming.ui.enabled", "false"),
      "4").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.streams.addListener(probe)
    try {
      val w: Workload = o.workload match {
        case "sync_backlog" => new SyncBacklog
        case "sync_tail" => new SyncTail
        case "curate_backlog" => new CurateBacklog
        case other => throw new IllegalArgumentException(
          s"unknown workload $other")
      }
      log(f"session ${sessionS}%.2f s")
      val tp = System.nanoTime()
      w.prepare()
      log(f"prepare ${(System.nanoTime() - tp) / 1e9}%.2f s")
      w.warmUp()
      val result =
        if (!o.trace) {
          val rounds = w.measure(o.seconds.toDouble)
          val e2e = endToEnd(w, rounds, sessionS, retainedHeapMb())
          report(rounds, e2e)
        } else {
          val half = o.seconds / 2.0
          val plain = w.measure(half)
          val plainE2e = endToEnd(w, plain, sessionS, retainedHeapMb())
          val jobs = new JobProbe
          spark.sparkContext.addSparkListener(jobs)
          val gc0 = gcMs()
          heapPools.foreach(_.resetPeakUsage())
          Trace.on = true
          val traced = try w.measure(half) finally Trace.on = false
          val gc = gcMs() - gc0
          val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
          val tracedE2e = endToEnd(w, traced, sessionS, retainedHeapMb())
          spark.sparkContext.removeSparkListener(jobs)
          o.spans.foreach(p => Trace.write(Paths.get(p), traced.map(_.spans)))
          val layers = Layers(w.name, traced, jobs, spark, gc, heapPeak) ++
            plainE2e.map { case (k, (v, _)) =>
              s"trace.overhead.$k" -> (tracedE2e(k)._1 - v) }
          report(plain ++ traced,
            layers.map { case (k, v) => k -> (v, Layers.unit(k)) })
        }
      result
    } finally spark.stop()
  }

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%6.1f s] $msg")

  // ── results ────────────────────────────────────────────────────────────

  private def report(rounds: Seq[Round],
                     metrics: Map[String, (Double, String)]): String = {
    val check = rounds.map(_.check).foldLeft(Twin.Check.empty)(_ + _)
    if (check.failed.nonEmpty)
      System.err.println("correctness: mismatching keys by class: " +
        check.failed.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString(", "))
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
      s""""$k":{"value":${num(v)},"unit":"$unit"}"""
    }
    s"""{"correct":${check.failedKeys == 0},"attempted":${check.keys},""" +
      s""""failed":${check.failedKeys},"metrics":{${ms.mkString(",")}}}"""
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, "a metric has no samples")
    java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10))
      .stripTrailingZeros.toPlainString
  }

  /** The end-to-end metrics of a measured window. */
  private def endToEnd(w: Workload, rounds: Seq[Round], sessionS: Double,
                       heapMb: Double): Map[String, (Double, String)] = {
    val setups = w.setups(rounds)
    Map(
      "setup_s" -> (sessionS + Stats.median(setups), "s"),
      "ops_per_s" -> (Stats.median(rounds.map(_.opsPerS)), "1/s"),
      "lag_p50_ms" ->
        (Stats.median(rounds.map(r => Stats.quantile(r.lagsMs, 0.5))), "ms"),
      "lag_p75_ms" ->
        (Stats.median(rounds.map(r => Stats.quantile(r.lagsMs, 0.75))), "ms"),
      "retained_heap_mb" -> (heapMb, "MB"))
  }

  /** Used heap after a full GC: the least of three collections, so a
    * collection that races the stream's own clean-up does not count. */
  private def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  // ── daemon plumbing ───────────────────────────────────────────────────

  private def freshDir(kind: String): String = {
    roundNo += 1
    val d = work.resolve(s"rounds/$kind-$roundNo")
    Files.createDirectories(d)
    d.toString
  }

  private def dropDir(d: String): Unit = {
    val p = Paths.get(d)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  /** Wait until the query has committed a batch ending at or past `pos`. */
  private def awaitCommitted(q: org.apache.spark.sql.streaming.StreamingQuery,
                             pos: Int, timeoutMs: Long = 120000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!probe.batches(q.id.toString).exists(_.endPos.exists(_ >= pos))) {
      q.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < deadline,
        s"no batch committed position $pos within ${timeoutMs} ms")
      Thread.sleep(2)
    }
  }

  /** The round's trace spans: everything recorded during it, polls
    * attributed to the batch whose end offset they returned, plus each
    * batch and its `addBatch` phase from the progress events (`addBatch`
    * runs last before the offset commit). */
  private def roundSpans(batches: Vector[BatchRec]): Vector[Trace.Span] = {
    val recorded = Trace.drain()
    if (recorded.isEmpty) return recorded
    val ends = batches.filter(_.endPos.nonEmpty).sortBy(_.endPos.get)
    val polls = recorded.collect {
      case s if s.name.startsWith("poll@") =>
        val pos = s.name.stripPrefix("poll@").toInt
        ends.find(_.endPos.get >= pos)
          .fold(s)(b => s.copy(batch = b.id))
    }
    val phases = batches.flatMap { b =>
      val end = (b.commitMs - b.dur("commitOffsets")) * 1000
      Seq(Trace.Span(b.id, Trace.Layer.Batch, "batch", b.startMs * 1000,
          b.commitMs * 1000),
        Trace.Span(b.id, Trace.Layer.Phase, "addBatch",
          end - b.dur("addBatch") * 1000, end))
    }
    recorded.filterNot(_.name.startsWith("poll@")) ++ polls ++ phases
  }

  // ── workloads ─────────────────────────────────────────────────────────

  trait Workload {
    def name: String
    def prepare(): Unit
    /** One daemon run; `measured` rounds are timed windows and checked. */
    def round(windowS: Double, measured: Boolean): Round
    /** The figure warm-up waits to settle: a round's busy time. */
    def settle(r: Round): Double = r.busyMs.toDouble
    /** Warm-up rounds at most, the cold one included. */
    def maxWarmUps: Int = 3

    protected val setupSamples = Vector.newBuilder[Double]
    /** Set-up samples of a measured window: its rounds', plus every
      * warm-up round's after the first, which paid the JIT's cold start. */
    def setups(rounds: Seq[Round]): Seq[Double] =
      rounds.map(_.setupS) ++ setupSamples.result()

    /** Unmeasured runs until two consecutive ones agree within 10 %. */
    def warmUp(): Unit = {
      var prev = Double.NaN
      var n = 0
      var settled = false
      while (n < maxWarmUps && !settled) {
        val r = round(0.0, measured = false)
        val cur = settle(r)
        log(f"warm-up $n: wall ${r.wallMs} ms, set-up ${r.setupS}%.2f s, " +
          f"settle figure $cur%.1f")
        if (n > 0) setupSamples += r.setupS
        settled = n > 0 && Stats.relDiff(prev, cur) < 0.10
        prev = cur
        n += 1
      }
    }

    /** Rounds until their daemon runs add up to `seconds` (at least one);
      * the correctness checks between them do not count. */
    def measure(seconds: Double): Vector[Round] = {
      var measuredMs = 0L
      val out = Vector.newBuilder[Round]
      do {
        val r = round(seconds, measured = true)
        log(f"round: wall ${r.wallMs} ms, ${r.batches.size} batches, " +
          f"${r.opsPerS}%.0f ops/s, lag p50 ${Stats.median(r.lagsMs)}%.0f ms")
        if (r.check.failed.nonEmpty)
          log("mismatches: " + r.check.examples.mkString("; "))
        out += r
        measuredMs += r.wallMs
      } while (measuredMs < seconds * 1000)
      out.result()
    }

    /** A closed-loop round: `ops` all waiting, `--once` drains them. */
    protected def drain(dir: String, ops: Vector[ChangeEvent],
                        start: Replay => Daemon.Running)
        : (Replay, Long, Vector[BatchRec], Long) = {
      val replay = new Replay(ops)
      replay.releaseAll()
      val w0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val running = start(replay)
      try {
        running.query.awaitTermination()
        running.query.exception.foreach(e => throw e)
        awaitCommitted(running.query, ops.size)
      } finally running.close()
      (replay, startMs, probe.batches(running.query.id.toString),
        (System.nanoTime() - w0) / 1000000)
    }
  }

  /** The sync topology: replay transport → `Daemon.start --transport
    * --sink` → `EsSinkBackend` over the mock cluster. */
  abstract class SyncWorkload extends Workload {
    protected lazy val colls: Map[String, DataFrame] =
      Map("app.supplier" -> Topology.suppliers(spark, o.seed))

    protected def t2Ops(ops: Seq[ChangeEvent]): Double =
      ops.count(e => e.namespace == "app.t2" && e.operation != "d" &&
        e.document != null).toDouble

    /** Start the daemon on `replay` into `cluster`, wired under the round
      * directory's name. */
    protected def startDaemon(dir: String, replay: Replay,
                              cluster: MockEs.Cluster, once: Boolean,
                              maxDocs: Int, backend: TimedBackend)
        : Daemon.Running = {
      val key = Paths.get(dir).getFileName.toString
      MockEs.register(key, cluster)
      SourceTransports.register(key, replay)
      SinkWirings.register(key, SinkWiring(backend, collections = colls))
      Daemon.start(spark, Daemon.Args(cfgPath, s"$dir/unused", dir,
        port = 0, intervalSec = 1L, once = once, transport = Some(key),
        maxDocs = maxDocs, sink = Some(key)))
    }

    protected def backendFor(dir: String): TimedBackend =
      new TimedBackend(new EsSinkBackend(
        new MockEsTransport(Paths.get(dir).getFileName.toString)))

    /** Unwire a finished round; its documents are checked by now, so
      * only the cluster's counters outlive it. */
    protected def release(dir: String): Unit = {
      val key = Paths.get(dir).getFileName.toString
      SinkWirings.unregister(key)
      SourceTransports.unregister(key)
      MockEs(key).docs.clear()
      MockEs.unregister(key)
      dropDir(dir)
    }
  }

  /** Closed loop: the whole backlog is in the transport before the drain;
    * `--once` drains it (AvailableNow) as one micro-batch into an empty
    * index. */
  final class SyncBacklog extends SyncWorkload {
    val name = "sync_backlog"
    val Events = 30000
    val Users = 20000
    val MaxDocs = 200000
    private var ops: Vector[ChangeEvent] = _
    private lazy val twin = Twin.sync(spark, cfg, colls, ops)

    def prepare(): Unit = ops = Gen.ops(o.seed, Events, Users)

    def round(windowS: Double, measured: Boolean): Round = {
      val dir = freshDir("backlog")
      val cluster = new MockEs.Cluster(Topology.indexNamespace)
      val backend = backendFor(dir)
      val (replay, startMs, batches, wallMs) = drain(dir, ops,
        r => startDaemon(dir, r, cluster, once = true, MaxDocs, backend))
      val spans = roundSpans(batches)
      val check =
        if (measured) Twin.compare(cluster, twin) else Twin.Check.empty
      release(dir)
      val first = batches.head.startMs.toDouble
      Round(batches.head.query, startMs, batches, ops.size.toLong,
        batches.map(_.dur("triggerExecution")).sum,
        Stats.lags(batches, 0, ops.size, _ => first), replay, Some(cluster),
        Some(backend), check, Vector.empty, wallMs, spans,
        Map("t2_ops" -> t2Ops(ops), "fed" -> ops.size.toDouble))
    }
  }

  /** Open loop: bursts of 32 ops every 75 ms into a daemon ticking every
    * second, on top of a pre-loaded synced index. One daemon run per
    * round: the stream first warms for WarmBatches batches, then the
    * measured window follows without a restart. Runnable by hand; not in
    * BENCHMARK.json's set (see README). */
  final class SyncTail extends SyncWorkload {
    val name = "sync_tail"
    val Users = 30000
    val MaxDocs = 10000
    /** Batches each round's stream commits before its window opens. Batch
      * times still fall after them (the JIT keeps compiling the planner
      * for a minute), so the warm phase is a fixed count rather than
      * adaptive or timed: every run measures the same stretch of that
      * curve, however fast the host runs that day. */
    val WarmBatches = 8
    private var tailOps: Vector[ChangeEvent] = _
    private val preTwin = new InMemorySinkBackend
    private val preload = new MockEs.Cluster(Topology.indexNamespace)

    def prepare(): Unit = {
      // the index as the initial sync left it, one version below the tail
      val synced = Gen.EpochUs * 4
      Gen.snapshot(o.seed, Users, Topology.indexOf).foreach {
        case (ix, id, body) =>
          preload.put(ix, id, MockEs.Doc(synced, id, body, versioned = true))
          preTwin.state((ix, id)) = preTwin.SinkDoc(
            Topology.indexNamespace(ix), id, synced, body)
      }
      // enough ops for a warm phase and window of 60 s together
      tailOps = Gen.ops(o.seed, Burst * (60000 / BurstMs.toInt + 4), Users,
        firstEvent = 1000000L, startUs = Gen.EpochUs + 1)
    }

    /** Each round warms its own stream (WarmBatches). */
    override def warmUp(): Unit = ()

    /** A round's own start pays the cold JIT (the first round) or follows
      * a measured window; set-up is sampled by three start-only probes
      * after each window instead. */
    override def setups(rounds: Seq[Round]): Seq[Double] =
      setupSamples.result()

    override def measure(seconds: Double): Vector[Round] = {
      val rs = super.measure(seconds)
      (1 to 3).foreach(_ => setupSamples += probeSetup())
      rs
    }

    /** Start a daemon with the first burst waiting; seconds until its
      * first batch commits. */
    private def probeSetup(): Double = {
      val dir = freshDir("tail-setup")
      val replay = new Replay(tailOps)
      replay.release(Burst)
      val startMs = System.currentTimeMillis()
      val running = startDaemon(dir, replay, preload.copy(), once = false,
        MaxDocs, backendFor(dir))
      try awaitCommitted(running.query, Burst) finally running.close()
      val first = probe.batches(running.query.id.toString).head
      release(dir)
      Trace.drain()
      (first.commitMs - startMs) / 1000.0
    }

    def round(windowS: Double, measured: Boolean): Round = {
      val dir = freshDir("tail")
      val cluster = preload.copy()
      val backend = backendFor(dir)
      val replay = new Replay(tailOps)
      replay.release(Burst) // the first burst is waiting at start
      val w0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val running = startDaemon(dir, replay, cluster, once = false, MaxDocs,
        backend)
      val q = running.query.id.toString
      val late = Vector.newBuilder[Double]
      var t0 = 0L
      var j = 0 // burst j is due at t0 + j * 75 ms and releases 32 ops
      def emit(): Unit = {
        val due = t0 + j * BurstMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        replay.release(Burst * (j + 2))
        late += (System.currentTimeMillis() - due).toDouble
        j += 1
      }
      var first = 0
      try {
        awaitCommitted(running.query, Burst)
        t0 = System.currentTimeMillis()
        while (probe.batches(q).size <= WarmBatches) emit()
        first = j
        val last = j + math.max(1, (windowS * 1000 / BurstMs).toInt)
        while (j < last) emit()
        awaitCommitted(running.query, replay.released)
      } finally running.close()
      val wallMs = (System.nanoTime() - w0) / 1000000
      val all = probe.batches(q)
      val spans = roundSpans(all)
      val fed = tailOps.take(replay.released)
      val check =
        if (!measured) Twin.Check.empty
        else Twin.compare(cluster,
          Twin.sync(spark, cfg, colls, fed, start = Some(preTwin)))
      release(dir)
      // the window's ops are those of bursts first until j; its batches
      // are those that committed them
      val from = Burst * (first + 1)
      val window = all.filter(_.endPos.exists(_ > from))
      val before = all.filter(_.endPos.exists(_ <= from))
        .flatMap(_.endPos).lastOption.getOrElse(0)
      log(f"tail: warm ${first * BurstMs / 1000.0}%.1f s, " +
        s"window ${window.size} batches, " +
        s"trigger ms ${all.map(_.dur("triggerExecution")).mkString(" ")}")
      Round(q, startMs, window, (replay.released - before).toLong,
        window.map(_.dur("triggerExecution")).sum,
        Stats.lags(all, from, replay.released,
          i => t0.toDouble + (i / Burst - 1) * BurstMs),
        replay, Some(cluster), Some(backend), check, late.result(), wallMs,
        spans, Map("t2_ops" -> t2Ops(fed), "fed" -> fed.size.toDouble,
          "batches" -> all.size.toDouble))
    }
  }

  /** Closed loop through `--pipeline curation`: document inserts drained
    * with `--once`, as one micro-batch, into fresh bucketed state. */
  final class CurateBacklog extends Workload {
    val name = "curate_backlog"
    val Docs = 1000
    override def maxWarmUps: Int = 2
    private var ops: Vector[ChangeEvent] = _
    private lazy val twin = Twin.curatedIds(spark, cfg, ops)

    def prepare(): Unit = ops = Gen.documentOps(Gen.documents(o.seed, Docs))

    def round(windowS: Double, measured: Boolean): Round = {
      val dir = freshDir("curate")
      val key = Paths.get(dir).getFileName.toString
      val (replay, startMs, batches, wallMs) = drain(dir, ops, { r =>
        SourceTransports.register(key, r)
        Daemon.start(spark, Daemon.Args(cfgPath, s"$dir/unused", dir,
          port = 0, once = true, transport = Some(key), maxDocs = Docs,
          pipeline = Some("curation")))
      })
      SourceTransports.unregister(key)
      val spans = roundSpans(batches)
      val state = Paths.get(s"$dir/state")
      val kept = Twin.keptIds(spark, state.toString)
      val check =
        if (measured) Twin.compareKept(kept, twin) else Twin.Check.empty
      val extra = Map("state_mb" -> Layers.dirMb(state),
        "files" -> Layers.dirFiles(state).toDouble,
        "kept" -> kept.size.toDouble, "fed" -> ops.size.toDouble)
      dropDir(dir)
      val first = batches.head.startMs.toDouble
      Round(batches.head.query, startMs, batches, ops.size.toLong,
        batches.map(_.dur("triggerExecution")).sum,
        Stats.lags(batches, 0, ops.size, _ => first), replay, None, None,
        check, Vector.empty, wallMs, spans, extra)
    }
  }
}
