package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.{ConfiguredPipeline, GraftConfig}
import graft.source.EventLog
import graft.streaming.{HealthServer, SdWatchdog}

/** The deployable daemon shape — what the reference ships as its single
  * binary (`/root/reference/monstache.go:4899-4916` StartMulti: read
  * config, tail the source, run the pipeline, serve health, notify
  * systemd). Here the same lifecycle assembles the library's pieces into
  * one runnable `main`:
  *
  *   - [[GraftConfig]] (the reference's TOML surface) drives the
  *     pipeline wiring;
  *   - a Structured Streaming parquet drop-directory stands in for the
  *     change stream, or `--transport KEY` selects a registered
  *     [[graft.source.SourceTransport]] (the deployment seam: resume
  *     token in, envelope micro-batch out — the reference's
  *     gtm.StartMulti wiring) — everything downstream is
  *     source-agnostic because both surface the §1.3 envelope;
  *   - [[ConfiguredPipeline.startStream]] runs the hot path into the
  *     versioned state sink (the store stand-in), or `--sink KEY` runs
  *     the full routed topology into a registered
  *     [[graft.sink.SinkWiring]] (an [[graft.sink.EsSinkBackend]] over
  *     a real transport for a live cluster);
  *   - [[HealthServer]] serves `/healthz` `/started` `/stats` `/config`
  *     (monstache.go:4188-4284);
  *   - [[SdWatchdog]] feeds systemd's watchdog while the stream is
  *     actually progressing (monstache.go:4290-4325, liveness-gated).
  *
  * Usage:
  * {{{
  *   graft.Daemon <config.toml> <eventsDir> <workDir>
  *       [--port N] [--interval SECONDS] [--once]
  *       [--transport KEY] [--maxDocs N] [--sink KEY] [--pipeline KEY]
  * }}}
  *
  * `--pipeline curation` swaps the store hot path for the LLM curation
  * chain (gate → dedup artifacts → kept slices) through the bucketed
  * state stores — [[graft.streaming.CurationDaemon]]; the `[curation]`
  * TOML table tunes it.
  *
  * `eventsDir` must hold at least one parquet file at startup (it pins
  * the stream schema — the reference likewise refuses to start without a
  * reachable source); new files dropped into the directory become
  * micro-batches. `workDir` gets `state/` (the versioned LWW chain) and
  * `checkpoint/` (offsets — restart-safe, the T3 contract). `--once`
  * drains what is available and exits 0 (the reference's exit-after
  * direct-read mode); the default tails forever at `--interval` (10 s).
  *
  * Scale note: this main is driver-side wiring only — every data-moving
  * decision lives in the audited operators it assembles. Run it with
  * `spark-submit --master yarn|k8s` unchanged; the `local[*]` fallback
  * below only engages when no master is configured.
  */
object Daemon {

  final case class Args(configPath: String, eventsDir: String,
                        workDir: String, port: Int = 8080,
                        intervalSec: Long = 10L, once: Boolean = false,
                        transport: Option[String] = None,
                        maxDocs: Int = 10000,
                        sink: Option[String] = None,
                        pipeline: Option[String] = None) {
    // a zero cadence would run tailing micro-batches back to back and
    // switch off the /healthz staleness check (the statsTrigger rule)
    require(intervalSec > 0,
      s"--interval must be a positive number of seconds, got $intervalSec")
  }

  private[graft] def parseArgs(argv: Array[String]): Args = {
    val (flags, pos) = {
      var i = 0
      val f = scala.collection.mutable.Map[String, String]()
      val p = scala.collection.mutable.ArrayBuffer[String]()
      while (i < argv.length) {
        argv(i) match {
          case "--once" => f("once") = "true"; i += 1
          case k @ ("--port" | "--interval" | "--transport" | "--maxDocs"
              | "--sink" | "--pipeline") =>
            require(i + 1 < argv.length, s"$k needs a value")
            f(k.drop(2)) = argv(i + 1); i += 2
          case other => p += other; i += 1
        }
      }
      (f.toMap, p.toSeq)
    }
    require(pos.length == 3,
      "usage: graft.Daemon <config.toml> <eventsDir> <workDir> " +
        "[--port N] [--interval SECONDS] [--once] " +
        "[--transport KEY] [--maxDocs N] [--sink KEY] [--pipeline KEY]")
    def num[A](k: String, parse: String => Option[A], default: A): A =
      flags.get(k).fold(default)(v => parse(v).getOrElse(
        throw new IllegalArgumentException(
          s"--$k expects an integer, got '$v'")))
    Args(pos(0), pos(1), pos(2),
      port = num("port", _.toIntOption, 8080),
      intervalSec = num("interval", _.toLongOption, 10L),
      once = flags.contains("once"),
      transport = flags.get("transport"),
      maxDocs = num("maxDocs", _.toIntOption, 10000),
      sink = flags.get("sink"),
      pipeline = flags.get("pipeline"))
  }

  /** Everything the daemon started — close() tears it down in reverse
    * order (stream first so the last batch commits, then the health
    * surface, then the watchdog stops feeding systemd). */
  final class Running(val query: StreamingQuery,
                      val health: HealthServer.Handle,
                      val watchdog: Option[SdWatchdog.Handle])
      extends AutoCloseable {
    override def close(): Unit = {
      try query.stop() finally {
        watchdog.foreach(_.stop())
        health.close()
      }
    }
  }

  /** Assemble and start the daemon (separated from [[main]] so the spec
    * can drive the full lifecycle in-process). */
  def start(spark: SparkSession, a: Args): Running = {
    // flag-combination validation first (before any file I/O) — every
    // bad combination fails loudly at startup: the curation chain has
    // no sink seam, so a co-passed --sink would otherwise be silently
    // ignored while the user believes the sink wiring is active
    require(!(a.pipeline.contains("curation") && a.sink.nonEmpty),
      "--pipeline curation cannot be combined with --sink")
    val cfg = GraftConfig.load(a.configPath)
    val configToml =
      java.nio.file.Files.readString(java.nio.file.Paths.get(a.configPath))

    // Source selection: a registered [[graft.source.SourceTransport]]
    // (the live change-stream seam — offsets ARE resume tokens) when
    // --transport names one, else the parquet drop-directory stand-in.
    // Both surface the identical §1.3 envelope, so everything downstream
    // is source-agnostic. Schema pin for the parquet path: an empty
    // source dir is a misconfiguration, not a wait-for-data state —
    // fail at startup like the reference does on an unreachable source.
    val events = a.transport match {
      case Some(key) =>
        spark.readStream.format(graft.source.TransportSource.Format)
          .option("transport", key)
          .option("maxDocs", a.maxDocs.toString).load()
      case None =>
        val schema = spark.read.parquet(a.eventsDir).schema
        EventLog.envelopeFrom(
          spark.readStream.schema(schema).parquet(a.eventsDir))
    }

    val staleAfterMs = if (a.once) 0L else a.intervalSec * 3000L
    val health = HealthServer.start(spark, a.port, staleAfterMs, configToml)
    val watchdog = SdWatchdog.fromEnv(
      () => health.listener.healthy(staleAfterMs))
    val trigger =
      if (a.once) Trigger.AvailableNow()
      else Trigger.ProcessingTime(a.intervalSec * 1000L)
    // Sink selection: --sink KEY runs the reference's FULL topology
    // (source → routeData relate fan-out + file content → SinkWriter →
    // backend bulk with drop fences and external-version semantics,
    // monstache.go:3464-3495) into a registered [[graft.sink.SinkWiring]];
    // the default runs the hot path into the versioned-state stand-in.
    // Both checkpoint under workDir, so kill + restart resumes either.
    // Pipeline selection: `--pipeline curation` runs the LLM curation
    // chain live through the bucketed artifact stores (the training-data
    // extension's hot path — [[graft.streaming.CurationDaemon]]); the
    // `[curation]` TOML table tunes it. Unknown keys fail at startup.
    val query = (a.pipeline, a.sink) match {
      // --sink with curation already rejected at the top of start()
      case (Some("curation"), _) =>
        graft.streaming.CurationDaemon.start(events,
          s"${a.workDir}/state", s"${a.workDir}/checkpoint",
          cfg.curation, trigger = trigger)
      case (Some(other), _) =>
        throw new IllegalArgumentException(
          s"--pipeline $other: unknown pipeline (supported: curation)")
      case (None, Some(key)) =>
        val w = graft.sink.SinkWirings.lookup(key)
        ConfiguredPipeline.startRoutedSink(cfg,
          collections = w.collections, fileContentCol = w.fileContentCol)(
          events, s"${a.workDir}/checkpoint", w.backend, trigger = trigger)
      case (None, None) =>
        ConfiguredPipeline.startStream(cfg)(
          events, s"${a.workDir}/state", s"${a.workDir}/checkpoint",
          trigger = trigger)
    }
    new Running(query, health, watchdog)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = GraftSession.ensure(GraftSession.configure(
      SparkSession.builder().master(
        sys.props.get("spark.master").getOrElse("local[*]")),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val running = start(spark, a)
    sys.addShutdownHook(running.close())
    running.query.awaitTermination()
    if (a.once) running.close()
  }
}
