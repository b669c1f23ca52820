package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingUpsert

/** The daemon lifecycle end to end, in-process: config file → parquet
  * drop-directory tail → configured hot path → versioned state, with the
  * health surface live while the stream runs and a clean teardown. Also
  * pins the arg grammar and the refuse-to-start-on-empty-source
  * contract. */
class DaemonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val toml =
    """index-oplog-time = true
      |oplog-ts-field-name = "ots"
      |""".stripMargin

  test("arg grammar: positions, flags, errors") {
    val a = Daemon.parseArgs(Array("/c.toml", "/events", "/work",
      "--port", "0", "--interval", "5", "--once"))
    assert(a == Daemon.Args("/c.toml", "/events", "/work",
      port = 0, intervalSec = 5L, once = true))
    assert(Daemon.parseArgs(Array("a", "b", "c")) ==
      Daemon.Args("a", "b", "c"))
    intercept[IllegalArgumentException] {
      Daemon.parseArgs(Array("a", "b"))
    }
    intercept[IllegalArgumentException] {
      Daemon.parseArgs(Array("a", "b", "c", "--port"))
    }
    // a zero or negative cadence is refused by name, not busy-spun
    for (v <- Seq("0", "-5")) {
      val e = intercept[IllegalArgumentException](
        Daemon.parseArgs(Array("a", "b", "c", "--interval", v)))
      assert(e.getMessage.contains("--interval"))
    }
    // a non-numeric value names its flag
    for (k <- Seq("--port", "--interval", "--maxDocs")) {
      val e = intercept[IllegalArgumentException](
        Daemon.parseArgs(Array("a", "b", "c", k, "ten")))
      assert(e.getMessage.contains(k))
    }
    assert(Daemon.parseArgs(Array("a", "b", "c", "--interval", "1"))
      .intervalSec == 1L)
  }

  test("--pipeline curation + --sink fails loudly at startup") {
    // the curation chain has no sink seam — silently ignoring --sink
    // would start a topology the user didn't ask for
    val e = intercept[IllegalArgumentException] {
      Daemon.start(spark, Daemon.Args("/c.toml", "/events", "/work",
        once = true, sink = Some("some-sink"),
        pipeline = Some("curation")))
    }
    assert(e.getMessage.contains("--pipeline curation"))
    assert(e.getMessage.contains("--sink"))
  }

  test("--once lifecycle: drains the drop dir, serves health, tears down") {
    val eventsDir = Files.createTempDirectory("graft-daemon-events")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      eventsDir.resolve("batch0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val workDir = Files.createTempDirectory("graft-daemon-work").toString
    val cfgPath = Files.createTempDirectory("graft-daemon-cfg")
      .resolve("graft.toml")
    Files.writeString(cfgPath, toml)

    val running = Daemon.start(spark, Daemon.Args(
      cfgPath.toString, eventsDir.toString, workDir, port = 0, once = true))
    try {
      // health surface is live while the stream runs
      val http = HttpClient.newHttpClient()
      def get(path: String) = http.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${running.health.port}$path")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get("/healthz").statusCode() == 200)
      assert(get("/config").body().contains("index-oplog-time"))

      running.query.awaitTermination() // AvailableNow: drains and stops
      val state = StreamingUpsert.latestState(spark, s"$workDir/state")
      assert(state.isDefined)
      assert(state.get.count() > 0)
      // the configured hot path ran: oplog-time injection renamed the
      // ts field per the TOML
      assert(state.get.columns.contains("ots"))
    } finally running.close()
  }

  test("--transport tails a registered SourceTransport into the same state") {
    import graft.source.{ChangeEvent, SourceBatch, SourceTransport, SourceTransports}
    val events = (0 until 60).map { i =>
      val op = if (i % 11 == 0) "d" else if (i % 3 == 0) "i" else "u"
      ChangeEvent(i.toLong, (i % 7).toString, "app", "t0", "app.t0", op,
        1000000L + i, (1000000L + i) * 4,
        if (op == "d") null else s"""{"k":$i}""", i.toDouble, "oplog")
    }
    SourceTransports.register("daemon-spec", new SourceTransport {
      override def poll(tok: Option[String], maxDocs: Int): SourceBatch = {
        val from = tok.map(_.toInt).getOrElse(0)
        val evs = events.slice(from, from + maxDocs)
        SourceBatch(evs, (from + evs.length).toString)
      }
    })
    try {
      val workDir = Files.createTempDirectory("graft-daemon-work3").toString
      val cfgPath = Files.createTempDirectory("graft-daemon-cfg3")
        .resolve("graft.toml")
      Files.writeString(cfgPath, toml)
      val running = Daemon.start(spark, Daemon.Args(
        cfgPath.toString, "/nonexistent-unused", workDir, port = 0,
        once = true, transport = Some("daemon-spec"), maxDocs = 25))
      try {
        running.query.awaitTermination()
        val state = StreamingUpsert.latestState(spark, s"$workDir/state")
        assert(state.isDefined)
        // LWW over the transport ops: the live ids are those whose last
        // op was not a delete — same contract as the drop-dir path
        val lastOp = events.groupBy(_.id).map { case (id, evs) =>
          id -> evs.maxBy(_.version).operation
        }
        val expectLive = lastOp.count(_._2 != "d")
        assert(state.get.filter("operation != 'd'").count() == expectLive)
        assert(state.get.columns.contains("ots"),
          "the configured hot path must run on transport events too")
      } finally running.close()
    } finally SourceTransports.unregister("daemon-spec")
  }

  test("--sink + --transport: full topology with kill + resume ≡ batch twin") {
    // the reference's one-binary shape end to end: transport tail →
    // routeData (relate fan-out + file content) → SinkWriter → backend
    // bulk, killed between chunks and resumed from the checkpoint; the
    // final sink state must equal the batch routeData twin over the
    // full op log (the q171-composite contract)
    import graft.source.{ChangeEvent, SourceBatch, SourceTransport, SourceTransports}
    import graft.sink.{InMemorySinkBackend, SinkWiring, SinkWirings}
    import graft.config.ConfiguredPipeline
    import spark.implicits._

    def ev(eid: Long, id: String, ns: String, op: String, ver: Long,
           doc: String): ChangeEvent = {
      val Array(db, coll) = ns.split("\\.", 2)
      ChangeEvent(eid, id, db, coll, ns, op, ver * 1000L, ver, doc, 0.0,
        "oplog")
    }
    val chunk1 = Seq(
      ev(0, "100", "app.t2", "i", 10, """{"pk":1}"""),
      ev(1, "7", "app.t0", "i", 11, """{"a":1}"""),
      ev(2, "101", "app.t2", "d", 12, null))
    val chunk2 = Seq(
      ev(3, "100", "app.t2", "u", 20, """{"pk":1}"""),
      ev(4, "102", "app.t2", "i", 21, """{"pk":2}"""))
    val parts = Seq(
      (1L, "1", """{"name":"bolt"}""", "short blob"),
      (2L, "2", """{"name":"nut"}""", "x".repeat(40)),
      (3L, "3", """{"name":"washer"}""", "also short")
    ).toDF("pk", "id", "document", "blob")
    // the SAME config reaches both the daemon (via its TOML path) and
    // the batch twin (parsed from the identical source)
    val sinkToml =
      """index-files = true
        |file-namespaces = ["app.parts"]
        |max-file-size = 20
        |
        |[[mapping]]
        |namespace = "app.parts"
        |index = "parts_idx"
        |
        |[[relate]]
        |namespace = "app.t2"
        |with-namespace = "app.parts"
        |src-field = "document.pk"
        |match-field = "pk"
        |match-field-type = "long"
        |""".stripMargin
    val cfg = graft.config.GraftConfig.fromToml(sinkToml)

    // a transport whose retained log GROWS between daemon runs — the
    // kill window
    val log = scala.collection.mutable.ArrayBuffer[ChangeEvent](chunk1: _*)
    SourceTransports.register("daemon-sink-src", new SourceTransport {
      override def poll(tok: Option[String], maxDocs: Int): SourceBatch =
        log.synchronized {
          val from = tok.map(_.toInt).getOrElse(0)
          val evs = log.slice(from, from + maxDocs).toVector
          SourceBatch(evs, (from + evs.length).toString)
        }
    })
    val backend = new InMemorySinkBackend
    SinkWirings.register("daemon-sink",
      SinkWiring(backend, collections = Map("app.parts" -> parts),
        fileContentCol = "blob"))
    try {
      val workDir = Files.createTempDirectory("graft-daemon-work4").toString
      val cfgPath = Files.createTempDirectory("graft-daemon-cfg4")
        .resolve("graft.toml")
      Files.writeString(cfgPath, sinkToml)
      def run(): Unit = {
        val running = Daemon.start(spark, Daemon.Args(
          cfgPath.toString, "/unused", workDir, port = 0, once = true,
          transport = Some("daemon-sink-src"), sink = Some("daemon-sink")))
        try running.query.awaitTermination() finally running.close()
      }
      CacheBarriers.releaseAll() // drain what earlier suites left
      run() // chunk1, then the daemon exits (the kill)
      val afterKill = backend.state.keySet
      assert(afterKill == Set(("parts_idx", "1"), ("app.t0", "7")),
        s"chunk1 state before the resume, got $afterKill")
      log.synchronized { log ++= chunk2 }
      run() // resume from checkpoint: only chunk2 replays
      // every batch's materializations were scoped to the batch
      assert(CacheBarriers.releaseAll() == 0)

      val twin = new InMemorySinkBackend
      graft.sink.SinkWriter.writeBatch(
        ConfiguredPipeline.routeData(cfg,
          collections = Map("app.parts" -> parts), fileContentCol = "blob")(
          (chunk1 ++ chunk2).toDF()), cfg, twin)
      def snap(b: InMemorySinkBackend) = b.state.toMap.map {
        case (k, d) => (k, (d.namespace, d.version, d.document))
      }
      assert(snap(backend) == snap(twin),
        "daemon sink state after kill+resume must equal the batch twin")
      assert(backend.state(("parts_idx", "1")).version == 20)
    } finally {
      SourceTransports.unregister("daemon-sink-src")
      SinkWirings.unregister("daemon-sink")
    }
  }

  test("--pipeline curation: live curation chain, kill + resume ≡ batch fold") {
    // the curation hot path run the way the reference runs its sink
    // path: transport tail → envelope→doc mapping → bucketed gate/dedup
    // merges, killed between chunks and resumed from the checkpoint;
    // the accumulated kept corpus must equal the batch
    // curateIncremental fold over the same two batches
    import graft.source.{ChangeEvent, SourceBatch, SourceTransport, SourceTransports}
    import graft.streaming.{BucketedCuration, CurationDaemon}
    import graft.llm.Curation
    import spark.implicits._

    def text(i: Long): String =
      (0 until 26).map(j => s"k${i}x$j").mkString(" ")
    def trunc(t: String): String = t.split(" ").dropRight(5).mkString(" ")
    def ev(eid: Long, id: Long, txt: String): ChangeEvent =
      ChangeEvent(eid, id.toString, "app", "web", "app.web", "i",
        1000000L + eid, 1000000L + eid, s"""{"text":"$txt"}""", 0.0,
        "oplog")
    // chunk1: fresh docs; chunk2: an exact dup, a near-dup, fresh
    val chunk1 = (0L until 12L).map(i => ev(i, i, text(i)))
    val chunk2 = Seq(
      ev(20, 100, text(3)),        // exact dup -> dropped
      ev(21, 101, trunc(text(5))), // near-dup -> dropped
      ev(22, 102, text(40)))       // fresh -> kept
    val log = scala.collection.mutable.ArrayBuffer[ChangeEvent](chunk1: _*)
    SourceTransports.register("daemon-cur-src", new SourceTransport {
      override def poll(tok: Option[String], maxDocs: Int): SourceBatch =
        log.synchronized {
          val from = tok.map(_.toInt).getOrElse(0)
          val evs = log.slice(from, from + maxDocs).toVector
          SourceBatch(evs, (from + evs.length).toString)
        }
    })
    try {
      val workDir = Files.createTempDirectory("graft-daemon-work5").toString
      val cfgPath = Files.createTempDirectory("graft-daemon-cfg5")
        .resolve("graft.toml")
      Files.writeString(cfgPath,
        "[curation]\nnum-buckets = 8\n")
      def run(): Unit = {
        val running = Daemon.start(spark, Daemon.Args(
          cfgPath.toString, "/unused", workDir, port = 0, once = true,
          transport = Some("daemon-cur-src"), pipeline = Some("curation")))
        try running.query.awaitTermination() finally running.close()
      }
      CacheBarriers.releaseAll() // drain what earlier suites left
      val sc = spark.sparkContext
      val blocksBefore = sc.getRDDStorageInfo.map(_.id).toSet
      run() // chunk1, then the daemon exits (the kill)
      val stateDir = s"$workDir/state"
      def kept(): Set[Long] =
        BucketedCuration.keptCorpus(spark, stateDir)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept() == (0L until 12L).toSet,
        "chunk1 all fresh: every doc kept before the resume")
      log.synchronized { log ++= chunk2 }
      run() // resume from checkpoint: only chunk2 replays
      assert(CacheBarriers.releaseAll() == 0)
      val left = sc.getRDDStorageInfo.filterNot(r => blocksBefore(r.id))
      assert(left.isEmpty, s"blocks left: ${left.mkString(", ")}")

      // batch twin: empty bootstrap artifacts, then the same two
      // batches folded through curateIncremental
      val (_, art0) = Curation.artifactsOf(
        Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"),
        sourceCol = Some("source"))
      val b1 = chunk1.map(e => (e.id.toLong, text(e.id.toLong), "web"))
      val b2 = Seq((100L, text(3), "web"), (101L, trunc(text(5)), "web"),
        (102L, text(40), "web"))
      val (k1, art1) = Curation.curateIncremental(
        b1.toDF("doc_id", "text", "source"), art0,
        sourceCol = Some("source"))
      val (k2, _) = Curation.curateIncremental(
        b2.toDF("doc_id", "text", "source"), art1,
        sourceCol = Some("source"))
      val twinKept = (k1.select("doc_id").collect() ++
        k2.select("doc_id").collect()).map(_.getLong(0)).toSet
      assert(kept() == twinKept,
        "daemon kept corpus after kill+resume must equal the batch fold")
      assert(!twinKept.contains(100L) && !twinKept.contains(101L) &&
        twinKept.contains(102L))
      // the artifact view is live for downstream readers
      val art = BucketedCuration.latestArtifacts(spark, stateDir)
      assert(art.isDefined)
      assert(art.get.hashReps.count() > 0)
    } finally SourceTransports.unregister("daemon-cur-src")
  }

  test("an empty events dir refuses to start (schema pin, loud)") {
    val emptyDir = Files.createTempDirectory("graft-daemon-empty").toString
    val cfgPath = Files.createTempDirectory("graft-daemon-cfg2")
      .resolve("graft.toml")
    Files.writeString(cfgPath, toml)
    intercept[org.apache.spark.sql.AnalysisException] {
      Daemon.start(spark, Daemon.Args(cfgPath.toString, emptyDir,
        Files.createTempDirectory("graft-daemon-work2").toString,
        port = 0, once = true))
    }
  }
}
