package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.config.GraftConfig
import graft.sink.{InMemorySinkBackend, SinkWriter}
import graft.source.ChangeEvent

/** One writer drives all four K-layer op kinds (bulk upsert, delete
  * strategy, drop propagation, time-machine history) through the
  * pluggable [[SinkBackend]] against the in-memory mock — the packaged
  * `doIndexing`/`doDelete`/`doDrop` surface. */
class SinkWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev(eid: Long, id: String, ns: String, op: String, ver: Long,
                 doc: String = """{"a":1}"""): ChangeEvent = {
    val Array(db, coll) = ns.split("\\.", 2)
    ChangeEvent(eid, id, db, coll, ns, op, ver * 1000L, ver, doc, 0.0,
      "oplog")
  }
  private def drop(eid: Long, ns: String, op: String,
                   ver: Long): ChangeEvent = {
    val db = ns.split("\\.", 2)(0)
    ChangeEvent(eid, null, db, null, ns, op, ver * 1000L, ver, null, 0.0,
      "oplog")
  }

  private val cfg = GraftConfig(
    mappings = Map("app.t1" -> "custom_t1"),
    timeMachineNamespaces = Seq("app.t0"))

  test("all four op kinds flow through one writer against the mock") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    // batch 1: inserts/updates in two namespaces (one mapped), then a
    // dropCollection that fences the EARLY t1 write but not the later one
    val b1 = Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "1", "app.t0", "u", 11, """{"a":2}"""),
      ev(2, "2", "app.t0", "i", 12),
      ev(3, "9", "app.t1", "i", 13),          // loses LWW to ev(5) anyway
      ev(9, "8", "app.t1", "i", 13),          // FENCED: only op, pre-drop
      drop(4, "app.t1", "drop_coll", 14),
      ev(5, "9", "app.t1", "i", 15, """{"a":9}""")) // outlives the drop
    SinkWriter.writeBatch(b1.toDF(), cfg, backend)
    assert(backend.state.keySet == Set(
      ("app.t0", "1"), ("app.t0", "2"), ("custom_t1", "9")))
    assert(backend.state(("app.t0", "1")).version == 11)
    assert(backend.state(("custom_t1", "9")).version == 15)
    // K4: every t0 version appended (3 ops), dated index naming
    assert(backend.history.size == 3)
    assert(backend.history.forall(_._1.startsWith("log.app.t0.")))

    // batch 2: a delete for id 1 (resolved against sink state), an
    // update for id 2, and a dropDatabase wiping the custom-mapped index?
    // no — custom_t1 is outside the app.* prefix, which is exactly the
    // mapping-vs-prefix nuance: dropDatabase covers indexes named under
    // the db prefix; the mapped index survives it (its collection drop
    // is what deletes it, as batch 1 showed)
    val b2 = Seq(
      ev(6, "1", "app.t0", "d", 20),
      ev(7, "2", "app.t0", "u", 21, """{"a":3}"""))
    SinkWriter.writeBatch(b2.toDF(), cfg, backend)
    assert(backend.state.keySet == Set(("app.t0", "2"), ("custom_t1", "9")))
    assert(backend.state(("app.t0", "2")).version == 21)
    assert(backend.history.size == 5)

    // replay batch 2 (at-least-once): external versions make it a no-op
    SinkWriter.writeBatch(b2.toDF(), cfg, backend)
    assert(backend.state.keySet == Set(("app.t0", "2"), ("custom_t1", "9")))
    assert(backend.state(("app.t0", "2")).version == 21)
  }

  test("rejects never reach the backend but always reach the quarantine") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val big = "x" * 600 // 600 bytes > the 512-byte sink key cap
    val b = Seq(
      ev(0, "1", "app.t0", "i", 10),      // accepted
      ev(1, "", "app.t0", "i", 11),       // FATAL: empty id
      ev(2, null, "app.t0", "u", 12),     // FATAL: null id
      ev(3, big, "app.t0", "i", 13),      // FATAL: oversized id
      drop(4, "app.t1", "drop_coll", 14)) // id-less drop op: EXEMPT
    SinkWriter.writeBatch(b.toDF(), cfg, backend)
    // fatal rejects never land in the sink state...
    assert(backend.state.keySet == Set(("app.t0", "1")),
      s"only the accepted op may index, got ${backend.state.keySet}")
    // ...but every one of them reaches the quarantine channel with its
    // reason (the reference's error-logged skip, monstache.go:3167-3171)
    assert(backend.rejected.map(r => (r._1, r._4)).sorted == Seq(
      (1L, "empty_id"), (2L, "empty_id"), (3L, "oversized_id")),
      s"quarantine contents: ${backend.rejected}")
    // the K4 audit trail also excludes unkeyable ops (no id = no key)
    assert(backend.history.map(_._2).toSet == Set("1"))

    // a replayed batch reports the same rejects again (at-least-once on
    // the errors channel — the Es backend's deterministic reject ids
    // make the replay overwrite, the mock just appends)
    SinkWriter.writeBatch(b.toDF(), cfg, backend)
    assert(backend.rejected.size == 6)
  }

  test("dropDatabase wipes the db prefix; later ops recreate") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "2", "app.t2", "i", 11)).toDF(), GraftConfig(), backend)
    assert(backend.state.size == 2)
    SinkWriter.writeBatch(Seq(
      drop(2, "app", "drop_db", 20),
      ev(3, "3", "app.t0", "i", 21)).toDF(), GraftConfig(), backend)
    assert(backend.state.keySet == Set(("app.t0", "3")))
    // a disabled gate turns the drop into a no-op (dropped-databases)
    val backend2 = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 10),
      drop(1, "app", "drop_db", 20)).toDF(),
      GraftConfig(droppedDatabases = false), backend2)
    assert(backend2.state.keySet == Set(("app.t0", "1")))
  }

  test("deletes are version-fenced: a stale tombstone spares a newer doc") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 30)).toDF(), GraftConfig(), backend)
    assert(backend.state(("app.t0", "1")).version == 30)
    // a late-replayed tombstone BELOW the stored version is ignored —
    // replay idempotency no longer rests on batch ordering alone
    SinkWriter.writeBatch(Seq(
      ev(1, "1", "app.t0", "d", 20)).toDF(), GraftConfig(), backend)
    assert(backend.state(("app.t0", "1")).version == 30)
    // the in-order delete (higher version) still clears it
    SinkWriter.writeBatch(Seq(
      ev(2, "1", "app.t0", "d", 31)).toDF(), GraftConfig(), backend)
    assert(!backend.state.contains(("app.t0", "1")))
  }

  test("delete protection refuses ambiguous deletes; by-query removes all") {
    import spark.implicits._
    // the same id indexed into TWO indexes (cross-namespace id reuse)
    val seed = Seq(
      ev(0, "7", "app.t0", "i", 10),
      ev(1, "7", "app.t2", "i", 11))
    // stateless + protection: two hits -> refused, both stay
    val guarded = new InMemorySinkBackend
    SinkWriter.writeBatch(seed.toDF(), GraftConfig(), guarded)
    SinkWriter.writeBatch(Seq(ev(2, "7", "app.t0", "d", 20)).toDF(),
      GraftConfig(), guarded)
    assert(guarded.state.size == 2)
    // disable-delete-protection: by-query semantics, every hit deleted
    val byQuery = new InMemorySinkBackend
    SinkWriter.writeBatch(seed.toDF(),
      GraftConfig(disableDeleteProtection = true), byQuery)
    SinkWriter.writeBatch(Seq(ev(2, "7", "app.t0", "d", 20)).toDF(),
      GraftConfig(disableDeleteProtection = true), byQuery)
    assert(byQuery.state.isEmpty)
    // strategy 2: deletes are ignored entirely
    val ignoring = new InMemorySinkBackend
    SinkWriter.writeBatch(seed.toDF(), GraftConfig(deleteStrategy = 2),
      ignoring)
    SinkWriter.writeBatch(Seq(ev(2, "7", "app.t0", "d", 20)).toDF(),
      GraftConfig(deleteStrategy = 2), ignoring)
    assert(ignoring.state.size == 2)
  }

  test("strategy 2 in-batch: a trailing delete cannot eat the data winner") {
    import spark.implicits._
    // the reference never replays ignored deletes, so [i, d] in ONE
    // batch must still index the insert — the delete is dropped BEFORE
    // last-writer-wins, not resolved after it
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "1", "app.t0", "d", 20)).toDF(),
      GraftConfig(deleteStrategy = 2,
        timeMachineNamespaces = Seq("app.t0")), backend)
    assert(backend.state.keySet == Set(("app.t0", "1")))
    assert(backend.state(("app.t0", "1")).version == 10)
    // the audit trail still records the IGNORED delete: strategy 2
    // gates indexing, not history
    assert(backend.history.size == 2)
  }

  test("stateful deletes hit mixed-case mapped indexes") {
    import spark.implicits._
    val cfgM = GraftConfig(mappings = Map("app.t1" -> "Custom_T1"),
      deleteStrategy = 1)
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(ev(0, "3", "app.t1", "i", 10)).toDF(),
      cfgM, backend)
    assert(backend.state.keySet == Set(("Custom_T1", "3")))
    // the delete must target the EXACT stored key, not a lowercased one
    SinkWriter.writeBatch(Seq(ev(1, "3", "app.t1", "d", 20)).toDF(),
      cfgM, backend)
    assert(backend.state.isEmpty)
  }

  test("stateful deletes resolve through saved routing metadata") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    // the doc carries a _meta_monstache index override: saved meta is
    // what the stateful strategy must consult on delete
    SinkWriter.writeBatch(Seq(
      ev(0, "5", "app.t0", "i", 10,
        """{"a":1,"_meta_monstache":{"index":"special","routing":"r5"}}"""))
      .toDF(), GraftConfig(deleteStrategy = 1), backend)
    assert(backend.state.keySet == Set(("special", "5")))
    assert(backend.state(("special", "5")).routing == "r5")
    SinkWriter.writeBatch(Seq(ev(1, "5", "app.t0", "d", 20)).toDF(),
      GraftConfig(deleteStrategy = 1), backend)
    assert(backend.state.isEmpty)
  }

  test("drop fence: interleaved drops, a mapped namespace, each strategy") {
    import spark.implicits._
    val cfgF = GraftConfig(
      mappings = Map("app.t1" -> "custom_t1", "app.t2" -> "custom_t2"))
    // seed batch (no drops): what the drops and deletes below act on
    val seed = Seq(
      ev(0, "1", "app.t0", "i", 1), ev(1, "2", "app.t0", "i", 2),
      ev(2, "3", "app.t1", "i", 3), ev(3, "4", "app.t1", "i", 4),
      ev(4, "5", "other.t0", "i", 5), ev(5, "6", "other.t0", "i", 6),
      ev(6, "7", "app.t2", "i", 7), ev(7, "13", "other.t0", "i", 8))
    // one batch, in version order. Fences: app.t0 and app.t2 at 50 (the
    // drop_db covers db app; drop_coll app.t0 at 30 is below it), app.t1
    // at 70 (its own drop_coll outranks the drop_db), other.t0 none.
    val drops = Seq(
      ev(10, "1", "app.t0", "u", 10),   // fenced
      ev(11, "3", "app.t1", "d", 11),   // fenced
      ev(12, "5", "other.t0", "d", 12), // unfenced delete
      ev(13, "7", "app.t2", "u", 13),   // fenced
      drop(30, "app.t0", "drop_coll", 30),
      ev(31, "8", "app.t0", "i", 31),   // fenced
      ev(32, "13", "app.t0", "d", 32),  // fenced: spares other.t0/13
      drop(50, "app", "drop_db", 50),
      ev(51, "9", "app.t0", "i", 51),   // lands
      ev(52, "4", "app.t1", "u", 52),   // fenced
      ev(53, "6", "app.t0", "d", 53),   // outlives the fence
      drop(70, "app.t1", "drop_coll", 70),
      ev(71, "10", "app.t1", "i", 71),  // lands in custom_t1
      ev(72, "11", "app.t2", "i", 72),  // lands in custom_t2
      ev(74, "9", "other.t0", "d", 74)) // outlives: no other.t0 fence
    // a later batch without drops: nothing is fenced
    val noDrops = Seq(
      ev(80, "9", "app.t0", "u", 80),
      ev(81, "7", "app.t2", "d", 81),
      ev(82, "12", "app.t1", "i", 82))
    def run(strategy: Int): Seq[Map[(String, String), Long]] = {
      val backend = new InMemorySinkBackend
      val c = cfgF.copy(deleteStrategy = strategy)
      Seq(seed, drops, noDrops).map { batch =>
        SinkWriter.writeBatch(batch.toDF(), c, backend)
        backend.state.map { case (k, d) => k -> d.version }.toMap
      }
    }
    // the seed batch, under every strategy
    val seeded = Map(("app.t0", "1") -> 1L, ("app.t0", "2") -> 2L,
      ("custom_t1", "3") -> 3L, ("custom_t1", "4") -> 4L,
      ("other.t0", "5") -> 5L, ("other.t0", "6") -> 6L,
      ("custom_t2", "7") -> 7L, ("other.t0", "13") -> 8L)
    // after the drop batch, every strategy: drop_coll app.t0 wiped
    // app.t0; drop_coll app.t1 wiped custom_t1; the drop_db's "app."
    // prefix never reaches custom_t2, yet its fence still held the
    // v13 update of custom_t2/7 back (the open mapped-index finding,
    // pinned as it stands)
    val landed = Map(("app.t0", "9") -> 51L, ("custom_t1", "10") -> 71L,
      ("custom_t2", "7") -> 7L, ("custom_t2", "11") -> 72L,
      ("other.t0", "13") -> 8L)

    // stateless with protection: each surviving tombstone's id has ONE
    // hit, whatever its namespace — other.t0/5 (its own doc), other.t0/6
    // (the app.t0 delete's only same-id hit) and app.t0/9 (upserted in
    // this batch, so the delete reads the post-upsert state)
    assert(run(0) == Seq(seeded,
      landed - (("app.t0", "9")),
      landed - (("app.t0", "9")) - (("custom_t2", "7")) ++ Map(
        ("app.t0", "9") -> 80L, ("custom_t1", "12") -> 82L)))
    // stateful: tombstones resolve to their own namespace's saved
    // coordinates only, so just other.t0/5 goes (and custom_t2/7 in the
    // no-drop batch, through its saved mapped index)
    assert(run(1) == Seq(seeded,
      landed + (("other.t0", "6") -> 6L),
      landed - (("custom_t2", "7")) ++ Map(("other.t0", "6") -> 6L,
        ("app.t0", "9") -> 80L, ("custom_t1", "12") -> 82L)))
    // ignore: no delete ever applies
    val kept = landed ++ Map(("other.t0", "5") -> 5L, ("other.t0", "6") -> 6L)
    assert(run(2) == Seq(seeded, kept,
      kept ++ Map(("app.t0", "9") -> 80L, ("custom_t1", "12") -> 82L)))
  }

  test("a failing backend call leaves none of the batch's blocks behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    val failing = new InMemorySinkBackend {
      override def applyPreDelete(
          quarantineRows: Option[DataFrame], history: Option[DataFrame],
          drops: DataFrame, upserts: DataFrame): Unit =
        throw new IllegalStateException("bulk request refused")
    }
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val err = intercept[IllegalStateException] {
      SinkWriter.writeBatch(Seq(
        ev(0, "1", "app.t0", "i", 10),
        ev(1, "2", "app.t0", "d", 11)).toDF(), cfg, failing)
    }
    assert(err.getMessage == "bulk request refused")
    val left = sc.getRDDStorageInfo.filterNot(r => before(r.id))
    assert(left.isEmpty, s"blocks left: ${left.mkString(", ")}")
  }

  test("both batch materializations release through the LogicalRDD branch") {
    import spark.implicits._
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 10),
      drop(1, "app.t1", "drop_coll", 11)).toDF(), cfg,
      new InMemorySinkBackend)
    assert(SinkWriter.fallbackReleases.get == 0)
  }

  test("each writeBatch layer labels its jobs and restores the caller's") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      SinkWriter.writeBatch(Seq(
        ev(0, "1", "app.t0", "i", 10),
        ev(1, "2", "app.t0", "i", 11),
        drop(2, "app.t1", "drop_coll", 12),
        ev(3, "2", "app.t0", "d", 13)).toDF(), cfg, new InMemorySinkBackend)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val expected = Set("route", "winners", "pre_delete", "delete")
        .map("graft.sink:" + _)
      // listener events arrive asynchronously
      def seen = labels.toArray(new Array[String](0)).toSet
      val deadline = System.nanoTime() + 10000000000L
      while (!expected.subsetOf(seen) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(expected.subsetOf(seen), s"job labels seen: $seen")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("startSink runs the config-driven hot path into the backend") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val ckpt = Files.createTempDirectory("graft-sink-cfg-ckpt").toString
    // config: keep only app.t0, map it to a custom index
    val cfgT0 = graft.config.GraftConfig(
      namespaceRegex = Some("^app\\.t0$"),
      mappings = Map("app.t0" -> "t0_idx"))
    val s = MemoryStream[ChangeEvent]
    s.addData(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "9", "app.t9", "i", 11), // filtered by namespace-regex
      ev(2, "2", "app.t0", "i", 12)))
    graft.config.ConfiguredPipeline.startSink(cfgT0)(s.toDF(), ckpt, backend)
      .awaitTermination()
    assert(backend.state.keySet == Set(("t0_idx", "1"), ("t0_idx", "2")))
  }

  test("the streaming form drives the same writer through foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val s = MemoryStream[ChangeEvent]
    s.addData(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "2", "app.t0", "i", 11),
      ev(2, "1", "app.t0", "d", 12)))
    SinkWriter.start(s.toDF(), ckpt, cfg, backend).awaitTermination()
    assert(backend.state.keySet == Set(("app.t0", "2")))
    assert(backend.history.size == 3)
  }

  test("K8: bootstrap precedes the first batch with resolved file indexes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val ckpt = Files.createTempDirectory("graft-sink-boot-ckpt").toString
    // one mapped file namespace, one default-resolved (lowercased)
    val cfgF = GraftConfig(indexFiles = true,
      fileNamespaces = Seq("app.Parts", "app.t0"),
      mappings = Map("app.Parts" -> "parts_idx"))
    val s = MemoryStream[ChangeEvent]
    s.addData(Seq(ev(0, "1", "app.t0", "i", 10)))
    SinkWriter.start(s.toDF(), ckpt, cfgF, backend).awaitTermination()
    assert(backend.bootstraps.toSeq == Seq(Seq(
      "app.Parts" -> "parts_idx", "app.t0" -> "app.t0")))
    // not one op reached the sink before bootstrap ran
    assert(backend.opsBeforeBootstrap == 0)
    assert(backend.state.keySet == Set(("app.t0", "1")))
    // index-files off ⇒ nothing to prepare (the reference only ensures
    // file mappings when indexing files)
    assert(SinkWriter.fileIndexes(GraftConfig(
      fileNamespaces = Seq("app.Parts"))).isEmpty)
  }
}
