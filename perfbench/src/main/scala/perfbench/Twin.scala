package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{ConfiguredPipeline, GraftConfig}
import graft.llm.Curation
import graft.sink.{InMemorySinkBackend, SinkWriter}
import graft.source.ChangeEvent
import graft.streaming.{BucketedCuration, CurationDaemon}

/** Batch-twin correctness. The daemon's result after a run must equal the
  * same op log applied as ONE batch through the batch entry points. Every
  * key on which the two differ counts as one failed key, under a named
  * class; nothing is excused. */
object Twin {

  /** Mismatch census of one comparison: keys compared, failed keys per
    * class, and a few example keys for the log. */
  final case class Check(keys: Long, failed: Map[String, Long],
                         examples: Seq[String] = Nil) {
    def failedKeys: Long = failed.values.sum
    def +(o: Check): Check = Check(keys + o.keys,
      (failed.keySet ++ o.failed.keySet).map(k =>
        k -> (failed.getOrElse(k, 0L) + o.failed.getOrElse(k, 0L))).toMap,
      (examples ++ o.examples).take(8))
  }

  object Check { val empty: Check = Check(0L, Map.empty) }

  def envelope(spark: SparkSession, ops: Seq[ChangeEvent]): DataFrame = {
    import spark.implicits._
    ops.toDF()
  }

  /** `ops` as one batch: routeData → writeBatch → InMemorySinkBackend,
    * on top of `start` (a copy of it; the pre-loaded index of a tail
    * run), the q171 composite's shape. */
  def sync(spark: SparkSession, cfg: GraftConfig,
           collections: Map[String, DataFrame], ops: Seq[ChangeEvent],
           start: Option[InMemorySinkBackend] = None): InMemorySinkBackend = {
    val twin = new InMemorySinkBackend
    start.foreach { s =>
      s.state.foreach { case (k, d) =>
        twin.state(k) = twin.SinkDoc(d.namespace, d.routing, d.version,
          d.document)
      }
      twin.history ++= s.history
      twin.rejected ++= s.rejected
    }
    twin.bootstrap(cfg, SinkWriter.fileIndexes(cfg))
    if (ops.nonEmpty)
      SinkWriter.writeBatch(
        ConfiguredPipeline.routeData(cfg, collections = collections)(
          envelope(spark, ops)), cfg, twin)
    twin
  }

  /** Compare the mock cluster's end state with the twin: sink documents
    * by (index, id) on version, routing and body; history entries by
    * (index, source id, version); rejects by (event id, namespace,
    * operation, reason). */
  def compare(mock: MockEs.Cluster, twin: InMemorySinkBackend): Check = {
    val snap = mock.snapshot()
    val mockDocs = snap.collect { case (k, d) if d.versioned => k -> d }
    val twinDocs = twin.state.toMap
    val failed = scala.collection.mutable.Map[String, Long]()
    val examples = Vector.newBuilder[String]
    def fail(cls: String, what: => String = ""): Unit = {
      if (!failed.contains(cls)) examples += s"$cls $what"
      failed(cls) = failed.getOrElse(cls, 0L) + 1
    }
    val docKeys = mockDocs.keySet ++ twinDocs.keySet
    docKeys.foreach { k =>
      val (ix, id) = k
      val m = mockDocs.get(k)
      val t = twinDocs.get(k)
      def what = s"$ix/$id daemon v${m.map(_.version).getOrElse("-")} " +
        s"twin v${t.map(_.version).getOrElse("-")}"
      (m, t) match {
        case (Some(_), None) => fail(s"doc_extra:$ix", what)
        case (None, Some(_)) => fail(s"doc_missing:$ix", what)
        case (Some(md), Some(td)) =>
          if (md.version != td.version) fail(s"doc_version:$ix", what)
          else if (md.routing != td.routing ||
                   md.source != Option(td.document).getOrElse("{}"))
            fail(s"doc_body:$ix", what)
        case _ =>
      }
    }
    val mockHist = snap.collect {
      case ((ix, hid), d) if !d.versioned && ix != MockEs.RejectsIndex =>
        val at = hid.lastIndexOf('@')
        (ix, hid.substring(0, at), hid.substring(at + 1).toLong)
    }.toSet
    val twinHist = twin.history.toSet
    (mockHist -- twinHist).foreach(_ => fail("history_extra"))
    (twinHist -- mockHist).foreach(_ => fail("history_missing"))
    val mockRej = snap.collect {
      case ((ix, _), d) if ix == MockEs.RejectsIndex =>
        val j = MockEs.parse(d.source)
        def s(f: String) = Option(j.get(f)).filterNot(_.isNull)
          .map(_.asText()).orNull
        (j.get("event_id").asLong(), s("namespace"), s("operation"),
          s("reason"))
    }.toSet
    val twinRej = twin.rejected.toSet
    (mockRej -- twinRej).foreach(_ => fail("reject_extra"))
    (twinRej -- mockRej).foreach(_ => fail("reject_missing"))
    Check(docKeys.size.toLong + (mockHist ++ twinHist).size +
      (mockRej ++ twinRej).size, failed.toMap, examples.result())
  }

  /** The batch curation of every document the daemon was fed. */
  def curatedIds(spark: SparkSession, cfg: GraftConfig,
                 ops: Seq[ChangeEvent]): Set[Long] =
    Curation.curate(CurationDaemon.docsOf(envelope(spark, ops), cfg.curation))
      .select("doc_id").collect().map(_.getLong(0)).toSet

  def keptIds(spark: SparkSession, stateDir: String): Set[Long] =
    BucketedCuration.keptCorpus(spark, stateDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  def compareKept(kept: Set[Long], twin: Set[Long]): Check = {
    val extra = (kept -- twin).size.toLong
    val missing = (twin -- kept).size.toLong
    Check((kept ++ twin).size.toLong,
      Map("kept_extra" -> extra, "kept_missing" -> missing)
        .filter(_._2 > 0))
  }
}
