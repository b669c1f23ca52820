package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MockEsSpec extends AnyFunSuite {

  private def index(ix: String, id: String, v: Long, doc: String) =
    s"""{"index":{"_index":"$ix","_id":"$id","version":$v,""" +
      s""""version_type":"external"}}""" + "\n" + doc + "\n"

  private def delete(ix: String, id: String, v: Long) =
    s"""{"delete":{"_index":"$ix","_id":"$id","version":$v,""" +
      s""""version_type":"external"}}""" + "\n"

  private def cluster() = new MockEs.Cluster(Topology.indexNamespace)

  test("external versions: 409 at or below the stored version") {
    val c = cluster()
    assert(c.bulk(index("a", "1", 10, """{"x":1}""")) == Seq(201))
    assert(c.bulk(index("a", "1", 10, """{"x":2}""")) == Seq(409))
    assert(c.bulk(index("a", "1", 9, """{"x":3}""")) == Seq(409))
    assert(c.snapshot()(("a", "1")).source == """{"x":1}""")
    assert(c.bulk(index("a", "1", 11, """{"x":4}""")) == Seq(201))
    assert(c.snapshot()(("a", "1")).version == 11)
    assert(c.conflicts.sum() == 2)
  }

  test("versioned delete: 404 when absent, 409 when stale, else removed") {
    val c = cluster()
    c.bulk(index("a", "1", 10, "{}"))
    assert(c.bulk(delete("a", "2", 12)) == Seq(404))
    assert(c.bulk(delete("a", "1", 10)) == Seq(409))
    assert(c.snapshot().contains(("a", "1")))
    assert(c.bulk(delete("a", "1", 12)) == Seq(200))
    assert(!c.snapshot().contains(("a", "1")))
    assert(c.notFound.sum() == 1 && c.conflicts.sum() == 1)
  }

  test("one payload answers per action, in order") {
    val c = cluster()
    val statuses = c.bulk(index("a", "1", 5, "{}") + index("a", "1", 4, "{}") +
      delete("a", "9", 1))
    assert(statuses == Seq(201, 409, 404))
    assert(c.actions.sum() == 3 && c.bulkCalls.sum() == 1)
  }

  test("unversioned writes overwrite and stay out of the scanned state") {
    val c = cluster()
    val hist = """{"index":{"_index":"log.app.t0.2024-01-01","_id":"7@1"}}""" +
      "\n{}\n"
    assert(c.bulk(hist) == Seq(201))
    assert(c.bulk(hist) == Seq(201))
    c.bulk(index("custom_t1", "7", 3, "{}"))
    assert(c.scanState() == Seq(("app.t1", "7", "custom_t1", null)))
    assert(c.count("history") == 2 && c.count("docs") == 1)
  }

  test("index drops: exact names and prefix patterns") {
    val c = cluster()
    Seq("app.t0", "app.t3", "custom_t1").foreach(ix =>
      c.bulk(index(ix, "1", 1, "{}")))
    c.deleteIndex("app.*")
    assert(c.snapshot().keySet == Set(("custom_t1", "1")))
    c.deleteIndex("custom_t1")
    assert(c.snapshot().isEmpty)
  }
}
