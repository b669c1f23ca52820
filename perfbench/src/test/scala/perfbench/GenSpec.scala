package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the op log is deterministic per seed and differs across seeds") {
    val a = Gen.ops(7L, 3000, 500)
    assert(a == Gen.ops(7L, 3000, 500))
    assert(a != Gen.ops(8L, 3000, 500))
    val d = Gen.documents(7L, 200)
    assert(d == Gen.documents(7L, 200))
    assert(d != Gen.documents(8L, 200))
    val s = Gen.snapshot(7L, 400, Topology.indexOf)
    assert(s == Gen.snapshot(7L, 400, Topology.indexOf))
    assert(s != Gen.snapshot(8L, 400, Topology.indexOf))
  }

  test("versions strictly increase along the log, drops included") {
    val ops = Gen.ops(3L, 5000, 800)
    assert(ops.map(_.version).sliding(2).forall { case Seq(x, y) => x < y })
    val kinds = ops.map(_.operation).toSet
    assert(Set("i", "u", "d", "drop_coll", "drop_db").subsetOf(kinds))
    // drops sit at the fixture's event positions
    assert(ops.filter(_.operation == "drop_db").map(_.event_id)
      .forall(_ % 1750 == 0))
  }

  test("a seeded share of ops is unkeyable; ids stay in the id space") {
    val ops = Gen.ops(5L, 20000, 1000).filter(_.id != null)
    val empty = ops.count(_.id.isEmpty).toDouble / ops.size
    assert(empty > 0.002 && empty < 0.01, s"unkeyable share $empty")
    assert(ops.filter(_.id.nonEmpty).forall(_.id.toLong < 1000))
  }

  test("documents carry exact duplicates of earlier texts") {
    val docs = Gen.documents(9L, 1000)
    assert(docs.map(_._1).distinct.size == docs.size, "ids are unique")
    assert(docs.map(_._2).distinct.size < docs.size)
  }
}
