package perfbench

import graft.source.ChangeEvent

/** Seeded input generator. Everything a run feeds the daemon comes from
  * here, so the same seed gives the same inputs and different seeds give
  * different ones.
  *
  * The shapes follow the engine's sf0.1 fixture: events spread uniformly
  * over five event types with `{"k": 0..99}` bodies, mapped onto the
  * change-event envelope exactly as `EventLog.envelopeWithDrops` maps the
  * fixture (signup → insert, error → delete, the rest → update; shard
  * `t<id % 4>`; version = ts_us * 4 + 0/1/2; every 500th event also drops
  * its shard collection, every 1750th drops database `app`, every 3333rd
  * drops `legacy.users`); 1000 suppliers; documents of 10–100 words over
  * the fixture's 30-word vocabulary. The seed remaps ids (an affine
  * permutation of the id space), shifts timestamps, and draws types,
  * bodies and gaps; drops sit at fixed event positions, as in the
  * fixture.
  *
  * Two deliberate differences from the fixture derivation, both so the
  * log reads like a real oplog: versions are strictly increasing along
  * the log (a drop op gets its own instant, microseconds before the event
  * that triggers it, instead of sharing that event's version), and
  * a seeded share of ops carries an empty id, which the engine must route
  * to its rejects channel. */
object Gen {

  val EventTypes: Vector[String] =
    Vector("signup", "click", "error", "view", "purchase")

  val Vocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** 2024-01-01T00:00:00Z in epoch microseconds. */
  val EpochUs: Long = 1704067200000000L

  /** Supplier rows: (s_suppkey, s_name, s_nationkey). */
  def suppliers(seed: Long, n: Int = 1000): Vector[(Long, String, Int)] = {
    val r = new scala.util.Random(seed * 31 + 7)
    (0 until n).map(i => (i.toLong, f"Supplier#$i%09d", r.nextInt(25)))
      .toVector
  }

  /** Seeded affine permutation of `[0, n)`. */
  final case class Perm(n: Int, a: Long, b: Long) {
    def apply(i: Long): Long = Math.floorMod(a * i + b, n.toLong)
  }

  def perm(seed: Long, n: Int): Perm = {
    val r = new scala.util.Random(seed ^ 0x5deece66dL)
    @annotation.tailrec
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1L + r.nextInt(math.max(n - 1, 1))
    while (gcd(a, n.toLong) != 1) a += 1
    Perm(n, a, r.nextInt(n).toLong)
  }

  /** The change-op log for `events` consecutive events starting at
    * `firstEvent`: data ops plus the derived drop ops, in version order.
    * `users` sizes the id space; `unkeyable` is the share of ops whose
    * id is empty. Timestamps continue from `startUs` with gaps of 4 µs
    * to ~52 s (mean ~26 s, the fixture's spacing). */
  def ops(seed: Long, events: Int, users: Int, firstEvent: Long = 0L,
          startUs: Long = EpochUs, unkeyable: Double = 0.005)
      : Vector[ChangeEvent] = {
    val r = new scala.util.Random(seed * 1000003L + firstEvent)
    val ids = perm(seed, users)
    val out = Vector.newBuilder[ChangeEvent]
    var ts = startUs + Math.floorMod(seed * 7919L, 86400L) * 1000000L
    var e = firstEvent
    while (e < firstEvent + events) {
      ts += 4L + (r.nextDouble() * 52000000L).toLong
      val uid = ids(r.nextInt(users).toLong)
      val shard = s"t${uid % 4}"
      val et = EventTypes(r.nextInt(EventTypes.size))
      val k = r.nextInt(100)
      val value = math.round(r.nextDouble() * 56021.0) / 100.0
      val id = if (r.nextDouble() < unkeyable) "" else uid.toString
      // drop ops first, each at its own microsecond just before the event
      // that triggers them (the gap above leaves room for all three)
      val drops = Seq(
        (e % 500 == 0, ("app", shard, s"app.$shard", "drop_coll")),
        (e % 1750 == 0, ("app", null, "app", "drop_db")),
        (e % 3333 == 0, ("legacy", "users", "legacy.users", "drop_coll")))
        .collect { case (true, d) => d }
      drops.zipWithIndex.foreach { case ((db, coll, ns, op), i) =>
        val at = ts - drops.size + i
        out += ChangeEvent(e, null, db, coll, ns, op, at, at * 4, null, 0.0,
          "oplog")
      }
      val (op, off) = et match {
        case "signup" => ("i", 0L)
        case "error" => ("d", 2L)
        case _ => ("u", 1L)
      }
      out += ChangeEvent(e, id, "app", shard, s"app.$shard", op, ts,
        ts * 4 + off, if (op == "d") null else s"""{"k": $k}""", value,
        "oplog")
      e += 1
    }
    out.result()
  }

  /** A synced index as a completed initial sync (monstache's direct
    * read) leaves it: one document per user of the indexed collections
    * (`app.t2` is join-only, so it has none) and one per supplier, routed
    * by its id. Rows are (index, id, body); `index` maps a namespace to
    * its sink index. */
  def snapshot(seed: Long, users: Int,
               index: String => String): Vector[(String, String, String)] = {
    val r = new scala.util.Random(seed * 17 + 11)
    val docs = (0 until users).flatMap { u =>
      val k = r.nextInt(100)
      if (u % 4 == 2) None
      else Some((index(s"app.t${u % 4}"), u.toString, s"""{"k": $k}"""))
    }
    val supp = suppliers(seed).map { case (key, name, nation) =>
      (index("app.supplier"), key.toString,
        s"""{"s_name":"$name","s_nationkey":$nation}""")
    }
    (docs ++ supp).toVector
  }

  /** Curation inputs: (doc_id, text). Fresh documents are 10–100 random
    * vocabulary words; a `dupShare` of the stream repeats an earlier
    * document exactly and a `nearShare` repeats one with its last few
    * words cut. Ids are a seeded permutation of `[base, base + n)`. */
  def documents(seed: Long, n: Int, base: Long = 0L,
                dupShare: Double = 0.05, nearShare: Double = 0.05)
      : Vector[(Long, String)] = {
    val r = new scala.util.Random(seed * 7 + 3)
    val ids = perm(seed + 1, n)
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    (0 until n).map { i =>
      val roll = r.nextDouble()
      val text =
        if (texts.nonEmpty && roll < dupShare) texts(r.nextInt(texts.size))
        else if (texts.nonEmpty && roll < dupShare + nearShare) {
          val ws = texts(r.nextInt(texts.size)).split(" ")
          ws.dropRight(math.min(3, ws.length / 8)).mkString(" ")
        } else
          Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size)))
            .mkString(" ")
      texts += text
      (base + ids(i.toLong), text)
    }.toVector
  }

  /** Document inserts on `app.docs` carrying `{"text": ...}` bodies. */
  def documentOps(docs: Vector[(Long, String)],
                  startUs: Long = EpochUs): Vector[ChangeEvent] =
    docs.zipWithIndex.map { case ((id, text), i) =>
      val ts = startUs + i * 1000L
      ChangeEvent(i.toLong, id.toString, "app", "docs", "app.docs", "i",
        ts, ts * 4, s"""{"text": "$text"}""", 0.0, "oplog")
    }
}
