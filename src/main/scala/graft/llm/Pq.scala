package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** m per-subspace codebooks over `dim`-length vectors; `books(s)` is
  * subspace s's centroids, sorted by id ascending (the tie-break order
  * every argmin relies on). Control-plane-sized: m·k·(dim/m) doubles. */
final case class PqCodebook(dim: Int, m: Int, books: Array[Array[Centroid]]) {
  def subDim: Int = dim / m
}

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-side complement of IVF: each
  * vector splits into `m` subvectors, each subvector quantizes to its
  * subspace's nearest codebook centroid, and a vector is stored as `m`
  * small codes instead of `dim` floats. Search scores candidates by
  * asymmetric distance (ADC): the query stays exact, each candidate's
  * distance is the sum of per-subspace query→centroid distances — a
  * table lookup per subspace, never a decode.
  *
  * Why this matters at 100 TB: a 64-dim float corpus is 256 B/vector;
  * 8 codes are 8 B — the candidate scan that dominates ANN cost reads
  * 32× less, and the per-query lookup tables (m·k entries) replace the
  * per-candidate float arithmetic. This engine keeps the same plan shape
  * as [[Similarity.bruteForceTopK]] (broadcast the small query side,
  * narrow scan of the big side, bounded-heap top-k — never a window
  * sort), swapping the float payload for codes.
  *
  * Cross-engine determinism (the q120 oracle replays everything):
  * training sums are on `floor(x·10⁶)` integers (order-free, the
  * [[IvfTrain]] contract); L2² folds left-to-right in index order (the
  * [[Similarity.dotArr]] contract); assignment ties break to the lower
  * centroid id; and the ADC distance is an INTEGER — per-subspace
  * distances floor-scale to BIGINT before the sum, so accumulation
  * order cannot flip a rank anywhere.
  */
object Pq {

  /** Scale for integer-stable training sums and ADC distances. */
  val Scale = 1e6

  /** L2² with the shared sequential fold — same accumulation-order
    * contract as [[Similarity.dotArr]]. */
  private[llm] def l2sq(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0d
    var i = 0
    while (i < n) { val d = x(i) - y(i); acc += d * d; i += 1 }
    acc
  }

  /** The quarantine: non-NULL, exactly `dim` long, all elements finite —
    * else NULL (dropped by every consumer; mirror with
    * [[Similarity.sqlVecOk]] in oracles). Same contract as Similarity's
    * cleanVec plus the length pin PQ's fixed split needs. */
  private def okVec(c: Column, dim: Int): Column = {
    val broken = exists(c, x => {
      val xd = x.cast("double")
      xd.isNull || !(abs(xd) <= lit(Double.MaxValue))
    })
    when(size(c) === dim && !broken, transform(c, _.cast("double")))
  }

  /** (vec_id, s, sv): the exploded subvector frame — narrow (explode of
    * a fixed m-slice list; no shuffle). Quarantined vectors are absent. */
  private def subFrame(vectors: DataFrame, dim: Int, m: Int,
                       idCol: String, vecCol: String): DataFrame = {
    val subDim = dim / m
    vectors
      .select(col(idCol).cast("long").as("vec_id"),
        okVec(col(vecCol), dim).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("__v"), s * subDim + 1, lit(subDim))))
          .as(Seq("s", "sv")))
  }

  private def argmin(cents: Array[Centroid], sv: Array[Double]): Long = {
    var bestId = Long.MinValue
    var best = Double.PositiveInfinity
    var i = 0
    while (i < cents.length) {
      val d = l2sq(sv, cents(i).vec)
      // strict < over ascending ids == (dist ASC, centroid_id ASC)
      if (d < best) { best = d; bestId = cents(i).id }
      i += 1
    }
    bestId
  }

  /** One joint Lloyd's update over all m subspaces: assign every
    * subvector to its nearest centroid (L2, ties to the lower id), move
    * each centroid to its bucket's mean. One narrow assignment pass +
    * one map-side-combined groupBy to m·k·subDim tiny rows; only those
    * sums reach the driver. Buckets that capture nothing drop out
    * (mirrors the SQL GROUP BY — the [[IvfTrain.step]] convention). */
  private def step(subs: DataFrame, books: Array[Array[Centroid]],
                   subDim: Int): Array[Array[Centroid]] = {
    val bc = subs.sparkSession.sparkContext.broadcast(books)
    val assignU = udf { (s: Int, sv: Array[Double]) =>
      argmin(bc.value(s), sv)
    }
    val sums = subs
      .withColumn("bucket", assignU(col("s"), col("sv")))
      .select(col("s"), col("bucket"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("s"), col("bucket"), col("pos"))
      .agg(sum(floor(col("x") * Scale).cast("long")).as("su"),
        count(lit(1)).as("n"))
      .collect()
    val byS = sums.groupBy(_.getInt(0))
    Array.tabulate(books.length) { s =>
      byS.getOrElse(s, Array.empty).groupBy(_.getLong(1)).map {
        case (cid, rows) =>
          val coords = rows.sortBy(_.getInt(2))
            .map(r => r.getLong(3).toDouble / (Scale * r.getLong(4)))
          Centroid(cid, coords, math.sqrt(Similarity.dotArr(coords, coords)))
      }.toArray.sortBy(_.id)
    }
  }

  /** Train the m codebooks for a fixed number of iterations (fixed, not
    * converged-tested, so the oracle replays the exact schedule). Seeds:
    * each row matching `seedPred` contributes its s-th subvector as a
    * centroid of subspace s, centroid id = the seed's `vec_id` — ids
    * stay stable across iterations, so codes are comparable run to
    * run. */
  def train(vectors: DataFrame, seedPred: Column, dim: Int, m: Int,
            iters: Int, idCol: String = "vec_id",
            vecCol: String = "embedding"): PqCodebook = {
    require(m >= 1 && dim % m == 0,
      s"dim=$dim must split into m=$m equal subspaces")
    val subDim = dim / m
    val seeds = vectors.filter(seedPred)
      .select(col(idCol).cast("long"), okVec(col(vecCol), dim).as("__v"))
      .filter(col("__v").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(seeds.nonEmpty, "pqTrain: no (clean) seed vectors matched")
    val init = Array.tabulate(m) { s =>
      seeds.map { case (id, v) =>
        val sv = v.slice(s * subDim, (s + 1) * subDim)
        Centroid(id, sv, math.sqrt(Similarity.dotArr(sv, sv)))
      }
    }
    val subs = subFrame(vectors, dim, m, idCol, vecCol)
    val trained = (1 to iters).foldLeft(init)((b, _) => step(subs, b, subDim))
    PqCodebook(dim, m, trained)
  }

  /** Encode each vector as its m nearest-centroid codes: (idCol, codes
    * array<long> of length m). Purely narrow — the codebook rides an
    * executor broadcast, each row computes m argmins in a compiled loop;
    * output partitioning is input partitioning. This is the frame a
    * deployment PERSISTS in place of the float corpus (8 B vs 256 B per
    * row at dim=64/m=8). Quarantined vectors are dropped (their codes
    * would be meaningless; corpus reconciliation rides the same
    * [[Similarity.sqlVecOk]] contract the oracle applies). */
  def encode(vectors: DataFrame, cb: PqCodebook,
             idCol: String = "vec_id",
             vecCol: String = "embedding",
             carry: Seq[String] = Nil): DataFrame = {
    val bc = vectors.sparkSession.sparkContext.broadcast(cb)
    val codeU = udf { (arr: Array[Double]) =>
      val c = bc.value
      val sd = c.subDim
      Array.tabulate(c.m)(s =>
        argmin(c.books(s), java.util.Arrays.copyOfRange(arr, s * sd, (s + 1) * sd)))
    }
    vectors
      .select(col(idCol).cast("long").as(idCol) +: carry.map(col) :+
        okVec(col(vecCol), cb.dim).as("__v"): _*)
      .filter(col("__v").isNotNull)
      .select(col(idCol) +: carry.map(col) :+
        codeU(col("__v")).as("codes"): _*)
  }

  /** (idCol, bucket, rv): each vector's residual against its assigned
    * coarse centroid — the IVF-PQ preparation (Jégou et al. §IV):
    * quantizing residuals instead of raw vectors concentrates the
    * codebook's resolution on the within-bucket displacement, where all
    * the discriminative information lives once the coarse bucket is
    * known. Coarse assignment is [[Similarity.ivfAssign]] (cosine argmax
    * — the repo's probe metric); the subtraction is one narrow pass
    * against the broadcast centroid map. Unassignable vectors
    * (zero-norm/broken) are quarantined, as everywhere. */
  def residualFrame(vectors: DataFrame, coarse: Array[Centroid],
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val byId = coarse.map(c => c.id -> c.vec).toMap
    val bc = vectors.sparkSession.sparkContext.broadcast(byId)
    val resU = udf { (bucket: Long, v: Array[Double]) =>
      val c = bc.value.getOrElse(bucket, null)
      if (v == null || c == null) null
      else {
        val out = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { out(i) = v(i) - c(i); i += 1 }
        out
      }
    }
    Similarity.ivfAssign(vectors, coarse, idCol, vecCol)
      .filter(col("bucket") =!= Similarity.UnassignedBucket)
      .select(col(idCol), col("bucket"), resU(col("bucket"), col("v")).as("rv"))
      .filter(col("rv").isNotNull)
  }

  /** Train the residual codebooks: [[residualFrame]] then [[train]] on
    * the `rv` column — `seedPred` selects seed rows OF THE RESIDUAL
    * frame (columns: idCol, bucket, rv). */
  def trainResidual(vectors: DataFrame, coarse: Array[Centroid],
                    seedPred: Column, dim: Int, m: Int, iters: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): PqCodebook =
    train(residualFrame(vectors, coarse, idCol, vecCol), seedPred,
      dim, m, iters, idCol, "rv")

  /** IVF-ADC top-k (the full Jégou et al. search): a query probes its
    * `nprobe` nearest coarse buckets; within each probed bucket its
    * RESIDUAL against that bucket's centroid is the vector compared — by
    * integer ADC — against the bucket's residual codes. Candidates live
    * in exactly one coarse bucket, so a (query, neighbor) pair scores
    * once and the merged heap ranks across probes. Plan shape: coarse
    * assignment and residual encode are narrow; the probe table
    * (queries × nprobe rows) broadcasts; at 100 TB the bucket column is
    * the partition key ([[Similarity.writeIndex]]'s layout), so a probe
    * is partition-pruned I/O over rows carrying m codes instead of dim
    * floats. Returns (query_id, rnk, neighbor_id, bucket, adc_scaled),
    * ranked (adc ASC, neighbor_id ASC). */
  def ivfAdcTopK(vectors: DataFrame, coarse: Array[Centroid],
                 cb: PqCodebook, queryPred: Column, k: Int, nprobe: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val qRows = collectQueries(vectors.filter(queryPred), cb.dim,
      idCol, vecCol)
    val codes = encode(residualFrame(vectors, coarse, idCol, vecCol), cb,
      idCol, "rv", carry = Seq("bucket"))
      .withColumnRenamed(idCol, "neighbor_id")
    scoreProbedCodes(vectors.sparkSession, codes,
      probeLuts(qRows, coarse, cb, nprobe), k)
  }

  /** (id, cleaned vector) rows of the query frame — control-plane-sized
    * by contract (the [[Similarity.bruteForceTopK]] broadcast-side
    * argument). */
  private def collectQueries(queries: DataFrame, dim: Int, idCol: String,
                             vecCol: String): Array[(Long, Array[Double])] =
    queries
      .select(col(idCol).cast("long"), okVec(col(vecCol), dim).as("__v"))
      .filter(col("__v").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Per (query, probed bucket): the query's per-bucket residual LUT —
    * the same cos-DESC/id-ASC probe order as Similarity.probeFrame. */
  private def probeLuts(qRows: Array[(Long, Array[Double])],
                        coarse: Array[Centroid], cb: PqCodebook,
                        nprobe: Int): Seq[(Long, Long, Array[Map[Long, Long]])] = {
    val sd = cb.subDim
    val byId = coarse.map(c => c.id -> c).toMap
    qRows.toSeq.flatMap { case (qid, qv) =>
      val qn = math.sqrt(Similarity.dotArr(qv, qv))
      coarse.map(c => (Similarity.dotArr(qv, c.vec) / (qn * c.norm), c.id))
        .filterNot(_._1.isNaN)
        .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
        .take(nprobe)
        .map { case (_, bid) =>
          val cv = byId(bid).vec
          val qres = Array.tabulate(cb.dim)(i => qv(i) - cv(i))
          val lut = Array.tabulate(cb.m) { s =>
            val qs = java.util.Arrays.copyOfRange(qres, s * sd, (s + 1) * sd)
            cb.books(s).map(c =>
              c.id -> math.floor(Scale * l2sq(qs, c.vec)).toLong).toMap
          }
          (qid, bid, lut)
        }
    }
  }

  /** The shared scoring tail of the in-memory and on-disk probe paths:
    * broadcast-join the probe table against a coded candidate frame
    * (neighbor_id, bucket, codes), sum the integer LUT entries, merge
    * the per-query heap across probes. */
  private def scoreProbedCodes(spark: org.apache.spark.sql.SparkSession,
                               codes: DataFrame,
                               probePairs: Seq[(Long, Long, Array[Map[Long, Long]])],
                               k: Int): DataFrame = {
    if (probePairs.isEmpty) {
      // no (clean) queries: an empty result with the output schema, not
      // a crash in empty-Seq schema inference
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("query_id", LongType),
          StructField("rnk", IntegerType, nullable = false),
          StructField("neighbor_id", LongType),
          StructField("bucket", LongType),
          StructField("adc_scaled", LongType))))
    }
    val luts = probePairs.map(p => (p._1, p._2) -> p._3).toMap
    val bcl = spark.sparkContext.broadcast(luts)
    val adcU = udf { (qid: Long, bucket: Long, codes: Seq[Long]) =>
      val lut = bcl.value((qid, bucket))
      var acc = 0L
      var s = 0
      while (s < codes.length) { acc += lut(s)(codes(s)); s += 1 }
      acc
    }
    val probeDf = spark.createDataFrame(
      probePairs.map(p => (p._1, p._2))).toDF("query_id", "bucket")
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Scored])
    val agged = codes.join(broadcast(probeDf), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adcU(col("query_id"), col("bucket"), col("codes")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), -col("adc").cast("double"),
        col("bucket")).as("tk"))
    agged.select(col("query_id"), posexplode(col("tk.items")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.bucket").as("bucket"),
        (-col("col.cos")).cast("long").as("adc_scaled"))
  }

  // ── Index persistence ─────────────────────────────────────────────────

  /** Persist the IVF-PQ index: residual codes PARTITIONED BY coarse
    * bucket (a probe is partition-pruned I/O over rows carrying m longs
    * instead of dim floats — the [[Similarity.writeIndex]] layout with
    * codes in place of vectors), the coarse centroids under `_coarse`,
    * the residual codebooks under `_codebook` (both config-sized; the
    * `_` prefix keeps the bucket scan from reading them as data). The
    * stored coarse table is the probe-geometry pin: a later probe MUST
    * use exactly these centroids or probes drift from bucket contents. */
  def writeIndex(vectors: DataFrame, coarse: Array[Centroid],
                 cb: PqCodebook, dir: String, idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    encode(residualFrame(vectors, coarse, idCol, vecCol), cb,
        idCol, "rv", carry = Seq("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    coarse.toSeq.map(c => (c.id, c.vec.toSeq))
      .toDF("centroid_id", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_coarse")
    cb.books.zipWithIndex.toSeq
      .flatMap { case (book, s) => book.map(c => (s, c.id, c.vec.toSeq)) }
      .toDF("s", "cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_codebook")
  }

  /** The stored coarse centroids, sorted by id (the probe order pin). */
  def readCoarse(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Array[Centroid] =
    spark.read.parquet(s"$dir/_coarse").collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        Centroid(r.getLong(0), v, math.sqrt(Similarity.dotArr(v, v)))
      }.sortBy(_.id)

  /** The stored residual codebooks, each subspace sorted by id. */
  def readCodebook(spark: org.apache.spark.sql.SparkSession,
                   dir: String): PqCodebook = {
    val rows = spark.read.parquet(s"$dir/_codebook").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val books = Array.tabulate(m)(s =>
      rows.filter(_._1 == s).map { case (_, cid, v) =>
        Centroid(cid, v, math.sqrt(Similarity.dotArr(v, v)))
      }.sortBy(_.id))
    PqCodebook(m * books(0)(0).vec.length, m, books)
  }

  /** Append a new vector batch to a persisted IVF-PQ index: residuals
    * against the index's FROZEN coarse centroids, codes from its FROZEN
    * codebooks (geometry pins — re-deriving either would silently
    * invalidate every stored code), appended only to the bucket
    * directories the batch lands in. Already-present ids are anti-joined
    * away against the `_ids` manifest, so an at-least-once re-delivery
    * appends nothing (the [[Similarity.appendToIndex]] contract; the
    * manifest is id-keyed and append-only). */
  def appendToIndex(newVectors: DataFrame, dir: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    val ids = s"$dir/_ids"
    val idsPath = new org.apache.hadoop.fs.Path(ids)
    val fs = idsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(idsPath))
      spark.read.parquet(dir).select(col(idCol)).distinct()
        .write.mode("overwrite").parquet(ids)
    val known = spark.read.parquet(ids).select(col(idCol))
    val coarse = readCoarse(spark, dir)
    val cb = readCodebook(spark, dir)
    val fresh = newVectors.join(known, Seq(idCol), "left_anti")
    graft.CacheBarriers.withScope {
      val codes = graft.CacheBarriers.barrier(encode(
        residualFrame(fresh, coarse, idCol, vecCol), cb, idCol, "rv",
        carry = Seq("bucket")))
      codes.write.mode("append").partitionBy("bucket").parquet(dir)
      codes.select(col(idCol)).write.mode("append").parquet(ids)
    }
  }

  /** Probe the persisted index for a query frame (idCol, vecCol): only
    * the ≤ queries·nprobe probed buckets are READ (partition filters on
    * the bucket directory key — PqSpec proves it by corrupting an
    * unprobed bucket's files), scored by the same integer ADC as
    * [[ivfAdcTopK]]. */
  def ivfAdcTopKFromIndex(queries: DataFrame, dir: String, k: Int,
                          nprobe: Int, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val coarse = readCoarse(spark, dir)
    val cb = readCodebook(spark, dir)
    val probePairs = probeLuts(
      collectQueries(queries, cb.dim, idCol, vecCol), coarse, cb, nprobe)
    val buckets = probePairs.map(_._2).distinct
    val codes = spark.read.parquet(dir)
      .filter(col("bucket").isin(buckets: _*))
      .select(col(idCol).as("neighbor_id"),
        col("bucket").cast("long").as("bucket"), col("codes"))
    scoreProbedCodes(spark, codes, probePairs, k)
  }

  /** Asymmetric-distance top-k: exact queries against coded candidates.
    * Per query, a lookup table of `floor(10⁶ · L2²(q_s, centroid))` per
    * (subspace, centroid) is built driver-side (queries are
    * control-plane-sized by contract, like [[Similarity.bruteForceTopK]]'s
    * broadcast side; the LUT is m·k longs per query) and broadcast; a
    * candidate's ADC distance is the INTEGER sum of m lookups — no float
    * arithmetic touches the scan. Top-k via the bounded-heap aggregation
    * (≤ k rows per query per partition cross the wire; never a window
    * sort). Returns (query_id, rnk, neighbor_id, adc_scaled), ranked by
    * (adc ASC, neighbor_id ASC). */
  def adcTopK(vectors: DataFrame, cb: PqCodebook, queryPred: Column,
              k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    val sd = cb.subDim
    val qRows = vectors.filter(queryPred)
      .select(col(idCol).cast("long"), okVec(col(vecCol), cb.dim).as("__v"))
      .filter(col("__v").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val luts: Map[Long, Array[Map[Long, Long]]] = qRows.map { case (qid, qv) =>
      qid -> Array.tabulate(cb.m) { s =>
        val qs = java.util.Arrays.copyOfRange(qv, s * sd, (s + 1) * sd)
        cb.books(s).map(c =>
          c.id -> math.floor(Scale * l2sq(qs, c.vec)).toLong).toMap
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(luts)
    val adcU = udf { (qid: Long, codes: Seq[Long]) =>
      val lut = bc.value(qid)
      var acc = 0L
      var s = 0
      while (s < codes.length) { acc += lut(s)(codes(s)); s += 1 }
      acc
    }
    val qIds = spark.createDataFrame(qRows.map(q => Tuple1(q._1)).toSeq)
      .toDF("query_id")
    val codes = encode(vectors, cb, idCol, vecCol)
      .withColumnRenamed(idCol, "neighbor_id")
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Scored])
    val agged = codes.crossJoin(broadcast(qIds))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adcU(col("query_id"), col("codes")))
      // the heap orders cos DESC / id ASC; -adc is integer-valued, so
      // the double carries it exactly and DESC(-adc) == ASC(adc)
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), -col("adc").cast("double"), lit(-1L))
        .as("tk"))
    agged.select(col("query_id"), posexplode(col("tk.items")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("col.neighbor_id").as("neighbor_id"),
        (-col("col.cos")).cast("long").as("adc_scaled"))
  }

  // ── DuckDB twins ──────────────────────────────────────────────────────

  /** SQL: L2² over two DOUBLE[] expressions — the same left fold. */
  def sqlL2(a: String, b: String, n: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${n + 1}), " +
      s"i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i]))) AS DOUBLE)"

  /** SQL: the exploded subvector CTE body over `eCte(vec_id, v)` —
    * (vec_id, s, sv). */
  def sqlSubs(eCte: String, dim: Int, m: Int): String = {
    val subDim = dim / m
    s"""SELECT vec_id, s, list_slice(v, s*$subDim + 1, (s+1)*$subDim) AS sv
       |FROM $eCte, unnest(range(0, $m)) AS t(s)""".stripMargin
  }

  /** SQL: per-subspace nearest-centroid assignment of `subsCte(vec_id,
    * s, sv)` against `centsCte(s, cid, cv)` — same (L2 ASC, cid ASC)
    * tie-break as [[encode]]. Finite corpus contract: the caller's `e`
    * CTE is [[Similarity.sqlVecOk]]-filtered, so no NaN guard needed. */
  def sqlPqAssign(subsCte: String, centsCte: String, subDim: Int): String =
    s"""SELECT vec_id, s, sv, cid AS bucket FROM (
       |    SELECT e.vec_id, e.s, e.sv, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id, e.s
       |                              ORDER BY ${sqlL2("e.sv", "c.cv", subDim)} ASC, c.cid ASC) AS cr
       |    FROM $subsCte e JOIN $centsCte c ON e.s = c.s) WHERE cr = 1""".stripMargin

  /** DuckDB twin of [[train]] with 2 iterations over an `e(vec_id, v)`
    * CTE: `psubs → pc0 → pa1 → pu1 → pc1 → pa2 → pu2 → pc2`, the exact
    * schedule with integer-scaled sums and listed means. Final codebooks
    * are CTE `pc2(s, cid, cv)`. `seedWhere` selects seed rows of
    * `psubs`. */
  def sqlTrainCtes(seedWhere: String, dim: Int, m: Int,
                   eCte: String = "e"): String = {
    val subDim = dim / m
    def update(a: String) =
      s"""SELECT s, bucket, i, SUM(CAST(floor(sv[i]*1000000) AS BIGINT)) AS su, count(sv[i]) AS n
         |    FROM $a, unnest(range(1, ${subDim + 1})) AS t(i) GROUP BY s, bucket, i""".stripMargin
    val mean = "list(CAST(su AS DOUBLE)/(1000000.0*n) ORDER BY i)"
    s"""psubs AS (${sqlSubs(eCte, dim, m)}),
       |pc0 AS (SELECT s, vec_id AS cid, sv AS cv FROM psubs WHERE $seedWhere),
       |pa1 AS (${sqlPqAssign("psubs", "pc0", subDim)}),
       |pu1 AS (${update("pa1")}),
       |pc1 AS (SELECT s, bucket AS cid, $mean AS cv FROM pu1 GROUP BY s, bucket),
       |pa2 AS (${sqlPqAssign("psubs", "pc1", subDim)}),
       |pu2 AS (${update("pa2")}),
       |pc2 AS (SELECT s, bucket AS cid, $mean AS cv FROM pu2 GROUP BY s, bucket)""".stripMargin
  }
}
