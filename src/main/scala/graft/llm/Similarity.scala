package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** An IVF centroid held driver-side: id, vector, precomputed norm.
  * Centroid tables are config-sized (k buckets), never data-sized — they
  * are broadcast to executors, the same way the reference broadcasts its
  * (tiny) relate/mapping config to worker goroutines. */
final case class Centroid(id: Long, vec: Array[Double], norm: Double)

/** One scored candidate flowing into the bounded top-k aggregation. */
final case class Scored(neighbor_id: Long, cos: Double, bucket: Long)

/** Top-k buffer: descending (cos, then ascending neighbor_id), length ≤ k. */
final case class TopBuf(items: Seq[Scored])

/** Bounded-heap top-k per group as a typed [[Aggregator]]: the buffer never
  * exceeds k entries, so map-side partial aggregation collapses each
  * partition's candidates to ≤ k rows per query BEFORE the shuffle — the
  * shuffle then carries |queries|·partitions·k tiny structs instead of
  * every scored candidate. This replaces a `row_number` window whose sort
  * shuffled ALL n·m scored rows (with their vector payloads) into
  * |queries| reducer partitions — a hot-partition scale-killer when
  * queries are few and candidates are 100 TB.
  *
  * Ordering matches the verification sort exactly: cos descending, ties to
  * the lower neighbor id, compared on raw doubles (no epsilon) so results
  * are bit-identical to the oracle's `row_number() OVER (ORDER BY cos
  * DESC, id ASC)`. */
final class TopKNeighbors(k: Int) extends Aggregator[Scored, TopBuf, TopBuf] {
  private def beats(a: Scored, b: Scored): Boolean =
    a.cos > b.cos || (a.cos == b.cos && a.neighbor_id < b.neighbor_id)

  override def zero: TopBuf = TopBuf(Nil)

  override def reduce(buf: TopBuf, in: Scored): TopBuf = {
    val items = buf.items
    if (items.length >= k && !beats(in, items.last)) buf
    else {
      val (better, worse) = items.span(beats(_, in))
      TopBuf(((better :+ in) ++ worse).take(k))
    }
  }

  override def merge(x: TopBuf, y: TopBuf): TopBuf =
    y.items.foldLeft(x)(reduce)

  override def finish(r: TopBuf): TopBuf = r
  override def bufferEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
  override def outputEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force is the correctness baseline: broadcast the (small) query
  * set against every candidate — one narrow pass over the data, top-k via
  * the bounded-heap aggregation above. The scale path is IVF: vectors are
  * bucketed by nearest centroid in a purely map-side pass against a
  * broadcast centroid table (zero shuffle — the classic IVF assignment),
  * and a query probes only its `nprobe` closest centroids' buckets. At
  * 100 TB the bucket column becomes the partition key so a probe is
  * partition-pruned I/O, not a scan.
  *
  * All arithmetic is double, folded left-to-right in index order, so the
  * DuckDB oracle (same fold) produces bit-identical cosines.
  */
object Similarity {

  /** Bucket id for vectors with no meaningful nearest centroid (zero-norm
    * or NULL embeddings). No probe ever selects it and no pair generation
    * reads it — the rows are quarantined, not dropped, so corpus counts
    * still reconcile. */
  val UnassignedBucket: Long = Long.MinValue

  /** Left-fold dot product of two double-array columns, backed by the
    * engine's native codegen expression [[graft.functions.DotProduct]]
    * (`aggregate(zip_with(...))` is interpreted and a Scala UDF boxes
    * every element; the custom Expression splices a primitive loop into
    * whole-stage codegen). Same left-to-right accumulation order as the
    * DuckDB oracle's `list_sum(list_transform(...))` — bit-identical.
    * Requires [[graft.GraftSession.ensure]] on sessions the library did
    * not build. */
  def dot(x: Column, y: Column): Column =
    call_function(graft.functions.GraftFunctions.DotName, x, y)

  /** Elementwise-fold cosine between two double-array columns. A
    * zero-norm side yields NULL (via `nullif` on the denominator) rather
    * than an ANSI DIVIDE_BY_ZERO error — Spark 4 runs ANSI mode, so a
    * raw `/` would kill the whole job on the first all-zeros embedding,
    * and at corpus scale a few broken vectors are a certainty. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(sqrt(dot(a, a)) * sqrt(dot(b, b)), lit(0.0d))

  /** Cosine when each side's norm is already a column. Precomputing the
    * norm once per vector (instead of once per pair) removes 2 of the 3
    * array folds from every pair comparison — at n·m pairs that is the
    * dominant cost. Identical arithmetic to [[cosine]]: the same fold and
    * sqrt, evaluated once, and the same zero-norm → NULL contract. */
  def cosinePre(a: Column, na: Column, b: Column, nb: Column): Column =
    dot(a, b) / nullif(na * nb, lit(0.0d))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** A vector carrying NULL elements (`[0.1, null, 0.2]` — a partially
    * failed upstream encoder) is as broken as a NULL vector, and worse at
    * runtime: the `Seq[Double]` UDF deserializer throws on the whole null
    * element, killing the whole job on one bad row. Non-finite elements
    * (NaN / ±Inf — an exploded encoder) are quarantined for the same
    * reason with a sharper edge: a NaN dot product signs bit 0 in Spark
    * but bit 1 in DuckDB (whose comparisons order NaN above all values),
    * so letting one through breaks sign-LSH's cross-engine bit parity —
    * verify-guarded paths merely waste candidate work on it. Null the
    * vector WHOLE here so such rows flow down the existing quarantine
    * paths (unassignable bucket / no probes / unsigned) instead. A NULL
    * array input stays NULL (`exists` propagates it). The NaN test rides
    * Spark's NaN-is-greatest comparison semantics: `abs(x) <= MaxValue`
    * is false for both NaN and ±Inf, true for every finite double. */
  private def cleanVec(c: Column): Column = {
    val broken = exists(c, x => {
      val xd = x.cast("double")
      xd.isNull || !(abs(xd) <= lit(Double.MaxValue))
    })
    when(!broken, asDouble(c))
  }

  /** The same left fold as [[graft.functions.DotProduct]], driver/executor
    * side. Kept in one place so every code path accumulates in identical
    * order (float addition is not associative — order is the contract). */
  private[llm] def dotArr(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0d
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }

  /** Materialize a centroid table driver-side, sorted by id ascending
    * (the tie-break order every argmax below relies on). This is a
    * control-plane collect of a k-row table — bounded like config, never
    * the corpus. */
  def collectCentroids(centroids: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Array[Centroid] =
    centroids
      // a NULL embedding (or one with NULL elements) can land in any
      // centroid predicate — skipping it here matches the SQL twin, whose
      // NULL cosines fail every NOT isnan ranking guard (and .toArray on
      // a null Seq / null element would NPE driver-side)
      .select(col(idCol).cast("long"), cleanVec(col(vecCol)).as("__v"))
      .filter(col("__v").isNotNull)
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        Centroid(r.getLong(0), v, math.sqrt(dotArr(v, v)))
      }
      .sortBy(_.id)

  /** IVF bucket assignment: nearest centroid per vector (ties break to the
    * lower centroid id). Purely map-side: centroids ride an executor
    * broadcast and each row computes its argmax in a compiled loop — no
    * expansion join, no shuffle, nothing but the scan. (A `row_number`
    * window here shuffled |vectors|·|centroids| expanded rows; a
    * `max_by` groupBy still shuffled every vector once. The narrow form
    * is what a 1000-executor assignment pass actually wants: the output
    * partitioning is the input partitioning.)
    *
    * The per-row loop is a compiled UDF rather than column algebra
    * because the argmax over a broadcast array is row-local imperative
    * code — the same justified-UDF class as the simhash bit-fold
    * (higher-order-function forms are interpreted). Cosines use the same
    * left fold as the native [[dot]], so oracle hashes are unchanged. */
  def ivfAssign(embeddings: DataFrame, centroids: Array[Centroid],
                idCol: String, vecCol: String): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    // Array[Double] (not Seq): the encoder bulk-copies the unsafe array
    // (toDoubleArray) instead of boxing every element — this UDF runs
    // once per corpus row per assignment pass, and the Ser/De was a
    // measurable fraction of the whole pass
    val assignU = udf { (arr: Array[Double]) =>
      // a NULL embedding (failed upstream encoder — cleanVec also folds
      // null-ELEMENT vectors into this case) must not NPE the whole
      // job — it joins the zero-norm vectors in the unassignable bucket
      if (arr == null) (UnassignedBucket, 0.0)
      else {
        val vn = math.sqrt(dotArr(arr, arr))
        val cents = bc.value
        var bestId = UnassignedBucket
        var best = Double.NegativeInfinity
        var i = 0
        while (i < cents.length) {
          val c = cents(i)
          val cos = dotArr(arr, c.vec) / (vn * c.norm)
          // strict > over ascending ids == (cos DESC, centroid_id ASC);
          // a zero-norm vector scores NaN against every centroid (NaN >
          // best is always false) and lands deterministically in the
          // unassignable bucket, which no probe selects
          if (cos > best) { best = cos; bestId = c.id }
          i += 1
        }
        (bestId, vn)
      }
    }
    embeddings.select(col(idCol), cleanVec(col(vecCol)).as("v"))
      .withColumn("a", assignU(col("v")))
      .select(col(idCol), col("v"), col("a._2").as("vn"),
        col("a._1").as("bucket"))
  }

  /** [[ivfAssign]] keeping the winning cosine, micro-scaled:
    * (id, bucket, cos_scaled). Same broadcast argmax scan (narrow, no
    * shuffle), same tie order (strict `>` over ascending centroid ids),
    * same floor(cos·1e6) emission contract as every other cos_scaled in
    * the family — the input to centrality-ranked per-cluster selection
    * ([[diversitySample]]). Null/zero-norm vectors land in the
    * unassignable bucket with a 0 score; downstream selection drops
    * them. */
  def ivfAssignScored(embeddings: DataFrame, centroids: Array[Centroid],
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    val assignU = udf { (arr: Array[Double]) =>
      if (arr == null) (UnassignedBucket, 0L)
      else {
        val vn = math.sqrt(dotArr(arr, arr))
        val cents = bc.value
        var bestId = UnassignedBucket
        var best = Double.NegativeInfinity
        var i = 0
        while (i < cents.length) {
          val c = cents(i)
          val cos = dotArr(arr, c.vec) / (vn * c.norm)
          if (cos > best) { best = cos; bestId = c.id }
          i += 1
        }
        if (bestId == UnassignedBucket) (UnassignedBucket, 0L)
        else (bestId, math.floor(best * 1e6).toLong)
      }
    }
    embeddings.select(col(idCol), cleanVec(col(vecCol)).as("v"))
      .withColumn("a", assignU(col("v")))
      .select(col(idCol), col("a._1").as("bucket"),
        col("a._2").as("cos_scaled"))
  }

  /** Cluster-balanced selection — the SemDeDup/DataComp pruning step:
    * assign every vector to its nearest centroid, rank WITHIN each
    * cluster by centroid-cosine, keep at most `cap` per cluster.
    * `keepCentral = true` keeps the most-central rows (prototype
    * selection); `false` keeps the LEAST-central (the SemDeDup finding:
    * keeping low-centroid-similarity examples preserves diversity while
    * the near-centroid mass is the redundant bulk). Returns
    * (id, bucket, cos_scaled, rnk), rnk 1-based in the kept order.
    *
    * Ranking is on the micro-scaled INTEGER cosine (ties to the id's
    * string form in UTF-8 order — [[Sampling.exactKPerStratum]]'s
    * convention), so selection is exact cross-engine even at the scaled
    * boundary. Scale shape: the assignment is a narrow broadcast scan;
    * the per-cluster top-cap is [[KeepKSmallest]]'s bounded heap — map-
    * side partials collapse every partition to ≤ cap rows per cluster
    * BEFORE the shuffle (clusters·partitions·cap tiny rows), where a
    * `row_number` window would sort-shuffle the whole corpus into
    * cluster-hot partitions; the kept set (clusters·cap rows) broadcasts
    * back onto the scored frame to recover typed ids. Unassignable
    * (null/zero-norm) vectors are excluded by contract. */
  def diversitySample(embeddings: DataFrame, centroids: Array[Centroid],
                      cap: Int, keepCentral: Boolean,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(cap >= 1, s"cap=$cap: keep at least one row per cluster")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val scored = graft.CacheBarriers.barrier(
      ivfAssignScored(embeddings, centroids, idCol, vecCol)
        .filter(col("bucket") =!= UnassignedBucket))
    val kept = scored
      .select(col("bucket").cast("string").as("stratum"),
        (if (keepCentral) -col("cos_scaled") else col("cos_scaled")).as("h"),
        col(idCol).cast("string").as("id"))
      .as[KeepCand]
      .groupByKey(_.stratum)
      .agg(new KeepKSmallest(cap).toColumn)
      .flatMap { case (b, buf) =>
        buf.items.zipWithIndex.map { case (c, i) => (b, c.id, (i + 1).toLong) }
      }
      .toDF("__b", "__id", "rnk")
    scored.join(
        broadcast(kept),
        scored("bucket").cast("string") === kept("__b") &&
          scored(idCol).cast("string") === kept("__id"))
      .select(col(idCol), col("bucket"), col("cos_scaled"), col("rnk"))
  }

  /** [[diversitySample]]'s run-over-run ingest shape: fold a batch of
    * new vectors into the cap-bounded per-cluster kept-state. The state
    * IS the sample — (id, bucket, cos_scaled), ≤ cap rows per cluster,
    * config-sized — and the fold law is the heap property itself:
    * top-cap(A ∪ B) = top-cap(top-cap(A) ∪ B), so folded batches equal
    * the full-corpus selection EXACTLY, in any batch order. Redelivered
    * vectors are absorbed by an id-keyed dedupe (a replayed vector
    * scores identically — selection is a pure function of the id set),
    * giving the same replay-idempotence class as the register sketches —
    * and the dedupe is STRICT: an id that reappears with a DIFFERENT
    * (bucket, cos_scaled) — a mutated embedding or an id collision —
    * raises row-lazily rather than silently carrying two rows for one
    * id past the cap contract. Centroids must be the same across folds
    * by contract (they are the selection's frame of reference —
    * retraining them is a new sample, not a fold).
    *
    * Returns the new state; derive ranked output with
    * [[diversityReportFromState]]. Scale shape: the batch pays one
    * narrow scoring scan + a bounded heap over batch∪state; state never
    * exceeds clusters·cap rows. */
  def diversitySampleIncremental(newVecs: DataFrame, keptState: DataFrame,
                                 centroids: Array[Centroid], cap: Int,
                                 keepCentral: Boolean,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding"): DataFrame =
    diversityFoldScored(
      ivfAssignScored(newVecs, centroids, idCol, vecCol)
        .filter(col("bucket") =!= UnassignedBucket)
        .select(col(idCol).cast("string").as("id"), col("bucket"),
          col("cos_scaled")),
      keptState, cap, keepCentral)

  /** [[diversitySampleIncremental]] over an ALREADY-SCORED batch —
    * (id string, bucket, cos_scaled), the frame the assignment pass
    * produces. Split out because the assignment is a pure function of
    * (vector, centroids) and therefore ARM-INDEPENDENT: a caller folding
    * the same batches under several keep policies (q168's central vs
    * diverse arms) scores each batch once and shares the barriered
    * scored frame across arms, instead of paying one assignment scan
    * per (arm × fold step). */
  def diversityFoldScored(batchScored: DataFrame, keptState: DataFrame,
                          cap: Int, keepCentral: Boolean): DataFrame = {
    require(cap >= 1, s"cap=$cap: keep at least one row per cluster")
    val spark = batchScored.sparkSession
    import spark.implicits._
    // id-keyed strict dedupe: identical replays collapse (distinct rows,
    // one per id); an id surviving with TWO distinct (bucket, cos) rows
    // broke the ids-immutable contract — raise instead of letting the
    // kept state exceed cap-per-cluster with duplicate ids. min() on the
    // singleton group is the row itself; the when() keeps the check in
    // the live plan.
    batchScored.unionByName(keptState).distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("__n"),
        min(col("bucket")).as("bucket"),
        min(col("cos_scaled")).as("cos_scaled"))
      .select(
        when(col("__n") > 1, raise_error(concat(
          lit("diversitySampleIncremental: id "), col("id"),
          lit(" re-delivered with a conflicting (bucket, cos_scaled) — " +
            "embeddings are immutable by contract (same id must score " +
            "identically); a changed vector or id collision cannot " +
            "fold"))))
          .otherwise(col("id")).as("id"),
        col("bucket"), col("cos_scaled"))
      .select(col("bucket").cast("string").as("stratum"),
        (if (keepCentral) -col("cos_scaled") else col("cos_scaled")).as("h"),
        col("id"))
      .as[KeepCand]
      .groupByKey(_.stratum)
      .agg(new KeepKSmallest(cap).toColumn)
      .flatMap { case (b, buf) =>
        buf.items.map(c => (c.id, b.toLong,
          if (keepCentral) -c.h else c.h))
      }
      .toDF("id", "bucket", "cos_scaled")
  }

  /** Empty kept-state for [[diversitySampleIncremental]]. */
  def emptyDiversityState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id", StringType),
        StructField("bucket", LongType),
        StructField("cos_scaled", LongType))))
  }

  /** Ranked output from a kept-state — [[diversitySample]]'s
    * (id, bucket, cos_scaled, rnk) contract. The window runs over a
    * clusters·cap-row frame (config-sized by construction), not the
    * corpus. */
  def diversityReportFromState(state: DataFrame,
                               keepCentral: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = if (keepCentral) -col("cos_scaled") else col("cos_scaled")
    state.withColumn("rnk", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(key.asc, col("id").asc)))
      .select(col("id"), col("bucket"), col("cos_scaled"),
        col("rnk").cast("long"))
  }

  /** Clustering-quality audit — the [[lshRecallReport]] move applied to
    * the IVF index: per cluster, how COHESIVE is the assigned mass
    * (count, summed and minimum member-to-centroid micro-cosine) and how
    * SEPARATED is the centroid from its nearest other centroid
    * (`nn_sep_micro`). A cluster whose `min_cos_micro` is below its
    * `nn_sep_micro` is holding members that sit closer to a neighboring
    * centroid's direction than their own worst member sits to theirs —
    * the overlap signature that costs IVF probes recall (and the signal
    * for raising nprobe or retraining).
    *
    * Sums, not means: the consumer divides — emitting `sum DIV n` would
    * marry the report to one engine's negative-integer-division
    * convention, and the sum is the mergeable partial anyway.
    *
    * Scale shape: one narrow broadcast scoring scan + a ≤ clusters-group
    * aggregate (map-side combine collapses each partition to cluster
    * rows); the separation matrix is centroids² on the DRIVER —
    * control-plane-sized, the PQ-LUT class, never a data-sized join. */
  def ivfQualityReport(embeddings: DataFrame, centroids: Array[Centroid],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(centroids.length >= 2,
      "ivfQualityReport: separation needs at least two centroids")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val coh = ivfAssignScored(embeddings, centroids, idCol, vecCol)
      .filter(col("bucket") =!= UnassignedBucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("cos_scaled")).as("sum_cos_micro"),
        min(col("cos_scaled")).as("min_cos_micro"))
    val sep = centroids.flatMap { a =>
      val best = centroids.iterator
        .filter(_.id != a.id)
        .map(b => dotArr(a.vec, b.vec) / (a.norm * b.norm))
        .filterNot(_.isNaN)
        .foldLeft(Double.NegativeInfinity)(math.max)
      // floor∘max == max∘floor (floor is monotone), so the driver-side
      // double max matches the oracle's max over floored micros. A
      // centroid whose EVERY other-centroid cosine is NaN (degenerate
      // zero-norm geometry on both sides of each pair) has no defined
      // separation — emit no row, exactly as the oracle's sep CTE
      // (NaN-filtered, inner join) drops that bucket.
      if (best.isNegInfinity) None
      else Some((a.id, math.floor(best * 1e6).toLong))
    }.toSeq.toDF("bucket", "nn_sep_micro")
    coh.join(broadcast(sep), Seq("bucket"))
      .select(col("bucket"), col("n"), col("sum_cos_micro"),
        col("min_cos_micro"), col("nn_sep_micro"))
  }

  /** Predicate-selected centroids (the untrained/demo path; see
    * [[IvfTrain]] for Lloyd's-trained centroids). */
  def ivfAssign(embeddings: DataFrame, centroidPred: Column,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    ivfAssign(embeddings,
      collectCentroids(embeddings.filter(centroidPred), idCol, vecCol),
      idCol, vecCol)

  /** Query rows with their `nprobe` nearest centroid buckets exploded:
    * (query_id, qv, qn, bucket). Narrow for the same reason as
    * [[ivfAssign]]; the query side is small by contract. */
  private def probeFrame(embeddings: DataFrame, centroids: Array[Centroid],
                         queryPred: Column, nprobe: Int,
                         idCol: String, vecCol: String): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    val probeU = udf { (arr: Array[Double]) =>
      // null (or null-element, via cleanVec) query probes nothing
      if (arr == null) (Array.empty[Long], 0.0)
      else {
        val qn = math.sqrt(dotArr(arr, arr))
        // NaN scores (zero-norm query or centroid) are dropped before the
        // sort: NaN breaks strict-weak ordering (sortWith may throw) and a
        // zero query has no meaningful probes anyway
        val scored = bc.value.map(c => (dotArr(arr, c.vec) / (qn * c.norm), c.id))
          .filterNot(_._1.isNaN)
        val top = scored
          .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
          .take(nprobe).map(_._2)
        (top, qn)
      }
    }
    embeddings.filter(queryPred)
      .select(col(idCol).as("query_id"), cleanVec(col(vecCol)).as("qv"))
      .withColumn("p", probeU(col("qv")))
      .select(col("query_id"), col("qv"), col("p._2").as("qn"),
        explode(col("p._1")).as("bucket"))
  }

  /** Explode a per-query [[TopBuf]] into (query_id, rank, neighbor_id,
    * bucket) rows. */
  private def explodeTopK(agged: DataFrame): DataFrame =
    agged.select(col("query_id"), posexplode(col("tk.items")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"), col("col.bucket").as("bucket"))

  /** Brute-force top-k cosine neighbors for a query subset.
    * `queryPred` selects the query rows (small!); the query side is
    * broadcast so the candidate scan never shuffles, and the bounded-heap
    * aggregation keeps the top-k reduction map-side (≤ k rows per query
    * per partition cross the wire). */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cands = embeddings.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val queries = embeddings.filter(queryPred)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Scored])
    val agged = cands.join(broadcast(queries),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        cosinePre(col("qv"), col("qn"), col("cv"), col("cn")))
      // zero-norm vectors produce NULL cosines (nullif above) and NaN
      // components produce NaN ones; neither has a place in a total
      // order — excluded BEFORE the aggregation so top-k stays
      // partition-invariant and the non-nullable Scored encoder never
      // sees a null
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id").cast("long"), col("cos"), lit(-1L)).as("tk"))
    explodeTopK(agged).select("query_id", "rank", "neighbor_id")
  }

  /** IVF probe: top-k within the query's `nprobe` nearest centroid
    * buckets. Recall < 1 by design; the oracle replicates the same probe
    * so results still hash-match. The probe side is broadcast, so the
    * only movement of the big side is the ≤ k-per-partition top-k
    * shuffle. */
  def ivfTopK(embeddings: DataFrame, centroids: Array[Centroid],
              queryPred: Column, k: Int, nprobe: Int,
              idCol: String, vecCol: String): DataFrame = {
    val assigned = ivfAssign(embeddings, centroids, idCol, vecCol)
    val probes = probeFrame(embeddings, centroids, queryPred, nprobe,
      idCol, vecCol)
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Scored])
    val agged = assigned.select(col(idCol).as("neighbor_id"), col("v"),
        col("vn"), col("bucket"))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        cosinePre(col("qv"), col("qn"), col("v"), col("vn")))
      // see bruteForceTopK: null/NaN cosines have no rank
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id").cast("long"), col("cos"),
        col("bucket").cast("long")).as("tk"))
    explodeTopK(agged)
  }

  /** Predicate-selected centroids variant of [[ivfTopK]]. */
  def ivfTopK(embeddings: DataFrame, centroidPred: Column, queryPred: Column,
              k: Int, nprobe: Int, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    ivfTopK(embeddings,
      collectCentroids(embeddings.filter(centroidPred), idCol, vecCol),
      queryPred, k, nprobe, idCol, vecCol)

  /** Two-stage quantized IVF probe — the memory-bound arrangement at
    * 100 TB: the index's candidate side holds int8 codes (4× smaller hot
    * set, [[Quantize]]), stage 1 scores probes against DEQUANTIZED codes
    * and keeps `rerank` ≥ k survivors per query (bounded-heap, map-side),
    * stage 2 re-reads exact vectors for only those survivors and ranks
    * the true top-k. Queries keep full precision throughout (they are
    * few; the candidates are the 100 TB). Recall loss vs exact IVF is
    * bounded by quantization error and shrinks as `rerank` grows — and
    * the oracle replays the identical two-stage schedule, so results
    * still hash-match exactly. */
  def ivfTopKQuantized(embeddings: DataFrame, centroidPred: Column,
                       queryPred: Column, k: Int, nprobe: Int, rerank: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val centroids =
      collectCentroids(embeddings.filter(centroidPred), idCol, vecCol)
    // assignment barrier: stage 1 scans it quantized, stage 2 joins the
    // survivors back against its exact vectors — one scan, two readers
    val assigned = graft.CacheBarriers.barrier(
      ivfAssign(embeddings, centroids, idCol, vecCol))
    val quant = Quantize.withQuantized(
        assigned.select(col(idCol).as("neighbor_id"), col("v"), col("bucket")),
        vecCol = "v")
      .withColumn("dv",
        transform(col("q_codes"), c => col("q_min") + c * col("q_scale")))
      .withColumn("dvn", sqrt(dot(col("dv"), col("dv"))))
      .select("neighbor_id", "bucket", "dv", "dvn")
    val probes = probeFrame(embeddings, centroids, queryPred, nprobe,
      idCol, vecCol)
    val topR = udaf(new TopKNeighbors(rerank), Encoders.product[Scored])
    val survivors = quant.join(broadcast(probes), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("acos",
        cosinePre(col("qv"), col("qn"), col("dv"), col("dvn")))
      .filter(col("acos").isNotNull && !isnan(col("acos")))
      .groupBy(col("query_id"))
      .agg(topR(col("neighbor_id").cast("long"), col("acos"),
        col("bucket").cast("long")).as("tk"))
    val cand = explodeTopK(survivors).select("query_id", "neighbor_id")
    // stage 2: exact re-rank of the tiny survivor set. Query vectors and
    // norms are reused from the probe frame (deduped across its nprobe
    // explosion) — recomputing them from the source would be a second
    // full queryPred scan of the corpus for work already done
    val exactQ = probes.dropDuplicates("query_id")
      .select("query_id", "qv", "qn")
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Scored])
    val reranked = cand
      .join(assigned.select(col(idCol).as("neighbor_id"), col("v"),
        col("vn"), col("bucket")), Seq("neighbor_id"))
      .join(broadcast(exactQ), Seq("query_id"))
      .withColumn("cos",
        cosinePre(col("qv"), col("qn"), col("v"), col("vn")))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id").cast("long"), col("cos"),
        col("bucket").cast("long")).as("tk"))
    explodeTopK(reranked)
  }

  /** Embedding-cosine near-dedup, bucketed: vectors are IVF-assigned once
    * (narrow), and only intra-bucket pairs are scored — no all-pairs.
    * Recall is bounded by bucket purity (a near-dup pair split across
    * buckets is missed), the standard ANN-dedup trade; the oracle replays
    * the same assignment so results match exactly. The assignment is
    * persisted before the self-join so both join branches reuse one scan
    * (see Dedup.verifiedNearDupPairs for the same barrier). */
  def embeddingNearDupPairs(vectors: DataFrame, centroidPred: Column,
                            minCos: Double, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    // registered barrier (not a bare persist): long-lived sessions —
    // BucketedSemanticDedup's bootstrap in particular — release operator
    // caches through CacheBarriers scopes, and a direct persist here
    // would outlive them all, pinning the corpus-sized assignment
    val assigned = graft.CacheBarriers.barrier(
      ivfAssign(vectors, centroidPred, idCol, vecCol)
        // the unassignable bucket collects ALL broken vectors (zero-norm,
        // NULL) — self-joining it would pair every broken vector with
        // every other, a quadratic blowup scoring nothing but NULL cosines
        .filter(col("bucket") =!= UnassignedBucket))
    assigned.alias("a").join(assigned.alias("b"),
        col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("cos",
        cosinePre(col("a.v"), col("a.vn"), col("b.v"), col("b.vn")))
      .filter(col("cos") >= minCos)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.bucket").as("bucket"),
        floor(col("cos") * 1e6).cast("long").as("cos_scaled"))
  }

  // ── Sign-random-projection (hyperplane) LSH ───────────────────────────

  /** Fixed Rademacher hyperplanes for sign-LSH: sign(p)(i) ∈ {+1, −1}
    * derived from the shared md5 hash ([[TextHash.h32pScala]]) of
    * "rp:&lt;plane&gt;:&lt;dim&gt;" parity, so both engines regenerate the
    * identical matrix from constants alone — no RNG, no stored state,
    * nothing to drift between the Spark plan and the DuckDB twin. */
  def signMatrix(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim)((p, i) =>
      if (TextHash.h32pScala(s"rp:$p:$i") % 2 == 0) 1.0 else -1.0)

  /** Fixed Rademacher projection matrix for [[randomProject]] —
    * [[signMatrix]]'s recipe in a distinct hash namespace ("jl:"), so
    * projecting and sign-hashing the same corpus never share planes. */
  def jlMatrix(dimOut: Int, dimIn: Int): Array[Array[Double]] =
    Array.tabulate(dimOut, dimIn)((j, i) =>
      if (TextHash.h32pScala(s"jl:$j:$i") % 2 == 0) 1.0 else -1.0)

  /** Johnson–Lindenstrauss random projection: reduce an embedding column
    * from `dimIn` to `dimOut` dimensions with a fixed Rademacher matrix
    * (Achlioptas 2003's database-friendly ±1 construction) — the
    * dimensionality lever for every downstream ANN/dedup pass: a
    * dim-64→16 projection cuts every pair-verify and centroid dot to a
    * quarter of its cost, at an angle distortion that concentrates as
    * 1/√dimOut. The matrix derives from the shared md5 hash — no RNG, no
    * stored artifact, both engines regenerate it from constants
    * ([[signMatrix]]'s determinism argument), and the same left-fold dot
    * makes projected values BIT-identical cross-engine.
    *
    * The JL scaling constant 1/√dimOut is deliberately omitted: cosines
    * and angles are scale-invariant, and every consumer here is
    * cosine-based; an L2 consumer multiplies distances by √(1/dimOut)
    * itself (documented rather than hidden in the data).
    *
    * Scale shape: one narrow pass of `dimOut` native-codegen dots
    * against literal rows, zero shuffle, batch ≡ streaming by
    * construction. Broken vectors quarantine first ([[cleanVec]] + dim
    * guard), so projected rows are always finite. Returns
    * (idCol, vecCol as double[], outCol). */
  def randomProject(vectors: DataFrame, dimIn: Int, dimOut: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    outCol: String = "proj"): DataFrame = {
    require(dimOut >= 1 && dimOut <= dimIn,
      s"dimOut=$dimOut must be in [1, dimIn=$dimIn] — projecting UP has " +
        "no JL contract")
    // one native pass for the dimOut plane dots (see [[signVectors]]'s
    // note: the dimOut-dot array form went O(dimOut²·dimIn) per row once
    // the sign pass re-referenced it 64×); same "jl:" matrix, same fold
    // order, bit-identical projections
    vectors
      .select(col(idCol), cleanVec(col(vecCol)).as(vecCol))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dimIn)
      .withColumn(outCol,
        call_function(graft.functions.GraftFunctions.PlaneProjName,
          col(vecCol), lit("jl"), lit(dimOut), lit(dimIn)))
  }

  /** Sign-LSH in a JL-PROJECTED space with exact verification in the
    * ORIGINAL space — the end-to-end scale path [[randomProject]]
    * exists for: banding runs over `dimOut`-dim vectors (every signing
    * dot costs dimOut/dimIn of the full-space pass; at 64→16 a quarter)
    * while the verify joins read the original vectors, so precision is
    * untouched — only recall pays the projection's angle distortion
    * (q136's report prices exactly that trade, and [[lshRecallReport]]
    * audits it). Same banded-join shape, same quadratic-bucket cap,
    * same (id_a, id_b, cos_scaled) output contract as
    * [[signLshNearDupPairs]]; cos_scaled is the ORIGINAL-space cosine. */
  def projectedSignLshPairs(vectors: DataFrame, minCos: Double,
                            dimIn: Int, dimOut: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            planes: Int = 64, bands: Int = 8,
                            maxBucketSize: Option[Int] = None): DataFrame = {
    val proj = graft.CacheBarriers.barrier(
      randomProject(vectors, dimIn, dimOut, idCol, vecCol, "proj"))
    val orig = graft.CacheBarriers.barrier(
      proj.select(col(idCol).as("__id"), col(vecCol).as("v"))
        .withColumn("vn", sqrt(dot(col("v"), col("v")))))
    val signedProj = signVectors(proj, dimOut, idCol, "proj", planes, bands)
    val all = signBandRows(signedProj)
    val bandRows = capSignBands(all, all, maxBucketSize)
    val cand = bandRows.alias("a")
      .join(bandRows.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    signVerifyPairs(cand, orig, minCos)
  }

  /** SQL twin of [[randomProject]]'s projected list over a double-list
    * expression `v` (same literal matrix, same ordered fold). */
  def sqlJlProject(v: String, dimIn: Int, dimOut: Int): String = {
    val r = jlMatrix(dimOut, dimIn)
    (0 until dimOut).map { j =>
      val lits = r(j).map(s => if (s > 0) "1" else "-1")
        .mkString("[", ",", "]")
      s"CAST(list_sum(list_transform(range(1, ${dimIn + 1}), " +
        s"i -> ($v)[i] * ($lits)[i])) AS DOUBLE)"
    }.mkString("[", ", ", "]")
  }

  /** Sign-random-projection (hyperplane) LSH near-dedup over an embedding
    * column — the data-INDEPENDENT scale path for embedding-cosine
    * near-dup, next to the data-dependent IVF buckets of
    * [[embeddingNearDupPairs]]. Each of `planes` fixed Rademacher
    * hyperplanes contributes one bit (dot ≥ 0); the bit string splits
    * into `bands` integer keys; only same-(band, key) pairs are
    * cosine-verified. P[bit match] = 1 − θ/π (Goemans–Williamson), so a
    * cos ≥ 0.95 pair (θ ≈ 0.32 rad) shares one default 8-bit band with
    * p ≈ 0.43 and at least one of the 8 bands with p ≈ 0.99. False
    * positives are erased by the exact verify; false negatives are the
    * standard LSH recall trade — tune planes/bands exactly like
    * minhash's K/BandRows. Versus IVF: no training pass, no centroid
    * quality dependence, recall is analytic; the price is more candidate
    * pairs at equal recall on clusterable data.
    *
    * Scale shape (the minhash-LSH plan in embedding space): signing is
    * one narrow pass — `planes` native-codegen dots against literal
    * arrays, zero shuffle; pair generation is the banded self-join keyed
    * on (band_idx, band_key) with the same optional quadratic-bucket cap
    * as [[Dedup.candidatePairs]]; verification is two id-keyed joins
    * against the persisted signed frame. Nothing is ever all-pairs, and
    * the signed frame is a [[graft.CacheBarriers.barrier]] so the sign
    * pass runs once across its three consumers.
    *
    * Returns (id_a, id_b, cos_scaled = floor(cos·1e6)), deterministic
    * across engines (same left-fold dot, same integer flooring). Broken
    * vectors (NULL / null-element / wrong-length) are quarantined before
    * signing ([[cleanVec]] + length guard); zero-norm vectors sign (all
    * dots 0 → all bits 1) but never pass verification (NULL cosine).
    * Bit parity needs finite data — a NaN dot would bit 0 here but 1 in
    * DuckDB, whose comparisons order NaN above all values — and
    * [[cleanVec]] ENFORCES it: any non-finite element quarantines the
    * vector before signing, on both engines (the oracle applies the
    * identical filter to its corpus CTE). */
  def signLshNearDupPairs(vectors: DataFrame, minCos: Double, dim: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          planes: Int = 64, bands: Int = 8,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    val signed = graft.CacheBarriers.barrier(
      signVectors(vectors, dim, idCol, vecCol, planes, bands))
    val all = signBandRows(signed)
    val bandRows = capSignBands(all, all, maxBucketSize)
    val cand = bandRows.alias("a")
      .join(bandRows.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    signVerifyPairs(cand, signed, minCos)
  }

  /** The signed frame [[signLshNearDupPairs]] builds internally, as a
    * persistable ARTIFACT: (`__id`, v, vn, bkeys) — the vector, its
    * norm (verification never re-sqrts), and the `bands` integer band
    * keys. Signing is the one narrow pass of `planes` literal-array dots
    * (codegen, zero shuffle); everything downstream — batch self-join,
    * incremental scoring, multi-probe — consumes this frame, so a
    * composite signs ONCE and an incremental run never re-signs the old
    * corpus (the minhash signature-table convention in embedding
    * space). Broken vectors are quarantined here ([[cleanVec]] + length
    * guard), so artifact rows are always finite, dim-length vectors. */
  def signVectors(vectors: DataFrame, dim: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  planes: Int = 64, bands: Int = 8): DataFrame = {
    require(planes % bands == 0,
      s"planes=$planes must divide into bands=$bands")
    val rows = planes / bands
    require(rows <= 30, s"rows-per-band=$rows overflows the Int band key")
    // ONE native pass (graft_plane_keys) instead of a 64-dot `__bits`
    // alias re-referenced 64× by the key expressions: CollapseProject
    // substituted the whole dot array into every reference, so the sign
    // pass cost O(planes²·dim) per row — measured ~20 executor-CPU s on
    // a 6.2k-row sf0.1 corpus, the dominant cost of every sign-LSH
    // query. Same matrix, same fold order, bit-identical keys
    // ([[graft.functions.SignPlanes]]; the oracle twin is untouched).
    vectors
      .select(col(idCol).as("__id"), cleanVec(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .select(col("__id"), col("v"),
        sqrt(dot(col("v"), col("v"))).as("vn"),
        call_function(graft.functions.GraftFunctions.PlaneKeysName,
          col("v"), lit("rp"), lit(planes), lit(dim), lit(bands))
          .as("bkeys"))
  }

  /** The shared BIT artifact an entire parameterization ladder derives
    * from: (`__id`, v, vn, `__bits`) — ONE sign pass (`planes`
    * literal-array dots, narrow, codegen) no matter how many (bands ×
    * probes) tiers read it. Band keys are pure modular regroupings of
    * these bits ([[pairsFromBits]]), so an n-tier recall audit
    * ([[lshRecallReportTiers]]) signs once and derives n key sets
    * arithmetically — exactly the shape the DuckDB oracle already uses
    * (one `bits` column, n key expressions). The caller wraps it in a
    * [[graft.CacheBarriers.barrier]]; at deployment scale this frame IS
    * the persisted audit artifact (write it once, every sweep and
    * repeat audit reads it). */
  def signBitsArtifact(vectors: DataFrame, dim: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       planes: Int = 64): DataFrame =
    // one native pass for the 64 sign bits (see [[signVectors]]'s note —
    // the 64-dot array form was O(planes²·dim) once a consumer
    // re-referenced it); same matrix, same fold order, bit-identical
    vectors
      .select(col(idCol).as("__id"), cleanVec(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .select(col("__id"), col("v"),
        sqrt(dot(col("v"), col("v"))).as("vn"),
        call_function(graft.functions.GraftFunctions.PlaneBitsName,
          col("v"), lit("rp"), lit(planes), lit(dim)).as("__bits"))

  /** Verified near-dup pairs for ONE (bands, probes) parameterization
    * over a [[signBitsArtifact]]: `probes = 1` produces exactly
    * [[signLshNearDupPairs]]'s numbers, `probes > 1` exactly
    * [[multiProbeSignLshPairs]]'s (same rotated-view indexing) — but
    * the sign pass is NOT repeated: keys regroup the artifact's bits,
    * candidates band-join, verification joins the artifact's (v, vn).
    * No per-tier cache: the one barrier worth keeping is the artifact
    * itself, which the caller owns. */
  def pairsFromBits(bitsArtifact: DataFrame, minCos: Double,
                    planes: Int = 64, bands: Int = 8, probes: Int = 1,
                    maxBucketSize: Option[Int] = None): DataFrame = {
    require(planes % bands == 0,
      s"planes=$planes must divide into bands=$bands")
    val rows = planes / bands
    require(rows <= 30, s"rows-per-band=$rows overflows the Int band key")
    require(probes >= 1 && rows % probes == 0,
      s"probes=$probes must divide rows-per-band=$rows")
    val step = rows / probes
    val keys = flatten(array((0 until probes).map { kp =>
      val s0 = kp * step
      array((0 until bands).map { b =>
        (0 until rows).map(r =>
          col("__bits")((b * rows + r + s0) % planes) * lit(1L << r))
          .reduce(_ + _)
      }: _*)
    }: _*))
    val all = bitsArtifact.select(col("__id"),
      posexplode(keys).as(Seq("band_idx", "band_key")))
    val bandRows = capSignBands(all, all, maxBucketSize)
    val cand = bandRows.alias("a")
      .join(bandRows.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    signVerifyPairs(cand, bitsArtifact, minCos)
  }

  /** One (band_idx, band_key) row per band of a signed frame. */
  private def signBandRows(signed: DataFrame): DataFrame =
    signed.select(col("__id"),
      posexplode(col("bkeys")).as(Seq("band_idx", "band_key")))

  /** The quadratic-bucket cap, measured over `measure` (the FULL corpus
    * in the incremental path) and applied to `rows`. */
  private def capSignBands(rows: DataFrame, measure: DataFrame,
                           maxBucketSize: Option[Int]): DataFrame =
    maxBucketSize match {
      case None => rows
      case Some(cap) =>
        val ok = measure.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= cap)
          .select("band_idx", "band_key")
        rows.join(ok, Seq("band_idx", "band_key"), "left_semi")
    }

  /** Exact-cosine verification of candidate (id_a, id_b) pairs against a
    * signed frame: two id-keyed joins, the pre-computed norms, the
    * shared `>= minCos` + non-NaN guard, `floor(cos·1e6)` output. */
  private def signVerifyPairs(cand: DataFrame, signed: DataFrame,
                              minCos: Double): DataFrame =
    cand
      .join(signed.select(col("__id").as("id_a"), col("v").as("va"),
        col("vn").as("na")), Seq("id_a"))
      .join(signed.select(col("__id").as("id_b"), col("v").as("vb"),
        col("vn").as("nb")), Seq("id_b"))
      .withColumn("cos", cosinePre(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos").isNotNull && !isnan(col("cos")) &&
        col("cos") >= minCos)
      .select(col("id_a"), col("id_b"),
        floor(col("cos") * 1e6).cast("long").as("cos_scaled"))

  /** Incremental sign-LSH: score a NEW batch of vectors against a
    * persisted signed artifact ([[signVectors]]) plus itself, never
    * re-signing or even re-banding the old corpus except where a new
    * vector shares a bucket — [[graft.llm.Dedup.incrementalNearDupPairs]]'s
    * contract in embedding space, completing the family symmetry (every
    * LSH tier here now has a batch and an incremental form).
    *
    * Identity (pinned by SignLshSpec): output ≡
    * `signLshNearDupPairs(old ∪ new)` RESTRICTED to pairs touching the
    * new batch — both engines band from the same constant matrix, so the
    * new batch's bits land in exactly the buckets the batch run would
    * have produced. Old-old pairs were previous runs' output and are
    * not re-emitted. A re-delivered id (an updated vector) is
    * represented by its NEW signing only — the old artifact row is
    * anti-joined away, or the id would carry two signatures and every
    * pair touching it would contradict itself through the verification
    * joins. Returns (id_a, id_b, cos_scaled) with the pair ordered
    * id_a < id_b; the caller persists `newSigned ∪ (old ∖ redelivered)`
    * as the next artifact (exactly the `allSigned` this builds). */
  def signLshIncrementalPairs(newVectors: DataFrame,
                              existingSigned: DataFrame, minCos: Double,
                              dim: Int, idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              planes: Int = 64, bands: Int = 8,
                              maxBucketSize: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    val newSigned = graft.CacheBarriers.barrier(
      signVectors(newVectors, dim, idCol, vecCol, planes, bands))
    val allSigned = graft.CacheBarriers.barrier(
      existingSigned.select("__id", "v", "vn", "bkeys")
        .join(newSigned.select("__id"), Seq("__id"), "left_anti")
        .unionByName(newSigned))
    val allBands = signBandRows(allSigned)
    // cap measured over the FULL corpus, applied to both sides (the
    // bounded-cost trade candidatePairs documents); new side drives the
    // join so old buckets are touched only where a new vector lands
    val aBands = capSignBands(signBandRows(newSigned), allBands,
      maxBucketSize)
    val bBands = capSignBands(allBands, allBands, maxBucketSize)
    val cand = aBands.alias("a")
      .join(bBands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.__id") =!= col("b.__id"))
      .select(least(col("a.__id"), col("b.__id")).as("id_a"),
        greatest(col("a.__id"), col("b.__id")).as("id_b"))
      .distinct()
    (signVerifyPairs(cand, allSigned, minCos), allSigned)
  }

  /** Multi-probe sign-LSH: the recall-repair tier for the hyperplane
    * family, mirroring [[graft.llm.Dedup.multiProbeSimhashPairs]]'s
    * rotation trick. Banding splits the `planes` bits at fixed
    * boundaries, so a near-pair whose few differing bits happen to land
    * one per band shares NO band and is never a candidate — the
    * prefix-split miss. Each probe `k` re-bands the SAME bits rotated
    * left by `k·rows/probes` positions (pure modular indexing — bit `i`
    * of probe `k`'s view is bit `(i + k·step) mod planes`), shifting the
    * band boundaries by a sub-band amount so a differently-aligned band
    * can come up clean. Rotating by a FULL band would merely permute the
    * bands (the identical candidate set), hence `probes` must divide
    * `rows`: rotations step inside one band width, and every probe
    * partitions the bits differently.
    *
    * Probe 0 is the identity rotation, so the candidate set — and
    * therefore the verified output — is a strict superset of
    * [[signLshNearDupPairs]] at equal parameters (pinned by
    * SignLshSpec); at `probes = 1` the two are identical. False
    * positives still cost only a wasted exact-cosine verify; the cap
    * discipline is per (probe, band, key) bucket over the widened
    * bucket space, same as the base tier. Scale shape is unchanged —
    * signing is one narrow pass, candidates shuffle on the (probe·band,
    * key) pair, `probes×` the band rows of the base tier. */
  def multiProbeSignLshPairs(vectors: DataFrame, minCos: Double, dim: Int,
                             probes: Int = 4,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             planes: Int = 64, bands: Int = 8,
                             maxBucketSize: Option[Int] = None): DataFrame = {
    require(planes % bands == 0,
      s"planes=$planes must divide into bands=$bands")
    val rows = planes / bands
    require(rows <= 30, s"rows-per-band=$rows overflows the Int band key")
    require(probes >= 1 && rows % probes == 0,
      s"probes=$probes must divide rows-per-band=$rows (rotations step " +
        "by rows/probes bits; a full-band rotation is the identity " +
        "partition)")
    // One sign pass into the BIT artifact, keys derived from the cached
    // bits column — this is exactly [[pairsFromBits]]'s contract, so the
    // body IS that composition. The previous inline form built the
    // probe-key array from probes×bands×rows = 256 references to a
    // 64-dot `__bits` alias, which CollapseProject substituted into
    // every reference (the [[signVectors]] duplication note, 256× here);
    // deriving keys from the barriered artifact's ATTRIBUTE makes each
    // reference an element read of a cached long array instead.
    val art = graft.CacheBarriers.barrier(
      signBitsArtifact(vectors, dim, idCol, vecCol, planes))
    pairsFromBits(art, minCos, planes, bands, probes, maxBucketSize)
  }

  /** Semantic decontamination — the embedding-space member of the
    * decontamination family (exact hash → q69, n-gram → q71, Bloom →
    * q94, multi-set → q101 live in [[Dedup]]): flag corpus documents
    * whose embedding sits within `minCos` of ANY eval-set vector, the
    * paraphrase leak the text-overlap family cannot see. Every corpus
    * row reports its NEAREST eval vector (cos DESC, id ASC tie-break)
    * and the flag is `cos_scaled ≥ ⌊minCos·10⁶⌋`; rows with no valid
    * cosine (broken/zero-norm/wrong-dimension, quarantined by
    * [[collectCentroids]] / the scan's cleanVec + length guard) report
    * NULLs and `contaminated = false`. The space's dimension is the eval
    * set's own (all eval vectors must agree — loud require), so a corpus
    * vector of any other length quarantines instead of computing a
    * truncated, meaningless cosine.
    *
    * Scale shape: the eval set is control-plane-sized BY CONTRACT (an
    * eval benchmark, not a corpus — loud `maxEval` guard), broadcast
    * once; the corpus pass is purely map-side — argmax in a compiled
    * loop per row, no expansion join, no shuffle, output partitioning =
    * input partitioning (the [[ivfAssign]] argument, and the same
    * justified-UDF class). At 100 TB this is ONE narrow scan. */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
                            minCos: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            evalIdCol: String = "vec_id",
                            evalVecCol: String = "embedding",
                            maxEval: Int = 100000): DataFrame = {
    val evals = collectCentroids(evalVecs, evalIdCol, evalVecCol)
    require(evals.nonEmpty, "semanticDecontaminate: empty eval set — " +
      "an empty benchmark flags nothing; pass the eval vectors")
    require(evals.length <= maxEval,
      s"semanticDecontaminate: ${evals.length} eval vectors exceed " +
        s"maxEval=$maxEval — the eval side must be benchmark-sized")
    val dims = evals.map(_.vec.length).distinct
    require(dims.length == 1,
      s"semanticDecontaminate: eval vectors disagree on dimension " +
        s"(${dims.sorted.mkString(", ")}) — one embedding space only")
    val dim = dims.head
    val bc = corpus.sparkSession.sparkContext.broadcast(evals)
    val minScaled = math.floor(minCos * 1e6).toLong
    val nearestU = udf { (arr: Array[Double]) =>
      if (arr == null) (Long.MinValue, Long.MinValue)
      else {
        val vn = math.sqrt(dotArr(arr, arr))
        val evs = bc.value
        var bestId = Long.MinValue
        var best = Double.NegativeInfinity
        var i = 0
        while (i < evs.length) {
          val e = evs(i)
          val cos = dotArr(arr, e.vec) / (vn * e.norm)
          // strict > over ascending ids == (cos DESC, eval_id ASC); NaN
          // (zero-norm corpus row) never beats, leaving the no-match
          // marker
          if (cos > best) { best = cos; bestId = e.id }
          i += 1
        }
        if (bestId == Long.MinValue) (Long.MinValue, Long.MinValue)
        else (bestId, math.floor(best * 1e6).toLong)
      }
    }
    corpus
      .select(col(idCol), cleanVec(col(vecCol)).as("__v0"))
      // wrong-dimension vectors quarantine exactly like broken ones —
      // a truncated dot against a different-length eval vector is not a
      // cosine (every sibling operator carries the same size === dim gate)
      .select(col(idCol),
        when(size(col("__v0")) === dim, col("__v0")).as("__v"))
      .withColumn("__m", nearestU(col("__v")))
      .select(col(idCol),
        when(col("__m._1") =!= Long.MinValue, col("__m._1")).as("eval_id"),
        when(col("__m._1") =!= Long.MinValue, col("__m._2"))
          .as("cos_scaled"))
      .withColumn("contaminated",
        coalesce(col("cos_scaled") >= minScaled, lit(false)))
  }

  // ── LSH quality audit ─────────────────────────────────────────────────

  /** Recall/precision audit of an LSH pair set against brute-force
    * ground truth — the QA report every approximate-dedup deployment
    * needs before trusting its banding parameters: did the chosen
    * planes/bands/probes actually recover the cos ≥ minCos pairs, and at
    * what candidate cost? Ground truth is ALL-PAIRS exact cosine over an
    * audit sample BY DESIGN — quadratic is the point (there is no other
    * way to know what LSH missed) — so the operator is control-plane
    * work by contract: `samplePred` must bound the sample to audit size,
    * and the `maxSample` guard fails fast (one cheap count job before
    * the quadratic plan is built) instead of letting a corpus-sized
    * predicate OOM the join. At 100 TB the audit runs on a deterministic
    * id-slice (e.g. `id % 10000 === 0`); the production pair set itself
    * stays banded.
    *
    * `pairs` is any (id_a, id_b) frame with id_a < id_b — the output
    * convention of every LSH tier here (minhash, simhash, sign, IVF) —
    * and is restricted to pairs whose BOTH endpoints sit in the sample,
    * so tiers can be audited from their full-corpus runs. Returns one
    * row: (n_sample, n_true, n_cand, n_hit, recall_micro,
    * precision_micro), shares in exact truncating integer division.
    * Verified tiers (exact-cosine confirm, like all tiers here) audit at
    * precision 10⁶ structurally; an unverified candidate generator shows
    * its false-positive cost in the same column. */
  def lshRecallReport(vectors: DataFrame, pairs: DataFrame, minCos: Double,
                      dim: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      samplePred: Column = lit(true),
                      maxSample: Int = 20000): DataFrame =
    lshRecallReportTiers(vectors, Seq("all" -> pairs), minCos, dim, idCol,
      vecCol, samplePred, maxSample).drop("tier")

  /** [[lshRecallReport]] for SEVERAL pair sets at once — the
    * parameterization-ladder form (bands × probes candidates over the
    * same corpus): the sample and the quadratic ground truth build ONCE
    * and every tier audits against them, so an n-tier ladder pays one
    * all-pairs pass, not n. Returns one row per tier, `tier` column
    * first. */
  def lshRecallReportTiers(vectors: DataFrame,
                           tiers: Seq[(String, DataFrame)], minCos: Double,
                           dim: Int, idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           samplePred: Column = lit(true),
                           maxSample: Int = 20000): DataFrame = {
    require(tiers.nonEmpty, "lshRecallReportTiers: no tiers to audit")
    val (ids, gt, n) = auditGroundTruth(vectors, minCos, dim, idCol,
      vecCol, samplePred, maxSample)
    auditTiers(ids, gt, n, tiers)
  }

  /** The audit's shared ground truth: (sample ids, all-pairs gt at
    * minCos, sample size) — built once per corpus snapshot, consumed by
    * every tier; the quadratic pass lives here and ONLY here. */
  private def auditGroundTruth(vectors: DataFrame, minCos: Double,
                               dim: Int, idCol: String, vecCol: String,
                               samplePred: Column, maxSample: Int)
      : (DataFrame, DataFrame, Long) = {
    val sample = graft.CacheBarriers.barrier(
      vectors.filter(samplePred)
        .select(col(idCol).as("__id"), cleanVec(col(vecCol)).as("v"))
        .filter(col("v").isNotNull && size(col("v")) === dim)
        .withColumn("vn", sqrt(dot(col("v"), col("v")))))
    val n = sample.count()
    require(n <= maxSample,
      s"lshRecallReport: audit sample has $n vectors (max $maxSample) — " +
        "ground truth is all-pairs by design; tighten samplePred")
    val gt = graft.CacheBarriers.barrier(
      sample.alias("a").join(sample.alias("b"), col("a.__id") < col("b.__id"))
        .withColumn("cos",
          cosinePre(col("a.v"), col("a.vn"), col("b.v"), col("b.vn")))
        .filter(col("cos").isNotNull && !isnan(col("cos")) &&
          col("cos") >= minCos)
        .select(col("a.__id").as("id_a"), col("b.__id").as("id_b")))
    (sample.select(col("__id")), gt, n)
  }

  /** The audit step over an already-built ground truth. */
  private def auditTiers(ids: DataFrame, gt: DataFrame, n: Long,
                         tiers: Seq[(String, DataFrame)]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val nTrue = gt.agg(count(lit(1)).as("n_true"))
    tiers.map { case (tier, pairs) =>
      val cand = graft.CacheBarriers.barrier(
        pairs.select(col("id_a"), col("id_b"))
          .join(ids.withColumnRenamed("__id", "id_a"), Seq("id_a"),
            "left_semi")
          .join(ids.withColumnRenamed("__id", "id_b"), Seq("id_b"),
            "left_semi"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nHit = gt.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nTrue.crossJoin(broadcast(nCand)).crossJoin(broadcast(nHit))
        .withColumn("tier", lit(tier))
        .withColumn("n_sample", lit(n))
        .withColumn("recall_micro",
          expr("n_hit * 1000000L DIV greatest(n_true, 1L)"))
        .withColumn("precision_micro",
          expr("n_hit * 1000000L DIV greatest(n_cand, 1L)"))
        .select(col("tier"), col("n_sample"), col("n_true"), col("n_cand"),
          col("n_hit"), col("recall_micro"), col("precision_micro"))
    }.reduce(_ unionByName _)
  }

  /** Persist the audit's ground truth — `dir/sample` (the audited id
    * slice) and `dir/gt` (the all-pairs true positives at the audit's
    * minCos) — the family-wide audit-artifact layout: the quadratic
    * ground-truth pass runs ONCE per corpus snapshot, and every later
    * parameterization sweep ([[auditFromArtifacts]]) or repeat audit
    * reads it, exactly the discipline the sign-bits artifact applies to
    * the signing pass. Layout is engine-neutral (two id tables), so the
    * minhash (text) and sign-LSH (embedding) families share it. */
  def writeAuditArtifacts(vectors: DataFrame, dir: String, minCos: Double,
                          dim: Int, idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          samplePred: Column = lit(true),
                          maxSample: Int = 20000): Unit = {
    val (ids, gt, _) = auditGroundTruth(vectors, minCos, dim, idCol,
      vecCol, samplePred, maxSample)
    ids.write.mode("overwrite").parquet(s"$dir/sample")
    gt.write.mode("overwrite").parquet(s"$dir/gt")
  }

  /** Audit tier pair-sets against PERSISTED ground truth — no sample
    * pass, no quadratic rebuild; same output schema as
    * [[lshRecallReportTiers]], so [[selectLshConfig]] consumes either. */
  def auditFromArtifacts(spark: org.apache.spark.sql.SparkSession,
                         dir: String,
                         tiers: Seq[(String, DataFrame)]): DataFrame = {
    require(tiers.nonEmpty, "auditFromArtifacts: no tiers to audit")
    val ids = graft.CacheBarriers.barrier(
      spark.read.parquet(s"$dir/sample"))
    val gt = graft.CacheBarriers.barrier(spark.read.parquet(s"$dir/gt"))
    auditTiers(ids, gt, ids.count(), tiers)
  }

  /** Parameterization selector over an [[lshRecallReportTiers]] ladder —
    * the decision step the recall audit exists to feed: given the
    * measured (tier, recall, candidate-cost) rows and a target recall,
    * pick the CHEAPEST parameterization that meets the target
    * (`n_cand` is the price column — candidate pairs are what the
    * verify stage pays for). Returns exactly one row: the winning
    * tier's ladder columns plus `met_target`; when NO tier meets the
    * target the highest-recall tier returns with `met_target = false`
    * (the deployment still needs an answer — the flag says "retrain
    * your banding", the row says which knob got closest).
    *
    * Selection order, fully deterministic and mirrored by the SQL twin:
    * met-target first; among qualifiers ascending `n_cand` (cheapest),
    * then descending `recall_micro`, then ascending `tier`; among
    * non-qualifiers the same keys minus the n_cand priority (recall
    * first). The ladder is tiers-cardinality (config-sized), so the
    * one global sort here orders a handful of rows. */
  def selectLshConfig(ladder: DataFrame,
                      targetRecallMicro: Long): DataFrame = {
    require(targetRecallMicro >= 0 && targetRecallMicro <= 1000000L,
      s"selectLshConfig: targetRecallMicro=$targetRecallMicro out of " +
        "[0, 1000000]")
    ladder
      .withColumn("met_target",
        col("recall_micro") >= targetRecallMicro)
      .orderBy(col("met_target").desc,
        when(col("met_target"), col("n_cand"))
          .otherwise(lit(Long.MaxValue)).asc,
        col("recall_micro").desc, col("n_cand").asc, col("tier").asc)
      .limit(1)
      .withColumn("target_recall_micro", lit(targetRecallMicro))
      .select(col("tier"), col("n_cand"), col("recall_micro"),
        col("precision_micro"), col("met_target"),
        col("target_recall_micro"))
  }

  /** Per-label centroid outlier scoring: every vector's cosine to the
    * mean vector of its label group, with vectors below `minCos` flagged
    * — the embedding-space anomaly signal a curation pipeline uses to
    * catch mislabeled / off-distribution / encoder-glitched documents
    * before they pollute a training mix. Returns
    * `(idCol, labelCol, cos_scaled, is_outlier)` for every scorable
    * vector; broken vectors (NULL / null-element / zero-norm) follow the
    * existing quarantine contract ([[cleanVec]]) and are absent.
    *
    * Determinism across engines, same recipe as [[IvfTrain]]: per-label
    * per-dimension sums run on `floor(x·1e6)` integers (order-free), the
    * mean is one double division, and the flag compares scaled-integer
    * cosines — never raw doubles.
    *
    * Scale shape: one narrow pass + posexplode feeding a
    * (label, dim)-keyed partial aggregation (labels·dim tiny rows — the
    * same control-plane-sized shape as [[IvfTrain.step]], but it stays a
    * DataFrame: nothing is collected), centroid re-assembly is an
    * aggregation over those rows, and scoring is a broadcast join plus a
    * per-row fold. The one corpus shuffle is the posexplode aggregation,
    * partial-aggregated map-side. `maxLabels` is the loud guard (same
    * contract as `Sampling.temperatureRates`): a data-cardinality label
    * column would make the "control-plane-sized" premise false, so it
    * fails fast instead of OOMing the broadcast. */
  def labelCentroidOutliers(vectors: DataFrame, minCos: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            labelCol: String = "label",
                            maxLabels: Int = 100000): DataFrame = {
    // consumed twice (centroid sums + scoring) — barrier so the source
    // scan and vector cleaning run once
    val clean = graft.CacheBarriers.barrier(
      vectors.select(col(idCol), col(labelCol),
          cleanVec(col(vecCol)).as("v"))
        .filter(col("v").isNotNull))
    scoreAgainstCentroidSums(clean, centroidSumsOfClean(clean, labelCol),
      minCos, idCol, labelCol, maxLabels, vecReady = true)
  }

  /** The additive centroid artifact: per-(label, dimension) integer
    * sums + member counts — (labelCol, pos, s, n). Long sums of
    * `floor(x·1e6)` are associative and commutative, so two batches'
    * artifacts merge by addition ([[mergeCentroidSums]]) into EXACTLY
    * the union's artifact: the incremental roll-forward
    * (`scoreAgainstCentroidSums(b2, merge(sums(b1), sums(b2)))` ≡ the
    * full-union scoring restricted to b2) is an identity, not an
    * approximation — same contract as the curation composite's additive
    * census/counts artifacts. */
  def labelCentroidSums(vectors: DataFrame,
                        vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame =
    centroidSumsOfClean(
      vectors.select(col(labelCol), cleanVec(col(vecCol)).as("v"))
        .filter(col("v").isNotNull), labelCol)

  private def centroidSumsOfClean(clean: DataFrame,
                                  labelCol: String): DataFrame =
    clean
      .select(col(labelCol), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(floor(col("x") * IvfTrain.Scale).cast("long")).as("s"),
        count(lit(1)).as("n"))

  /** Fold a new batch's sums into a persisted artifact — pure addition
    * on the (label, pos) key. */
  def mergeCentroidSums(a: DataFrame, b: DataFrame,
                        labelCol: String = "label"): DataFrame =
    a.unionByName(b)
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))

  /** Embedding-space drift between two corpora (snapshots, slices):
    * per-label cosine between the two sides' centroid-sum artifacts
    * ([[labelCentroidSums]]). Cosine is scale-invariant, so the INTEGER
    * sum vectors compare directly — no mean division — and the
    * artifacts are all the operator reads (labels × dims rows each; the
    * corpora are never touched, the incremental-monitoring shape: roll
    * each snapshot's sums forward, drift is a join of two control-plane
    * frames). Determinism: exact integer sums → doubles (< 2^53 for
    * any realistic slice), the house sequential-fold cosine, and the
    * floor(cos·1e6) emission contract. Labels present on only one side
    * have no drift reading and are dropped (inner join — composition
    * deltas are the datasheet-diff operator's job); a zero-norm side
    * yields NULL cosine and is likewise absent. */
  def centroidDrift(sumsA: DataFrame, sumsB: DataFrame,
                    labelCol: String = "label"): DataFrame = {
    def side(df: DataFrame, t: String): DataFrame =
      df.groupBy(col(labelCol))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
            col("s").cast("double").as("c")))),
          x => x.getField("c")).as(s"__v$t"),
          max(col("n")).as(s"n_$t"))
    side(sumsA, "a").join(side(sumsB, "b"), Seq(labelCol))
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .select(col(labelCol), col("n_a"), col("n_b"),
        floor(col("cos") * 1e6).cast("long").as("cos_scaled"))
  }

  /** Score vectors against a (possibly merged) centroid-sums artifact.
    * The scale/determinism story of [[labelCentroidOutliers]] applies
    * unchanged — this is its scoring half, split out so incremental
    * runs score a new batch against rolled-forward sums without
    * re-reading old corpora. */
  def scoreAgainstCentroidSums(vectors: DataFrame, sums: DataFrame,
                               minCos: Double,
                               idCol: String = "vec_id",
                               labelCol: String = "label",
                               maxLabels: Int = 100000,
                               vecCol: String = "embedding",
                               vecReady: Boolean = false): DataFrame = {
    val clean =
      if (vecReady) vectors
      else vectors.select(col(idCol), col(labelCol),
          cleanVec(col(vecCol)).as("v"))
        .filter(col("v").isNotNull)
    // barrier before the guard count: `sums` may be the corpus-wide
    // posexplode aggregation (the operator's one shuffle), and without
    // the cut the guard's count and the centroid assembly would each
    // run it — the heaviest stage twice per call. The cached frame is
    // histogram-sized (labels × dims), not corpus-sized.
    val cached = graft.CacheBarriers.barrier(sums)
    val nLabels = cached.select(labelCol).distinct().count()
    require(nLabels <= maxLabels,
      s"labelCentroidOutliers: $nLabels distinct '$labelCol' values " +
        s"exceed maxLabels=$maxLabels — the label column must be " +
        "group-cardinality, not data-cardinality; raise maxLabels only " +
        "if the centroid table genuinely fits a broadcast")
    val cents = cached.groupBy(col(labelCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") / (lit(IvfTrain.Scale) * col("n")))
            .as("c")))),
        x => x.getField("c")).as("cv"))
    val thresh = math.floor(minCos * 1e6).toLong
    clean.join(broadcast(cents), Seq(labelCol))
      .withColumn("cos", cosine(col("v"), col("cv")))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .select(col(idCol), col(labelCol),
        floor(col("cos") * 1e6).cast("long").as("cos_scaled"))
      .withColumn("is_outlier", col("cos_scaled") < lit(thresh))
  }

  /** Semantic deduplication (the SemDeDup shape: cluster embeddings,
    * prune within-cluster near-identical members, keep one
    * representative): [[embeddingNearDupPairs]]' intra-bucket cosine
    * pairs resolved to keep/drop decisions by
    * [[Dedup.dupClusters]]' min-label connected components. Returns one
    * row per corpus vector — `(idCol, cluster_id, keep)`: members of a
    * near-dup component carry its min id as `cluster_id` and only the
    * representative keeps; vectors in no near-dup pair are their own
    * singleton cluster and always keep.
    *
    * Scale shape: pair generation is the IVF-bucketed self-join (never
    * all-pairs), CC runs on the pair set only (duplicate-sized, not
    * corpus-sized), and the final decoration is one id-keyed left join
    * of the corpus against the cluster table — the cluster table is
    * |near-dup members| rows, so at a typical few-percent dup rate AQE
    * broadcasts it; worst-case it shuffle-joins on the id, the same key
    * the downstream kept-slice filter needs anyway.
    *
    * The reference has no analog (dedup-by-key happens implicitly via ES
    * external versioning, SURVEY §2.6); this is a curation-tier
    * extension like [[graft.llm.Dedup.dupClusters]]. */
  def semanticDedup(vectors: DataFrame, centroidPred: Column,
                    minCos: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    decorateClusters(vectors,
      Dedup.dupClusters(
        embeddingNearDupPairs(vectors, centroidPred, minCos, idCol, vecCol))
        .select(col("doc_id"), col("cluster_id")),
      idCol)

  /** The ONE definition of the keep/drop decoration every semantic-dedup
    * surface (batch, incremental, streaming bootstrap) shares: left-join
    * the corpus against a (doc_id, cluster_id) table, singletons are
    * their own cluster, only the representative (id == cluster min)
    * keeps. Three call sites — a policy change (tie-break, rep choice)
    * must happen here or the twins silently diverge. */
  private[graft] def decorateClusters(vectors: DataFrame,
                                      clusters: DataFrame,
                                      idCol: String): DataFrame =
    vectors.select(col(idCol))
      .join(clusters.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        (coalesce(col("cluster_id"), col(idCol)) === col(idCol)).as("keep"))

  /** Incremental [[semanticDedup]]: keep/drop ONE new vector batch
    * against a persisted IVF index ([[buildIndex]]) and the cluster
    * artifact of everything deduped before — the daily-ingest shape.
    * Returns `(decisions, updatedClusters)`: decisions carry the
    * [[semanticDedup]] row contract for the NEW batch only; the updated
    * cluster artifact is what the next increment resumes from.
    *
    * The old corpus is never rescanned: assignment uses the index's own
    * frozen centroids (probe geometry must match bucket contents — the
    * [[writeCentroids]] invariant), and old vectors are read ONLY from
    * the buckets the new batch actually touches — partition-pruned I/O
    * against the bucket-partitioned index, ≤ k directories, usually far
    * fewer. Pair generation is (new × new) and (new × old-in-touched-
    * buckets); old endpoints then CONTRACT to their persisted cluster
    * labels before connected components, the same proof as the curation
    * composite's incremental CC (`Curation.curateIncremental`): any old
    * doc reachable from a new doc pulls in its whole old cluster, whose
    * min IS its label, so component minima agree with a full-graph
    * rebuild — including when one new doc bridges two old clusters
    * (their labels merge through the new node, and the artifact rolls
    * forward through the same relabel map).
    *
    * Append-only contracts, as everywhere in the incremental family:
    * batch ids are previously unseen, and verdicts already published
    * for old docs stand (a new smaller-id near-dup wins in ITS batch's
    * output; the old doc's keep is not revised — the artifact, however,
    * reflects the merged labels exactly). */
  def semanticDedupIncremental(newBatch: DataFrame, indexDir: String,
                               oldClusters: DataFrame, minCos: Double,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    val (decisions, fresh, relabels) = semanticDedupDeltas(
      newBatch, indexDir, oldClusters, minCos, idCol, vecCol)
    val updatedOld = oldClusters.alias("c")
      .join(relabels.alias("r"), col("c.cluster_id") === col("r.from_lbl"),
        "left")
      .select(col("c.doc_id"),
        coalesce(col("r.to_lbl"), col("c.cluster_id")).as("cluster_id"))
    (decisions, updatedOld.unionByName(fresh))
  }

  /** The incremental core as DELTAS — `(decisions, freshRows, relabels)`
    * where freshRows are cluster rows for nodes newly entering the
    * table and relabels maps old labels merged this batch to their new
    * component minimum. [[semanticDedupIncremental]] composes them into
    * whole tables; a bucketed state store
    * ([[graft.streaming.BucketedSemanticDedup]]) writes them directly —
    * freshRows touch only the buckets they hash into, and relabels stay
    * a small forwarding table instead of a whole-table relabel
    * rewrite. */
  private[graft] def semanticDedupDeltas(newBatch: DataFrame,
                                         indexDir: String,
                                         oldClusters: DataFrame,
                                         minCos: Double,
                                         idCol: String = "vec_id",
                                         vecCol: String = "embedding")
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = newBatch.sparkSession
    val newAssigned = graft.CacheBarriers.barrier(
      ivfAssign(newBatch, readCentroids(spark, indexDir), idCol, vecCol)
        .filter(col("bucket") =!= UnassignedBucket))
    // ≤ k bucket ids — control-plane-sized, like the centroid table
    val touched = newAssigned.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val old = readIndex(spark, indexDir, touched)
      .select(col(idCol), col("v"), col("vn"), col("bucket"))
    val nn = newAssigned.alias("a").join(newAssigned.alias("b"),
        col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("cos",
        cosinePre(col("a.v"), col("a.vn"), col("b.v"), col("b.vn")))
      .filter(col("cos") >= minCos)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    // the id inequality matters under at-least-once replay: a batch
    // already appended to the index meets ITSELF here, and a self-pair
    // would fabricate a singleton self-row in the artifact (batch-mate
    // pairs seen through the index merely duplicate the in-batch edge
    // and are harmless — a replayed batch must converge to the same
    // state, pinned by BucketedSemanticDedupSpec)
    val no = newAssigned.alias("a").join(old.alias("b"),
        col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .withColumn("cos",
        cosinePre(col("a.v"), col("a.vn"), col("b.v"), col("b.vn")))
      .filter(col("cos") >= minCos)
      .select(col(s"a.$idCol").as("new_id"), col(s"b.$idCol").as("old_id"))
    // contract old endpoints to their persisted labels; a pairless old
    // doc (absent from the artifact) is its own label
    val contracted = no
      .join(oldClusters.withColumnRenamed("doc_id", "old_id")
          .withColumnRenamed("cluster_id", "old_lbl"),
        Seq("old_id"), "left")
      .select(col("new_id").as("id_a"),
        coalesce(col("old_lbl"), col("old_id")).as("id_b"))
    val labels = graft.CacheBarriers.barrier(
      Dedup.dupClusters(nn.unionByName(contracted))
        .select(col("doc_id"), col("cluster_id")))
    val decisions = decorateClusters(newBatch, labels, idCol)
    // relabels: OLD labels merged into a bigger component this batch;
    // fresh: cluster rows for nodes entering the table (new docs, plus
    // pairless old docs pulled into a component for the first time)
    val relabels = labels
      .join(oldClusters.select(col("cluster_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("from_lbl"), col("cluster_id").as("to_lbl"))
    val fresh = labels.join(
      oldClusters.select("doc_id"), Seq("doc_id"), "left_anti")
    (decisions, fresh, relabels)
  }

  /** Persist an IVF index: the assignment frame written bucket-partitioned
    * — the claimed 100 TB layout made literal. One directory per bucket
    * means a probe is partition-pruned I/O (the scan never lists, let
    * alone reads, unprobed buckets); see PlanAuditSpec for the
    * PartitionFilters proof. Rewriting per build is the IVF trade: the
    * index is rebuilt/appended offline, probed online.
    *
    * Beside the data, an `_ids` manifest (idCol, bucket) is written —
    * the presence-check artifact [[appendToIndex]] reads instead of
    * scanning the index's data files: at 100 TB the daily append must
    * not list-and-read billions of full-width rows to admit a batch of
    * thousands. Underscore-prefixed like `_centroids`, so bucket data
    * scans never see it. */
  def writeIndex(assigned: DataFrame, dir: String,
                 idCol: String = "vec_id"): Unit = {
    // a barrier scoped to THIS call: the data write and the manifest
    // write both consume the assignment (without it the argmax re-runs
    // per write), and both complete before return
    graft.CacheBarriers.withScope {
      graft.CacheBarriers.barrier(assigned)
      assigned.write.mode("overwrite").partitionBy("bucket").parquet(dir)
      assigned.select(col(idCol), col("bucket").cast("long").as("bucket"))
        .write.mode("overwrite").parquet(idsDir(dir))
    }
  }

  private def idsDir(dir: String) = s"$dir/_ids"

  /** Rebuild the `_ids` manifest from the index data files — the
    * recovery / migration path: an index written before the manifest
    * existed, or an append that crashed between its data write and its
    * manifest write (run this BEFORE retrying such a batch: the rebuilt
    * manifest then reflects every landed row, so the retry's anti-join
    * cannot re-admit them as duplicates). One column-pruned scan — the
    * cost the manifest exists to avoid paying on every append. */
  def rebuildIdManifest(spark: org.apache.spark.sql.SparkSession,
                        dir: String, idCol: String = "vec_id"): Unit =
    spark.read.parquet(dir)
      .select(col(idCol), col("bucket").cast("long").as("bucket"))
      .distinct()
      .write.mode("overwrite").parquet(idsDir(dir))

  /** Auto-migrate a pre-manifest index on first touch. */
  private def ensureIdManifest(spark: org.apache.spark.sql.SparkSession,
                               dir: String, idCol: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(idsDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) rebuildIdManifest(spark, dir, idCol)
  }

  /** Compact an IVF index in place: every append
    * ([[appendToIndex]]) adds small files to the bucket directories it
    * touches, and after months of daily ingests a probe's
    * partition-pruned read pays per-file open/footer costs that dwarf
    * the data — the standard small-files decay of any append-only
    * store. Compaction rewrites each bucket as one file (repartition on
    * the bucket column: every bucket's rows land in one task, so one
    * output file per bucket directory), regenerates the `_ids` manifest
    * from the rewritten data, and carries `_centroids` over unchanged —
    * probe geometry and probe RESULTS are untouched (spec-pinned).
    *
    * The rewrite lands in a sibling temp dir and swaps in with two
    * renames (Spark cannot overwrite its own input, and a crash
    * mid-rewrite must leave the live index intact): old index → `.old`,
    * temp → live, delete `.old`. A crash between the renames leaves
    * `.old` present — recovery is renaming it back; a crash before them
    * leaves only the temp dir to delete. Both leftover states make the
    * NEXT compaction fail fast at entry (rather than silently renaming
    * over them), and each rename's result is checked so a failed swap
    * can never reach the `.old` delete — the recovery copy outlives any
    * partial swap. Run this offline like the builds: the index is
    * rebuilt/appended/compacted offline, probed online. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   idCol: String = "vec_id"): Unit = {
    val tmp = s"$dir.compacting"
    val old = s"$dir.old"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val oldPath = new org.apache.hadoop.fs.Path(old)
    require(!fs.exists(oldPath),
      s"$old exists: a prior compaction crashed mid-swap. Recover first " +
        s"(rename it back to $dir if $dir is missing, else delete it).")
    require(!fs.exists(tmpPath),
      s"$tmp exists: a prior compaction crashed mid-rewrite (or another " +
        "compaction is running). Delete it before retrying.")
    val idx = spark.read.parquet(dir)
      .withColumn("bucket", col("bucket").cast("long"))
      .repartition(col("bucket"))
    idx.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    // Same semantics as rebuildIdManifest (incl. its distinct()) so the
    // two manifest writers can never drift: a torn pre-compaction state
    // with a duplicated id must not be baked into the compacted manifest.
    rebuildIdManifest(spark, tmp, idCol)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$dir/_centroids"),
      fs, new org.apache.hadoop.fs.Path(s"$tmp/_centroids"),
      false, conf)
    require(fs.rename(new org.apache.hadoop.fs.Path(dir), oldPath),
      s"compactIndex: rename $dir -> $old failed; live index untouched")
    require(fs.rename(tmpPath, new org.apache.hadoop.fs.Path(dir)),
      s"compactIndex: rename $tmp -> $dir failed; recover by renaming " +
        s"$old back to $dir")
    fs.delete(oldPath, true)
  }

  /** Open an IVF index restricted to the probed buckets. The `isin`
    * lands in the scan's PartitionFilters, so only `buckets.size`
    * directories are read. The bucket column is re-cast to long AFTER
    * the filter: partition-type inference reads small directory names
    * back as int, which would silently change the column's type between
    * the in-memory frame and its disk round-trip (the cast sits above
    * the filter, so partition pruning is unaffected). */
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                buckets: Seq[Long]): DataFrame =
    spark.read.parquet(dir).filter(col("bucket").isin(buckets: _*))
      .withColumn("bucket", col("bucket").cast("long"))

  /** Persist the (config-sized) centroid table next to its index — the
    * piece that makes the index self-contained across sessions: a later
    * probe must select buckets with the EXACT centroids that built the
    * assignment, or probe geometry silently drifts from bucket contents
    * (recall collapses with no error anywhere). Stored under `_centroids`
    * inside the index dir; the leading underscore keeps the bucket scan
    * from reading it as data (Spark ignores `_`-prefixed paths). */
  def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                     centroids: Array[Centroid], dir: String): Unit = {
    import spark.implicits._
    centroids.toSeq.map(c => (c.id, c.vec.toSeq))
      .toDF("centroid_id", "vec")
      .coalesce(1) // k rows — one file, not one per shuffle partition
      .write.mode("overwrite").parquet(s"$dir/_centroids")
  }

  /** Reload a persisted centroid table, id-sorted with norms rebuilt —
    * ready for [[ivfAssign]]/[[ivfTopK]] against the sibling index. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Array[Centroid] =
    collectCentroids(spark.read.parquet(s"$dir/_centroids"),
      idCol = "centroid_id", vecCol = "vec")

  /** Build and persist a self-contained IVF index in one call:
    * bucket-partitioned assignment + the centroids that defined it. */
  def buildIndex(embeddings: DataFrame, centroids: Array[Centroid],
                 dir: String, idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit = {
    writeIndex(ivfAssign(embeddings, centroids, idCol, vecCol), dir, idCol)
    writeCentroids(embeddings.sparkSession, centroids, dir)
  }

  /** Append a new vector batch to an existing index — the run-over-run
    * ingest path (daily batch vs standing 100 TB index): only the new
    * batch is scanned and assigned, written append-mode into the same
    * bucket partitioning. Assignment uses the index's OWN persisted
    * centroids: assigning with any other centroid set would silently
    * divorce probe geometry from bucket contents (recall collapses with
    * no error anywhere) — the invariant [[writeCentroids]] exists to
    * protect.
    *
    * Re-delivered ids are anti-joined away first: a duplicate id would
    * occupy two of a probe's k slots (the bounded heap dedups by rank
    * order, not identity) and silently evict a genuinely distinct
    * neighbor. The guard reads the `_ids` MANIFEST, never the index data
    * files — manifest-sized I/O per append (two narrow columns, no
    * vector payloads, no bucket-directory listing of the data), where a
    * data-side presence scan would read billions of ids daily to admit a
    * batch of thousands. A pre-manifest index is migrated on first touch
    * ([[rebuildIdManifest]]).
    *
    * Ordering: data lands first, the manifest second — a crash between
    * the two leaves rows the manifest does not know, and a blind retry
    * of that batch would re-admit them as duplicates. Recovery is
    * [[rebuildIdManifest]] before the retry (the rebuilt manifest then
    * rejects every landed id). The index is append-only: an UPDATED
    * vector for an existing id needs a rebuild (replacing in place means
    * rewriting its bucket partition). */
  def appendToIndex(newVectors: DataFrame, dir: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    ensureIdManifest(spark, dir, idCol)
    val known = spark.read.parquet(idsDir(dir)).select(col(idCol))
    // a barrier scoped to THIS call (both writes consume it), same
    // contract as writeIndex
    graft.CacheBarriers.withScope {
      val assigned = graft.CacheBarriers.barrier(ivfAssign(
        newVectors.join(known, Seq(idCol), "left_anti"),
        readCentroids(spark, dir), idCol, vecCol))
      assigned.write.mode("append").partitionBy("bucket").parquet(dir)
      assigned.select(col(idCol), col("bucket").cast("long").as("bucket"))
        .write.mode("append").parquet(idsDir(dir))
    }
  }

  // ── DuckDB twins ──────────────────────────────────────────────────────
  /** SQL: the same left-fold cosine over two DOUBLE[] expressions.
    * DuckDB list indexing is 1-based; `dim` is the vector length. */
  def sqlCosine(a: String, b: String, dim: Int): String = {
    def dot(x: String, y: String) =
      s"CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> ($x)[i] * ($y)[i])) AS DOUBLE)"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** SQL: cast a FLOAT[] column to DOUBLE[]. */
  def sqlAsDouble(c: String): String = s"list_transform($c, x -> CAST(x AS DOUBLE))"

  /** SQL: the [[cleanVec]] + length-`dim` quarantine as a WHERE predicate
    * over a list expression — a vector survives iff it is non-NULL,
    * exactly `dim` long, and every element is a finite non-NULL number.
    * Oracles that replay a quarantining operator MUST filter their corpus
    * CTE with this, or a single broken parquet row hash-diverges the two
    * engines (Spark drops it; DuckDB's list_sum would skip the NULL and
    * happily band the vector). */
  def sqlVecOk(v: String, dim: Int): String =
    s"(len($v) = $dim AND len(list_filter($v, " +
      s"x -> x IS NULL OR NOT isfinite(x))) = 0)"

  /** SQL: the sign-bit list over a DOUBLE[] expression — the SAME
    * [[signMatrix]] spliced as ±1 literals, the same left-fold dot, the
    * same `>= 0` bit convention as [[signLshNearDupPairs]]. */
  def sqlSignBits(v: String, dim: Int, planes: Int): String = {
    val signs = signMatrix(planes, dim)
    (0 until planes).map { p =>
      val lits = signs(p).map(s => if (s > 0) "1" else "-1")
        .mkString("[", ",", "]")
      s"CASE WHEN CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> ($v)[i] * ($lits)[i])) AS DOUBLE) >= 0 THEN 1 ELSE 0 END"
    }.mkString("[", ", ", "]")
  }

  /** SQL: the flattened probes×bands key list of
    * [[multiProbeSignLshPairs]] — same modular rotated indexing, same
    * little-endian pack, 1-based list access. */
  def sqlSignProbeKeys(bits: String, planes: Int, bands: Int,
                       probes: Int): String = {
    val rows = planes / bands
    val step = rows / probes
    (0 until probes).flatMap { kp =>
      val s = kp * step
      (0 until bands).map { b =>
        (0 until rows).map(r =>
          s"($bits)[${(b * rows + r + s) % planes + 1}] * ${1L << r}")
          .mkString(" + ")
      }
    }.mkString("[", ", ", "]")
  }

  /** SQL: band-key list over a bit-list expression (1-based indexing) —
    * same little-endian bit pack as [[signLshNearDupPairs]]'s `bkeys`. */
  def sqlSignBandKeys(bits: String, planes: Int, bands: Int): String = {
    val rows = planes / bands
    (0 until bands).map { b =>
      (0 until rows).map(r => s"($bits)[${b * rows + r + 1}] * ${1L << r}")
        .mkString(" + ")
    }.mkString("[", ", ", "]")
  }

  /** SQL: the assignment argmax as a CTE body — vectors of `eCte(vec_id,
    * v)` to nearest centroid of `centsCte(centroid_id, cv)`, same
    * cos-DESC/id-ASC tie-break as [[ivfAssign]]. NaN cosines (zero-norm
    * vector or centroid) are excluded BEFORE ranking — DuckDB orders NaN
    * first, so without the guard a zero-norm vector would "win" the
    * lowest centroid id where [[ivfAssign]] quarantines it in the
    * unassignable bucket; with the guard such a vector simply has no row
    * here, which downstream joins see identically. */
  def sqlIvfAssign(eCte: String, centsCte: String, dim: Int): String = {
    val acos = sqlCosine("e.v", "c.cv", dim)
    s"""SELECT vec_id, v, centroid_id AS bucket FROM (
       |    SELECT e.vec_id, e.v, c.centroid_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY $acos DESC, c.centroid_id ASC) AS cr
       |    FROM $eCte e, $centsCte c WHERE NOT isnan($acos)) WHERE cr = 1""".stripMargin
  }

  /** SQL twin of [[ivfAssignScored]]: (vec_id, bucket, cos_scaled) —
    * same argmax tie order, same floor(cos·1e6). */
  def sqlIvfAssignScored(eCte: String, centsCte: String, dim: Int): String = {
    val acos = sqlCosine("e.v", "c.cv", dim)
    s"""SELECT vec_id, bucket, cos_scaled FROM (
       |    SELECT e.vec_id, c.centroid_id AS bucket,
       |           CAST(floor($acos * 1000000) AS BIGINT) AS cos_scaled,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY $acos DESC, c.centroid_id ASC) AS cr
       |    FROM $eCte e, $centsCte c WHERE NOT isnan($acos)) WHERE cr = 1""".stripMargin
  }

  /** SQL twin of [[diversitySample]] over a scored-assign CTE
    * `(vec_id, bucket, cos_scaled)`. The `row_number` window IS the
    * semantics; the operator's bounded heap is the scale realization of
    * the same total order ([[Sampling.sqlExactKPerStratum]]'s framing). */
  def sqlDiversitySample(assignCte: String, cap: Int,
                         keepCentral: Boolean): String = {
    val dir = if (keepCentral) "DESC" else "ASC"
    s"""SELECT vec_id, bucket, cos_scaled, rnk FROM (
       |    SELECT vec_id, bucket, cos_scaled,
       |           row_number() OVER (PARTITION BY bucket
       |             ORDER BY cos_scaled $dir, CAST(vec_id AS VARCHAR) ASC) AS rnk
       |    FROM $assignCte) WHERE rnk <= $cap""".stripMargin
  }
}
