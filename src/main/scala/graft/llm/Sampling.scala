package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One candidate flowing into the per-stratum bounded keep-k. The id is
  * the STRING form — the file's id convention (the hash is already of the
  * string form): a `cast("long")` here NULLed non-numeric string ids
  * (encoder failure or an empty sample) and truncated decimal ids into
  * semi-join collisions. Hash ties break by UTF-8 BYTE order — DuckDB's
  * binary VARCHAR collation — not Java's UTF-16 `compareTo`, whose
  * code-unit order diverges for ids mixing supplementary-plane
  * characters (surrogates 0xD800+) with BMP chars ≥ U+E000; the SQL
  * twin orders by the same CAST(id AS VARCHAR). */
final case class KeepCand(stratum: String, h: Long, id: String)

/** Keep-k buffer: ascending (h, then id), length ≤ k. */
final case class KeepBuf(items: Seq[KeepCand])

/** Bounded-heap SMALLEST-k per group — [[TopKNeighbors]]'s shape with the
  * order flipped to ascending (hash, id): map-side partials collapse each
  * partition to ≤ k candidates per stratum before the shuffle. */
final class KeepKSmallest(k: Int)
    extends Aggregator[KeepCand, KeepBuf, KeepBuf] {
  // UTF-8 byte order == code-point order; only computed on a 32-bit hash
  // tie, so the per-compare encode never rides the hot path
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      if (x(i) != y(i)) return (x(i) & 0xff) < (y(i) & 0xff)
      i += 1
    }
    x.length < y.length
  }
  private def beats(a: KeepCand, b: KeepCand): Boolean =
    a.h < b.h || (a.h == b.h && utf8Less(a.id, b.id))

  override def zero: KeepBuf = KeepBuf(Nil)

  override def reduce(buf: KeepBuf, in: KeepCand): KeepBuf = {
    val items = buf.items
    if (items.length >= k && !beats(in, items.last)) buf
    else {
      val (better, worse) = items.span(beats(_, in))
      KeepBuf(((better :+ in) ++ worse).take(k))
    }
  }

  override def merge(x: KeepBuf, y: KeepBuf): KeepBuf =
    y.items.foldLeft(x)(reduce)

  override def finish(r: KeepBuf): KeepBuf = r
  override def bufferEncoder: Encoder[KeepBuf] = Encoders.product[KeepBuf]
  override def outputEncoder: Encoder[KeepBuf] = Encoders.product[KeepBuf]
}

/** Deterministic splitting and sampling for training-data pipelines.
  * Everything keys off a salted content hash of the document id — never an
  * RNG — so assignment is a pure function of the row: replayable across
  * runs, engines, and cluster sizes, stable under repartitioning, and
  * incremental (new documents join a split without reshuffling old ones).
  * `sample()`/`rand()` have none of these properties (seed × partitioning
  * dependent), which is why a curation pipeline cannot use them: the
  * train/val/test membership of 100 TB must not change because the input
  * was re-bucketed.
  *
  * All narrow per-row column algebra (one md5 per row); the only shuffles
  * in this file are the summary groupBys the queries add on top. Distinct
  * salts keep the split and sample hashes independent — reusing one hash
  * would correlate membership (every sampled doc would land in the same
  * split band).
  */
object Sampling {

  val SplitSalt = "graft-split|"
  val SampleSalt = "graft-sample|"

  /** Percent bucket 0-99 from the salted id hash. */
  def splitBucket(id: Column, salt: String = SplitSalt): Column =
    TextHash.h32p(concat(lit(salt), id.cast("string"))) % 100

  /** Train/val/test assignment: `trainPct`% train, `valPct`% val, rest
    * test — deterministic per id. */
  def withSplit(docs: DataFrame, idCol: String = "doc_id",
                trainPct: Int = 90, valPct: Int = 5): DataFrame =
    docs.withColumn("split_bucket", splitBucket(col(idCol)))
      .withColumn("split",
        when(col("split_bucket") < trainPct, "train")
          .when(col("split_bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  /** Per-stratum downsampling at exact per-mille rates: a row survives
    * when its salted hash lands under its stratum's rate. Rates are
    * config-sized (a when-chain, broadcast like any literal); strata
    * absent from `rates` keep `defaultPermille`. The standard corpus
    * rebalancing move (cap the over-represented language/source strata)
    * with exact replayability. */
  def stratifiedSample(docs: DataFrame, strataCol: String,
                       rates: Seq[(String, Int)],
                       defaultPermille: Int = 1000,
                       idCol: String = "doc_id"): DataFrame = {
    val rate = rates.foldRight(lit(defaultPermille): Column) {
      case ((stratum, permille), els) =>
        when(col(strataCol) === stratum, permille).otherwise(els)
    }
    docs.filter(
      TextHash.h32p(concat(lit(SampleSalt), col(idCol).cast("string"))) % 1000
        < rate)
  }

  val MixSalt = "graft-mix|"

  /** Per-stratum keep rates for temperature-based corpus rebalancing
    * (the multinomial-mixing move of multilingual/multi-source training
    * sets: sample stratum s proportional to `n_s^alpha`, flattening the
    * head without upsampling the tail). Realized purely by downsampling:
    * the rarest stratum keeps everything and stratum s keeps
    * `(n_min / n_s)^(1-alpha)` of its rows, which makes the kept counts
    * proportional to `n_s^alpha`.
    *
    * The rate is emitted as an integer per-million threshold so the keep
    * predicate is exact integer comparison (hash < threshold), replayable
    * cross-engine. For the default `alpha = 0.5` the power is computed
    * with `sqrt` — IEEE-correctly-rounded in both Spark and DuckDB, so
    * `floor(1e6 * sqrt(n_min/n_s))` is bit-identical on both sides;
    * `pow` carries no such guarantee, so other alphas are documented as
    * engine-approximate at the floor boundary (a ~1e-16 relative band).
    *
    * Rows with a NULL stratum are excluded from the rate table (and
    * [[temperatureMix]] drops them): a tiny null group would otherwise
    * become n_min and silently crush every real stratum's keep rate —
    * route unlabeled rows through a default label upstream if they must
    * survive mixing.
    *
    * Scale shape: one map-side-combined count per stratum (strata are
    * config-cardinality: languages, sources), a 1-row global min joined
    * back by broadcast — nothing here grows with the corpus.
    *
    * EAGER: this call runs the counting job immediately and collects the
    * rate table to the driver (it is what [[temperatureMixWith]]
    * broadcasts, so it must be driver-local anyway). That is only safe
    * because strata are config-cardinality; pointing `strataCol` at a
    * data-cardinality column (a per-doc field) would be a driver OOM, so
    * the collect is capped at `maxStrata` rows and fails loudly beyond
    * it rather than silently truncating the mix. */
  def temperatureRates(docs: DataFrame, strataCol: String,
                       alpha: Double = 0.5,
                       maxStrata: Int = 100000): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count => fcount}
    // alpha ∈ [0, 1]: downsampling cannot realize alpha > 1 (every
    // stratum's keep_permicro saturates at 1e6 and the mix silently
    // no-ops), and alpha < 0 over-crushes the head — both are mis-set
    // temperatures that must fail loudly like the other config guards.
    // alpha = 1 is the documented identity (keep everything: rates
    // proportional to n_s^1 IS the corpus as-is).
    require(alpha >= 0.0 && alpha <= 1.0,
      s"temperature alpha must be in [0, 1] (got $alpha): 1 = identity " +
        "mix, 0 = uniform strata; upsampling (alpha > 1) is not " +
        "realizable by downsampling")
    // a barrier scoped to the call: the counts lineage is consumed twice
    // (the rate rows and the global min) — without it the corpus would be
    // SCANNED twice just to build a strata-sized table. The rate table
    // itself is strata-cardinality (config-sized: languages, sources), so
    // it is collected to a LOCAL relation before the scope exits — no
    // cache outlives the call, and the local frame is exactly what
    // temperatureMixWith broadcasts.
    graft.CacheBarriers.withScope {
      val counts = graft.CacheBarriers.barrier(
        docs.filter(col(strataCol).isNotNull)
          .groupBy(strataCol).agg(fcount(lit(1)).as("n_docs")))
      val nMin = counts.agg(min(col("n_docs")).as("n_min"))
      val ratio = col("n_min").cast("double") / col("n_docs")
      val power =
        if (alpha == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - alpha))
      val rates = counts.crossJoin(broadcast(nMin))
        .withColumn("keep_permicro",
          floor(lit(1e6) * power).cast("long"))
        .drop("n_min")
      // limit+1 bounds what can ever reach the driver; the require turns
      // "mis-configured stratum column" into a loud error, not an OOM
      val rows = rates.limit(maxStrata + 1).collect()
      require(rows.length <= maxStrata,
        s"temperatureRates: over $maxStrata distinct '$strataCol' strata — " +
          "strata must be config-cardinality (languages, sources); a " +
          "data-cardinality column cannot be temperature-mixed (raise " +
          "maxStrata only if the rate table genuinely fits the driver)")
      docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), rates.schema)
    }
  }

  /** Apply a (frozen) rate table to a corpus: keep a row when its salted
    * id hash lands under its stratum's `keep_permicro` threshold. The
    * rates frame is strata-sized — broadcast — so the filter is one
    * narrow pass with no data-sized shuffle; with a STATIC rates frame
    * this is a stream-static join, so the same call mixes a streaming
    * ingest against a rate snapshot (batch/stream identity pinned by
    * LangModelSpec). */
  def temperatureMixWith(docs: DataFrame, rates: DataFrame,
                         strataCol: String,
                         idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    docs.join(broadcast(rates.select(col(strataCol), col("keep_permicro"))),
        strataCol)
      .filter(
        TextHash.h32p(concat(lit(MixSalt), col(idCol).cast("string")))
          % 1000000L < col("keep_permicro"))
  }

  /** Temperature-mix the corpus against its own [[temperatureRates]]. */
  def temperatureMix(docs: DataFrame, strataCol: String,
                     alpha: Double = 0.5,
                     idCol: String = "doc_id"): DataFrame =
    temperatureMixWith(docs, temperatureRates(docs, strataCol, alpha),
      strataCol, idCol)

  /** Token-budget mixture planner — the static "how many epochs of each
    * source" arithmetic of a training-mix recipe (the Pile/LLaMA-shape
    * table: target weight per source, a total token budget, a repetition
    * cap): allocate `budget` tokens proportionally to integer weights,
    * cap each source at `maxEpochsMicro`·avail/10⁶ repeated tokens, and
    * redistribute the capped surplus across the UNCAPPED sources in one
    * water-fill round. (A fixed-point iteration would converge in
    * ≤ #sources rounds; one round is the documented convention — the
    * oracle replays exactly it, and a second round can be composed by
    * re-invoking on the residual.)
    *
    * All arithmetic is nonnegative-integer — BIGINT truncating division,
    * identical in Spark's `DIV` and DuckDB's `//` for nonnegative
    * operands — so the plan is cross-engine exact with zero float
    * drift. Products are kept inside Long by split-division
    * (`(a DIV 10⁶)·m + ((a MOD 10⁶)·m) DIV 10⁶`, exact for the floor
    * since the quotient term is integral), good to ~9·10¹² tokens per
    * source at maxEpochsMicro ≤ 10⁸ — the 100 TB domain.
    *
    * `perSource` carries (srcCol, availCol, weightCol ≥ 0 integer); it
    * is source-cardinality (config-sized) by contract, so the two
    * aggregates below are 1-row broadcasts — the plan never shuffles
    * anything data-sized. Returns (srcCol, avail_tokens, weight,
    * desired, alloc, epochs_micro, capped). */
  def mixturePlan(perSource: DataFrame, budget: Long,
                  maxEpochsMicro: Long = 1000000L,
                  srcCol: String = "source",
                  availCol: String = "avail_tokens",
                  weightCol: String = "weight"): DataFrame = {
    require(budget >= 0, s"budget=$budget must be nonnegative")
    require(maxEpochsMicro > 0 && maxEpochsMicro <= 100000000L,
      s"maxEpochsMicro=$maxEpochsMicro outside (0, 1e8]: the epoch cap " +
        "is micro-epochs (1e6 = one epoch); beyond 100 epochs the " +
        "split-division overflow domain shrinks below the 100 TB scale")
    import org.apache.spark.sql.functions.broadcast
    // weight domain enforced loudly (the repo convention): a NULL or
    // negative weight breaks the stated nonnegative-operand DIV/`//`
    // parity, and silently coercing would skew every other source's
    // share. Row-lazy `when` keeps the check off the happy path.
    val t = perSource.select(col(srcCol).as("source"),
      col(availCol).cast("long").as("avail_tokens"),
      when(col(weightCol).isNull || col(weightCol) < 0, raise_error(
        // coalesce every interpolated part: concat PROPAGATES null, and
        // the NULL-weight case is precisely the one being reported
        concat(lit("mixturePlan: weight must be a nonnegative integer "),
          lit("(got "), coalesce(col(weightCol).cast("string"), lit("NULL")),
          lit(" for source "),
          coalesce(col(srcCol).cast("string"), lit("NULL")), lit(")"))))
        .otherwise(col(weightCol).cast("long")).as("weight"))
    val wsum = t.agg(sum(col("weight")).as("wsum"))
    val d = t.crossJoin(broadcast(wsum))
      // all-zero weights: ($budget*weight) DIV 0 is NULL in Spark, and
      // least(NULL, cap) SKIPS the null — alloc1 would silently become
      // the full epoch cap for every source. Undefined split → loud.
      .withColumn("desired",
        when(col("wsum") === 0, raise_error(lit(
          "mixturePlan: weight sum is 0 — every source has zero weight, " +
            "the proportional split is undefined")))
          .otherwise(expr(s"($budget * weight) DIV wsum")))
      .withColumn("cap", expr(
        s"(avail_tokens DIV 1000000) * $maxEpochsMicro + " +
          s"((avail_tokens % 1000000) * $maxEpochsMicro) DIV 1000000"))
      .withColumn("alloc1", least(col("desired"), col("cap")))
      .withColumn("capped1", col("desired") > col("cap"))
    val s2 = d.agg(sum(col("desired") - col("alloc1")).as("surplus"),
      sum(when(!col("capped1"), col("weight")).otherwise(0L)).as("w2"))
    d.crossJoin(broadcast(s2))
      .withColumn("alloc",
        when(col("capped1") || col("w2") === 0, col("alloc1"))
          .otherwise(least(
            col("alloc1") + expr("(surplus * weight) DIV w2"), col("cap"))))
      .withColumn("epochs_micro",
        when(col("avail_tokens") === 0, lit(0L))
          .otherwise(expr(
            "(alloc DIV avail_tokens) * 1000000 + " +
              "((alloc % avail_tokens) * 1000000) DIV avail_tokens")))
      .withColumn("capped", col("alloc") === col("cap"))
      .select(col("source").as(srcCol), col("avail_tokens"), col("weight"),
        col("desired"), col("alloc"), col("epochs_micro"), col("capped"))
  }

  val MixEpochSalt = "graft-mixepoch|"

  /** Materialize a [[mixturePlan]] over its corpus — the plan→data step
    * the recipe table implies: each doc is repeated once per FULL planned
    * epoch of its source and joins the final FRACTIONAL epoch when its
    * salted id hash lands under the remainder threshold (the
    * [[stratifiedSample]] keep-predicate family, with its own salt so
    * epoch membership is independent of split/sample/mix membership).
    * Emits one row per (doc, epoch) with an `epoch` index column:
    * epochs 0 … full−1 are complete passes over the source; epoch
    * `full` (present only for selected docs) is the partial pass.
    * Sources planned at zero epochs drop out entirely.
    *
    * Exactness contract: the epoch structure is deterministic and
    * cross-engine exact ([[sqlMixCopies]] replays the same hash); the
    * realized token count per source equals `alloc` up to hash-threshold
    * tolerance on the fractional pass (docs are kept whole — a token-
    * exact cut would split a document mid-sequence, which is
    * [[graft.llm.Chunking]]'s job upstream, not the sampler's).
    *
    * Scale shape: the plan is source-cardinality — a broadcast join —
    * and the repetition explodes ≤ ⌈epochs⌉ rows per doc with no
    * shuffle: a narrow map stage whatever the corpus size. Deliberately
    * NOT a multi-epoch global shuffle: epoch-order randomization is
    * [[graft.llm.Sharding]]'s salted-hash ordering, applied per epoch
    * downstream. */
  def applyMixturePlan(docs: DataFrame, plan: DataFrame,
                       srcCol: String = "source",
                       idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    docs.join(broadcast(plan.select(col(srcCol), col("epochs_micro"))),
        Seq(srcCol))
      .withColumn("__copies",
        (expr("epochs_micro DIV 1000000") +
          (TextHash.h32p(concat(lit(MixEpochSalt), col(idCol).cast("string")))
            % 1000000L < expr("epochs_micro % 1000000")).cast("long"))
          .cast("int"))
      // sequence(0, -1) would yield [0, -1] (Spark's descending default
      // step), so the zero-copy branch is an explicit empty array, which
      // explode drops
      .withColumn("epoch",
        explode(when(col("__copies") > 0,
          sequence(lit(0), col("__copies") - 1))
          .otherwise(array().cast("array<int>"))))
      .drop("epochs_micro", "__copies")
  }

  val TopKSalt = "graft-topk|"

  /** Exactly min(k, n_s) documents per stratum, chosen by the salted-hash
    * order (ties to the lower STRING form of the id — the file's id
    * convention, exact for any id type) — the eval-set construction move:
    * rate-based sampling ([[stratifiedSample]]) cannot promise an exact
    * count, and `orderBy(rand()).limit(k)` is neither replayable nor
    * scalable. Membership is a pure function of the id set: stable
    * across runs, engines, partitionings — and across corpus GROWTH only
    * in hash order (a new doc with a smaller hash displaces the current
    * k-th; that is the price of exactness — pin the eval set by
    * persisting its ids, the standard artifact move).
    *
    * Scale shape: the [[TopKNeighbors]] argument at stratum granularity
    * — a bounded-heap typed aggregation whose map-side partials collapse
    * each partition to ≤ k (hash, id) structs per stratum BEFORE the
    * shuffle, so the exchange carries strata·partitions·k tiny rows
    * where a `row_number` window would sort-shuffle the whole corpus
    * into stratum-hot partitions. The kept-id set (strata·k rows)
    * semi-joins the original frame, preserving its schema. NULL-stratum
    * rows are excluded (the [[temperatureRates]] contract: route
    * unlabeled rows through a default label upstream). */
  def exactKPerStratum(docs: DataFrame, k: Int, strataCol: String,
                       idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k=$k: an empty sample is a filter(false)")
    val spark = docs.sparkSession
    import spark.implicits._
    val kept = docs
      .filter(col(strataCol).isNotNull)
      // the id rides as its STRING form throughout — hash, tie-break,
      // and semi-join key — so non-numeric and decimal ids sample
      // correctly (a long cast NULLed the former and collided the latter)
      .select(col(strataCol).cast("string").as("stratum"),
        TextHash.h32p(concat(lit(TopKSalt), col(idCol).cast("string")))
          .as("h"),
        col(idCol).cast("string").as("id"))
      .as[KeepCand]
      .groupByKey(_.stratum)
      .agg(new KeepKSmallest(k).toColumn)
      .flatMap { case (_, buf) => buf.items.map(_.id) }
      .toDF("__keep_id")
    docs.join(kept, col(idCol).cast("string") === col("__keep_id"),
      "left_semi")
  }

  // ── DuckDB twins (same salt, same md5-prefix hash) ────────────────────
  /** SQL: the [[exactKPerStratum]] keep predicate as a window CTE body
    * over `table` — same salt, same (hash, id) order. The oracle's
    * `row_number` window IS the semantics; the operator's bounded heap
    * is the scale realization of the same total order. */
  def sqlExactKPerStratum(table: String, k: Int, strataCol: String,
                          idCol: String): String =
    s"""SELECT * FROM (
       |  SELECT t.*, row_number() OVER (PARTITION BY $strataCol
       |    ORDER BY ${TextHash.sqlH32p(s"concat('$TopKSalt', CAST($idCol AS VARCHAR))")}, CAST($idCol AS VARCHAR)) AS __rk
       |  FROM $table t WHERE $strataCol IS NOT NULL)
       |WHERE __rk <= $k""".stripMargin
  /** SQL: the percent bucket over an id expression. */
  def sqlSplitBucket(id: String, salt: String = SplitSalt): String =
    s"(${TextHash.sqlH32p(s"concat('$salt', CAST($id AS VARCHAR))")} % 100)"

  /** SQL: the split label (same bucket thresholds). */
  def sqlSplit(id: String, trainPct: Int = 90, valPct: Int = 5): String =
    s"""CASE WHEN ${sqlSplitBucket(id)} < $trainPct THEN 'train'
       | WHEN ${sqlSplitBucket(id)} < ${trainPct + valPct} THEN 'val'
       | ELSE 'test' END""".stripMargin.replaceAll("\n", "")

  /** SQL: the [[temperatureRates]] CTE body over a `(strataCol)` table —
    * same sqrt/floor micro-threshold math (alpha fixed at 0.5, the
    * sqrt-exact case). */
  def sqlTemperatureRates(table: String, strataCol: String): String =
    s"""SELECT $strataCol, n_docs,
       | CAST(floor(1e6 * sqrt(CAST(n_min AS DOUBLE) / n_docs)) AS BIGINT)
       |   AS keep_permicro
       | FROM (SELECT $strataCol, count(*) AS n_docs FROM $table
       |       WHERE $strataCol IS NOT NULL GROUP BY $strataCol),
       |      (SELECT min(cnt) AS n_min FROM
       |        (SELECT count(*) AS cnt FROM $table
       |         WHERE $strataCol IS NOT NULL GROUP BY $strataCol))""".stripMargin
      .replaceAll("\n", "")

  /** SQL: the temperature-mix keep predicate against a joined
    * `keep_permicro` column. */
  def sqlMixKeep(id: String): String =
    s"(${TextHash.sqlH32p(s"concat('$MixSalt', CAST($id AS VARCHAR))")} % 1000000) < keep_permicro"

  /** SQL: CTE chain replaying [[mixturePlan]] over a CTE `src(source,
    * avail_tokens, weight)`, ending at `mixplan(source, avail_tokens,
    * weight, desired, alloc, epochs_micro, capped)` — same truncating
    * integer division, same split-division overflow guard, same one
    * water-fill round. */
  def sqlMixturePlan(src: String, budget: Long,
                     maxEpochsMicro: Long): String =
    s"""mixs1 AS (SELECT sum(weight) AS wsum FROM $src),
       |mixd AS (SELECT t.*, ($budget * weight) // wsum AS desired,
       |                (avail_tokens // 1000000) * $maxEpochsMicro
       |                + ((avail_tokens % 1000000) * $maxEpochsMicro) // 1000000 AS cap
       |         FROM $src t, mixs1),
       |mixd2 AS (SELECT *, least(desired, cap) AS alloc1,
       |                 desired > cap AS capped1 FROM mixd),
       |mixs2 AS (SELECT sum(desired - alloc1) AS surplus,
       |                 sum(CASE WHEN NOT capped1 THEN weight ELSE 0 END) AS w2
       |          FROM mixd2),
       |mixf AS (SELECT d.*, CASE WHEN capped1 OR w2 = 0 THEN alloc1
       |                          ELSE least(alloc1 + (surplus * weight) // w2, cap)
       |                     END AS alloc
       |         FROM mixd2 d, mixs2),
       |mixplan AS (SELECT source, avail_tokens, weight, desired, alloc,
       |                   CASE WHEN avail_tokens = 0 THEN 0
       |                        ELSE (alloc // avail_tokens) * 1000000
       |                             + ((alloc % avail_tokens) * 1000000) // avail_tokens
       |                   END AS epochs_micro,
       |                   alloc = cap AS capped
       |            FROM mixf)""".stripMargin

  /** SQL: the [[applyMixturePlan]] copy count for a row joined against
    * its plan's `epochs_micro` — full epochs plus the salted-hash
    * fractional pass (same salt, same threshold comparison). Feed it to
    * `unnest(range(0, <copies>))` to replay the epoch rows (`range`
    * yields the empty list at 0, matching the explode-empty drop). */
  def sqlMixCopies(id: String): String =
    s"CAST((epochs_micro // 1000000) + (CASE WHEN " +
      s"(${TextHash.sqlH32p(s"concat('$MixEpochSalt', CAST($id AS VARCHAR))")} % 1000000)" +
      s" < (epochs_micro % 1000000) THEN 1 ELSE 0 END) AS BIGINT)"

  /** SQL: the stratified-sample keep predicate. */
  def sqlSampleKeep(id: String, strataCol: String, rates: Seq[(String, Int)],
                    defaultPermille: Int = 1000): String = {
    val cases = rates.map { case (s, p) => s"WHEN $strataCol = '$s' THEN $p" }
      .mkString(" ")
    s"(${TextHash.sqlH32p(s"concat('$SampleSalt', CAST($id AS VARCHAR))")} % 1000)" +
      s" < (CASE $cases ELSE $defaultPermille END)"
  }
}
