package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical n-gram language-model fluency scoring — the CCNet-style
  * quality filter of LLM-data pipelines: train bigram/unigram counts on a
  * trusted reference slice (e.g. the `lang = 'en'` partition, or a
  * curated wiki-like source), then score every candidate document by its
  * add-one-smoothed bigram log-likelihood. Low-likelihood documents are
  * gibberish, boilerplate, or wrong-language text the heuristic quality
  * signals miss.
  *
  * Exactness contract (the driver hash-compares against DuckDB):
  * - Each bigram's log-probability is floored to integer MICRO-units
  *   (`floor(1e6 * ln(p))`) per joined row, so the per-document reduce is
  *   an INTEGER sum — float addition is order-dependent and a
  *   `sum(double)` over a shuffled explode would be nondeterministic
  *   across partitionings; `sum(long)` is exact in any order.
  * - `ln` itself is the one engine-approximate op (no correct-rounding
  *   guarantee); the 1e-6 floor grid vs ~1e-16 relative ulp error makes a
  *   cross-engine flip astronomically unlikely, and p = 1 (ln = 0) is
  *   exact on both sides.
  *
  * Scale shape (100 TB corpus, config-sized model):
  * - Training is two map-side-combined `groupBy` counts over the exploded
  *   reference slice; `minCount` prunes the singleton tail so the model
  *   stays joinable (broadcast when it fits; AQE picks otherwise —
  *   nothing forces a broadcast of an unbounded model).
  * - Scoring is one explode + two equi-joins keyed on the bigram/unigram
  *   token(s) + one integer-sum `groupBy(doc)`; partial aggregation
  *   collapses each doc's contributions map-side before the shuffle.
  * - The vocabulary size V rides along as a broadcast 1-row frame, never
  *   a driver-side collect.
  */
object LangModel {

  /** Bigram array of a words array: `[(w1,w2), (w2,w3), …]` as
    * `array<struct<w1,w2>>` — a narrow slice+zip, no generator yet. */
  def bigramsOf(ws: Column): Column = {
    val n1 = greatest(size(ws) - 1, lit(0))
    zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Bigram counts of a reference corpus, tail-pruned at `minCount`.
    * Output: `(w1, w2, n12)`. */
  def bigramCounts(ref: DataFrame, textCol: String = "text",
                   minCount: Int = 1): DataFrame =
    ref.select(explode(bigramsOf(TextHash.words(col(textCol)))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= minCount)

  /** Unigram counts of the reference corpus. Output: `(w1, n1)`. */
  def unigramCounts(ref: DataFrame, textCol: String = "text"): DataFrame =
    ref.select(explode(TextHash.words(col(textCol))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("n1"))

  /** Score documents against a trained model: per doc,
    * `n_bigrams`, `n_oov` (bigrams unseen in the model), and `lp_micro` =
    * Σ floor(1e6 · ln((n12+1)/(n1+V))) — the add-one-smoothed bigram
    * log-likelihood in integer micro-nats. Documents with fewer than two
    * words score (0, 0, 0): explode_outer keeps their row. V (vocabulary
    * size) is taken from `unigrams` itself. */
  def scoreDocs(docs: DataFrame, bigrams: DataFrame, unigrams: DataFrame,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // persisted: the unigram lineage is consumed TWICE (the vocab_v
    // aggregate and the scoring join) — unpersisted, a freshly-trained
    // model would re-run the whole reference-corpus aggregation for the
    // row count. Same caching contract as Dedup's signature barrier.
    val uni = graft.CacheBarriers.barrier(unigrams)
    val v = uni.agg(count(lit(1)).as("vocab_v"))
    val exploded = docs
      .select(col(idCol), explode_outer(
        bigramsOf(TextHash.words(col(textCol)))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // assert_true evaluates (and throws) before the arithmetic runs: an
    // EMPTY reference model makes the smoothing denominator 0, and
    // log(Inf) would flood every doc with floor(Inf) = Long.MaxValue —
    // garbage scores (or an ANSI sum overflow) with no hint of the
    // actual cause. Loud beats silently-Inf.
    val guarded = when(
      assert_true(col("vocab_v") > 0,
        lit("LangModel: empty reference model (vocab_v = 0)")).isNull,
      floor(lit(1e6) * log(
        (coalesce(col("n12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("n1"), lit(0L)) + col("vocab_v"))))
        .cast("long"))
    val scored = exploded
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lp",
        when(col("w1").isNull, lit(null).cast("long")).otherwise(guarded))
    scored.groupBy(idCol).agg(
      count(col("w1")).as("n_bigrams"),
      count(when(col("w1").isNotNull && col("n12").isNull, 1))
        .as("n_oov"),
      coalesce(sum(col("lp")), lit(0L)).as("lp_micro"))
  }

  /** A driver-side model snapshot for the broadcast scoring path. The
    * model is config-sized BY CONSTRUCTION — `minCount` pruning bounds it
    * the way `top-k` bounds the vocab census — which is what licenses a
    * collect here (same argument as the IVF centroid table; the corpus
    * itself never moves).
    *
    * Bigrams key on `w1 + ' ' + w2` — unambiguous because the tokenizer
    * splits on spaces, so no word contains one (the key IS the 2-gram
    * shingle string): one string per entry instead of a boxed Tuple2 +
    * two refs — materially smaller at web-scale model sizes, and the
    * scoring loop's lookup is a single concat, not a tuple allocation. */
  case class LocalModel(bigrams: Map[String, Long],
                        unigrams: Map[String, Long],
                        vocabV: Long) {
    def bigramKey(w1: String, w2: String): String = w1 + " " + w2
  }

  /** Collect a trained model to the driver for broadcasting. */
  def collectModel(bigrams: DataFrame, unigrams: DataFrame): LocalModel = {
    val bg = bigrams.select("w1", "w2", "n12").collect()
      .map(r => (r.getString(0) + " " + r.getString(1)) -> r.getLong(2))
      .toMap
    val uni = unigrams.select("w1", "n1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    LocalModel(bg, uni, uni.size.toLong)
  }

  /** Broadcast-model scoring: the same numbers as [[scoreDocs]] with NO
    * shuffle at all — one narrow pass over the corpus with per-row map
    * lookups against the broadcast counts. This is the 100 TB shape when
    * the pruned model fits executor memory (the common case: minCount ≥ 2
    * web-scale bigram tables are tens of millions of entries); the
    * join-based [[scoreDocs]] remains the fallback when it does not.
    * Identical output contract: (id, n_bigrams, n_oov, lp_micro) — the
    * per-bigram floor is computed in the same double arithmetic, and the
    * integer sum is order-independent, so batch, broadcast, and streaming
    * agree bit-for-bit (pinned by LangModelSpec). Stateless and per-row,
    * so it runs unchanged under Structured Streaming. */
  def scoreDocsBroadcast(docs: DataFrame, model: LocalModel,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(model.vocabV > 0,
      "LangModel: empty reference model (vocab_v = 0)")
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    // Row-based mapPartitions with an explicit schema: the id column
    // keeps its INPUT type (string ids, composite ids — anything
    // scoreDocs groups by), where a typed `.as[(Long, String)]` would
    // force a cast that crashes on non-numeric ids and silently retypes
    // numeric-string ones.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val outSchema = StructType(Seq(
      docs.schema(idCol),
      StructField("n_bigrams", LongType, nullable = false),
      StructField("n_oov", LongType, nullable = false),
      StructField("lp_micro", LongType, nullable = false)))
    docs.select(col(idCol), col(textCol))
      .mapPartitions { it =>
        val m = bc.value
        it.map { row =>
          val text = if (row.isNullAt(1)) null else row.getString(1)
          val ws = TextHash.wordsScala(text)
          var nb = 0L; var oov = 0L; var lp = 0L
          var i = 0
          while (i + 1 < ws.length) {
            val c12 = m.bigrams.getOrElse(m.bigramKey(ws(i), ws(i + 1)), 0L)
            if (c12 == 0L) oov += 1
            val c1 = m.unigrams.getOrElse(ws(i), 0L)
            lp += math.floor(
              1e6 * math.log((c12 + 1).toDouble / (c1 + m.vocabV))).toLong
            nb += 1
            i += 1
          }
          Row(row.get(0), nb, oov, lp)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF(idCol, "n_bigrams", "n_oov", "lp_micro")
  }

  /** Persist a trained model (the run-over-run artifact: train once on
    * the reference slice, score every later ingest batch against the
    * same counts). Bigram/unigram tables keep their partitioning — a
    * web-scale model is small next to the corpus but not one-file
    * small. */
  def writeModel(bigrams: DataFrame, unigrams: DataFrame,
                 dir: String): Unit = {
    bigrams.write.mode("overwrite").parquet(s"$dir/bigrams")
    unigrams.write.mode("overwrite").parquet(s"$dir/unigrams")
  }

  /** Reopen a persisted model as (bigrams, unigrams). */
  def readModel(spark: org.apache.spark.sql.SparkSession,
                dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/bigrams"),
      spark.read.parquet(s"$dir/unigrams"))

  /** Fold a new reference batch into an existing model: counts are
    * additive, so `updateModel(train(ref1), ref2)` EQUALS
    * `train(ref1 ∪ ref2)` (pinned by spec) — the daily-ingest shape
    * where the 100 TB reference is never re-read.
    *
    * The invariant only holds for UNPRUNED models: `minCount` pruning is
    * not additive (a bigram seen once in each of two batches survives a
    * union retrain at minCount=2 but is invisible to both pruned
    * batches), so persist models at minCount=1 and apply the threshold
    * at scoring time (`bigrams.filter(col("n12") >= k)`) — the same
    * raw-table-plus-view discipline as the dedup signature table. One
    * count-keyed shuffle over the NEW batch's (much smaller) vocabulary;
    * the merge groupBy is map-side combined. */
  def updateModel(existing: (DataFrame, DataFrame), newRef: DataFrame,
                  textCol: String = "text"): (DataFrame, DataFrame) = {
    def merged(a: DataFrame, b: DataFrame, keys: Seq[String],
               cnt: String): DataFrame =
      a.unionByName(b).groupBy(keys.map(col): _*)
        .agg(sum(col(cnt)).as(cnt))
    (merged(existing._1, bigramCounts(newRef, textCol), Seq("w1", "w2"), "n12"),
      merged(existing._2, unigramCounts(newRef, textCol), Seq("w1"), "n1"))
  }

  // ── DuckDB twins (same tokenization, same micro-floor math) ───────────

  /** SQL: bigram CTE body over a `(doc_id, text)` table — one row per
    * bigram `(doc_id, w1, w2)`. DuckDB zips parallel unnests in the same
    * SELECT list positionally, which IS the slice-zip above. */
  def sqlBigrams(table: String, textExpr: String = "text"): String = {
    val w = TextHash.sqlWords(textExpr)
    s"""SELECT doc_id,
       | unnest(($w)[1:greatest(len($w) - 1, 0)]) AS w1,
       | unnest(($w)[2:len($w)]) AS w2
       | FROM $table""".stripMargin.replaceAll("\n", "")
  }

  /** SQL: the per-bigram micro-nat contribution given joined `n12`,
    * `n1`, `vocab_v` columns. */
  val sqlLpMicro: String =
    """CAST(floor(1e6 * ln(
      | CAST(coalesce(n12, 0) + 1 AS DOUBLE) / (coalesce(n1, 0) + vocab_v)))
      | AS BIGINT)""".stripMargin.replaceAll("\n", "")
}
