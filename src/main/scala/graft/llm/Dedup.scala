package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import TextHash._

/** Deduplication operators for training-data pipelines, all bucketed —
  * never all-pairs. The 100 TB shape: per-row hashing is narrow and
  * codegen'd; candidate generation shuffles once on the band key (skew-safe
  * under AQE because band keys are md5-uniform); verification joins only
  * within buckets.
  *
  * Caching contract: every intermediate an operator here materializes
  * for itself (signature barriers, the cluster rounds' truncations) is
  * registered with [[graft.CacheBarriers]] and released by its rule, so
  * the returned lazy frame must be consumed inside the caller's scope.
  * Frames RETURNED to the caller ([[signEval]], [[signCorpus]]) are not
  * registered: their release belongs to the caller.
  */
object Dedup {

  /** Exact duplicate groups by content hash: one shuffle on md5(text).
    * Returns (text_hash, n, min_id) for groups with more than one member. */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("min_id"))
      .filter(col("n") > 1)

  /** Cross-source duplication matrix — WHO copies from WHOM: for every
    * source pair (src_a ≤ src_b), the number of exact-duplicate content
    * groups shared and the number of cross-copy document pairs. The
    * provenance/licensing report behind [[exactDupGroups]]'s flat count:
    * a mirror site, a laundered scrape, or a source that re-posts
    * another's content shows up as an off-diagonal cell; intra-source
    * re-posting is the diagonal (pairs = C(cnt, 2) per group). NULL
    * texts are excluded — "NULL equals NULL" is not provenance.
    *
    * Scale shape: one md5-keyed census shuffle to (h, source, cnt) —
    * sources are config-cardinality, so census rows ≈ distinct hashes;
    * the per-hash self-join fans each hash to at most sources² cells
    * (bounded by config, not data); the final (src_a, src_b) aggregation
    * is map-side-combined over ≤ sources² groups. Nothing quadratic in
    * documents anywhere — cnt·cnt is arithmetic, not a join. */
  def crossSourceDupMatrix(docs: DataFrame, textCol: String = "text",
                           srcCol: String = "source"): DataFrame = {
    val census = docs.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("h"), col(srcCol).as("source"))
      .agg(count(lit(1)).as("cnt"))
    census.alias("a")
      .join(census.alias("b"),
        col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        when(col("a.source") === col("b.source"),
          expr("a.cnt * (a.cnt - 1) DIV 2"))
          .otherwise(col("a.cnt") * col("b.cnt")).as("pairs"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("pairs") > 0, 1L).otherwise(0L)).as("n_groups"),
        sum(col("pairs")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
  }

  /** Per-doc shingle + minhash-signature + band-key columns. */
  def withSignature(docs: DataFrame, textCol: String = "text",
                    shingleN: Int = 3): DataFrame =
    docs.withColumn("ws", words(col(textCol)))
      .withColumn("sh", shingles(col("ws"), shingleN))
      .withColumn("hs", hashedShingles(col("sh")))
      .withColumn("sig", minhashSig(col("hs")))
      .withColumn("bkeys", bandKeys(col("sig")))

  /** LSH candidate pairs: explode band keys, self-join per (band, key),
    * id_a < id_b, distinct. The join key space is uniform (md5), so no
    * hot buckets from hashing itself; identical docs share all bands but
    * collapse in the distinct.
    *
    * `maxBucketSize` is the degenerate-corpus guard: a band bucket of n
    * docs yields n² pairs, so one pathological bucket (boilerplate pages,
    * empty documents) can dominate the whole join at corpus scale.
    * Capped buckets are dropped wholesale — an explicit recall trade
    * (their members usually co-occur in other, smaller buckets); the cap
    * turns worst-case quadratic blowup into a bounded cost, where the
    * reference sheds overload by dropping relate work
    * (monstache.go:3397-3401) — here the shed set is deterministic.
    * The bucket-size count reuses the self-join's shuffle key, so with
    * co-partitioning it costs one aggregation, not an extra exchange. */
  def candidatePairs(signed: DataFrame, idCol: String = "doc_id",
                     maxBucketSize: Option[Int] = None): DataFrame = {
    val all = signed.select(col(idCol).as("doc_id"),
      posexplode(col("bkeys")).as(Seq("band_idx", "band_key")))
    val bands = maxBucketSize match {
      case None => all
      case Some(cap) =>
        val ok = all.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= cap)
          .select("band_idx", "band_key")
        all.join(ok, Seq("band_idx", "band_key"), "left_semi")
    }
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Verify candidates with exact shingle-set Jaccard, kept in integer
    * arithmetic (2·|∩| ≥ t·|∪| avoids float compares): returns
    * (id_a, id_b, inter, uni) for pairs with Jaccard ≥ 1/2.
    *
    * The signature frame is persisted before the band self-join: the
    * minhash expression tree is deep (24 affine folds over the hashed
    * shingle array), and without a materialization barrier every join
    * branch re-evaluates it — measured 107 s vs 1.3 s on the band join at
    * sf0.1. At cluster scale the same role is played by writing the
    * signature table once (it is also what incremental dedup reuses run
    * over run); MEMORY_AND_DISK keeps the local path spill-safe. */
  def verifiedNearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text",
                           shingleN: Int = 3,
                           maxBucketSize: Option[Int] = None): DataFrame = {
    val signed = graft.CacheBarriers.barrier(
      withSignature(docs, textCol, shingleN)
        .select(col(idCol).as("doc_id"), col("sh"), col("bkeys")))
    verifiedPairsFromSigned(signed, maxBucketSize)
  }

  /** [[verifiedNearDupPairs]] over an already-signed (and already
    * persisted/stored) corpus — the entry point for pipelines that keep
    * the signature table as a run-over-run artifact
    * ([[graft.llm.Curation.artifactsOf]]) instead of re-shingling. */
  def verifiedPairsFromSigned(signed: DataFrame,
                              maxBucketSize: Option[Int] = None): DataFrame =
    verifyPairs(candidatePairs(signed, maxBucketSize = maxBucketSize), signed)

  /** Asymmetric shingle CONTAINMENT for LSH candidate pairs — Broder's
    * second coefficient, for the relationship Jaccard hides: a short
    * quote-page fully contained in a long original scores
    * |A∩B|/|A| = 1 while Jaccard |A∩B|/|A∪B| can sit far below any
    * near-dup gate, so symmetric dedup keeps both and the quote page
    * rides to training verbatim. Emits every candidate pair where
    * either direction reaches `minContainMicro`: (id_a, id_b, inter,
    * n_a, n_b, a_in_b_micro, b_in_a_micro), shares in exact truncating
    * integer division over the DISTINCT shingle sets.
    *
    * Candidates come from the same banded minhash join as
    * [[verifiedNearDupPairs]] — with the standard recall caveat sharpened:
    * banding recall follows JACCARD, so a low-Jaccard containment pair
    * surfaces only when a band survives (tune bands/rows toward
    * containment recall, or feed candidates from the span census for
    * exact-substring containment). Scale shape identical to the Jaccard
    * path: banded self-join, bucket cap, two id-keyed verify joins. */
  def containmentPairs(docs: DataFrame, minContainMicro: Long = 900000L,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3,
                       maxBucketSize: Option[Int] = None): DataFrame = {
    val signed = graft.CacheBarriers.barrier(
      withSignature(docs, textCol, shingleN)
        .select(col(idCol).as("doc_id"), col("sh"), col("bkeys")))
    containmentVerify(
      candidatePairs(signed, maxBucketSize = maxBucketSize), signed,
      minContainMicro)
  }

  /** Exact-containment verification over candidate (id_a, id_b) pairs
    * and a (doc_id, sh) shingle frame — the one assembly both
    * containment candidate generators share. */
  private def containmentVerify(cand: DataFrame, signed: DataFrame,
                                minContainMicro: Long): DataFrame =
    cand
      .join(signed.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(signed.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_a", size(col("sh_a")))
      .withColumn("n_b", size(col("sh_b")))
      .withColumn("a_in_b_micro",
        expr("inter * 1000000L DIV greatest(n_a, 1)"))
      .withColumn("b_in_a_micro",
        expr("inter * 1000000L DIV greatest(n_b, 1)"))
      .filter(col("a_in_b_micro") >= minContainMicro ||
        col("b_in_a_micro") >= minContainMicro)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"),
        col("n_b"), col("a_in_b_micro"), col("b_in_a_micro"))

  /** [[containmentPairs]] with EXACT-SUBSTRING candidates from the span
    * family — closing the Jaccard-recall caveat: a low-Jaccard quote
    * page shares its k-word windows with the original VERBATIM, so the
    * positional-gram table surfaces the pair deterministically where
    * minhash banding only does so when a band survives. Candidates are
    * doc pairs sharing a duplicated k-gram; `maxGramDocs` is the
    * quadratic-gram cap (a boilerplate gram in thousands of docs would
    * fan to millions of pairs — the bucket-cap discipline at gram
    * granularity: capped grams are shed deterministically, and genuine
    * containment pairs almost always share RARER grams too).
    * Verification is the same exact shingle containment.
    *
    * Scale shape: the span family's one gram-keyed exchange (the
    * widest key is the 8-byte hash), the capped per-gram self-join,
    * then two id-keyed verify joins — no all-pairs anywhere. */
  def containmentPairsFromSpans(docs: DataFrame, k: Int = 8,
                                minContainMicro: Long = 900000L,
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                shingleN: Int = 3,
                                maxGramDocs: Int = 32): DataFrame = {
    require(maxGramDocs >= 2,
      s"maxGramDocs=$maxGramDocs: below 2 no gram can pair at all")
    val (_, pos) = spanBaseAndPositions(docs, k, idCol, textCol)
    val docGrams = graft.CacheBarriers.barrier(
      pos.select(col("doc_id"), col("g")).distinct())
    val okGrams = docGrams.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxGramDocs)
      .select(col("g"))
    val dg = docGrams.join(okGrams, Seq("g"), "left_semi")
    val cand = dg.alias("a")
      .join(dg.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val signed = graft.CacheBarriers.barrier(
      withSignature(docs, textCol, shingleN)
        .select(col(idCol).as("doc_id"), col("sh")))
    containmentVerify(cand, signed, minContainMicro)
  }

  /** MinHash estimator audit — the q135 discipline applied to the
    * SIGNATURE itself: for every banded candidate pair, the Jaccard
    * ESTIMATE the K-position signature implies (agreement share — what
    * LSH banding actually acts on) next to the exact shingle Jaccard
    * (what the verify join computes). The audit prices the estimator's
    * resolution (1/K steps — K=24 reads in ≈41667-micro quanta) and its
    * per-pair error, which is the number that justifies K before anyone
    * trusts signature-only shortcuts (e.g. skipping exact verification
    * on high-agreement pairs at 100 TB). Returns (id_a, id_b, agree,
    * inter, uni, est_micro, jaccard_micro, err_micro) — all exact
    * integers. Scale shape identical to [[verifiedNearDupPairs]]: the
    * signature comparison is one fixed-K fold per candidate pair. */
  def minhashEstimateAudit(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", shingleN: Int = 3,
                           maxBucketSize: Option[Int] = None): DataFrame = {
    val signed = graft.CacheBarriers.barrier(
      withSignature(docs, textCol, shingleN)
        .select(col(idCol).as("doc_id"), col("sh"), col("sig"),
          col("bkeys")))
    candidatePairs(signed, maxBucketSize = maxBucketSize)
      .join(signed.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(signed.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("agree",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("est_micro",
        expr(s"agree * 1000000L DIV ${TextHash.K}"))
      .withColumn("jaccard_micro",
        expr("inter * 1000000L DIV greatest(uni, 1)"))
      .withColumn("err_micro", abs(col("est_micro") - col("jaccard_micro")))
      .select(col("id_a"), col("id_b"), col("agree").cast("long"),
        col("inter"), col("uni"), col("est_micro"), col("jaccard_micro"),
        col("err_micro"))
  }

  /** The integer-Jaccard acceptance (2·|∩| ≥ |∪|) over two shingle-set
    * columns — the ONE definition every verification path shares (batch,
    * incremental, and two-corpus decontamination); a drifted copy would
    * silently change one path's semantics. */
  private def jaccardKeep(df: DataFrame): DataFrame =
    df.withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .filter(lit(2) * col("inter") >= col("uni"))

  /** (id, band_idx, band_key) rows from a signed frame — the band-join
    * input every candidate generator shares. */
  private def explodeBands(signed: DataFrame, idCol: String,
                           bkeysCol: String = "bkeys"): DataFrame =
    signed.select(col(idCol),
      posexplode(col(bkeysCol)).as(Seq("band_idx", "band_key")))

  /** Exact-Jaccard verification of candidate pairs against a signature
    * table. */
  private def verifyPairs(cand: DataFrame, signed: DataFrame): DataFrame =
    jaccardKeep(cand
      .join(signed.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(signed.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b"))
      .select("id_a", "id_b", "inter", "uni")

  /** Incremental near-dedup: candidate pairs for a NEW document batch
    * against an already-signed corpus, without recomputing a single old
    * signature — the run-over-run ingest shape (daily batch vs 100 TB
    * corpus). Only the new docs are shingled/minhashed; candidates
    * require a new doc on at least one side (old-old pairs were the
    * previous runs' output); verification reads shingles from whichever
    * signature table owns each side. `existingSigned` is the persisted
    * output of [[withSignature]] (doc_id, sh, bkeys) — exactly what
    * [[verifiedNearDupPairs]] materializes before its self-join.
    * Returns the same (id_a, id_b, inter, uni) contract. */
  def incrementalNearDupPairs(newDocs: DataFrame, existingSigned: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              shingleN: Int = 3,
                              maxBucketSize: Option[Int] = None): DataFrame = {
    val newSigned = graft.CacheBarriers.barrier(
      withSignature(newDocs, textCol, shingleN)
        .select(col(idCol).as("doc_id"), col("sh"), col("bkeys")))
    incrementalPairsFromSigned(newSigned, existingSigned, maxBucketSize)
  }

  /** [[incrementalNearDupPairs]] over a pre-signed new batch (doc_id, sh,
    * bkeys) — lets a composite sign the batch ONCE and reuse the
    * signatures for both pair generation and the signature-table append
    * ([[graft.llm.Curation.curateIncremental]]). */
  def incrementalPairsFromSigned(newSigned: DataFrame,
                                 existingSigned: DataFrame,
                                 maxBucketSize: Option[Int] = None): DataFrame = {
    // a re-delivered doc_id (an UPDATED document arriving in a later
    // batch) must be represented by its NEW signature only — keeping both
    // rows would give the id two signatures, and every pair touching it
    // would multiply into contradictory (inter, uni) rows through the
    // verification joins below. Persisted: the band join reads it once
    // and BOTH verification joins read it again — without the barrier
    // the big-corpus scan + anti-join would run three times (the same
    // measured trade as verifiedNearDupPairs' signature persist).
    val allSigned = graft.CacheBarriers.barrier(
      existingSigned.select("doc_id", "sh", "bkeys")
        .join(newSigned.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(newSigned))
    def bands(df: DataFrame) = explodeBands(df, "doc_id")
    // the degenerate-bucket cap measures bucket size over the FULL corpus
    // (old + new) and drops capped buckets from both join sides — the
    // same bounded-cost trade as candidatePairs
    val allBands = bands(allSigned)
    val (aBands, bBands) = maxBucketSize match {
      case None => (bands(newSigned), allBands)
      case Some(cap) =>
        val ok = allBands.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= cap)
          .select("band_idx", "band_key")
        (bands(newSigned).join(ok, Seq("band_idx", "band_key"), "left_semi"),
          allBands.join(ok, Seq("band_idx", "band_key"), "left_semi"))
    }
    // new side drives the join: band keys of old docs are touched only
    // where a new doc shares the bucket
    val cand = aBands.alias("a")
      .join(bBands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
    verifyPairs(cand, allSigned)
  }

  /** Eval-set decontamination: corpus documents that near-duplicate any
    * document of an evaluation/benchmark set — the curation stage that
    * keeps test data out of training data. Same LSH structure as
    * [[verifiedNearDupPairs]] but across two distinct corpora: both sides
    * are signed, candidates come from shared band buckets (never
    * all-pairs), and exact shingle-Jaccard verifies. Returns
    * (doc_id, eval_id, inter, uni) for verified contamination pairs;
    * callers usually anti-join the corpus against the distinct `doc_id`s.
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs
    * against a 100 TB corpus), so its bands and shingles broadcast — the
    * corpus is touched by exactly one narrow signing pass plus the band
    * join, and never self-joins. Both signature tables are persisted for
    * the same measured reason as [[verifiedNearDupPairs]]. */
  def contaminationPairs(corpus: DataFrame, evalDocs: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         shingleN: Int = 3): DataFrame =
    contaminationPairsSigned(corpus, signEval(evalDocs, idCol, textCol,
      shingleN), idCol, textCol, shingleN)

  /** Sign an eval/benchmark set once for repeated decontamination runs:
    * (eval_id, sh_e, bkeys_e), persisted. The continuous-ingest path
    * ([[graft.streaming.StreamingDecontam]]) signs the eval side once at
    * stream start and reuses it for every micro-batch — re-signing a
    * static benchmark per batch would be pure waste. */
  def signEval(evalDocs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", shingleN: Int = 3): DataFrame =
    withSignature(evalDocs, textCol, shingleN)
      .select(col(idCol).as("eval_id"), col("sh").as("sh_e"),
        col("bkeys").as("bkeys_e"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Sign a corpus (doc_id, sh, bkeys), persisted — the corpus-side
    * barrier every contamination run needs (band join + verification
    * join both read it). The streaming twin unpersists it per batch. */
  def signCorpus(corpus: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", shingleN: Int = 3): DataFrame =
    withSignature(corpus, textCol, shingleN)
      .select(col(idCol).as("doc_id"), col("sh"), col("bkeys"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** [[contaminationPairs]] against a pre-signed eval table (the output
    * of [[signEval]]). Per-corpus-doc independent: the pairs for a corpus
    * split depend only on that split's docs, so running this per
    * micro-batch and unioning equals one batch run over the union —
    * the property the streaming twin's spec pins. */
  def contaminationPairsSigned(corpus: DataFrame, evalSigned: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               shingleN: Int = 3): DataFrame =
    pairsBetweenSigned(signCorpus(corpus, idCol, textCol, shingleN),
      evalSigned)

  /** The two-corpus band join + Jaccard verification over two signed
    * tables ([[signCorpus]], [[signEval]]). */
  def pairsBetweenSigned(corpusSigned: DataFrame,
                         evalSigned: DataFrame): DataFrame = {
    val cand = explodeBands(corpusSigned, "doc_id")
      .join(explodeBands(evalSigned, "eval_id", "bkeys_e"),
        Seq("band_idx", "band_key"))
      .select("doc_id", "eval_id").distinct()
    jaccardKeep(cand
      .join(corpusSigned.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(evalSigned.select(col("eval_id"), col("sh_e").as("sh_b")),
        "eval_id"))
      .select("doc_id", "eval_id", "inter", "uni")
  }

  /** Exact n-gram decontamination — the strict companion to
    * [[contaminationPairs]]: a corpus document is flagged when it shares
    * ANY whole n-gram with an evaluation document (the GPT-3/PaLM-style
    * exact-overlap check; fuzzy LSH catches paraphrase, this catches
    * verbatim leakage that LSH's Jaccard threshold can miss when the
    * eval text is a small fragment of a long training doc).
    *
    * Returns one row per contaminated corpus doc:
    * (doc_id, n_ngrams, n_hits, n_eval_docs, min_eval_id) — total
    * distinct n-grams, how many of them appear in the eval set, how many
    * eval docs are touched, and the smallest touched eval id (the
    * attribution a drop report needs). Clean docs are absent; callers
    * anti-join.
    *
    * Scale shape: the corpus is one narrow shingling pass + explode (no
    * self-join, no signature build); the eval side is benchmark-sized, so
    * its distinct (gram, eval_id) table broadcasts and the only shuffle
    * is the per-doc aggregation, which partial-aggregates map-side.
    * Grams join on the 32-bit md5-prefix hash, not the string — identical
    * on both engines, and a false positive needs an md5-prefix collision
    * between a doc and the (small) eval gram set. */
  /** The (id, hashed-distinct-grams) table both exact-overlap operators
    * share — one definition of gram construction, so contamination and
    * verbatim-overlap can't drift tokenization or hashing. */
  private def gramTable(df: DataFrame, srcIdCol: String, outIdCol: String,
                        textCol: String, shingleN: Int): DataFrame =
    df.select(col(srcIdCol).as(outIdCol),
      hashedShingles(shingles(words(col(textCol)), shingleN)).as("hs"))

  def exactNgramContamination(corpus: DataFrame, evalDocs: DataFrame,
                              shingleN: Int = 5,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame, id: String) =
      gramTable(df, idCol, id, textCol, shingleN)
    // persisted for the same measured reason as verifiedNearDupPairs'
    // signature barrier: without it, CollapseProject inlines the md5
    // shingle chain into BOTH size() and explode() (the whole gram array
    // is hashed twice per row) — measured ~2.8 s → ~1.5 s on q71 at
    // sf0.1; at corpus scale the gram table is also the artifact an
    // incremental decontamination run reuses
    val cg = graft.CacheBarriers.barrier(grams(corpus, "doc_id"))
    val evalGrams = grams(evalDocs, "eval_id")
      .select(col("eval_id"), explode(col("hs")).as("g"))
    val hits = cg.select(col("doc_id"), size(col("hs")).as("n_ngrams"),
        explode(col("hs")).as("g"))
      .join(evalGrams, "g")
    hits.groupBy("doc_id")
      .agg(max(col("n_ngrams")).as("n_ngrams"),
        countDistinct(col("g")).as("n_hits"),
        countDistinct(col("eval_id")).as("n_eval_docs"),
        min(col("eval_id")).as("min_eval_id"))
  }

  /** The Bloom sketch of an eval set's distinct gram hashes — the
    * broadcast prefilter [[exactNgramContaminationBloom]] ships to
    * executors. Exposed so specs can probe it directly and so an
    * incremental run can build it once per eval-set release. The count
    * that sizes it runs on the eval side only (benchmark-sized by the
    * decontamination contract, same as the broadcast in
    * [[exactNgramContamination]]). */
  private[graft] def evalGramBloom(evalGrams: DataFrame, fpp: Double)
      : org.apache.spark.util.sketch.BloomFilter = {
    val n = math.max(1L, evalGrams.select("g").distinct().count())
    evalGrams.stat.bloomFilter("g", n, fpp)
  }

  /** [[exactNgramContamination]] with a Bloom prefilter — the same
    * results (the exact confirm join removes every Bloom false
    * positive), a different 100 TB cost model. The plain operator
    * broadcasts the eval gram TABLE into a hash join, so every corpus
    * gram pays a probe against an 8-byte-per-entry map, and the join
    * build must fit executor broadcast memory. Here the eval grams
    * compress into a Bloom sketch (~10 bits/entry at 1% fpp — ~6×
    * smaller than the join build, so eval sets an order of magnitude
    * larger still broadcast), the corpus side drops ~all clean grams in
    * a narrow codegen-adjacent filter BEFORE any join, and the exact
    * confirm join then runs over the tiny survivor set — at that size
    * the broadcast-vs-shuffle choice stops mattering.
    *
    * The membership probe is the native codegen expression
    * [[graft.functions.BloomHit]] — one `mightContainLong` call spliced
    * into whole-stage codegen per gram (a driver-built Bloom sketch is
    * opaque to column algebra, and a Scala UDF here would box + invoke
    * per gram and fence codegen on the hottest path). False positives
    * cost only wasted confirm-join input, never wrong output; `fpp`
    * tunes that overhead.
    *
    * Reference analog: the same filter-before-expensive-work position as
    * the namespace regex chain before relate fan-out
    * (monstache.go:4852-4859 before 1221-1358). */
  def exactNgramContaminationBloom(corpus: DataFrame, evalDocs: DataFrame,
                                   shingleN: Int = 5,
                                   idCol: String = "doc_id",
                                   textCol: String = "text",
                                   fpp: Double = 0.01): DataFrame = {
    // the eval gram table is consumed twice (sketch build + confirm
    // join) — barrier it so the shingling runs once
    val evalGrams = graft.CacheBarriers.barrier(
      gramTable(evalDocs, idCol, "eval_id", textCol, shingleN)
        .select(col("eval_id"), explode(col("hs")).as("g")))
    val sketch = {
      val bos = new java.io.ByteArrayOutputStream()
      evalGramBloom(evalGrams, fpp).writeTo(bos)
      bos.toByteArray
    }
    // the sketch rides the plan as a binary literal: the per-stage task
    // binary is itself broadcast, so executors receive it once
    def mightHit(g: org.apache.spark.sql.Column) =
      call_function(graft.functions.GraftFunctions.BloomHitName, g,
        lit(sketch))
    // same barrier as exactNgramContamination, same measured reason:
    // size() and explode() below would otherwise each re-run the md5
    // shingle chain (CollapseProject inlines it into both consumers)
    val cg = graft.CacheBarriers.barrier(
      gramTable(corpus, idCol, "doc_id", textCol, shingleN))
    // n_ngrams (the per-doc total) is taken from the FULL gram array
    // before the prefilter — the prefilter prunes join input, not the
    // denominator a contamination ratio divides by
    val pre = cg.select(col("doc_id"), size(col("hs")).as("n_ngrams"),
        explode(col("hs")).as("g"))
      .filter(mightHit(col("g")))
    pre.join(evalGrams, "g")
      .groupBy("doc_id")
      .agg(max(col("n_ngrams")).as("n_ngrams"),
        countDistinct(col("g")).as("n_hits"),
        countDistinct(col("eval_id")).as("n_eval_docs"),
        min(col("eval_id")).as("min_eval_id"))
  }

  /** Multi-eval-set exact decontamination: [[exactNgramContamination]]
    * against N labeled eval sets in ONE corpus pass, with per-set
    * attribution — the shape a real release check takes (dozens of
    * benchmarks, one sweep). `evalSets` carries a `setCol` label; the
    * output adds per-(doc, set) rows `(doc_id, set, n_ngrams, n_hits,
    * n_eval_docs, min_eval_id)`, so a doc contaminated by two
    * benchmarks reports once per benchmark and a per-set drop policy
    * can differ (drop on MMLU overlap, flag on GSM8K).
    *
    * Scale shape unchanged from the single-set operator: the corpus is
    * shingled once (one barrier, one explode), the union of ALL eval
    * sets' grams broadcasts (still benchmark-sized — N small sets), and
    * the one aggregation gains `set` in its key. Running the single-set
    * operator N times would shingle and scan the 100 TB corpus N
    * times. */
  def multiSetContamination(corpus: DataFrame, evalSets: DataFrame,
                            shingleN: Int = 5,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            setCol: String = "set"): DataFrame = {
    val evalGrams = gramTable(evalSets, idCol, "eval_id", textCol, shingleN)
      // gramTable projects (eval_id, hs) — re-attach the set label by
      // position-free join on the eval id (ids are unique across sets by
      // the eval-registry contract; a shared id would cross-attribute)
      .join(evalSets.select(col(idCol).as("eval_id"), col(setCol)),
        Seq("eval_id"))
      .select(col("eval_id"), col(setCol), explode(col("hs")).as("g"))
    val cg = graft.CacheBarriers.barrier(
      gramTable(corpus, idCol, "doc_id", textCol, shingleN))
    cg.select(col("doc_id"), size(col("hs")).as("n_ngrams"),
        explode(col("hs")).as("g"))
      .join(evalGrams, "g")
      .groupBy(col("doc_id"), col(setCol))
      .agg(max(col("n_ngrams")).as("n_ngrams"),
        countDistinct(col("g")).as("n_hits"),
        countDistinct(col("eval_id")).as("n_eval_docs"),
        min(col("eval_id")).as("min_eval_id"))
  }

  /** Within-corpus verbatim overlap: document pairs sharing at least
    * `minShared` exact n-word windows — the exact-substring duplication
    * signal (boilerplate headers, license blocks, templated spans) that
    * MinHash's whole-document Jaccard smooths over and exact dedup's
    * full-hash equality misses entirely. The window length is the
    * precision knob: at the default 8 words a match is essentially never
    * coincidental prose.
    *
    * Same plan family as the LSH band join (this IS an LSH where the
    * band key is the verbatim window hash): one shuffle keyed on the
    * gram, self-join inside gram groups only, and the same
    * quadratic-bucket guard — a gram shared by more than `maxGramDocs`
    * documents is boilerplate by definition and is dropped from PAIR
    * GENERATION (its members still pair through their rarer grams),
    * exactly the candidatePairs cap trade. Returns (id_a, id_b,
    * n_shared) with id_a < id_b.
    *
    * Grams join by their 31-bit hash, not the window string, so a hash
    * COLLISION can pair two unrelated windows: expect ~nw²/2³² colliding
    * window pairs corpus-wide (hundreds at a billion distinct windows).
    * The default `minShared = 2` is what makes that harmless — a FALSE
    * doc pair then needs two independent collisions landing on the SAME
    * document pair (~p² per pair; negligible at any scale), where
    * `minShared = 1` would report each stray collision as a verbatim
    * overlap. Collisions can also only over-count `gn` toward the cap,
    * never hide a true overlap. Joining on raw window strings would be
    * collision-free but shuffles ~6× the bytes — the wrong trade for a
    * signal column. */
  def verbatimOverlapPairs(corpus: DataFrame, shingleN: Int = 8,
                           minShared: Int = 2, maxGramDocs: Int = 64,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val grams = graft.CacheBarriers.barrier(
      gramTable(corpus, idCol, "doc_id", textCol, shingleN)
        .select(col("doc_id"), explode(col("hs")).as("g")))
    val rare = grams.groupBy("g")
      .agg(count(lit(1)).as("gn"))
      .filter(col("gn") > 1 && col("gn") <= maxGramDocs)
      .select("g")
    val inPlay = grams.join(rare, Seq("g"), "left_semi")
    inPlay.alias("a")
      .join(inPlay.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicate-cluster resolution: connected components over verified
    * near-dup pairs, the step that turns pairwise matches into keep/drop
    * decisions (cluster representative = min id). Pregel-style min-label
    * propagation: every node starts as its own label; each round takes the
    * min over neighbors; fixpoint in O(component diameter) rounds — dup
    * clusters are shallow (stars around an original), so this converges in
    * 2-3 rounds. Each round is one join + partial-aggregated groupBy on
    * the (small) pair set, not the corpus; the driver-side loop carries
    * only a changed-row count per round. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // a truncation after every round: iterative self-joins compound the
    // logical plan exponentially without a lineage cut — the planner, not
    // the data, is what blows up. Each round's predecessor is released as
    // soon as the round is materialized, so one round is live at a time.
    // pairs are truncated BEFORE the symmetric union — both union
    // branches would otherwise re-run the whole LSH candidate/verification
    // lineage. The union on top is a narrow read of the materialized RDD,
    // cheap to recompute each round, so truncating it would buy nothing
    // but an extra job.
    val p = graft.CacheBarriers.truncate(pairs, eager = true)
    val edges = p
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(p.select(col("id_b").as("a"), col("id_a").as("b")))
    // seed labels with min(self, direct neighbors) — one propagation step
    // for free inside the init aggregation; star-shaped dup clusters (the
    // common case) converge immediately and pay only the confirm round.
    // Lazy checkpoint: round 1's convergence aggregate materializes it.
    var labels = graft.CacheBarriers.truncate(edges.groupBy(col("a").as("n"))
      .agg(least(col("a"), min(col("b"))).as("lbl")), eager = false)
    var iter = 0
    var converged = false
    // labels are monotone non-increasing, so the label sum strictly
    // decreases until the fixpoint — an unchanged sum IS convergence.
    // Checking it costs one aggregate on `next` (the same action that
    // materializes the round's lazy checkpoint) instead of a next-vs-old
    // join. The sum runs in decimal(38,0): labels are arbitrary 64-bit
    // ids, and a LONG sum over enough rows overflows — an ANSI error at
    // best, a silently-wrapped false convergence (and partial clusters)
    // with ANSI off. The None sentinel forces at least one round.
    var lblSum: Option[java.math.BigDecimal] = None
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("n", "bn"), col("b") === col("bn"))
        .groupBy(col("a").as("n")).agg(min("lbl").as("nbl"))
      // lazy truncation: the convergence aggregate below is the action
      // that materializes it — one job per round instead of two
      val next = graft.CacheBarriers.truncate(labels
        .join(nbrMin.withColumnRenamed("n", "n2"), col("n") === col("n2"), "left")
        .select(col("n"),
          least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("lbl")),
        eager = false)
      // coalesce: an EMPTY pair set sums to NULL, which is still a valid
      // (immediately-converging) fixpoint, not a driver NPE
      val nextSum = Some(next
        .agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)))
        .head().getDecimal(0))
      converged = nextSum == lblSum
      lblSum = nextSum
      graft.CacheBarriers.release(labels)
      labels = next
      iter += 1
    }
    graft.CacheBarriers.release(p)
    // a silent partial closure would emit multiple cluster_ids (and
    // multiple representatives) for one true component — wrong keep/drop
    // decisions with no signal. Deep chains are rare (dup clusters are
    // stars); when one appears, the caller must raise maxIter, not
    // receive corrupt clusters.
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIter rounds — a component's " +
        "diameter exceeds maxIter; raise it")
    labels.select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("is_rep", col("doc_id") === col("cluster_id"))
  }

  /** Quality-aware representative selection over resolved duplicate
    * clusters: instead of [[dupClusters]]' min-id representative (the
    * CC label, arbitrary with respect to content), keep each cluster's
    * HIGHEST-SCORING member — the standard refinement when duplicates
    * differ in quality (a clean canonical page vs its ad-injected
    * mirrors), where min-id keeps whichever copy was crawled first.
    * `scores` carries `(idCol, scoreCol)`; ties break to the LOWER id,
    * so the choice is total and replay-stable. Returns the cluster
    * table re-decorated: `(doc_id, cluster_id, score, is_rep)` with
    * exactly one representative per cluster.
    *
    * Scale shape: one join of the (duplicate-sized) cluster table
    * against the scores, then a per-cluster `max_by` on a
    * (score, -id)-ordered struct — partial-aggregated map-side, no
    * window, no sort. Cluster identity (the min-id label) is unchanged:
    * labels stay stable across increments; only the KEEP choice moves,
    * so incremental artifacts roll forward exactly as before.
    *
    * Coverage contract: `scores` must carry a row for EVERY cluster
    * member. A missing score is a wiring error (the scoring stage ran on
    * a different corpus slice than the clustering stage) and fails
    * loudly at execution — a silent inner-join drop would both lose the
    * member from the output and shift which member wins representative,
    * with no signal anywhere. */
  def qualityReps(clusters: DataFrame, scores: DataFrame,
                  idCol: String = "doc_id",
                  scoreCol: String = "score"): DataFrame = {
    val scored = clusters.join(
      scores.select(col(idCol).as("doc_id"), col(scoreCol).as("score")),
      Seq("doc_id"), "left")
      .withColumn("score", when(col("score").isNotNull, col("score"))
        .otherwise(raise_error(concat(
          lit("qualityReps: no score row for cluster member "),
          col("doc_id").cast("string"),
          lit(" — scores must cover every cluster member")))))
    // best = max by (score asc, id desc) → max_by over a struct whose
    // ordering is (score, -id): highest score wins, ties to lower id.
    // The negation is on a LONG cast so Int.MinValue ids cannot overflow.
    val best = scored.groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("score"), (-col("doc_id").cast("long")).as("neg_id")))
        .as("rep_id"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        (col("doc_id") === col("rep_id")).as("is_rep"))
  }

  /** 32-bit SimHash over hashed shingles: bit b of the fingerprint is set
    * when at least half the shingle hashes have bit b set (deterministic
    * ≥ tie-break). Near-dup docs land in the same high-bit bucket.
    * Backed by the native codegen expression
    * [[graft.functions.SimhashFp]] — identical to [[sqlSimhash]]. */
  def withSimhash(docs: DataFrame, textCol: String = "text",
                  shingleN: Int = 3, bucketShift: Int = 20): DataFrame =
    withSignature(docs, textCol, shingleN)
      .withColumn("simhash",
        call_function(graft.functions.GraftFunctions.SimhashName, col("hs")))
      .withColumn("sim_bucket", expr(s"shiftright(simhash, $bucketShift)"))
      .drop("ws", "sh", "hs", "sig", "bkeys")

  /** SimHash near-dup pairs: intra-bucket pairs whose fingerprints differ
    * in at most `maxHamming` bits — the cheap dedup tier (one 64-bit
    * compare per pair vs MinHash's shingle-set arithmetic). Bucketing by
    * the fingerprint's high bits keeps the self-join bounded (never
    * all-pairs); pairs whose differing bits fall in the bucket prefix are
    * missed — the standard single-probe trade ([[multiProbeSimhashPairs]]
    * recovers them via rotated bucketings). Hamming distance is codegen'd
    * column algebra: `bit_count(a ^ b)`.
    *
    * Measured (sf0.1, 5-run medians): native [[graft.functions.SimhashFp]]
    * 0.26 s (q32) / 0.54 s (q60) vs 0.42 / 0.79 for the pre-native UDF —
    * the single-pass bench's apparent r5 regression was noise. */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          shingleN: Int = 3,
                          bucketShift: Int = 20): DataFrame = {
    val fp = graft.CacheBarriers.barrier(
      withSimhash(docs, textCol, shingleN, bucketShift)
        .select(col(idCol).as("doc_id"), col("simhash"), col("sim_bucket")))
    fp.alias("a").join(fp.alias("b"),
        col("a.sim_bucket") === col("b.sim_bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        expr("bit_count(a.simhash ^ b.simhash)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("hamming"))
  }

  /** Multi-probe SimHash near-dup pairs: the recall-repair tier over
    * [[simhashNearDupPairs]]'s single-probe trade. A near-dup pair is
    * missed by single-probe bucketing exactly when one of its ≤
    * `maxHamming` differing bits falls in the bucket prefix; probing
    * `probes` ROTATED bucketings (rotate the 32-bit fingerprint left by
    * `k·32/probes`, re-bucket by the rotated high bits) gives every
    * fingerprint window a turn as the prefix, so a pair survives when ANY
    * window avoids its differing bits. Probe 0 is the identity rotation —
    * the result is a superset of the single-probe pairs by construction.
    *
    * Plan shape: same one-shuffle LSH family as [[candidatePairs]] — the
    * probe keys ride as an array, posexplode keys the self-join on
    * (probe, rotated-bucket), and the Hamming filter runs BEFORE the
    * pair distinct so only accepted pairs pay the dedup shuffle. Probes
    * multiply the band join's input `probes`-fold (the standard
    * multi-probe cost), never the corpus. */
  def multiProbeSimhashPairs(docs: DataFrame, maxHamming: Int,
                             probes: Int = 4,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             shingleN: Int = 3,
                             bucketShift: Int = 20): DataFrame = {
    require(probes >= 1 && probes <= 32,
      s"probes must be in [1, 32] (got $probes)")
    val step = 32 / probes
    // 32-bit rotate-left by k·step inside the long, then the same
    // high-bit bucket as single-probe; s = 0 degenerates to the identity
    // (x >> 32 is 0 for 32-bit fingerprints on both engines)
    val probeKeys = array((0 until probes).map { k =>
      val s = k * step
      expr(s"shiftright((shiftleft(simhash, $s) | " +
        s"shiftright(simhash, ${32 - s})) & 4294967295, $bucketShift)")
    }: _*)
    val fp = graft.CacheBarriers.barrier(
      withSimhash(docs, textCol, shingleN, bucketShift)
        .select(col(idCol).as("doc_id"), col("simhash"))
        .withColumn("pk", probeKeys))
    val bands = fp.select(col("doc_id"), col("simhash"),
      posexplode(col("pk")).as(Seq("probe", "bkt")))
    bands.alias("a").join(bands.alias("b"),
        col("a.probe") === col("b.probe") && col("a.bkt") === col("b.bkt") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        expr("bit_count(a.simhash ^ b.simhash)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("hamming"))
      .distinct()
  }

  /** Corpus-wide line census: (lh = md5(line), n_docs = distinct documents
    * carrying that line), for lines of at least `minChars` characters —
    * the persisted artifact behind [[lineDedup]], kept alongside the
    * corpus snapshot the way the dedup signature table is. One explode +
    * one two-phase aggregation; full line text never leaves the map side. */
  def lineCensus(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", minChars: Int = 10): DataFrame =
    docs.select(col(idCol),
        explode(split(col(textCol), "\n", -1)).as("line"))
      .filter(length(col("line")) >= minChars)
      .groupBy(md5(col("line")).as("lh"))
      .agg(countDistinct(col(idCol)).as("n_docs"))

  /** Fold a NEW batch of documents into a persisted line census without
    * re-reading the old corpus: per-hash doc counts are additive across
    * batches, so the merge is one aggregation over (existing ∪ new-batch
    * census) — census-sized, not corpus-sized.
    *
    * Append-only contract: batch ids must be previously unseen. A
    * re-delivered (updated) document would double-count every line it
    * kept, and an aggregate census cannot reconcile that — pipelines that
    * update documents in place must keep the per-(doc, line) table and
    * recount, the same trade [[incrementalNearDupPairs]] resolves by
    * keeping per-doc signatures.
    *
    * Same-`minChars` contract: the census is only meaningful under the
    * `minChars` it was BUILT with — an aggregate of (lh, n_docs) rows
    * carries no record of the gate, so merging with a different value
    * silently under-counts the lines only one side admitted. Callers must
    * pin `minChars` with the persisted census (the stream twin holds it
    * constant for the life of its state dir). */
  def mergeLineCensus(existing: DataFrame, newDocs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      minChars: Int = 10): DataFrame =
    existing.select(col("lh"), col("n_docs"))
      .unionByName(lineCensus(newDocs, idCol, textCol, minChars))
      .groupBy(col("lh"))
      .agg(sum(col("n_docs")).as("n_docs"))

  /** Corpus-level line deduplication (the C4 move, Raffel et al. 2020
    * §2.2, applied at line rather than three-sentence granularity): a
    * line that occurs in `minCount`-or-more *distinct documents* is
    * boilerplate (nav bars, cookie banners, license headers) and is
    * removed from every document; each document's text is reassembled
    * from its surviving lines in original order. Distinct-document
    * counting is deliberate — a line stuttered five times inside one
    * document is repetition ([[TextAnalysis.withRepetition]]'s job), not
    * corpus boilerplate. Lines shorter than `minChars` never enter the
    * census: an empty or "}" line is formatting, and at web scale the
    * short-line census would be the corpus's hottest keys for no recall.
    *
    * Returns (idCol, textCol [cleaned], n_lines, n_removed) — one row per
    * input document, docs reduced to nothing kept with empty text so the
    * caller decides their fate; a NULL-text document also keeps its row
    * (empty cleaned text, one unremovable line) rather than vanishing.
    *
    * Scale shape: the explode is narrow; the census is a two-phase
    * aggregation keyed on `md5(line)` (the same 128-bit collision stance
    * [[exactDupGroups]] takes — full text never rides the count shuffle);
    * the post-filter boilerplate set is tiny relative to the corpus, so
    * the removal join broadcasts under AQE. Reassembly is the one
    * unavoidable doc-keyed shuffle, carrying struct(pos, line) into a
    * partial-aggregated collect_list + array_sort — no window, no global
    * sort. */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", minCount: Int = 3,
                minChars: Int = 10): DataFrame = {
    // _outer keeps NULL-text documents in the output (as one null "line"
    // that is census-ineligible and join-transparent → empty cleaned
    // text), upholding the one-row-per-input contract
    val lines = docs.select(col(idCol),
      posexplode_outer(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    // census key: null for ineligible lines → never matches the join
    // below, and shared by the census branch so line ELIGIBILITY has
    // exactly one definition. Deliberately NOT persisted even though the
    // census and the reassembly both read it: caching the exploded line
    // table measured ~35% SLOWER than recomputing the narrow
    // scan→split→explode→md5 subtree (persist breaks the codegen
    // pipeline into both aggregations and serializes corpus×lines rows);
    // at a scale where the SOURCE scan dominates, write the line table
    // once and run census + reassembly from it instead
    val keyed = lines.withColumn("lh",
      when(length(col("line")) >= minChars, md5(col("line"))))
    val boiler = keyed.filter(col("lh").isNotNull)
      .groupBy(col("lh"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minCount)
      .select(col("lh"), lit(true).as("boiler"))
    keyed.join(boiler, Seq("lh"), "left")
      .withColumn("rm", col("boiler").isNotNull)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(!col("rm"),
              struct(col("pos"), col("line"))))),
            _.getField("line")),
          "\n").as(textCol),
        count(lit(1)).as("n_lines"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** SQL twin of [[withSimhash]]'s fingerprint over a hashed-shingle list
    * expression (DuckDB). */
  def sqlSimhash(hs: String): String =
    s"""CAST(list_sum(list_transform(range(0, 32), b ->
       | CASE WHEN 2 * len(list_filter($hs, h -> (h >> b) & 1 = 1)) >= len($hs)
       | THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)""".stripMargin.replaceAll("\n", "")

  // ── Exact-substring duplication signal (duplicated-span fraction) ─────

  /** Per-document duplicated-span fraction — the exact-substring-dedup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") at k-word-window granularity: for every
    * document, the fraction of its k-word window POSITIONS whose window
    * text also occurs in at least one OTHER document. Unlike the
    * line-census operators (line-granular, newline-delimited) or
    * [[verbatimOverlapPairs]] (pair-attributed), this is a per-doc
    * scalar a gate can threshold: a doc that is 80% verbatim-covered by
    * other docs scores 0.8 even when no single line or whole-doc hash
    * matches.
    *
    * Window convention (shared with TextAnalysis's rolling windows):
    * 0 words → 0 windows; fewer than k words → 1 whole-doc window;
    * otherwise len−k+1 positions. Positions are NOT distinct'd — a
    * window repeated inside one doc counts once per position (the span
    * fraction is positional coverage, not set overlap) — but the census
    * counts each (doc, gram) once, so intra-doc repetition alone never
    * marks a gram duplicated.
    *
    * Scale shape: one narrow shingling pass explodes ~n_words rows per
    * doc (the same cost family as the line census / verbatim overlap);
    * the gram census is a map-side-combined groupBy on the 64-bit
    * md5-prefix hash (never the window text); the per-doc count is a left-semi join
    * against the duplicated-gram set followed by a doc-keyed count. No
    * all-pairs anywhere; the widest shuffle key is the gram hash.
    *
    * Returns (doc_id, n_windows, n_dup_pos, dup_micro, keep): dup_micro
    * = floor(n_dup_pos·10⁶ / n_windows) in pure integer math (both
    * engines divide nonnegative longs), keep = dup_micro < maxFrac·10⁶.
    * Windowless docs (empty/NULL text) keep with dup_micro = 0. */
  def dupSpanStats(docs: DataFrame, k: Int = 8, maxFrac: Double = 0.5,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val (base, pos) = spanBaseAndPositions(docs, k, idCol, textCol)
    // count(DISTINCT doc_id) — ONE exchange (partial distinct maps,
    // shuffle keyed on g) where a (doc_id, g) distinct followed by a
    // g-keyed groupBy would shuffle the positional table twice
    val dupGrams = pos.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("g"))
    assembleSpanStats(base, pos, dupGrams, maxFrac)
  }

  /** Windowed base + positional gram rows shared by the batch and
    * incremental span operators: `base` carries (doc_id, ws, nw); `pos`
    * one (p, g) md5-hash row per window position (p is the 0-based
    * window start — the census paths ignore it; the span-coalescing
    * paths key their islands on it). Both are cache barriers — each is
    * consumed at least twice downstream. */
  private def spanBaseAndPositions(docs: DataFrame, k: Int, idCol: String,
                                   textCol: String)
      : (DataFrame, DataFrame) = {
    require(k >= 2, s"k=$k: a 1-word span signal is the vocab census")
    val base = graft.CacheBarriers.barrier(
      docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
        // NULL text ≡ empty text (0 windows, dup_micro 0, keep) — made
        // explicit so the contract does not ride on size(NULL) session
        // config (the withQuantileBucket lesson)
        .withColumn("nw",
          when(col("ws").isNull || size(col("ws")) === 0, lit(0))
            .when(size(col("ws")) < k, lit(1))
            .otherwise(size(col("ws")) - (k - 1)).cast("long")))
    // one gram row per window position: the 64-bit md5 prefix of the
    // joined window text (slice with len < k returns the whole doc — the
    // 1-window branch). NOT h32p: a census key is compared for EQUALITY
    // across the whole corpus with no exact-text confirm join, so the
    // 31-bit minhash keyspace would birthday-collide at corpus scale and
    // directly mark false duplicated positions (identically in both
    // engines — the oracle could never catch it).
    val pos = graft.CacheBarriers.barrier(
      base.select(col("doc_id"), posexplode(
        when(col("nw") === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0L), col("nw") - 1),
            i => TextHash.h64x(
              concat_ws(" ", slice(col("ws"), (i + 1).cast("int"), lit(k)))))))
        .as(Seq("p", "g")))
        .select(col("doc_id"), col("p").cast("long").as("p"), col("g")))
    (base, pos)
  }

  /** Per-doc duplicated-position coverage against a duplicated-gram set
    * — the one assembly both span paths (batch and incremental) share. */
  private def assembleSpanStats(base: DataFrame, pos: DataFrame,
                                dupGrams: DataFrame,
                                maxFrac: Double): DataFrame = {
    val dupPos = pos.join(dupGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_pos"))
    val thr = math.floor(maxFrac * 1e6).toLong
    base.select(col("doc_id"), col("nw").as("n_windows"))
      .join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"))
      .withColumn("dup_micro",
        when(col("n_windows") === 0, lit(0L))
          .otherwise(expr("n_dup_pos * 1000000 DIV n_windows")))
      .withColumn("keep", col("dup_micro") < thr)
  }

  /** The ADDITIVE span-census artifact: (g, n_docs) — the number of
    * DISTINCT documents containing each positional k-gram. Disjoint
    * batches contribute disjoint doc sets, so two batches' censuses
    * merge by pure addition ([[mergeSpanCensus]]) into EXACTLY the
    * union's census — the same artifact rule as the line census and the
    * curation counts. Grams are the 64-bit md5-prefix hash (16 fixed hex
    * chars — [[TextHash.h64x]]'s collision-stance note), so artifact
    * rows are fixed-width regardless of window text size. */
  def spanCensus(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val (_, pos) = spanBaseAndPositions(docs, k, idCol, textCol)
    spanCensusOfPositions(pos)
  }

  /** One-exchange distinct-doc census of a positional gram table (see
    * dupSpanStats for the count-distinct-vs-two-shuffles note). */
  private def spanCensusOfPositions(pos: DataFrame): DataFrame =
    pos.groupBy(col("g")).agg(countDistinct(col("doc_id")).as("n_docs"))

  /** Fold a new batch's census into a persisted artifact — pure addition
    * on the gram key. Batches must be doc-id-DISJOINT (the ingest
    * contract every incremental operator here shares); a doc present in
    * both would double-count its grams. */
  def mergeSpanCensus(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("g")).agg(sum(col("n_docs")).as("n_docs"))

  /** Incremental duplicated-span stats: score a NEW batch against the
    * union of a persisted census and itself, reading nothing of the old
    * corpus but the artifact — the run-over-run ingest shape. Returns
    * (stats for the new batch, merged census to persist).
    *
    * Identity (pinned by DupSpanSpec): the stats equal
    * `dupSpanStats(old ∪ new)` RESTRICTED to the new batch — a gram is
    * duplicated iff old-census + new-batch distinct-doc counts total
    * ≥ 2, and addition over disjoint doc sets makes the merged census
    * the union census exactly. Old docs are NOT re-scored: a b1 doc
    * whose spans become duplicated only when b2 arrives keeps its
    * b1-time verdict — the same convention as incremental near-dup
    * pairs (old-old pairs were previous runs' output; here old docs
    * were previous runs' rows). */
  def dupSpanStatsIncremental(newDocs: DataFrame, oldCensus: DataFrame,
                              k: Int = 8, maxFrac: Double = 0.5,
                              idCol: String = "doc_id",
                              textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val (base, pos) = spanBaseAndPositions(newDocs, k, idCol, textCol)
    val newCensus = spanCensusOfPositions(pos)
    val merged = graft.CacheBarriers.barrier(
      mergeSpanCensus(oldCensus, newCensus))
    val dupGrams = merged.filter(col("n_docs") >= 2).select(col("g"))
    (assembleSpanStats(base, pos, dupGrams, maxFrac), merged)
  }

  /** Maximal duplicated spans — the spans THEMSELVES, not just their
    * fraction: where [[dupSpanStats]] gates a doc on positional coverage,
    * this emits each doc's runs of duplicated window positions as
    * (doc_id, span_start, n_pos, span_words), the actionable output of
    * Lee et al. 2022's exact-substring dedup (cut the span, keep the
    * doc). Positions whose k-word window occurs in ≥2 distinct docs are
    * coalesced into maximal runs: a new span starts when the gap to the
    * previous duplicated position exceeds `coalesceGap` (1 = strictly
    * adjacent positions; `k` merges every pair of spans whose WORD
    * coverage overlaps or touches, which makes the output spans disjoint
    * in word space — what a cutting pass wants).
    *
    * `span_start` is the 0-based word index of the first covered word;
    * `n_pos` the run's duplicated-position count; `span_words` the exact
    * covered word count `min(span_end + k, n_words) − span_start` (the
    * short-doc 1-window branch covers the whole doc, never more).
    *
    * Scale shape: dup-position marking is the census + left-semi of
    * [[dupSpanStats]] (widest shuffle key: the 8-byte gram hash); the
    * coalescing is ONE extra exchange keyed on doc_id — a lag + running
    * sum + groupBy sharing a single doc-partitioned sort, partitions are
    * doc-sized, no global sort anywhere. */
  def maximalDupSpans(docs: DataFrame, k: Int = 8, coalesceGap: Int = 1,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(coalesceGap >= 1, s"coalesceGap=$coalesceGap: a span must at " +
      "least merge strictly adjacent positions")
    val (base, pos) = spanBaseAndPositions(docs, k, idCol, textCol)
    val dupGrams = pos.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("g"))
    assembleSpans(base, pos, dupGrams, k, coalesceGap)
  }

  /** Cut the duplicated spans OUT — Lee et al. 2022's actual dedup move
    * (remove the duplicated substring, keep the document). Spans come
    * from [[maximalDupSpans]] at `coalesceGap = k`, where islands whose
    * word coverage overlaps or touches have merged, so each island's
    * coverage is one contiguous, mutually disjoint word interval
    * `[span_start, span_start + span_words)`; the doc's surviving words
    * reassemble in original order. Returns (doc_id, text_cut, n_words,
    * cut_words, n_spans, max_span_words) for EVERY input doc — untouched
    * docs carry zero span stats.
    *
    * Reassembly is word-level: `text_cut` is the surviving words joined
    * by single spaces (the [[lineDedup]] convention one granularity
    * down) — original inter-word whitespace is not preserved, a fully
    * covered or empty/NULL doc yields `""`. Cutting beats dropping when
    * duplication is concentrated: a 95%-unique doc with one boilerplate
    * paragraph keeps its 95% where a [[dupSpanStats]] gate at the same
    * k would have to choose all-or-nothing.
    *
    * Scale shape: the census + islands of [[maximalDupSpans]], plus one
    * doc-keyed join of the per-doc span list (collect_list over spans of
    * ONE doc — bounded by doc length, never corpus-sized) back onto the
    * word arrays; the word filter is a per-row higher-order function,
    * zero extra shuffle beyond the span groupBy. */
  def cutDupSpans(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val (base, pos) = spanBaseAndPositions(docs, k, idCol, textCol)
    val dupGrams = pos.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("g"))
    assembleCut(base, pos, dupGrams, k)
  }

  /** Incremental span cut: cut a NEW batch against a persisted span
    * census plus itself — [[dupSpanStatsIncremental]]'s contract with
    * [[cutDupSpans]]'s output. The cut of a doc depends only on its own
    * positions and the duplicated-gram set, and addition over
    * doc-disjoint batches makes the merged census the union census
    * exactly, so the identity holds verbatim: output ≡
    * `cutDupSpans(old ∪ new)` RESTRICTED to the new batch (pinned by
    * DupSpanSpec). Old docs keep their cut-time text — a b1 doc whose
    * spans become duplicated only when b2 arrives is not re-cut, the
    * same convention as every incremental operator here. Returns
    * (cut new batch, merged census to persist). */
  def cutDupSpansIncremental(newDocs: DataFrame, oldCensus: DataFrame,
                             k: Int = 8, idCol: String = "doc_id",
                             textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val (base, pos) = spanBaseAndPositions(newDocs, k, idCol, textCol)
    val merged = graft.CacheBarriers.barrier(
      mergeSpanCensus(oldCensus, spanCensusOfPositions(pos)))
    val dupGrams = merged.filter(col("n_docs") >= 2).select(col("g"))
    (assembleCut(base, pos, dupGrams, k), merged)
  }

  /** Intra-document span dedup — the SELF-repeat complement of
    * [[cutDupSpans]]: cut spans a document repeats WITHIN itself
    * (stuttered boilerplate, looped scrape artifacts, copy-paste
    * sections), keeping each repeated region's FIRST occurrence. The
    * cross-doc operators deliberately never mark intra-doc repetition
    * (the census counts each (doc, gram) once); this is the operator
    * that does — Lee et al. 2022 dedup within documents as well as
    * across them.
    *
    * A position is marked iff its k-word window already occurred at an
    * earlier position of the SAME doc (`p > min(p) over (doc, gram)`),
    * so the first occurrence always survives and a doc of N identical
    * halves keeps exactly one. Marked positions coalesce at gap = k and
    * cut exactly like [[cutDupSpans]] — same output schema, same
    * reassembly convention.
    *
    * Scale shape: ONE shuffle keyed on (doc_id, gram-hash) for the
    * first-occurrence window, then the shared doc-keyed islands + cut;
    * nothing is corpus-global — each doc's marking depends on that doc
    * alone, so the operator is embarrassingly parallel across docs. */
  def intraDocDedup(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (base, pos) = spanBaseAndPositions(docs, k, idCol, textCol)
    val firstOcc = Window.partitionBy("doc_id", "g")
    val marked = pos
      .withColumn("__minp", min(col("p")).over(firstOcc))
      .filter(col("p") > col("__minp"))
      .select(col("doc_id"), col("p"))
    cutFromMarked(base, marked, k)
  }

  /** The cut + reassembly shared by the batch and incremental span-cut
    * paths (spans at gap = k → per-doc span list → word filter). */
  private def assembleCut(base: DataFrame, pos: DataFrame,
                          dupGrams: DataFrame, k: Int): DataFrame =
    cutFromMarked(base,
      pos.join(dupGrams, Seq("g"), "left_semi")
        .select(col("doc_id"), col("p")),
      k)

  /** Cut + reassembly over an already-marked (doc_id, p) frame. */
  private def cutFromMarked(base: DataFrame, marked: DataFrame,
                            k: Int): DataFrame = {
    val spans = spansFromMarked(base, marked, k, gap = k)
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_words")))
          .as("__spans"),
        count(lit(1)).as("n_spans"), max(col("span_words")).as("max_span_words"),
        sum(col("span_words")).as("cut_words"))
    val kept = transform(
      filter(
        transform(col("ws"), (w, i) =>
          struct(w.as("w"), i.cast("long").as("i"))),
        s => !exists(col("__spans"), sp =>
          s.getField("i") >= sp.getField("span_start") &&
            s.getField("i") < sp.getField("span_start") +
              sp.getField("span_words"))),
      s => s.getField("w"))
    base.select(col("doc_id"), col("ws"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<span_start:bigint,span_words:bigint>>")))
      .select(col("doc_id"),
        when(col("ws").isNull, lit("")).otherwise(concat_ws(" ", kept))
          .as("text_cut"),
        when(col("ws").isNull, lit(0L)).otherwise(size(col("ws")).cast("long"))
          .as("n_words"),
        coalesce(col("cut_words"), lit(0L)).as("cut_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_words"), lit(0L)).as("max_span_words"))
  }

  /** Gaps-and-islands over a doc's duplicated positions — shared by the
    * batch and (future) incremental span-cut paths. One doc_id-keyed
    * exchange: lag and the running break-sum ride the same
    * doc-partitioned sort. */
  private def assembleSpans(base: DataFrame, pos: DataFrame,
                            dupGrams: DataFrame, k: Int,
                            gap: Int): DataFrame =
    spansFromMarked(base,
      pos.join(dupGrams, Seq("g"), "left_semi")
        .select(col("doc_id"), col("p")),
      k, gap)

  /** Islands over an already-marked (doc_id, p) position frame — the
    * cross-doc paths mark by census semi-join, the intra-doc path by
    * first-occurrence window; everything downstream is shared. */
  private def spansFromMarked(base: DataFrame, marked: DataFrame, k: Int,
                              gap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("doc_id").orderBy("p")
    val running = byPos.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val spans = marked
      // first position of a doc: lag is NULL, the comparison is NULL,
      // otherwise(0) — island 0 starts implicitly
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(byPos) > gap, 1L)
          .otherwise(lit(0L)))
      .withColumn("island", sum(col("brk")).over(running))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("span_start"), max(col("p")).as("__span_end"),
        count(lit(1)).as("n_pos"))
    spans
      .join(base.select(col("doc_id"),
        when(col("ws").isNull, lit(0L))
          .otherwise(size(col("ws")).cast("long")).as("__n_words")),
        Seq("doc_id"))
      .select(col("doc_id"), col("span_start"), col("n_pos"),
        (least(col("__span_end") + k, col("__n_words")) -
          col("span_start")).as("span_words"))
  }

  /** DuckDB CTE fragment replaying [[dupSpanStats]] over a (doc_id, text)
    * CTE `src`, ending at `spanstats(doc_id, n_windows, n_dup_pos,
    * dup_micro, keep)` — same window convention, same 64-bit md5-prefix
    * gram hash, same integer division. */
  def sqlDupSpanCtes(src: String, k: Int, maxFrac: Double): String = {
    val w = TextHash.sqlWords("text")
    val thr = math.floor(maxFrac * 1e6).toLong
    s"""spanw AS (SELECT doc_id, $w AS ws FROM $src),
       |spannw AS (SELECT doc_id, ws,
       |                  CASE WHEN ws IS NULL OR len(ws) = 0 THEN 0
       |                       WHEN len(ws) < $k THEN 1
       |                       ELSE len(ws) - ${k - 1} END AS nw
       |           FROM spanw),
       |spanpos AS (
       |  SELECT doc_id,
       |         unnest(range(0, nw)) AS p,
       |         unnest(list_transform(range(0, nw), i ->
       |           ${TextHash.sqlH64x(s"array_to_string(ws[i+1:i+$k], ' ')")})) AS g
       |  FROM spannw),
       |spandup AS (
       |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM spanpos)
       |  GROUP BY g HAVING count(*) >= 2),
       |spancnt AS (
       |  SELECT doc_id, count(*) AS n_dup_pos
       |  FROM spanpos WHERE g IN (SELECT g FROM spandup) GROUP BY doc_id),
       |spanstats AS (
       |  SELECT n.doc_id, CAST(n.nw AS BIGINT) AS n_windows,
       |         CAST(coalesce(c.n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
       |         CAST(CASE WHEN n.nw = 0 THEN 0
       |              ELSE (coalesce(c.n_dup_pos, 0) * 1000000) // n.nw
       |              END AS BIGINT) AS dup_micro,
       |         CASE WHEN n.nw = 0 THEN 0
       |              ELSE (coalesce(c.n_dup_pos, 0) * 1000000) // n.nw
       |              END < $thr AS keep
       |  FROM spannw n LEFT JOIN spancnt c ON n.doc_id = c.doc_id)""".stripMargin
  }

  /** DuckDB CTE fragment replaying [[maximalDupSpans]]'s gaps-and-islands
    * — appended after [[sqlDupSpanCtes]] (it references `spanpos`,
    * `spandup`, `spannw`), ending at `spanout(doc_id, span_start, n_pos,
    * span_words)`. Same lag + running-sum island construction, same
    * exact-coverage `least(span_end + k, n_words)` arithmetic. */
  def sqlDupSpanIslandCtes(k: Int, gap: Int): String =
    s"""spandpos AS (
       |  SELECT doc_id, p FROM spanpos WHERE g IN (SELECT g FROM spandup)),
       |${sqlSpanIslandBody(k, gap)}""".stripMargin

  /** DuckDB CTE fragment replaying [[intraDocDedup]]'s marking — the
    * first-occurrence window over (doc, gram) — feeding the same island
    * body. Appended after [[sqlDupSpanCtes]]; ends at `spanout`. */
  def sqlIntraSpanIslandCtes(k: Int, gap: Int): String =
    s"""spandpos AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, p,
       |           min(p) OVER (PARTITION BY doc_id, g) AS minp
       |    FROM spanpos)
       |  WHERE p > minp),
       |${sqlSpanIslandBody(k, gap)}""".stripMargin

  /** The shared lag + running-sum island CTEs over a marked `spandpos`
    * (doc_id, p) frame, ending at `spanout`. */
  private def sqlSpanIslandBody(k: Int, gap: Int): String =
    s"""spanbrk AS (
       |  SELECT doc_id, p,
       |         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
       |                   > $gap
       |              THEN 1 ELSE 0 END AS brk
       |  FROM spandpos),
       |spanisl AS (
       |  SELECT doc_id, p,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
       |                        ROWS UNBOUNDED PRECEDING) AS island
       |  FROM spanbrk),
       |spangrp AS (
       |  SELECT doc_id, min(p) AS span_start, max(p) AS span_end,
       |         count(*) AS n_pos
       |  FROM spanisl GROUP BY doc_id, island),
       |spanout AS (
       |  SELECT s.doc_id,
       |         CAST(s.span_start AS BIGINT) AS span_start,
       |         CAST(s.n_pos AS BIGINT) AS n_pos,
       |         CAST(least(s.span_end + $k, coalesce(len(n.ws), 0))
       |              - s.span_start AS BIGINT) AS span_words
       |  FROM spangrp s JOIN spannw n USING (doc_id))""".stripMargin

  /** DuckDB CTE fragment replaying [[cutDupSpans]]'s reassembly —
    * appended after [[sqlDupSpanIslandCtes]] (built at gap = k; it
    * references `spannw` and `spanout`), ending at `spancut(doc_id,
    * text_cut, n_words, cut_words, n_spans, max_span_words)`. The word
    * positions unnest once, covered positions anti-join against the
    * span intervals, survivors string_agg back in position order. */
  def sqlDupSpanCutCtes: String =
    s"""spanwp AS (
       |  SELECT doc_id, unnest(ws) AS w,
       |         unnest(range(0, len(ws))) AS p
       |  FROM spannw),
       |spankeep AS (
       |  SELECT wp.doc_id, wp.p, wp.w FROM spanwp wp
       |  WHERE NOT EXISTS (SELECT 1 FROM spanout c
       |                    WHERE c.doc_id = wp.doc_id
       |                      AND wp.p >= c.span_start
       |                      AND wp.p < c.span_start + c.span_words)),
       |spancutdoc AS (
       |  SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS text_cut
       |  FROM spankeep GROUP BY doc_id),
       |spanagg AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |         max(span_words) AS max_span_words,
       |         sum(span_words) AS cut_words
       |  FROM spanout GROUP BY doc_id),
       |spancut AS (
       |  SELECT n.doc_id, coalesce(c.text_cut, '') AS text_cut,
       |         CAST(coalesce(len(n.ws), 0) AS BIGINT) AS n_words,
       |         CAST(coalesce(a.cut_words, 0) AS BIGINT) AS cut_words,
       |         CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
       |         CAST(coalesce(a.max_span_words, 0) AS BIGINT)
       |           AS max_span_words
       |  FROM spannw n LEFT JOIN spancutdoc c USING (doc_id)
       |                LEFT JOIN spanagg a USING (doc_id))""".stripMargin
}
