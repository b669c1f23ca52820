package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One applied merge: at `rank`, symbol pair (a, b) — the corpus's most
  * frequent adjacent pair at that point — fused into `a+b`; `n` is its
  * weighted occurrence count when picked. */
final case class BpeMerge(rank: Int, a: String, b: String, n: Long)

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") as a
  * Spark job — the step a training-data pipeline runs BEFORE token
  * counting means anything: learn the merge table that defines the
  * subword vocabulary from the corpus itself.
  *
  * The scale trick is Sennrich's own: train on the WORD CENSUS, not the
  * corpus. [[wordCensus]] is the only corpus-sized pass (one shuffle on
  * the word); every training round then runs on the vocabulary-sized
  * census — one map-side-combined pair aggregation, a 1-row argmax
  * collect, and one narrow per-word rewrite. At web scale the census is
  * tens of millions of rows against billions of documents; rounds cost
  * vocabulary work, not corpus work.
  *
  * Determinism across engines (q122's oracle replays every round):
  * the census is restricted to `[a-z0-9]+` words (unicode char-split
  * semantics differ between a UTF-16 JVM regex and DuckDB's UTF-8 — the
  * alnum core sidesteps the entire class); pair counts are exact
  * integers; the merge pick orders (count DESC, a ASC, b ASC); and the
  * greedy left-to-right non-overlapping merge application is replayed
  * in SQL as gaps-and-islands over match runs (consecutive matches only
  * exist when a = b, where greedy keeps alternating starts — for a ≠ b
  * two adjacent matches would need the same symbol to equal both).
  */
object Bpe {

  /** (w, n): corpus word census over the `[a-z0-9]+` core — the one
    * corpus-sized pass. ADDITIVE across doc-disjoint batches (counts
    * sum), like every census artifact in the repo. */
  def wordCensus(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextHash.words(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Fold a new batch's word census into a persisted one — pure
    * addition on the word (the merge contract of every census). */
  def mergeWordCensus(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("w")).agg(sum(col("n")).as("n"))

  /** (w, n, syms): each census word split to single-character symbols —
    * round 0's segmentation. */
  def initSyms(census: DataFrame): DataFrame =
    census.select(col("w"), col("n"),
      regexp_extract_all(col("w"), lit("[a-z0-9]"), lit(0)).as("syms"))

  /** (a, b, n): the weighted adjacent-pair census of the current
    * segmentation — every adjacent pair of every word, times the word's
    * corpus count (overlaps count, per the reference algorithm). */
  def pairCensus(syms: DataFrame): DataFrame =
    syms.select(col("n"),
        explode(zip_with(col("syms"),
          slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .filter(col("p").getField("b").isNotNull)
      .groupBy(col("p").getField("a").as("a"), col("p").getField("b").as("b"))
      .agg(sum(col("n")).as("n"))

  /** Greedy left-to-right non-overlapping application of one merge —
    * the per-word scan is inherently sequential (position i+1's fate
    * depends on whether i merged), so it is a compiled per-row loop
    * (the justified-UDF class of the simhash fold), not column algebra;
    * the frame stays narrow. */
  private val applyMergeU = udf { (syms: Seq[String], a: String, b: String) =>
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Train `nMerges` rounds from a word census. Returns the merge table
    * (the tokenizer artifact a pipeline ships) and the final
    * segmentation frame (w, n, syms). Stops early if no adjacent pair
    * remains (every word fused to one symbol). Each round's rewritten
    * frame is an eager [[graft.CacheBarriers.truncate]]: the rewrite chain
    * would otherwise accrete one UDF stage of lineage per round, and the
    * frame is vocabulary-sized. The superseded round is released at once,
    * so one round's blocks are live at a time. */
  def train(census: DataFrame, nMerges: Int): (Seq[BpeMerge], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 10000,
      s"nMerges=$nMerges out of range")
    var syms = graft.CacheBarriers.truncate(initSyms(census), eager = true)
    val merges = scala.collection.mutable.ArrayBuffer[BpeMerge]()
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val top = pairCensus(syms)
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += BpeMerge(r, a, b, n)
        val prev = syms
        syms = graft.CacheBarriers.truncate(syms.select(col("w"), col("n"),
          applyMergeU(col("syms"), lit(a), lit(b)).as("syms")), eager = true)
        graft.CacheBarriers.release(prev)
        r += 1
      }
    }
    (merges.toSeq, syms)
  }

  /** (sym, n): the weighted symbol census of a segmentation — the
    * subword vocabulary report after training. */
  def symbolCensus(syms: DataFrame): DataFrame =
    syms.select(col("n"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("n")).as("n"))

  /** (w, n_sub): each word's subword count under a trained segmentation
    * — the lookup table a tokenizer SHIPS (vocabulary-sized; broadcast
    * below the join threshold, hash-joined above it). */
  def segmentCounts(syms: DataFrame): DataFrame =
    syms.select(col("w"), size(col("syms")).cast("long").as("n_sub"))

  /** Per-document BPE token count via the vocabulary lookup table — the
    * REAL token counter the mixture planner and packing budgets want
    * (q38's regex count is the model-free approximation). One narrow
    * word explode, one vocabulary-sized join, one doc-keyed sum; no
    * per-document merge replay anywhere near the corpus. Words outside
    * the table (non-alnum, or unseen by an older table) fall back to
    * their character count — the unmerged segmentation, an exact upper
    * bound that degrades conservatively. Wordless (empty/NULL) docs
    * count 0. */
  def withBpeTokens(docs: DataFrame, segCounts: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val wp = docs.select(col(idCol),
      explode(TextHash.words(col(textCol))).as("w"))
    val counted = wp.join(segCounts, Seq("w"), "left")
      .select(col(idCol),
        coalesce(col("n_sub"), length(col("w")).cast("long")).as("__t"))
      .groupBy(col(idCol)).agg(sum(col("__t")).as("__bt"))
    docs.join(counted, Seq(idCol), "left")
      .withColumn("bpe_tokens", coalesce(col("__bt"), lit(0L)))
      .drop("__bt")
  }

  /** Re-derive segmentation for ARBITRARY words by replaying the trained
    * rank-ordered merge list — the tokenizer APPLY step every deployment
    * ships next to the merge table: char-split on the same `[a-z0-9]`
    * core as training ([[initSyms]]'s split, so characters outside the
    * core are dropped identically), then each merge applies greedily
    * left-to-right in rank order — exactly what training did round by
    * round, so on census words the replay reproduces the trained
    * segmentation IDENTICALLY (BpeSpec pins the identity), and on words
    * the census never saw it produces the segmentation the trained
    * tokenizer would emit — the exact count [[withBpeTokens]]'s
    * character-count fallback only bounds.
    *
    * The per-word merge loop is a compiled per-row scan (the justified
    * per-row-walk class of [[applyMergeU]]): O(|merges|·|word|) per
    * word, vocabulary work applied to a words frame — at 100 TB the
    * frame is the distinct unseen-word set (census-class cardinality),
    * never the corpus. Returns `words` with a `syms` column. */
  def segmentWithMerges(words: DataFrame, merges: Seq[BpeMerge],
                        wordCol: String = "w"): DataFrame = {
    val ms = merges.sortBy(_.rank).map(m => (m.a, m.b)).toArray
    val core = "[a-z0-9]".r
    val replayU = udf { (w: String) =>
      if (w == null) null
      else {
        var syms: Array[String] = core.findAllIn(w).toArray
        var mi = 0
        while (mi < ms.length) {
          val (a, b) = ms(mi)
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b
              i += 2
            } else {
              out += syms(i)
              i += 1
            }
          }
          syms = out.toArray
          mi += 1
        }
        syms.toSeq
      }
    }
    words.withColumn("syms", replayU(col(wordCol)))
  }

  /** [[withBpeTokens]] with the fallback made EXACT: words outside the
    * shipped lookup table re-derive their subword count by replaying the
    * merge list ([[segmentWithMerges]]) instead of bounding it by
    * character count. The replay runs over the DISTINCT missing words
    * only — census-class cardinality, never the corpus — and characters
    * outside the `[a-z0-9]` core contribute 0 (training's own split),
    * where the old fallback counted them; that is the conservative
    * bound this variant exists to remove. Wordless docs count 0. */
  def withBpeTokensReplay(docs: DataFrame, segCounts: DataFrame,
                          merges: Seq[BpeMerge],
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val wp = graft.CacheBarriers.barrier(docs.select(col(idCol),
      explode(TextHash.words(col(textCol))).as("w")))
    val missing = wp.select(col("w")).distinct()
      .join(segCounts.select(col("w")), Seq("w"), "left_anti")
    val replayed = segmentWithMerges(missing, merges)
      .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    val full = segCounts.select(col("w"), col("n_sub"))
      .unionByName(replayed)
    val counted = wp.join(full, Seq("w"), "left")
      .select(col(idCol), coalesce(col("n_sub"), lit(0L)).as("__t"))
      .groupBy(col(idCol)).agg(sum(col("__t")).as("__bt"))
    docs.join(counted, Seq(idCol), "left")
      .withColumn("bpe_tokens", coalesce(col("__bt"), lit(0L)))
      .drop("__bt")
  }

  /** Tokenizer coverage card — per source: how much of the corpus the
    * trained vocabulary table actually covers, and what the
    * character-count fallback costs. An old tokenizer scoring a new
    * crawl silently degrades through [[withBpeTokens]]'s conservative
    * fallback; this card makes the degradation a NUMBER per source
    * (coverage_micro, fallback token share) so a retrain decision is
    * read off a report instead of discovered in a budget overrun.
    * Returns (source, n_docs, n_words, n_covered, coverage_micro,
    * bpe_tokens, fallback_tokens), shares in exact truncating integer
    * division.
    *
    * Scale shape: [[withBpeTokens]]'s exact plan re-keyed by source —
    * one narrow word explode, one vocabulary-sized join (broadcast-able),
    * one source-keyed map-side-combined aggregation; the doc count is a
    * second source-keyed aggregation on the raw table. Nothing
    * corpus-sized persists or collects. */
  def coverageCard(docs: DataFrame, segCounts: DataFrame,
                   srcCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val wp = docs.select(col(srcCol).as("source"),
      explode(TextHash.words(col(textCol))).as("w"))
    val agg = wp.join(segCounts, Seq("w"), "left")
      .select(col("source"), col("n_sub"),
        coalesce(col("n_sub"), length(col("w")).cast("long")).as("__t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("__nw"), count(col("n_sub")).as("__nc"),
        sum(col("__t")).as("__bt"),
        coalesce(sum(when(col("n_sub").isNull, col("__t"))), lit(0L))
          .as("__ft"))
    docs.select(col(srcCol).as("source")).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .join(agg, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("__nw"), lit(0L)).as("n_words"),
        coalesce(col("__nc"), lit(0L)).as("n_covered"),
        coalesce(col("__bt"), lit(0L)).as("bpe_tokens"),
        coalesce(col("__ft"), lit(0L)).as("fallback_tokens"))
      .withColumn("coverage_micro",
        expr("n_covered * 1000000L DIV greatest(n_words, 1L)"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_covered"), col("coverage_micro"), col("bpe_tokens"),
        col("fallback_tokens"))
  }

  // ── Tokenizer persistence ─────────────────────────────────────────────

  /** Persist the tokenizer artifact: the merge table under `_merges`
    * (rank-ordered — THE tokenizer definition, config-sized) and the
    * trained segmentation under `segments` (vocabulary-sized, the
    * lookup table [[withBpeTokens]] joins). A deployment retrains
    * BETWEEN runs from the rolled-forward word census
    * ([[mergeWordCensus]] — exact, so census(b1)+census(b2) trains the
    * same table as the full union) and ships the refreshed artifact,
    * the [[QualityModel]] convention. */
  def writeTokenizer(dir: String, merges: Seq[BpeMerge],
                     syms: DataFrame): Unit = {
    val spark = syms.sparkSession
    spark.createDataFrame(merges).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_merges")
    syms.write.mode("overwrite").parquet(s"$dir/segments")
  }

  /** The stored merge table, rank-ordered. */
  def readMerges(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Seq[BpeMerge] =
    spark.read.parquet(s"$dir/_merges").orderBy(col("rank")).collect()
      .map(r => BpeMerge(r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq

  /** The stored segmentation frame (w, n, syms). */
  def readSegments(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame =
    spark.read.parquet(s"$dir/segments")

  // ── DuckDB twin ───────────────────────────────────────────────────────

  /** The merge-application CTE block for round `r` over segmentation
    * prefix `p`: `$p${r-1}(w, n, syms)` + pick `bpt$r(a, b, cnt)` →
    * `$p$r(w, n, syms)`. Greedy non-overlap as gaps-and-islands:
    * positions matching (a, b) group into runs of consecutive j; a merge
    * STARTS at the odd row_numbers of each run (run offsets 0, 2, …);
    * position j+1 of a start is consumed. The LEFT JOIN ON true keeps
    * the frame alive when the pick is empty (training exhausted).
    * Parameterizing the prefix lets [[sqlApplyCtes]] replay the SAME
    * application against a different word set (the apply chain) without
    * colliding with the training chain's names; `pick` and `mergedSql`
    * let [[WordPiece]] reuse the identical gaps-and-islands apply with
    * its own pick CTEs and `a + strip-##(b)` fusion. */
  private[llm] def sqlStepOn(p: String, r: Int, pick: String = "bpt",
      mergedSql: (String, String) => String =
        (a, b) => s"$a || $b"): String = {
    val prev = s"$p${r - 1}"
    s"""${p}x$r AS MATERIALIZED (SELECT s.w, s.n, s.syms, t.a, t.b
       |          FROM $prev s LEFT JOIN $pick$r t ON true),
       |${p}p$r AS MATERIALIZED (SELECT w, n, a, b, j, syms[j] AS s,
       |                 (a IS NOT NULL AND syms[j] = a
       |                  AND j < len(syms) AND syms[j+1] = b) AS m
       |          FROM ${p}x$r, unnest(range(1, len(syms) + 1)) AS u(j)),
       |${p}g$r AS MATERIALIZED (SELECT w, j,
       |                 j - row_number() OVER (PARTITION BY w ORDER BY j) AS grp
       |          FROM ${p}p$r WHERE m),
       |${p}st$r AS MATERIALIZED (SELECT w, j FROM (
       |             SELECT w, j, row_number() OVER (PARTITION BY w, grp
       |                                             ORDER BY j) AS rn
       |             FROM ${p}g$r) WHERE rn % 2 = 1),
       |${p}n$r AS MATERIALIZED (SELECT p.w, p.n, p.j,
       |                 CASE WHEN st.j IS NOT NULL
       |                      THEN ${mergedSql("p.a", "p.b")}
       |                      ELSE p.s END AS s
       |          FROM ${p}p$r p
       |          LEFT JOIN ${p}st$r st ON p.w = st.w AND p.j = st.j
       |          LEFT JOIN ${p}st$r cons ON p.w = cons.w AND p.j = cons.j + 1
       |          WHERE cons.j IS NULL),
       |$p$r AS MATERIALIZED (SELECT w, n, list(s ORDER BY j) AS syms
       |          FROM ${p}n$r GROUP BY w, n)""".stripMargin
  }
  private def sqlStep(r: Int): String = sqlStepOn("bps", r)

  /** The pair census + pick for round `r` over `bps${r-1}`. */
  private def sqlPick(r: Int): String = {
    val prev = s"bps${r - 1}"
    s"""bpc$r AS MATERIALIZED (SELECT syms[j] AS a, syms[j+1] AS b, sum(n) AS cnt
       |          FROM $prev, unnest(range(1, len(syms))) AS u(j)
       |          GROUP BY 1, 2),
       |bpt$r AS MATERIALIZED (SELECT a, b, cnt FROM bpc$r
       |          ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""".stripMargin
  }

  /** Application replay over an arbitrary word CTE `wordsSrc(w)`: the
    * SQL twin of [[segmentWithMerges]] — char-split each word on the
    * training core, then run the SAME per-round gaps-and-islands apply
    * against the training chain's picks `bpt1 … bpt$k` (so this block
    * must be spliced AFTER [[sqlTrainCtes]]). Ends with the applied
    * segmentation `aps$k(w, n, syms)`.
    *
    * Words whose `[a-z0-9]` char-split is EMPTY (no training-core
    * characters at all) must survive with `syms = []` — that is what
    * [[segmentWithMerges]] returns for them, and the per-position
    * unnest in the round CTEs would silently drop a zero-position word
    * from every subsequent round. The final CTE LEFT JOINs the last
    * round back onto the full word source with a COALESCE to the empty
    * list, so the twin keeps empty-segmentation rows row-for-row with
    * the Scala API. */
  def sqlApplyCtes(wordsSrc: String, k: Int): String = {
    val rounds = (1 to k).map(r => sqlStepOn("apr", r)).mkString(",\n")
    s"""apr0 AS MATERIALIZED (SELECT w, 1 AS n,
       |          regexp_extract_all(w, '[a-z0-9]') AS syms FROM $wordsSrc),
       |$rounds,
       |aps$k AS MATERIALIZED (SELECT s.w, s.n,
       |          COALESCE(r.syms, []) AS syms
       |          FROM apr0 s LEFT JOIN apr$k r ON s.w = r.w)""".stripMargin
  }

  /** Full training replay over a `(doc_id, text)` CTE `src`: word
    * census, char segmentation, `k` pick+apply rounds. Ends with the
    * merge table `bpmerges(rank, a, b, cnt)` (one row per non-exhausted
    * round) and the final segmentation `bps$k`. */
  def sqlTrainCtes(src: String, k: Int): String = {
    val rounds = (1 to k).map(r => s"${sqlPick(r)},\n${sqlStep(r)}")
      .mkString(",\n")
    val merges = (1 to k)
      .map(r => s"SELECT $r AS rank, a, b, cnt FROM bpt$r")
      .mkString("\n           UNION ALL ")
    s"""bpw AS MATERIALIZED (SELECT w, count(*) AS n FROM (
       |          SELECT unnest(${TextHash.sqlWords("text")}) AS w FROM $src)
       |        WHERE regexp_matches(w, '^[a-z0-9]+${"$"}') GROUP BY w),
       |bps0 AS MATERIALIZED (SELECT w, n, regexp_extract_all(w, '[a-z0-9]') AS syms
       |         FROM bpw),
       |$rounds,
       |bpmerges AS MATERIALIZED ($merges)""".stripMargin
  }
}
