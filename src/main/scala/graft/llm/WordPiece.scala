package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One applied WordPiece merge: at `rank`, symbol pair (a, b) fused
  * into `ab` (= a + b without b's `##` continuation marker); `cnt` is
  * the pair's weighted count and `score_micro` the likelihood score
  * `cnt·10⁶ DIV (cnt_a · cnt_b)` that elected it. */
final case class WpMerge(rank: Int, a: String, b: String, ab: String,
                         cnt: Long, score_micro: Long)

/** WordPiece tokenizer training + greedy longest-match segmentation
  * (Schuster & Nakajima 2012; the BERT tokenizer) — the third member
  * of the tokenizer trio next to [[Bpe]] (frequency-picked merges) and
  * [[Unigram]] (EM-pruned vocabulary): WordPiece trains like BPE but
  * elects each merge by LIKELIHOOD GAIN — `count(ab) / (count(a) ·
  * count(b)` — and segments by greedy longest-prefix match with `##`
  * continuation pieces and a hard `[UNK]` fallback.
  *
  * Scale shape is [[Bpe]]'s own: train on the WORD CENSUS (the one
  * corpus-sized shuffle), then every round is vocabulary-sized work —
  * two map-side-combined censuses (pairs + symbols), a 1-row argmax
  * collect, one narrow per-word rewrite. Segmentation also runs on the
  * distinct-word census and joins back to documents, so the corpus
  * never pays per-occurrence DP.
  *
  * Determinism across engines (the q239/q240 oracles replay every
  * round and every greedy step): the census is the `[a-z0-9]+` core
  * with `MinCount`/`MaxWordLen` bounds; scores are integer micro
  * (positive truncation ≡ floor on both engines); picks order
  * (score_micro DESC, a ASC, b ASC); the greedy apply is the same
  * gaps-and-islands replay as BPE's; and the longest-match walk is a
  * bounded column fold whose SQL twin unrolls one CTE per consumed
  * character. */
object WordPiece {

  /** Words rarer than this stay out of training (the standard
    * min-frequency floor) — which is also what makes `[UNK]` REAL:
    * a singleton word can hold a (position, char) combination the
    * trained alphabet never saw. */
  val MinCount = 2L

  /** Longest census word trained or segmented; longer words are
    * `[UNK]` at inference (HuggingFace's max_input_chars_per_word
    * discipline, tightened to the fixture scale). Bounds the greedy
    * fold and the oracle's CTE unroll. */
  val MaxWordLen = 12

  val Unk = "[UNK]"

  /** The eligibility contract shared by training, inference, and the
    * oracle: the alnum core, length 1..MaxWordLen. */
  val EligibleRe: String = s"^[a-z0-9]{1,$MaxWordLen}$$"

  /** Training census: the corpus word census restricted to eligible
    * words at `MinCount` — census-sized, ADDITIVE across batches
    * upstream ([[Bpe.wordCensus]] / [[Bpe.mergeWordCensus]]). */
  def trainCensus(census: DataFrame): DataFrame =
    census.filter(col("w").rlike(EligibleRe) && col("n") >= MinCount)

  /** (w, n, syms): round-0 segmentation — first character plain,
    * continuations `##`-prefixed (the WordPiece alphabet). */
  def initSyms(census: DataFrame): DataFrame =
    census
      .withColumn("__cs",
        regexp_extract_all(col("w"), lit("[a-z0-9]"), lit(0)))
      .withColumn("syms", expr(
        """transform(sequence(1, size(__cs)), j ->
          |  IF(j = 1, element_at(__cs, j),
          |     concat('##', element_at(__cs, j))))"""
          .stripMargin.replaceAll("\n", " ")))
      .select(col("w"), col("n"), col("syms"))

  /** (s, u): the weighted symbol census of a segmentation — the
    * denominator of the likelihood score. */
  def symbolCensus(syms: DataFrame): DataFrame =
    syms.select(col("n"), explode(col("syms")).as("s"))
      .groupBy(col("s")).agg(sum(col("n")).as("u"))

  private def stripCont(s: String): String =
    if (s.startsWith("##")) s.substring(2) else s

  /** Greedy left-to-right non-overlapping application of one merge —
    * [[Bpe]]'s per-word scan with the WordPiece fusion (`a` +
    * `b` minus its continuation marker). */
  private val applyMergeU = udf { (syms: Seq[String], a: String, b: String) =>
    val merged = a + (if (b.startsWith("##")) b.substring(2) else b)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += merged
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Train `nMerges` likelihood-picked rounds from a word census
    * (PRE-[[trainCensus]]; the bound is applied here). Returns the
    * merge table and the final segmentation frame. Same
    * truncate-per-round lineage discipline as [[Bpe.train]]. */
  def train(census: DataFrame, nMerges: Int): (Seq[WpMerge], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 10000,
      s"nMerges=$nMerges out of range")
    var syms = graft.CacheBarriers.truncate(initSyms(trainCensus(census)),
      eager = true)
    val merges = scala.collection.mutable.ArrayBuffer[WpMerge]()
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val uni = symbolCensus(syms)
      val top = Bpe.pairCensus(syms).as("c")
        .join(broadcast(uni).as("ua"), col("c.a") === col("ua.s"))
        .join(broadcast(uni).as("ub"), col("c.b") === col("ub.s"))
        .select(col("c.a"), col("c.b"), col("c.n").as("cnt"),
          expr("c.n * 1000000 DIV (ua.u * ub.u)").as("score_micro"))
        .orderBy(col("score_micro").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += WpMerge(r, a, b, a + stripCont(b),
          top(0).getLong(2), top(0).getLong(3))
        val prev = syms
        syms = graft.CacheBarriers.truncate(syms.select(col("w"), col("n"),
          applyMergeU(col("syms"), lit(a), lit(b)).as("syms")), eager = true)
        graft.CacheBarriers.release(prev)
        r += 1
      }
    }
    (merges.toSeq, syms)
  }

  /** The shipped vocabulary: the round-0 alphabet (every symbol the
    * training words exhibit in either position form) plus each merge's
    * output — config-sized by construction, so collecting it is the
    * BPE merge-table argument, not a corpus collect. */
  def vocab(census: DataFrame, merges: Seq[WpMerge]): Set[String] = {
    val alphabet = initSyms(trainCensus(census))
      .select(explode(col("syms")).as("s")).distinct()
      .collect().map(_.getString(0)).toSet
    alphabet ++ merges.map(_.ab)
  }

  /** Greedy longest-match segmentation of a distinct-word frame under
    * a collected vocabulary: `(w, ps, unk)` — `ps` the piece list
    * (continuations `##`-marked), `[UNK]` when any position has no
    * vocabulary prefix or the word is ineligible. The walk is a
    * bounded column fold (≤ MaxWordLen steps, each consuming ≥1
    * char), the [[Unigram]] dpCol discipline — per-row column
    * algebra, no UDF, vocabulary broadcast as a map literal. */
  def segmentCensus(words: DataFrame, vocabSet: Set[String],
                    wordCol: String = "w"): DataFrame = {
    val vs = vocabSet.toSeq.sorted
    val vm = map_from_arrays(typedLit(vs), typedLit(vs.map(_ => 1)))
    // best match length at state pos: max l with (##?)w[pos..pos+l-1] ∈ vm
    def bl(st: String) = s"""array_max(filter(transform(
        sequence(1, $MaxWordLen), l ->
          CASE WHEN $st.pos + l - 1 <= length($wordCol)
                    AND element_at(__vm, concat(
                      IF($st.pos = 1, '', '##'),
                      substring($wordCol, $st.pos, l))) IS NOT NULL
               THEN l END),
        x -> x IS NOT NULL))"""
    val fold = s"""aggregate(sequence(1, $MaxWordLen),
        named_struct('pos', 1, 'ps', CAST(array() AS array<string>),
                     'unk', false),
        (st, u) -> CASE
          WHEN st.unk OR st.pos > length($wordCol) THEN st
          WHEN ${bl("st")} IS NULL THEN
            named_struct('pos', length($wordCol) + 1, 'ps', st.ps,
                         'unk', true)
          ELSE named_struct(
            'pos', st.pos + ${bl("st")},
            'ps', concat(st.ps, array(concat(
                    IF(st.pos = 1, '', '##'),
                    substring($wordCol, st.pos, ${bl("st")})))),
            'unk', false) END)"""
    words
      .withColumn("__vm", vm)
      .withColumn("__eligible", col(wordCol).rlike(EligibleRe))
      .withColumn("__st",
        when(col("__eligible"), expr(fold.replaceAll("\\s+", " "))))
      .select(col(wordCol),
        when(!col("__eligible") || col("__st").getField("unk"),
          array(lit(Unk)))
          .otherwise(col("__st").getField("ps")).as("ps"),
        (!col("__eligible") || col("__st").getField("unk")).as("unk"))
  }

  /** Per-document WordPiece token + `[UNK]` counts via the census
    * join — the [[Bpe.withBpeTokens]] shape: one narrow word explode,
    * one census-sized join, one doc-keyed sum. Wordless docs count
    * (0, 0). */
  def withWpTokens(docs: DataFrame, seg: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val wp = docs.select(col(idCol),
      explode(TextHash.words(col(textCol))).as("w"))
    val counted = wp.join(seg, Seq("w"), "left")
      .select(col(idCol),
        coalesce(size(col("ps")).cast("long"), lit(1L)).as("__t"),
        coalesce(col("unk").cast("long"), lit(1L)).as("__u"))
      .groupBy(col(idCol)).agg(sum(col("__t")).as("__wt"),
        sum(col("__u")).as("__wu"))
    docs.join(counted, Seq(idCol), "left")
      .withColumn("wp_tokens", coalesce(col("__wt"), lit(0L)))
      .withColumn("unk_words", coalesce(col("__wu"), lit(0L)))
      .drop("__wt", "__wu")
  }

  // ── DuckDB twins ──────────────────────────────────────────────────────

  /** Pair census + symbol census + likelihood pick for round `r`. */
  private def sqlPick(r: Int): String = {
    val prev = s"wps${r - 1}"
    s"""wpu$r AS MATERIALIZED (SELECT syms[j] AS s, sum(n) AS u
       |          FROM $prev, unnest(range(1, len(syms) + 1)) AS uu(j)
       |          GROUP BY 1),
       |wpc$r AS MATERIALIZED (SELECT syms[j] AS a, syms[j+1] AS b, sum(n) AS cnt
       |          FROM $prev, unnest(range(1, len(syms))) AS uu(j)
       |          GROUP BY 1, 2),
       |wpt$r AS MATERIALIZED (SELECT c.a, c.b, c.cnt,
       |            c.cnt * 1000000 // (ua.u * ub.u) AS score_micro,
       |            c.a || regexp_replace(c.b, '^##', '') AS ab
       |          FROM wpc$r c
       |          JOIN wpu$r ua ON ua.s = c.a
       |          JOIN wpu$r ub ON ub.s = c.b
       |          ORDER BY score_micro DESC, c.a ASC, c.b ASC LIMIT 1)""".stripMargin
  }

  private val MergedSql: (String, String) => String =
    (a, b) => s"$a || regexp_replace($b, '^##', '')"

  /** Full training replay over a `(doc_id, text)` CTE `src`: bounded
    * census, `##`-marked char segmentation, `k` pick+apply rounds
    * (the apply is [[Bpe]]'s gaps-and-islands with the WordPiece
    * fusion). Ends with `wpmerges(rank, a, b, ab, cnt, score_micro)`
    * and the final segmentation `wps$k`. */
  def sqlTrainCtes(src: String, k: Int): String = {
    val rounds = (1 to k)
      .map(r => s"${sqlPick(r)},\n${Bpe.sqlStepOn("wps", r, "wpt", MergedSql)}")
      .mkString(",\n")
    val merges = (1 to k)
      .map(r => s"SELECT $r AS rank, a, b, ab, cnt, score_micro FROM wpt$r")
      .mkString("\n           UNION ALL ")
    s"""wpw AS MATERIALIZED (SELECT w, count(*) AS n FROM (
       |          SELECT unnest(${TextHash.sqlWords("text")}) AS w FROM $src)
       |        WHERE regexp_matches(w, '$EligibleRe')
       |        GROUP BY w HAVING count(*) >= $MinCount),
       |wpg0 AS MATERIALIZED (SELECT w, n,
       |          regexp_extract_all(w, '[a-z0-9]') AS cs FROM wpw),
       |wps0 AS MATERIALIZED (SELECT w, n,
       |          list_transform(range(1, len(cs) + 1), j ->
       |            CASE WHEN j = 1 THEN cs[j] ELSE '##' || cs[j] END)
       |            AS syms
       |        FROM wpg0),
       |$rounds,
       |wpmerges AS MATERIALIZED ($merges)""".stripMargin
  }

  /** Greedy longest-match replay over a distinct-word CTE
    * `wordsSrc(w)` — must be spliced AFTER [[sqlTrainCtes]] (it reads
    * `wps0` and the `wpt$r` picks for the vocabulary). One CTE per
    * consumed character, `MaxWordLen` of them; each step joins the
    * active walk states against the vocabulary on the substring match
    * and advances by the LONGEST hit. Ends with
    * `wpseg(w, ps, unk)` — `[UNK]` rows carry `ps = ['[UNK]']`. */
  def sqlSegmentCtes(wordsSrc: String, k: Int): String = {
    val vocabUnion = (1 to k).map(r => s"SELECT ab AS piece FROM wpt$r")
      .mkString("\n           UNION ")
    val steps = (1 to MaxWordLen).map { t =>
      val prev = s"wk${t - 1}"
      s"""wc$t AS MATERIALIZED (SELECT s.w, s.pos, max(len(v.core)) AS bl
         |          FROM $prev s JOIN wpv v
         |            ON ((s.pos > 1) = v.cont)
         |               AND substr(s.w, s.pos, len(v.core)) = v.core
         |          WHERE NOT s.unk AND s.pos <= len(s.w)
         |          GROUP BY s.w, s.pos),
         |wk$t AS MATERIALIZED (SELECT s.w,
         |            CASE WHEN s.unk OR s.pos > len(s.w) THEN s.pos
         |                 WHEN c.bl IS NULL THEN len(s.w) + 1
         |                 ELSE s.pos + c.bl END AS pos,
         |            CASE WHEN s.unk OR s.pos > len(s.w) OR c.bl IS NULL
         |                 THEN s.ps
         |                 ELSE list_append(s.ps,
         |                   (CASE WHEN s.pos > 1 THEN '##' ELSE '' END) ||
         |                   substr(s.w, s.pos, c.bl)) END AS ps,
         |            (s.unk OR (s.pos <= len(s.w) AND c.bl IS NULL)) AS unk
         |          FROM $prev s
         |          LEFT JOIN wc$t c ON s.w = c.w AND s.pos = c.pos)""".stripMargin
    }.mkString(",\n")
    s"""wpv AS MATERIALIZED (SELECT piece,
       |          CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END
       |            AS core,
       |          (piece LIKE '##%') AS cont
       |        FROM (SELECT DISTINCT syms[j] AS piece
       |              FROM wps0, unnest(range(1, len(syms) + 1)) AS uu(j)
       |              UNION $vocabUnion)),
       |wk0 AS MATERIALIZED (SELECT w, 1 AS pos,
       |          CAST([] AS VARCHAR[]) AS ps, false AS unk
       |        FROM $wordsSrc
       |        WHERE regexp_matches(w, '$EligibleRe')),
       |$steps,
       |wpseg AS MATERIALIZED (SELECT w,
       |          CASE WHEN unk THEN ['$Unk'] ELSE ps END AS ps, unk
       |        FROM wk$MaxWordLen)""".stripMargin
  }
}
