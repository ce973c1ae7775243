package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators over `documents` (SURVEY.md §2.3 R20):
  * token stats, quality scoring, language-id heuristic, TF-IDF,
  * fingerprinting. All scale linearly: per-row expressions plus
  * explode→groupBy aggregations (shuffle on token / doc keys only).
  */
object TextQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** The `t_quality_score` stopword dial — kept at the original two-token
    * list (mirrored in its oracle and the streaming quality twin) when
    * the language-id lexicon grew to five languages: the quality blend's
    * stopword RATIO is an English-function-word density measure, and
    * silently rescaling it would shift every downstream gate threshold.
    */
  private[graft] val QualityStopwords = Seq("the", "a")

  /** The quality blend over `col("text")` — ONE definition for its five
    * consumers (t_quality_score, d_corpus_build, the Round7 v2 builder,
    * t_curriculum_bins, and the STREAMING corpus-pipeline quality stage)
    * so a weight or term tweak cannot shift the batch and streaming
    * gates apart (review r20: the stopword LIST was shared first, the
    * formula had five verbatim Scala copies). Oracle literals stay
    * inline — drift there fails the correctness gate immediately, which
    * is the self-policing the Scala copies lacked.
    */
  private[graft] def qualityBlend: Column = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(QualityStopwords: _*))).cast("double")
    val avgLen = (length(col("text")) - (size(toks) - 1)).cast("double") / nTok
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    floorRound(
      lit(0.5) * diversity + lit(0.3) * (lit(1.0) - stopHits / nTok) +
      lit(0.2) * least(avgLen / 10.0, lit(1.0)), 4)
  }

  /** Marker stopword sets for the language-id heuristic (VERDICT r17 #6:
    * upgraded from the 2-token English set to small public stopword
    * marker sets for five languages) — deterministic token evidence,
    * mirrored verbatim in the oracle SQL. Ten high-frequency function
    * words per language, chosen pairwise-disjoint across the five sets
    * so a marker hit is unambiguous evidence (the ambiguous cross-lingual
    * forms — es/fr "la"/"un"/"que", fr "on", es "de" — are deliberately
    * omitted; a production lexicon would weight them instead). Listed in
    * tie-break precedence order: the argmax CASE chain tests languages in
    * this order, so both engines resolve equal scores identically.
    * (Doc moved next to its val in r20 — it was stranded above
    * QualityStopwords, invisible exactly where a lexicon editor looks.)
    */
  private[graft] val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit", "nicht", "auf", "sich"),
    "es" -> Seq("el", "los", "las", "por", "una", "con", "para", "como", "pero", "esta"),
    "fr" -> Seq("le", "les", "et", "une", "est", "dans", "pour", "pas", "vous", "sur"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "不", "人", "这", "中"))

  /** The n-gram-marker language prediction shared by `t_lang_id` (the
    * confusion matrix) and `t_eval_prf` (the metrics report) — one
    * definition so the two stay the same classifier. Per-language marker
    * counts over the token array, argmax with zero ⇒ "unk" and ties
    * broken by [[LangMarkers]] order. Pure per-row codegen'd expressions:
    * zero shuffle, same plan shape as the old single-set form.
    */
  private[graft] def langPred: Column =
    langVote(split(col("text"), " "), "unk")

  /** The marker-argmax vote over an arbitrary token-array column — shared
    * by the doc-level [[langPred]] and the window-level `t_lang_spans`
    * classifier (Round17Queries) so the two stay the same lexicon.
    * `zeroLabel` is the no-evidence fallback ("unk" at doc level,
    * "other" at span level, preserving each operator's output domain).
    */
  private[graft] def langVote(toks: Column, zeroLabel: String): Column = {
    val scores = LangMarkers.map { case (lang, ms) =>
      lang -> size(filter(toks, t => t.isin(ms: _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    val argmax = scores.init.foldRight(lit(scores.last._1): Column) {
      case ((lang, score), rest) => when(score === best, lang).otherwise(rest)
    }
    // NULL text ⇒ NULL scores ⇒ NULL best: without the isNull arm every
    // WHEN is unknown and the catch-all last language wins — a null doc
    // confidently labeled "zh" (and under legacy sizeOfNull Spark would
    // say "en" while DuckDB says "zh" — review r20). No-evidence and
    // no-text both mean zeroLabel.
    when(best.isNull || best === 0, zeroLabel).otherwise(argmax)
  }

  /** The DuckDB spelling of [[langVote]] over a text-valued SQL
    * expression — built from the same [[LangMarkers]] constant as the
    * Column form, so a threshold or marker tweak cannot desynchronize
    * the oracles from the engine.
    */
  private[graft] def langVoteSql(textExpr: String, zeroLabel: String): String = {
    // markers are SQL-quoted with '' escaping — the lexicon's growth
    // surface includes apostrophe forms (fr "l'", en "it's") that would
    // otherwise break every generated oracle at parse time (review r20)
    def cnt(ms: Seq[String]): String =
      s"""len(list_filter(string_split($textExpr, ' '),
              x -> x IN (${ms.map(m => s"'${m.replace("'", "''")}'").mkString(", ")})))"""
    val best = s"greatest(${LangMarkers.map(m => cnt(m._2)).mkString(", ")})"
    val chain = LangMarkers.init
      .map { case (lang, ms) => s"WHEN ${cnt(ms)} = $best THEN '$lang'" }
      .mkString(" ")
    s"""CASE WHEN $best IS NULL OR $best = 0 THEN '$zeroLabel'
         $chain
         ELSE '${LangMarkers.last._1}' END"""
  }

  /** The DuckDB spelling of [[langPred]] — ONE definition consumed by the
    * t_lang_id oracle here and the t_eval_prf oracle (Round11Queries), so
    * a threshold or marker tweak cannot desynchronize the confusion
    * matrix from the metrics report that recomputes it.
    */
  private[graft] val langPredSql: String = langVoteSql("text", "unk")

  /** Contamination CORE: per-doc count of verbatim n-gram shingles shared
    * with the eval source, one row per non-eval doc with ≥ 1 hit (every
    * row has n ≥ 1 by construction). Shared by [[decontaminate]] (which
    * left-joins it back onto the full doc list to emit per-doc counts
    * with n=0 rows) and d_corpus_build_v2 (which needs only the DROP SET,
    * consumed as a left_anti — r22: the v2 composition paid a third
    * corpus scan just to rebuild the doc list this core's consumers
    * already hold). Scale shape: the eval gram set is tiny relative to
    * the corpus — it broadcasts, the training side streams through a
    * broadcast semi-probe at scan speed, and the only shuffle is the
    * per-doc count on doc_id. Callers must have run
    * GraftFunctions.register.
    */
  private[graft] def contaminatedDocs(docsDf: DataFrame, evalSource: String,
                                      n: Int = 5): DataFrame = {
    val sh = docsDf.select(col("doc_id"), col("source"),
      explode(shingles("text", n)).as("g"))
    val evalGrams = sh.filter(col("source") === evalSource)
      .select(col("g")).distinct()
    sh.filter(col("source") =!= evalSource)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n")) // grams are distinct per doc
  }

  /** Core of `t_decontaminate`, reusable over any (doc_id, source, text)
    * frame (spec-tested on planted fixtures): flag non-eval docs sharing
    * any verbatim n-gram shingle with the eval source. Callers must have
    * run GraftFunctions.register.
    */
  private[graft] def decontaminate(docsDf: DataFrame, evalSource: String,
                                   n: Int = 5): DataFrame = {
    val hits = contaminatedDocs(docsDf, evalSource, n)
    docsDf.filter(col("source") =!= evalSource).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_contaminated_grams"),
        (coalesce(col("n"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Core of `t_perplexity_proxy`, reusable over any (doc_id, text) frame
    * (spec-tested on planted fixtures): per-document average negative log
    * probability under the corpus's own unigram model — the cheap-LM
    * stand-in for perplexity filtering. Per-token −ln p is floor-rounded
    * to integer 1e-4 units BEFORE summing, so the per-doc total is an
    * order-independent integer sum (float log-sums are partition-order
    * dependent; integer units are the same parity trick as the revenue
    * and ANN-audit sums). `unusualUnits` is the avg-nll dial in the same
    * units.
    */
  private[graft] def perplexityProxy(docsDf: DataFrame,
                                     unusualUnits: Long): DataFrame = {
    val toks = docsDf.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
    // corpus unigram model. `uni` has one row per distinct corpus token —
    // vocabulary cardinality grows with corpus size, so it must NOT carry a
    // broadcast hint: the token join shuffles on `t` (AQE may still pick a
    // broadcast at runtime when the vocab actually fits). Only the 1-row
    // `total` aggregate is hinted.
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).cast("double").as("total"))
    toks.join(uni, "t").crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr("CAST(floor(-ln(c / total) * 10000 + 0.5) AS BIGINT)").as("u"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(col("u")).cast(LongType).as("nll_units"))
      .select(col("doc_id"), col("n_tokens"), col("nll_units"),
        (col("nll_units") > col("n_tokens") * unusualUnits).as("unusual"))
      .orderBy("doc_id")
  }

  /** Core of `t_char_entropy`, reusable over any (doc_id, text) frame
    * (spec-tested on planted fixtures): per-document Shannon entropy over
    * the character distribution in order-independent integer 1e-4 units —
    * see the `t_char_entropy` def for the full scale rationale. Pure
    * per-row higher-order functions: zero shuffle.
    */
  private[graft] def charEntropy(docsDf: DataFrame,
                                 lowUnits: Long): DataFrame =
    docsDf
      .withColumn("chars", expr("regexp_extract_all(text, '.', 0)"))
      .withColumn("n", size(col("chars")).cast(LongType))
      .withColumn("s", expr(
        """aggregate(
             transform(array_distinct(chars),
               c -> size(filter(chars, x -> x = c))),
             0L,
             (acc, cnt) -> acc + CAST(floor(CAST(cnt AS DOUBLE) * ln(cnt)
                                             * 10000 + 0.5) AS BIGINT))"""))
      .withColumn("entropy_units", expr(
        """CASE WHEN n > 0
             THEN CAST(floor((ln(n) - CAST(s AS DOUBLE) / (n * 10000.0))
                             * 10000 + 0.5) AS BIGINT)
             ELSE 0L END"""))
      .select(col("doc_id"),
        col("n").as("n_chars"),
        size(array_distinct(col("chars"))).cast(LongType).as("n_distinct_chars"),
        col("s").as("clogc_units"),
        col("entropy_units"),
        (col("entropy_units") < lowUnits).as("low_entropy"))
      .orderBy("doc_id")

  /** Per-row duplicate-2-gram fraction over `text` — one of the two
    * Gopher-dial repetition signals, shared by [[repetition]] and the
    * fused d_corpus_build_v2 projection so the formula lives once.
    */
  private[graft] def repDupFrac: Column = {
    val total2 = greatest(size(split(col("text"), " ")) - 1, lit(0))
    val distinct2 = size(shingles("text", 2))
    when(total2 > 0, lit(1.0) - distinct2.cast("double") / total2)
      .otherwise(lit(0.0))
  }

  /** Per-row top-token dominance share over `text` — the other Gopher
    * dial. The max token multiplicity is the longest equal-run in the
    * SORTED token array, computed with one linear fold (r22): the former
    * explode + (doc, token) count + per-doc max formulation shuffled
    * every token twice to compute a per-document quantity (§2.4 — remove
    * shuffles outright). O(n log n) per row; the denominator is the raw
    * token count, exactly the old `sum(c)`.
    */
  private[graft] def repTopFrac: Column = {
    val topCnt = expr(
      """aggregate(array_sort(split(text, ' ')),
           named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
           (acc, t) -> named_struct(
             'prev', t,
             'run',  IF(acc.prev IS NOT NULL AND t = acc.prev, acc.run + 1L, 1L),
             'best', greatest(acc.best,
               IF(acc.prev IS NOT NULL AND t = acc.prev, acc.run + 1L, 1L))),
           acc -> acc.best)""")
    topCnt.cast("double") / size(split(col("text"), " ")).cast("double")
  }

  /** The Gopher-style repetition gate: either signal past its dial ⇒
    * drop. RAW fractions (not the 4-dp-floored output columns), exactly
    * as the pre-r22 join form compared them.
    */
  private[graft] def repetitiveGate: Column =
    repDupFrac > 0.1 || repTopFrac > 0.25

  /** Core of `t_repetition`, reusable over any (doc_id, text) frame
    * (spec-tested on planted fixtures). Pure per-row expressions since
    * r22 — zero shuffle, one scan (was: a second corpus scan + two
    * aggregate exchanges for the token-dominance side). The NULL-text
    * filter preserves the old inner-join semantics: a null-text doc
    * exploded to zero token rows and vanished from the output. Callers
    * must have run GraftFunctions.register.
    */
  private[graft] def repetition(docsDf: DataFrame): DataFrame =
    docsDf
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        floorRound(repDupFrac, 4).as("dup_2gram_frac"),
        floorRound(repTopFrac, 4).as("top_token_frac"),
        repetitiveGate.as("repetitive"))
      .orderBy("doc_id")

  val queries: Seq[QueryDef] = Seq(
    // R20 — source-mixing rebalance, the data-mixing pass every
    // pre-training pipeline runs (Pile/DoReMi-style source weighting):
    // compute each source's sampling weight to bring it down to a uniform
    // per-source token budget (weight = min(1, budget/tokens_s)), then
    // emit a DETERMINISTIC per-doc keep decision under that rate via the
    // same LCG pseudo-hash as q_stratified_sample — reproducible across
    // engines, scales, and partitionings (no rand()). The weights table is
    // one row per SOURCE — bounded by the catalog, not the corpus — so
    // broadcasting it is correct at any scale (contrast the unigram-vocab
    // table in perplexityProxy, which must NOT broadcast). Two linear
    // passes, one per-source aggregate shuffle.
    QueryDef("t_source_sample", (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val bySrc = base.groupBy(col("source"))
        .agg(sum(col("n_tokens")).cast(LongType).as("src_tokens"))
      val totals = bySrc.agg(
        sum(col("src_tokens")).cast("double").as("total_tokens"),
        count(lit(1)).cast("double").as("n_sources"))
      val weighted = bySrc.crossJoin(broadcast(totals))
        .select(col("source"),
          least(lit(1.0), (col("total_tokens") / col("n_sources")) /
            col("src_tokens").cast("double")).as("w"))
      val h = pmod(col("doc_id") * lit(1103515245L) + lit(12345L), lit(2147483648L))
      base.join(broadcast(weighted), "source")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floorRound(col("w"), 4).as("weight"),
          (h.cast("double") < col("w") * lit(2147483648.0)).as("kept"))
        .orderBy("doc_id")
    },
      """WITH base AS (
           SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         bysrc AS (
           SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
           FROM base GROUP BY source),
         tot AS (
           SELECT CAST(sum(src_tokens) AS DOUBLE) AS total_tokens,
                  CAST(count(*) AS DOUBLE) AS n_sources
           FROM bysrc),
         wt AS (
           SELECT source,
                  least(1.0, (total_tokens / n_sources) / CAST(src_tokens AS DOUBLE)) AS w
           FROM bysrc, tot)
         SELECT b.doc_id, b.source, b.n_tokens,
                floor(w * 10000 + 0.5) / 10000 AS weight,
                CAST((b.doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                  < w * 2147483648.0 AS kept
         FROM base b JOIN wt ON wt.source = b.source
         ORDER BY b.doc_id"""),

    // R20 — per-document token statistics: whitespace tokens, distinct
    // tokens, lexical diversity, BPE-ish regex token count.
    QueryDef("t_token_stats", (s, d) =>
      docs(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).as("n_distinct"),
          size(regexTokens("text")).as("n_bpe_tokens"),
          floorRound(size(array_distinct(split(col("text"), " "))).cast("double") /
                size(split(col("text"), " ")), 4).as("diversity"))
        .orderBy("doc_id"),
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
                CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_bpe_tokens,
                floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                      len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS diversity
         FROM documents ORDER BY doc_id"""),

    // R20 — quality scoring: length/stopword/diversity blend. Pure
    // arithmetic over deterministic counts, mirrored in the oracle
    // (which hardcodes the same two stopwords — the quality dial keeps
    // its original list independently of the language-id lexicon).
    QueryDef("t_quality_score", (s, d) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("double")
      val stopHits = size(filter(toks, t => t.isin(QualityStopwords: _*))).cast("double")
      val avgLen = (length(col("text")) - (size(toks) - 1)).cast("double") / nTok
      docs(s, d)
        .select(
          col("doc_id"),
          floorRound(stopHits / nTok, 4).as("stopword_ratio"),
          floorRound(avgLen, 4).as("avg_token_len"),
          qualityBlend.as("quality"))
        .orderBy("doc_id")
    },
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a'))) AS DOUBLE) AS stop_hits,
                  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                    / len(string_split(text, ' ')) AS avg_len,
                  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')) AS diversity
           FROM documents)
         SELECT doc_id, floor((stop_hits / n_tok) * 10000 + 0.5) / 10000 AS stopword_ratio,
                floor((avg_len) * 10000 + 0.5) / 10000 AS avg_token_len,
                floor((0.5 * diversity + 0.3 * (1.0 - stop_hits / n_tok) +
                      0.2 * least(avg_len / 10.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
         FROM t ORDER BY doc_id"""),

    // R20 — language-id heuristic (marker-token evidence) with accuracy
    // readout against the labeled lang column. The corpus is synthetic word
    // soup, so the interesting property is deterministic parity of the
    // heuristic, which the oracle mirrors token-for-token.
    QueryDef("t_lang_id", (s, d) => {
      docs(s, d)
        .select(col("lang"), langPred.as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    },
      s"""WITH p AS (
           SELECT lang, $langPredSql AS lang_pred
           FROM documents)
         SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""),

    // R20 — corpus profile per language: docs, chars, source spread.
    QueryDef("t_lang_profile", (s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          floorRound(avg(col("n_chars")), 2).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                floor((avg(n_chars)) * 100 + 0.5) / 100 AS avg_chars,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang"""),

    // R20 — TF-IDF: top term per document. Two aggregations (term counts,
    // document frequency) and a broadcast-able df join; ordering on the
    // rounded score so both engines break ties identically.
    QueryDef("t_tfidf_top_term", (s, d) => {
      // corpus size as a lazy broadcast scalar (no eager driver-side count)
      val nDf = docs(s, d).agg(count(lit(1)).cast("double").as("corpus_n"))
      val tf = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(df_, "term").crossJoin(broadcast(nDf))
        .withColumn("tfidf",
          floorRound(col("tf") * log(col("corpus_n") / col("df")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
        .orderBy("doc_id")
    },
      """WITH tf AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM tf GROUP BY doc_id, term),
         dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY term),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         scored AS (
           SELECT doc_id, term, floor((tf * ln(n.n / df)) * 1000000 + 0.5) / 1000000 AS tfidf,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY floor((tf * ln(n.n / df)) * 1000000 + 0.5) / 1000000 DESC, term) AS rk
           FROM tfc JOIN dfc USING (term) CROSS JOIN n)
         SELECT doc_id, term AS top_term, tfidf
         FROM scored WHERE rk = 1 ORDER BY doc_id"""),

    // R20 — content fingerprints: sha256 (oracle-able, content address) and
    // shard key prefix for routing at scale.
    QueryDef("t_fingerprint", (s, d) =>
      docs(s, d)
        .select(
          col("doc_id"),
          sha256Hex(col("text")).as("sha"),
          substring(sha256Hex(col("text")), 1, 4).as("shard_key"))
        .orderBy("doc_id"),
      """SELECT doc_id, sha256(text) AS sha, substring(sha256(text), 1, 4) AS shard_key
         FROM documents ORDER BY doc_id"""),

    // R20 — rolling-hash (winnowing-style) fingerprint over 5-gram
    // shingles: the minimum hash over the shingle stream is the doc's
    // near-dup prefilter key. Uses the md5 twin so the fingerprint VALUE is
    // oracle-able cross-engine (DuckDB computes the identical hex digest);
    // the xxhash64 production form shares the selection logic and is
    // spec-tested (TextFunctions.rollingFingerprint).
    QueryDef("t_rolling_fingerprint", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      docs(s, d)
        .select(col("doc_id"), rollingFingerprintMd5("text").as("fp"))
        .filter(col("fp").isNotNull)
        .orderBy("doc_id")
    },
      // min-md5 over distinct 5-gram shingles; min over hex strings = min of
      // the underlying 128-bit hashes, and both engines emit lowercase hex
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         SELECT doc_id,
                list_min(list_transform(
                  list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' ')),
                  s -> md5(s))) AS fp
         FROM toks WHERE len(t) >= 5 ORDER BY doc_id"""),

    // R20/R18 — BENCHMARK DECONTAMINATION: the pre-training hygiene step
    // that drops training documents sharing verbatim n-grams with a
    // held-out eval set (src0 plays the benchmark here; 5-gram at this
    // corpus's 10-100-token docs stands in for the usual 13-gram). Scale
    // shape: the eval gram set is tiny relative to the corpus — it
    // BROADCASTS, so the training side streams through a broadcast
    // semi-probe at scan speed and the only shuffle is the per-doc count
    // on doc_id. Every training doc appears in the output (clean docs
    // carry n=0), so the result doubles as the keep/drop manifest.
    QueryDef("t_decontaminate", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      decontaminate(docs(s, d), evalSource = "src0")
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id, source,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' ')))) AS g
           FROM toks WHERE len(t) >= 5),
         ev AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
         hits AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM sh JOIN ev USING (g)
           WHERE source <> 'src0' GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_grams,
                coalesce(hits.n, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits USING (doc_id)
         WHERE d.source <> 'src0' ORDER BY d.doc_id"""),

    // R20 — INTRA-DOCUMENT REPETITION (the Gopher/C4-style quality rule
    // that drops looping generations and boilerplate): duplicate-2-gram
    // fraction per doc plus the top-token dominance share. Pure per-row
    // expressions + one (doc, token) count — linear, shuffle on doc_id
    // only, no cross-doc interaction at all.
    QueryDef("t_repetition", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      repetition(docs(s, d))
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                      greatest(len(t) - 1, 0) AS total_2grams,
                      len(list_distinct(list_transform(
                        range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS distinct_2grams
               FROM toks),
         tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok),
         top AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_tok FROM tc GROUP BY doc_id),
         f AS (SELECT g.doc_id,
                      CASE WHEN total_2grams > 0
                           THEN 1.0 - CAST(distinct_2grams AS DOUBLE) / total_2grams
                           ELSE 0.0 END AS dup_f,
                      CAST(top_cnt AS DOUBLE) / n_tok AS top_f
               FROM g JOIN top ON g.doc_id = top.doc_id)
         SELECT doc_id,
                floor(dup_f * 10000 + 0.5) / 10000 AS dup_2gram_frac,
                floor(top_f * 10000 + 0.5) / 10000 AS top_token_frac,
                (dup_f > 0.1 OR top_f > 0.25) AS repetitive
         FROM f ORDER BY doc_id"""),

    // R20 — PERPLEXITY-PROXY quality filter: per-doc average negative log
    // probability under the corpus's own unigram model, the cheap-LM
    // stand-in for perplexity filtering (docs far from the corpus
    // distribution score high and get flagged). Integer 1e-4-unit
    // arithmetic end-to-end, so the oracle replays it exactly and the
    // per-doc sum is partition-order independent. Scale shape: the
    // unigram model is two broadcastable aggregates; the token stream
    // joins it broadcast and aggregates on doc_id — linear, one explode
    // shuffle. The 34300-unit dial (avg nll ≈ 3.43 nats) sits just past
    // this corpus's p95, so the flagged set is the genuine tail.
    QueryDef("t_perplexity_proxy", (s, d) =>
      perplexityProxy(docs(s, d), unusualUnits = 34300L),
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM uni),
         u AS (SELECT doc_id, CAST(floor(-ln(c / total) * 10000 + 0.5) AS BIGINT) AS u
               FROM toks JOIN uni USING (t) CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(u) AS BIGINT) AS nll_units,
                sum(u) > count(*) * 34300 AS unusual
         FROM u GROUP BY doc_id ORDER BY doc_id"""),

    // R20 — CHARACTER-ENTROPY quality signal (the gibberish/garbage gate:
    // mojibake, binary spills, and single-char floods all show up as an
    // entropy outlier). Shannon entropy over the doc's character
    // distribution, computed entirely PER ROW with higher-order functions —
    // char histogram via filter-counts over the distinct alphabet (k ≈
    // alphabet size, so O(k·n) per doc), Σ c·ln(c) floor-rounded to integer
    // 1e-4 units term-by-term BEFORE the sum (the same order-independent
    // integer-unit trick as t_perplexity_proxy), then
    // H = ln(N) − S/(N·1e4) emitted in the same units. ZERO shuffle: a
    // per-document function should never move data — this is the plan at
    // any scale. The 27000-unit dial sits at this corpus's p05, so the
    // flagged set is the genuine low tail.
    QueryDef("t_char_entropy", (s, d) =>
      charEntropy(docs(s, d), lowUnits = 27000L),
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '.') AS chars
                    FROM documents),
         m AS (
           SELECT doc_id, CAST(len(chars) AS BIGINT) AS n,
                  CAST(len(list_distinct(chars)) AS BIGINT) AS k,
                  coalesce(list_sum(list_transform(list_distinct(chars),
                    c -> CAST(floor(CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE)
                         * ln(len(list_filter(chars, x -> x = c)))
                         * 10000 + 0.5) AS BIGINT))), 0) AS s
           FROM d),
         e AS (
           SELECT doc_id, n, k, s,
                  CASE WHEN n > 0
                    THEN CAST(floor((ln(n) - CAST(s AS DOUBLE) / (n * 10000.0))
                                    * 10000 + 0.5) AS BIGINT)
                    ELSE 0 END AS entropy_units
           FROM m)
         SELECT doc_id, n AS n_chars, k AS n_distinct_chars,
                CAST(s AS BIGINT) AS clogc_units, entropy_units,
                entropy_units < 27000 AS low_entropy
         FROM e ORDER BY doc_id"""),

    // R20/R9 — heavy hitters through a COUNT-MIN SKETCH, the streaming/
    // mergeable form of t_heavy_hitters and the fourth member of the
    // sketch family (HLL: q_hll_union, MinHash: d_source_overlap, bitmap:
    // q_bitmap_distinct): the corpus aggregates into ONE fixed-size CMS
    // (Spark's count_min_sketch — map-side partial sketches merge, the
    // shuffle carries sketches not rows), which the exact top-10 then
    // probes via the native graft_cms_est (Spark ships the build side but
    // no SQL probe — without it, reading an estimate means collecting the
    // sketch to the driver). Oracled sketch-vs-exact like the others: the
    // hashed columns are the exact counts plus the two CMS theory bounds
    // (est ≥ true always; est ≤ true + eps·N at the sketch's confidence —
    // eps·N ≈ 25 tokens here while a colliding counter needs all 7 rows
    // to collide at ~2e-3 each, so the bound sits ~19 orders of magnitude
    // above the failure odds). At 100 TB the sketch is the only state
    // that moves: 20k×7 longs regardless of corpus size.
    QueryDef("t_cms_heavy_hitters", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val toks = docs(s, d).select(explode(split(col("text"), " ")).as("term"))
      val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      val sketch = toks.agg(
        expr("count_min_sketch(term, 0.0001d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("total"))
      graft.plans.TopK.perKey(counts, keys = Seq(),
          order = Seq(graft.plans.TopK.Ord("n", desc = true),
                      graft.plans.TopK.Ord("term")), k = 10)
        .crossJoin(broadcast(sketch))
        .select(col("rk"), col("term"), col("n"),
          (expr("graft_cms_est(cms, term)") >= col("n")).as("cms_ge_true"),
          (expr("graft_cms_est(cms, term)") <=
            col("n") + ceil(col("total") * lit(0.0001)).cast(LongType))
            .as("cms_within_eps"))
        .orderBy("rk")
    },
      // sketch-vs-exact: DuckDB derives the exact top-10 independently; the
      // CMS estimate itself is engine-internal, so only its theory bounds
      // are hashed (the d_source_overlap / q_hll_union discipline)
      """WITH c AS (
           SELECT t AS term, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           GROUP BY t)
         SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rk, term, n,
                TRUE AS cms_ge_true, TRUE AS cms_within_eps
         FROM c ORDER BY n DESC, term LIMIT 10"""),

    // R20/R10 — corpus heavy hitters (boilerplate detection): top-10 tokens
    // by frequency through the GLOBAL TopKPerKey path (empty grouping →
    // AllTuples distribution: per-partition heaps, single k-row merge — the
    // vocabulary never needs a full sort).
    QueryDef("t_heavy_hitters", (s, d) => {
      val counts = docs(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
      graft.plans.TopK.perKey(counts, keys = Seq(),
          order = Seq(graft.plans.TopK.Ord("n", desc = true),
                      graft.plans.TopK.Ord("term")), k = 10)
        .select(col("rk"), col("term"), col("n"))
        .orderBy("rk")
    },
      """WITH c AS (
           SELECT t AS term, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           GROUP BY t)
         SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rk, term, n
         FROM c ORDER BY n DESC, term LIMIT 10""")
  )
}
