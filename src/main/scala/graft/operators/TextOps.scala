package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Artifacts
import graft.sources.Tables

/** Text-analysis operators over the `documents` table (SURVEY §2 B3, B15,
  * B22 + north-star text ops: language-ID, quality scoring, token
  * counting, fingerprinting).
  *
  * `wordCount` is the reference's flagship (and only proven) workload —
  * distributed word count (`/root/reference/test.go:13-71`): mapper
  * pre-aggregates counts per line (`test.go:15,22-25`), hash-buckets by
  * key (`test.go:77-81`), reducer sums partials (`test.go:51,58-65`).
  * Spark-first this is one declarative chain: the planner splits the
  * aggregation into partial (map-side combine) and final automatically,
  * and the shuffle replaces the reference's tmp-file exchange.
  *
  * Oracle-parity principles used throughout this file:
  *  - regexes use explicit character classes (Java `\s` ⊃ RE2 `\s`);
  *  - integer→double divisions and left-fold accumulations are written
  *    in the SAME evaluation order as the DuckDB oracle SQL, so doubles
  *    are bit-identical and need no rounding;
  *  - counts are cast to Long (DuckDB aggregates return BIGINT).
  */
object TextOps {

  /** Whitespace-run pattern spelled as an explicit character class so the
    * Java regex engine and the oracle's RE2 agree: Java's `\s` includes
    * vertical tab (U+000B); RE2's is exactly `[\t\n\f\r ]`. */
  val WsRun = "[ \\t\\n\\r\\f\\x0B]+"

  /** Tokenization shared by wordcount / text stats / dedup: lowercase,
    * split on whitespace runs. Mirrors the reference's record model where
    * a token is a whole line (`test.go:22-25`) — generalized to whitespace
    * tokens for real documents. May contain empty strings at the text
    * boundaries; consumers filter post-explode (codegen-friendly relational
    * filter) or drop empties in their own array logic. */
  def tokens(text: Column): Column = split(lower(text), WsRun)

  /** `WsRun` re-escaped for embedding in a Spark SQL string literal:
    * Spark's SQL lexer interprets backslash escapes inside '…' (dropping
    * the backslash for unknown ones like `\f`/`\x`), so the regex
    * backslashes must be doubled or the class would match the LETTERS
    * f, x, 0, B. DuckDB '…' literals do NOT unescape, so oracle SQL uses
    * the plain `WsRun`. */
  val WsRunSqlLit: String = WsRun.replace("\\", "\\\\")

  /** Non-empty token array (array-lambda filter; used where the token
    * array itself is the unit of work, e.g. shingling and stats). */
  val TokensSql = s"filter(split(lower(text), '$WsRunSqlLit'), x -> x != '')"

  /** B3 q_wordcount: token → count, ordered for determinism.
    * The empty-token filter runs AFTER explode as a relational predicate so
    * the whole pipeline stays inside whole-stage codegen (an array-lambda
    * `filter()` would force interpreted per-row eval of the subtree). */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    wordCount(Tables(spark, dir, "documents"))

  def wordCount(docs: DataFrame): DataFrame =
    wordCountPartials(docs).orderBy("word")

  /** The q_wordcount aggregation body minus the ordering — ONE
    * definition shared by the flagship count, its incremental form
    * (Incremental.incrWordCount's state/delta partials), and the CMS
    * sketch build, so the tokenizer/filter can never drift between
    * the "bit-for-bit ≡ q_wordcount" claims and q_wordcount itself. */
  private[graft] def wordCountPartials(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** B22 q_text_stats: per-language corpus statistics — doc count, token
    * count, vocabulary size, mean doc length, type/token ratio. Two
    * aggregates (token-grain + doc-grain) joined on lang; the join is a
    * tiny post-aggregation broadcast at any scale. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    textStats(Tables(spark, dir, "documents"))

  def textStats(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("lang"), col("doc_id"),
        explode(expr(TokensSql)).as("tok"))
      .groupBy("lang")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_types"))
    val chars = docs.groupBy("lang")
      .agg(round(avg("n_chars"), 2).as("avg_chars"))
    tok.join(chars, "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_types"),
        col("avg_chars"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"))
  }

  /** Stopword profiles for the language-ID heuristic. Tiny, broadcast as
    * literals into the expression — no join, no UDF. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "las", "una", "es", "y"))

  private def profileCountSqlOn(arr: String, words: Seq[String]): String =
    s"size(filter($arr, x -> x IN (${words.map("'" + _ + "'").mkString(",")})))"

  private def profileCountSql(words: Seq[String]): String =
    profileCountSqlOn(TokensSql, words)

  /** The langId argmax over the s_<lang> score columns: highest score
    * wins, ties to the earlier profile in [[LangProfiles]] order,
    * 'und' when every score is zero — shared by the doc-grain
    * [[langId]] and the passage-grain [[langMix]]. */
  private def bestLangCol: Column = LangProfiles.map(_._1).foldRight(lit("und")) {
    case (l, els) =>
      val sl = col(s"s_$l")
      val isMax = LangProfiles.map(_._1).filter(_ != l)
        .map(o => sl >= col(s"s_$o")).reduce(_ && _)
      when(sl > 0 && isMax, lit(l)).otherwise(els)
  }

  /** North-star q_lang_id: stopword-profile language identification.
    * Scores each language by profile-stopword hits; argmax with a fixed
    * preference order (en,de,fr,es) on ties, 'und' (undetermined) when no
    * profile matches at all. A character-n-gram model slots into the same
    * shape; stopword profiles are the deterministic, oracle-expressible
    * core. Pure per-row expression → embarrassingly parallel at 100 TB. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langId(Tables(spark, dir, "documents"))

  def langId(docs: DataFrame): DataFrame = {
    val scores = LangProfiles.map { case (l, ws) =>
      expr(profileCountSql(ws)).cast(LongType).as(s"s_$l")
    }
    docs
      .select(col("doc_id") +: scores: _*)
      .withColumn("pred_lang", bestLangCol)
  }

  /** Passage width for [[langMix]] (the q_passage_dedup grain). */
  val LangMixPassage = 10

  /** q_lang_mix: CODE-SWITCHING / language-mixing audit — the langId
    * heuristic run at PASSAGE grain (non-overlapping
    * [[LangMixPassage]]-token windows), rolled up per document into the
    * dominant passage language, its share, and a mixed flag. Doc-grain
    * langId calls a half-English-half-German page "en" and moves on;
    * monolingual-corpus curation needs to know the page is MIXED (the
    * CCNet/OSCAR recipes filter or split exactly these). Zero-token
    * docs have no passages and are not emitted (nothing to classify).
    *
    * Integer discipline: dom_share_micro = (10⁶·dominant-passage
    * count) div n_passages — exact in both engines; the dominant pick
    * is the (count desc, lang asc) min-struct argmax (the labelProp
    * tie-break). Pure per-row explode + two keyed aggs — no windows,
    * no state; passage grain is bounded by total token count. */
  def langMix(spark: SparkSession, dir: String): DataFrame =
    langMix(Tables(spark, dir, "documents"))

  def langMix(docs: DataFrame): DataFrame = {
    val p = LangMixPassage
    val scores = LangProfiles.map { case (l, ws) =>
      expr(profileCountSqlOn("ptoks", ws)).cast(LongType).as(s"s_$l")
    }
    val passages = docs
      .withColumn("toks", expr(TokensSql))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(toks) - 1) div $p), i -> slice(toks, i * $p + 1, $p))"))
        .as("ptoks"))
    passages
      .select(col("doc_id") +: scores: _*)
      .withColumn("plang", bestLangCol)
      .groupBy("doc_id", "plang").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_passages"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("c")).as("nc"), col("plang").as("l"))).as("m"))
      .select(col("doc_id"), col("n_passages"),
        col("m.l").as("dom_lang"),
        expr("(1000000 * (-m.nc)) div n_passages").as("dom_share_micro"),
        col("n_langs"),
        (col("n_langs") > 1L).as("mixed"))
  }

  /** North-star q_quality_score: per-document quality heuristics — token
    * count, mean token length, stopword ratio, alphabetic-character ratio,
    * and a bounded composite score. All codegen'd per-row expressions.
    * Degenerate docs (empty/whitespace-only → zero tokens, empty text)
    * score their ratio terms 0.0 explicitly — unguarded division would
    * yield NULL/NaN, silently pass a `score < threshold` gate, and
    * diverge from the oracle's division-by-zero behavior. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Tables(spark, dir, "documents"))

  def qualityScore(docs: DataFrame): DataFrame = {
    val stop = LangProfiles.head._2 // en profile
    docs
      .withColumn("toks", expr(TokensSql))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .select(
        col("doc_id"),
        col("n_tok"),
        when(col("n_tok") <= 0L, lit(0.0)).otherwise(
          expr("aggregate(toks, cast(0 as bigint), (a, x) -> a + length(x))")
            .cast("double") / col("n_tok")).as("avg_tok_len"),
        when(col("n_tok") <= 0L, lit(0.0)).otherwise(
          expr(s"size(filter(toks, x -> x IN (${stop.map("'" + _ + "'").mkString(",")})))")
            .cast("double") / col("n_tok")).as("stop_ratio"),
        when(length(col("text")) <= 0, lit(0.0)).otherwise(
          length(regexp_replace(lower(col("text")), "[^a-z]", ""))
            .cast("double") / length(col("text"))).as("alpha_ratio"))
      .withColumn("score",
        least(col("n_tok").cast("double") / 50.0, lit(1.0)) * 0.3
          + col("stop_ratio") * 0.3 + col("alpha_ratio") * 0.4)
  }

  /** Gopher rule-2 stopword set (Rae et al. 2021 §A1.1): a document
    * must contain at least [[GopherMinStopHits]] of these. */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2L

  /** North-star q_quality_gopher: the Gopher/MassiveText RULE-BASED
    * quality filter (Rae et al. 2021 §A1.1 — the document-level recipe
    * RefinedWeb/Dolma inherit), beside q_quality_score's composite and
    * q_repetition's repetition signals: per document the six rules as
    * exact signals, a boolean per rule, and the conjunctive keep
    * verdict — emitted per-rule (not just the verdict) because a
    * curation run tunes thresholds by inspecting which rule fires.
    *  - word count in [50, 100 000]        (g_words)
    *  - mean word length in [3, 10]        (g_mean_len)
    *  - symbol-to-word ratio ('#' + '...') ≤ 0.1 (g_symbol)
    *  - ≤ 90 % of lines start with a bullet ("- " / "* "; the ASCII
    *    subset of the paper's bullet glyphs)  (g_bullets)
    *  - ≤ 30 % of lines end with an ellipsis ("...") (g_ellipsis)
    *  - ≥ 80 % of words contain ≥ 1 alphabetic char (g_alpha)
    *  - ≥ 2 distinct members of [[GopherStops]] present (g_stops)
    * All counters are integers; each ratio is ONE double division with
    * operand order mirrored by the oracle (bit-identical); zero-word
    * docs take explicit 0.0 ratios (the qualityScore guard — they fail
    * g_words anyway). Per-row codegen expressions only — at 100 TB
    * this is a mapper with no shuffle at all. */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame =
    // enriched corpus (fixture ∪ web slice): the rules get a population
    // where every verdict fires — the raw fixture is all-fail word salad
    qualityGopher(graft.sources.WebCorpus.enriched(
      Tables(spark, dir, "documents")))

  def qualityGopher(docs: DataFrame): DataFrame = {
    val stopArr = GopherStops.map("'" + _ + "'").mkString(",")
    val sig = docs
      .withColumn("toks", expr(TokensSql))
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("n_words", size(col("toks")).cast(LongType))
      .withColumn("n_lines", size(col("lines")).cast(LongType))
      .withColumn("sum_len",
        expr("aggregate(toks, cast(0 as bigint), (a, x) -> a + length(x))"))
      .withColumn("n_sym",
        (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))
          + regexp_count(col("text"), lit("\\.\\.\\."))).cast(LongType))
      .withColumn("n_bullet",
        expr("size(filter(lines, x -> x rlike '^[-*] '))").cast(LongType))
      .withColumn("n_ell_end",
        // \z, not $: Java regex '$' also matches before a trailing \r
        // (CRLF docs split on \n) while the oracle's RE2 '$' is
        // end-of-string only — \z means end-of-string in BOTH engines
        expr("size(filter(lines, x -> x rlike '\\\\.\\\\.\\\\.\\\\z'))").cast(LongType))
      .withColumn("n_alpha",
        expr("size(filter(toks, x -> x rlike '[a-z]'))").cast(LongType))
      .withColumn("stop_hits",
        expr(s"size(filter(array($stopArr), w -> array_contains(toks, w)))")
          .cast(LongType))
    sig.select(
        col("doc_id"), col("n_words"),
        when(col("n_words") <= 0L, lit(0.0))
          .otherwise(col("sum_len").cast("double") / col("n_words")).as("mean_word_len"),
        when(col("n_words") <= 0L, lit(0.0))
          .otherwise(col("n_sym").cast("double") / col("n_words")).as("symbol_ratio"),
        (col("n_bullet").cast("double") / col("n_lines")).as("bullet_frac"),
        (col("n_ell_end").cast("double") / col("n_lines")).as("ellipsis_frac"),
        when(col("n_words") <= 0L, lit(0.0))
          .otherwise(col("n_alpha").cast("double") / col("n_words")).as("alpha_frac"),
        col("stop_hits"))
      .withColumn("g_words", col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("g_mean_len", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("g_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("g_bullets", col("bullet_frac") <= 0.9)
      .withColumn("g_ellipsis", col("ellipsis_frac") <= 0.3)
      .withColumn("g_alpha", col("alpha_frac") >= 0.8)
      .withColumn("g_stops", col("stop_hits") >= GopherMinStopHits)
      .withColumn("keep",
        col("g_words") && col("g_mean_len") && col("g_symbol") &&
          col("g_bullets") && col("g_ellipsis") && col("g_alpha") && col("g_stops"))
  }

  /** Gopher REPETITION thresholds (Rae et al. 2021 §A1.1, Table A1 —
    * published constants, cited not copied): a document is removed
    * when any fraction exceeds its bound. Shared verbatim with the
    * DuckDB oracle (interpolated — the no-drift convention). */
  val GopherDupLineFrac = 0.30
  val GopherDupParaFrac = 0.30
  val GopherDupLineCharFrac = 0.20
  val GopherDupParaCharFrac = 0.20
  val GopherTopGramFrac: Seq[(Int, Double)] =
    Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  val GopherDupGramFrac: Seq[(Int, Double)] =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** q_repetition_gopher: the REPETITION half of the Gopher recipe
    * ([[qualityGopher]] is the document-rule half; q_repetition is the
    * token-grain profile) — per document the 13 published repetition
    * signals and the conjunctive keep verdict:
    *  - duplicate line / paragraph fraction ≤ 0.30 each
    *    (frac = (count − distinct) / count — occurrences beyond the
    *    first are the duplicates);
    *  - duplicate line / paragraph CHARACTER fraction ≤ 0.20 each
    *    (char mass of occurrences beyond the first / total char mass);
    *  - top {2,3,4}-gram character fraction ≤ {0.20, 0.18, 0.16}
    *    (the MOST FREQUENT word n-gram's count·chars over the doc's
    *    word-char mass — argmax by occurrence count, ties broken
    *    toward the longer gram; both engines replay the same
    *    lexicographic (count, chars) struct max, and on an exact
    *    count-and-chars tie the masses coincide, so the signal is
    *    deterministic);
    *  - duplicate {5..10}-gram character fraction ≤ {0.15 … 0.10}
    *    (count·chars summed over n-grams occurring ≥ 2×, over the
    *    word-char mass — overlapping occurrences each count, so the
    *    ratio can exceed 1 on degenerate docs; the threshold compare
    *    is unaffected and the oracle replays the same formula).
    * Lines are '\n' splits, paragraphs '\n\n+' splits, both trimmed-
    * non-empty; grams are space-joins of [[TokensSql]] tokens with
    * chars(g) = length(g) − (n−1). Zero-denominator docs take explicit
    * 0.0 (the qualityGopher guard). All counters integer, each ratio
    * ONE double division operand-order-mirrored by the oracle.
    *
    * Shape at scale: a shuffle-free MAPPER — one corpus scan, one
    * compiled per-document kernel call
    * ([[graft.functions.GopherRepetitionStats]]) computing every mass
    * exactly (dictionary-encoded token windows, no hashing), then the
    * per-row ratio/threshold projection. This is the published
    * recipe's own shape (the signals are per-doc-in-RAM computations,
    * the same per-row token-array assumption [[qualityGopher]]'s
    * aggregate lambdas already make), and it deleted the engine's most
    * expensive text row: the r14 keyed form exploded ~9 gram rows per
    * token and shuffled them (7.6 s at sf0.1 vs ~1 s for the kernel).
    * [[repetitionGopherKeyed]] keeps the exploded
    * (doc, kind, n, unit) partial/final aggregation — spec-asserted
    * equal — as the fallback for adversarial corpora whose SINGLE
    * documents outgrow executor memory. */
  def repetitionGopher(spark: SparkSession, dir: String): DataFrame =
    repetitionGopher(Tables(spark, dir, "documents"))

  def repetitionGopher(docs: DataFrame): DataFrame =
    repetitionFracs(docs.select(
      col("doc_id"),
      graft.functions.GopherRepetitionStats.of(
        expr(TokensSql),
        expr("filter(split(text, '\\n'), x -> trim(x) != '')"),
        expr("filter(split(text, '\\n\\n+'), x -> trim(x) != '')"),
        GopherTopGramFrac.map(_._1), GopherDupGramFrac.map(_._1)).as("r"))
      .select(col("doc_id"), col("r.*")))

  /** Keyed-aggregation baseline of [[repetitionGopher]]: ONE explode
    * to (doc, kind, n, unit) grain — trimmed lines (k=0), trimmed
    * paragraphs (k=1), word n-grams n = 1..10 (k=2; the n=1 arm
    * doubles as the word-char mass, Σ count·chars of unigrams ≡
    * Σ length(token)) — two-level partial/final aggregates keyed far
    * wider than executor count, then one doc-grain conditional
    * rollup. Same signals bit-for-bit (spec-asserted); this form
    * survives single documents larger than executor memory, at ~9
    * shuffled gram rows per token. */
  private[graft] def repetitionGopherKeyed(docs: DataFrame): DataFrame = {
    // every repetition unit from one tokenized row: k=0 lines, k=1
    // paragraphs, k=2 n-grams (n=1 carries the word mass); chars(g)
    // excludes the n-1 joining spaces for grams, is the raw unit
    // length for lines/paragraphs
    val gramArms = (1 +: (GopherTopGramFrac ++ GopherDupGramFrac).map(_._1))
      .map {
        case 1 => "transform(ts, x -> named_struct('k', 2, 'n', 1, 'g', x))"
        case n =>
          s"""IF(size(ts) >= $n,
             |  transform(sequence(1, size(ts) - ${n - 1}),
             |    i -> named_struct('k', 2, 'n', $n, 'g', array_join(slice(ts, i, $n), ' '))),
             |  transform(slice(ts, 1, 0), x -> named_struct('k', 2, 'n', $n, 'g', '')))"""
            .stripMargin
      }
    val unitArr = (Seq(
      "transform(lns, x -> named_struct('k', 0, 'n', 0, 'g', x))",
      "transform(prs, x -> named_struct('k', 1, 'n', 0, 'g', x))") ++ gramArms)
      .mkString("concat(", ", ", ")")
    val units = docs.select(
        col("doc_id"),
        expr(TokensSql).as("ts"),
        expr("filter(split(text, '\\n'), x -> trim(x) != '')").as("lns"),
        expr("filter(split(text, '\\n\\n+'), x -> trim(x) != '')").as("prs"))
      .select(col("doc_id"), explode(expr(unitArr)).as("s"))
      .select(col("doc_id"), col("s.k").as("k"), col("s.n").as("n"),
        col("s.g").as("g"))

    // (doc, kind, n, unit) counts → per-(doc, kind, n) stats: unit and
    // distinct-unit totals, occurrence char mass, beyond-first char
    // mass, the (count, chars) argmax, and the ≥2-occurrence mass
    val perKn = units
      .groupBy("doc_id", "k", "n", "g").agg(count(lit(1)).as("c"))
      .withColumn("chars",
        (length(col("g")) - when(col("k") === 2, col("n") - 1).otherwise(0))
          .cast(LongType))
      .groupBy("doc_id", "k", "n").agg(
        sum("c").as("nu"),
        count(lit(1)).as("nd"),
        sum(col("chars") * col("c")).as("occ_mass"),
        sum(col("chars") * (col("c") - 1L)).as("rep_mass"),
        max(struct(col("c"), col("chars"))).as("top_s"),
        sum(when(col("c") >= 2L, col("c") * col("chars")).otherwise(0L))
          .as("dup_mass"))
      .withColumn("top_mass", col("top_s.c") * col("top_s.chars"))

    // doc-grain conditional rollup: ≤ 13 (k, n) rows per doc fold into
    // one wide row — each signal reads exactly one of them
    def pick(kk: Int, nn: Int, v: Column, nm: String): Column =
      max(when(col("k") === kk && col("n") === nn, v)).as(nm)
    val roll = perKn.groupBy("doc_id").agg(
      pick(0, 0, col("nu"), "l_n"),
      (Seq(
        pick(0, 0, col("nd"), "l_nd"),
        pick(0, 0, col("occ_mass"), "l_mass"),
        pick(0, 0, col("rep_mass"), "l_dup"),
        pick(1, 0, col("nu"), "p_n"),
        pick(1, 0, col("nd"), "p_nd"),
        pick(1, 0, col("occ_mass"), "p_mass"),
        pick(1, 0, col("rep_mass"), "p_dup"),
        pick(2, 1, col("occ_mass"), "m")) ++
       GopherTopGramFrac.map { case (n, _) =>
         pick(2, n, col("top_mass"), s"top${n}_mass") } ++
       GopherDupGramFrac.map { case (n, _) =>
         pick(2, n, col("dup_mass"), s"dup${n}_mass") }): _*)

    repetitionFracs(docs.select("doc_id").join(roll, Seq("doc_id"), "left"))
  }

  /** Shared ratio/threshold tail of [[repetitionGopher]] and
    * [[repetitionGopherKeyed]]: input is doc_id + the 19 integer
    * masses (possibly null from the keyed form's left join — the
    * kernel emits explicit zeros); each fraction is ONE
    * operand-order-pinned double division with the zero-denominator
    * guard, then the conjunctive keep. */
  private def repetitionFracs(joined: DataFrame): DataFrame = {
    def frac(num: Column, den: Column): Column =
      when(den <= 0L, lit(0.0)).otherwise(num.cast("double") / den)

    val sig = joined.select(
      (Seq(
        col("doc_id"),
        frac(coalesce(col("l_n"), lit(0L)) - coalesce(col("l_nd"), lit(0L)),
          coalesce(col("l_n"), lit(0L))).as("dup_line_frac"),
        frac(coalesce(col("l_dup"), lit(0L)), coalesce(col("l_mass"), lit(0L)))
          .as("dup_line_char_frac"),
        frac(coalesce(col("p_n"), lit(0L)) - coalesce(col("p_nd"), lit(0L)),
          coalesce(col("p_n"), lit(0L))).as("dup_para_frac"),
        frac(coalesce(col("p_dup"), lit(0L)), coalesce(col("p_mass"), lit(0L)))
          .as("dup_para_char_frac")) ++
       GopherTopGramFrac.map { case (n, _) =>
         frac(coalesce(col(s"top${n}_mass"), lit(0L)), coalesce(col("m"), lit(0L)))
           .as(s"top${n}_char_frac") } ++
       GopherDupGramFrac.map { case (n, _) =>
         frac(coalesce(col(s"dup${n}_mass"), lit(0L)), coalesce(col("m"), lit(0L)))
           .as(s"dup${n}_char_frac") }): _*)
    sig.withColumn("keep",
      col("dup_line_frac") <= GopherDupLineFrac &&
        col("dup_line_char_frac") <= GopherDupLineCharFrac &&
        col("dup_para_frac") <= GopherDupParaFrac &&
        col("dup_para_char_frac") <= GopherDupParaCharFrac &&
        GopherTopGramFrac.map { case (n, t) => col(s"top${n}_char_frac") <= t }
          .reduce(_ && _) &&
        GopherDupGramFrac.map { case (n, t) => col(s"dup${n}_char_frac") <= t }
          .reduce(_ && _))
  }

  /** North-star q_c4_clean: the C4 LINE-LEVEL cleaning pass (Raffel et
    * al. 2020 §2.2 — the other canonical web-curation recipe, line
    * grain where [[qualityGopher]] is document grain): a line is KEPT
    * iff it ends in terminal punctuation (. ! ? ") and has ≥ 5
    * whitespace words and does not contain "javascript"
    * (case-insensitive); the PAGE is dropped outright if it contains
    * "lorem ipsum" or a curly brace, or keeps < 3 lines. Emits per doc
    * the line accounting, the drop verdict with its reason precedence
    * (lorem > brace > too_few_lines > none), and the cleaned text
    * (kept lines re-joined with \n — the dataset REWRITE, like
    * q_boilerplate/q_winnow_cut). Pure per-row array/string
    * expressions — a shuffle-free mapper at any corpus scale; the
    * oracle replays the same lambdas over DuckDB lists. */
  def c4Clean(spark: SparkSession, dir: String): DataFrame =
    // enriched corpus (fixture ∪ web slice): pages that SURVIVE the
    // line clean exist — the raw fixture drops 100% as too_few_lines
    c4Clean(graft.sources.WebCorpus.enriched(
      Tables(spark, dir, "documents")))

  def c4Clean(docs: DataFrame): DataFrame = {
    val keepLine = // \z not $: see qualityGopher's n_ell_end note
      """x -> x rlike '[.!?"]\\z'
        |  AND size(filter(split(x, '[ \\t]+'), w -> w != '')) >= 5
        |  AND NOT lower(x) rlike 'javascript'""".stripMargin.replace("\n", " ")
    docs
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("kept", expr(s"filter(lines, $keepLine)"))
      .withColumn("n_lines", size(col("lines")).cast(LongType))
      .withColumn("n_kept", size(col("kept")).cast(LongType))
      .withColumn("has_lorem", lower(col("text")).contains("lorem ipsum"))
      .withColumn("has_brace", col("text").contains("{"))
      .withColumn("drop_reason",
        when(col("has_lorem"), lit("lorem_ipsum"))
          .when(col("has_brace"), lit("brace"))
          .when(col("n_kept") < 3L, lit("too_few_lines"))
          .otherwise(lit("none")))
      .select(
        col("doc_id"), col("n_lines"), col("n_kept"), col("drop_reason"),
        (col("drop_reason") =!= "none").as("dropped"),
        when(col("drop_reason") =!= "none", lit(""))
          .otherwise(array_join(col("kept"), "\n")).as("clean_text"))
  }

  /** BPE-ish pre-tokenization pattern: letter runs | digit runs | a single
    * non-alphanumeric non-space symbol (explicit classes for RE2 parity). */
  val WordpiecePat = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0B]"

  /** North-star q_token_count: whitespace tokens + BPE-ish pre-token count
    * per document (the unit-economics column of a training-data pipeline). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables(spark, dir, "documents"))

  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        expr(s"size($TokensSql)").cast(LongType).as("ws_tokens"),
        regexp_count(lower(col("text")), lit(WordpiecePat)).cast(LongType)
          .as("wp_tokens"))

  /** North-star q_repetition: repetition-based quality signals per
    * document (the Gopher/MassiveText family of filters — Rae et al.,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", 2021, §A1.1 — where excessive repetition marks
    * boilerplate/spam): token count, distinct-token count, the fraction
    * of tokens that are repeats (`1 − types/tokens`), and the most
    * frequent token's share. Two-level aggregation — (doc_id, tok)
    * counts, then per-doc rollup — both splits partial/final, so no
    * skew hazard (the key space is the same as wordcount's). A left
    * join back to the corpus keeps zero-token documents (explode drops
    * them) with all ratios 0.0, mirroring `qualityScore`'s degenerate
    * guards. Divisions are int→double in the same order as the oracle:
    * bit-identical, no rounding. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables(spark, dir, "documents"))

  def repetition(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"),
        max("c").as("max_c"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        when(col("n_tok").isNull || col("n_tok") <= 0L, lit(0.0))
          .otherwise((col("n_tok") - col("n_types")).cast("double") / col("n_tok"))
          .as("dup_ratio"),
        when(col("n_tok").isNull || col("n_tok") <= 0L, lit(0.0))
          .otherwise(col("max_c").cast("double") / col("n_tok"))
          .as("top_tok_ratio"))
  }

  /** North-star q_tfidf: top-k salient terms per document by TF-IDF.
    * Term frequencies and document frequencies are the wordcount-shaped
    * aggregations; the tf↔df join shuffles on the term (vocabulary-sized
    * — at 100 TB AQE broadcasts the df side when the vocabulary is
    * small, hash-joins otherwise; either way no all-pairs anything).
    *
    * The score uses LINEAR idf — `tf · N / df` — rather than the
    * textbook `tf · ln(N/df)`: multiplication and division are
    * correctly-rounded IEEE-754 ops (bit-identical across engines, so
    * the oracle needs no rounding) while `ln` is libm-dependent in its
    * last ulp. Linear idf weights rarity more steeply than log idf (a
    * legitimate member of the idf family, not a ranking-equivalent
    * substitute) — swapping in `log` changes only this one Column. The
    * window ranks by the score itself — bit-identical in both engines —
    * with (term asc) breaking exact-score ties → total order →
    * deterministic row_number. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(Tables(spark, dir, "documents"), 3)

  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val nDocs = docs.count() // one scalar count at plan time (driver-held)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("score",
        col("tf").cast("double") * lit(nDocs.toDouble) / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rnk")
  }

  /** Result width and noise floor for [[chi2Terms]]. */
  val Chi2TopK = 20
  val Chi2MinDf = 5

  /** q_chi2: χ² feature selection — the top characteristic terms per
    * language by the chi-squared statistic of the term-presence ×
    * language contingency table (the standard feature-selection
    * ranking; Yang & Pedersen, ICML 1997). For term t and language l
    * with document counts a = df(t, l), b = df(t) − a,
    * c = n_l − a, d = N − n_l − b:
    *
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * restricted to POSITIVE association (ad > bc — a term that marks
    * the language by absence scores high too, but isn't a "top term
    * for l"), df within [[Chi2MinDf]] .. N−1 (singleton terms are
    * noise; a term in every document carries no signal and zeroes the
    * (c+d) factor).
    *
    * Exactness: a,b,c,d are exact BIGINT document counts (presence via
    * per-doc distinct, [[tokens]] convention). The statistic is
    * evaluated in ONE pinned order both engines share — numerator and
    * denominator factors formed in BIGINT, each cast to DOUBLE, then
    * left-associated multiply/divide (every step correctly rounded ⇒
    * bit parity). BIGINT factor bounds: (ad−bc)² ≤ N⁴/16 and
    * df·(N−df) ≤ N²/4, exact to N ≈ 55 000 docs in BIGINT and to
    * N ≈ 9·10⁷ as doubles; past that the RANKING survives (χ² errors
    * are relative-ulp) but bit-parity weakens — same documented band
    * as the BM25 integer ranking.
    *
    * Shape at scale: explode → per-doc distinct (shuffle on (doc, term)
    * partials) → two vocabulary-grain aggregates; the per-language doc
    * totals are a |langs|-row broadcast. The top-k window partitions on
    * lang over vocabulary-sized input — never the corpus. */
  def chi2Terms(spark: SparkSession, dir: String): DataFrame =
    chi2Terms(Tables(spark, dir, "documents"), Chi2TopK, Chi2MinDf)

  /** df form: expects (doc_id: Long, lang: String, text: String). */
  def chi2Terms(docs: DataFrame, k: Int, minDf: Int): DataFrame = {
    val n = docs.count() // one driver scalar (the tfidf convention)
    val td = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))
      .where(length(col("term")) > 0)
      .distinct() // presence, not tf
    val byLang = td.groupBy("term", "lang").agg(count(lit(1)).as("a"))
    val dfreq = td.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf && col("df") < n)
    val nl = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val num = col("a") * col("d") - col("b") * col("c")
    val chi2 = lit(n.toDouble) *
      num.cast("double") * num.cast("double") /
      (col("df") * (lit(n) - col("df"))).cast("double") /
      (col("n_lang") * (lit(n) - col("n_lang"))).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("chi2").desc, col("term").asc)
    byLang
      .join(dfreq, "term")
      .join(broadcast(nl), "lang")
      .withColumn("b", col("df") - col("a"))
      .withColumn("c", col("n_lang") - col("a"))
      .withColumn("d", lit(n) - col("n_lang") - col("b"))
      .where(num > 0) // positive association only
      .withColumn("chi2", chi2)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
      .select("lang", "term", "a", "df", "chi2", "rn")
  }

  /** q_topk_sketch: heavy-hitter tokens via the Misra–Gries sketch
    * (`functions.TopKSketch`) — the bounded-memory scale path for the
    * wordcount family when the KEY SPACE explodes (URLs, n-grams,
    * user-agents): ≤ `capacity` counters per partition, only sketches
    * shuffle, estimates undercount by at most N/(capacity+1) and
    * nothing above that line is ever lost. The fixture vocabulary (31
    * words) fits the 64-counter budget, so the DECLARED run is in the
    * sketch's exact regime — deterministic, hence DuckDB-oracle-hashed
    * against plain wordcount top-k; the lossy regime (capacity <
    * vocabulary, merge-order-dependent survivors but guaranteed heavy
    * hitters) is property-spec'd on crafted streams. */
  def approxTopTokens(spark: SparkSession, dir: String): DataFrame =
    approxTopTokens(Tables(spark, dir, "documents"), 64, 10)

  def approxTopTokens(docs: DataFrame, capacity: Int, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .as[String]
    toks.select(new graft.functions.TopKSketch(capacity).toColumn)
      .flatMap((m: Map[String, Long]) => m.toSeq)
      .toDF("tok", "est")
      .orderBy(desc("est"), asc("tok"))
      .limit(k)
  }

  /** North-star q_lm_score: unigram corpus-likelihood quality score —
    * each document scored by the mean corpus frequency of its tokens
    * (`Σ ctf(tok) / n_tok / N`): prose built from common words scores
    * high, gibberish/rare-token junk scores low. The deterministic,
    * oracle-expressible core of LM-based quality filtering (CCNet —
    * Wenzek et al., LREC 2020 — ranks by KenLM perplexity; a real LM
    * slots into the same shape by swapping the ctf join for a model
    * lookup). Kept LINEAR (no log/exp — libm-dependent last ulps):
    * the numerator is an exact BIGINT sum, so the two fixed-order
    * divisions are bit-identical across engines with no rounding.
    * Shape at scale: token explode → vocabulary-keyed ctf join (AQE
    * broadcasts small vocabularies) → per-doc sum; all aggregations
    * split partial/final; zero-token docs rejoin with score 0.0. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScore(Tables(spark, dir, "documents"))

  def lmScore(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
    val ctf = tok.groupBy("tok").agg(count(lit(1)).as("ctf"))
    // one scalar to the driver (like tfidf's N); 0 for an empty corpus
    val nTotal = ctf.agg(sum("ctf")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val per = tok.join(ctf, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("ctf").as("num"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("num"), lit(0L)).as("lm_num"),
        when(col("n_tok").isNull || col("n_tok") <= 0L, lit(0.0))
          .otherwise(col("num").cast("double") / col("n_tok").cast("double")
            / lit(nTotal.toDouble))
          .as("lm_score"))
  }

  /** North-star q_fingerprint: polynomial rolling-hash document
    * fingerprints — a whole-document hash plus the minimum 8-char-window
    * hash (the min-hash-of-k-grams selection at the core of winnowing:
    * Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for
    * Document Fingerprinting", SIGMOD 2003 — robust to local edits).
    * Pure per-row array expressions; fold order matches the oracle. */
  /** q_feature_hash: the hashing trick (Weinberger et al., ICML 2009) —
    * sparse bag-of-words features in a FIXED dimensionality: every token
    * hashes to one of `buckets` feature indices (FNV-1a, the engine's
    * codegen'd hash Expression), counted per (doc, bucket). The
    * vectorizer of a streaming/ML featurization pipeline: no vocabulary
    * to build, broadcast, or version — the feature space is closed
    * before the data arrives, identical across train/serve and across
    * engines. Collisions are by design (buckets=64 on a ~30-word
    * vocabulary exercises them in the fixture). Shape: explode →
    * per-row hash → wordcount-shaped partial/final agg on ≤
    * docs×buckets keys. */
  def featureHash(spark: SparkSession, dir: String, buckets: Int = 64): DataFrame =
    featureHash(Tables(spark, dir, "documents"), buckets)

  def featureHash(docs: DataFrame, buckets: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("doc_id"),
        (graft.functions.Fnv32a.fnv32a(col("tok")) % buckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** q_pmi: bigram collocation mining — token pairs that co-occur far
    * more than independence predicts (Church & Hanks, "Word Association
    * Norms, Mutual Information, and Lexicography", CL 1990). The score
    * is the LINEAR association ratio (lift) rather than its log (PMI):
    * `c_xy·U²/(B·c_x·c_y)` — identical ranking (log is monotone), but
    * multiplication/division are correctly-rounded IEEE-754 ops, so the
    * fixed evaluation order is bit-identical to the oracle with no
    * rounding and no libm dependence (the `tfidf`/`lm_score` precedent).
    *
    * Shape at scale: bigram and unigram counts are both wordcount-shaped
    * partial/final aggregations; the min-count filter runs BEFORE the
    * unigram joins, collapsing the long tail (Zipf: most bigrams are
    * hapax) so the joins touch only the surviving head; the two joins
    * key on the vocabulary (AQE broadcasts small ones). The two scalar
    * counts (U, B) are Σc over the checkpointed count tables — they
    * ride the aggregations, so the corpus is tokenized twice, not four
    * times (round 11; values identical). The bigram explode is the
    * native Catalyst [[graft.functions.Bigrams]] Generator. */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocations(Tables(spark, dir, "documents"), 5L)

  def collocations(docs: DataFrame, minCount: Long): DataFrame = {
    val uni = docs.select(explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
    // checkpoint the vocab-sized count tables ONCE: the scalar totals
    // are Σc over them (identical values to counting the token
    // streams), so the corpus is tokenized twice, not four times —
    // the totals ride the aggregations instead of their own passes
    val uniCnt = graft.Engine.cut(uni.groupBy("tok").agg(count(lit(1)).as("c")))
    val bi = docs.select(graft.functions.Bigrams.bigrams(col("text")).as("bigram"))
    val biCnt = graft.Engine.cut(bi.groupBy("bigram").agg(count(lit(1)).as("c_xy")))
    // coalesce: sum over an EMPTY count table is NULL where count() was 0
    val totU = uniCnt.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val totB = biCnt.agg(coalesce(sum("c_xy"), lit(0L))).head().getLong(0)
    biCnt
      .where(col("c_xy") >= minCount)
      // tokens are whitespace-split, so ' ' cannot occur inside one —
      // the bigram splits back losslessly
      .withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(uniCnt.select(col("tok").as("x"), col("c").as("c_x")), "x")
      .join(uniCnt.select(col("tok").as("y"), col("c").as("c_y")), "y")
      .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"),
        (col("c_xy").cast("double") * totU / totB * totU / col("c_x") / col("c_y"))
          .as("lift"))
  }

  /** q_ngram_df: cross-document n-gram document frequency — word
    * 3-grams appearing in ≥ minDf DISTINCT documents, the
    * boilerplate/template detector of a web-scale curation pipeline
    * (headers, cookie banners, licence blurbs recur verbatim across
    * hosts; Penedo et al., "The RefinedWeb Dataset for Falcon LLM",
    * NeurIPS 2023 filters on exactly this signal). Complements
    * `Pipeline.decontaminate` (which checks n-grams against a FIXED
    * benchmark set): here the reference set is the corpus itself.
    * Shape: per-doc DISTINCT shingles (dedup before the shuffle — a
    * doc repeating its own header contributes df 1), then a
    * wordcount-shaped count; the df ≥ minDf filter keeps only the
    * recurring head. At 100 TB the (ngram, doc) space is huge but the
    * aggregation splits partial/final and the hot n-grams are exactly
    * the output — no skew hazard beyond wordcount's. */
  def ngramDocFreq(spark: SparkSession, dir: String): DataFrame =
    ngramDocFreq(Tables(spark, dir, "documents"), 3L)

  def ngramDocFreq(docs: DataFrame, minDf: Long): DataFrame =
    docs
      .withColumn("ts", expr(TokensSql))
      .where(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts) - 2),
          |  i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1),
          |              ' ', element_at(ts, i + 2)))""".stripMargin)).as("ngram"))
      .distinct()
      .groupBy("ngram").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)

  /** q_bpe: byte-pair-encoding merge learning (Sennrich, Haddow &
    * Birch, "Neural Machine Translation of Rare Words with Subword
    * Units", ACL 2016) — tokenizer training as a distributed job, the
    * missing piece between corpus curation and model training. The
    * classic formulation works on the WORD-FREQUENCY table, not the
    * corpus: wordcount first (corpus-sized, one pass), then every merge
    * round touches only the vocabulary (≪ corpus — Heaps' law), each
    * word a symbol array with an explicit `</w>` terminator.
    *
    * Per round: adjacent-pair counts weighted by word frequency (a
    * vocabulary-sized partial/final aggregation), the argmax pair —
    * count desc, then (left, right) asc for a total order, so learned
    * merges are deterministic across partitionings and engines — comes
    * to the driver (ONE row per round, the K-Means-centroid pattern of
    * bounded driver state), and the merge is applied greedily
    * left-to-right in every word. The apply step is a typed map over
    * the vocabulary — the one place typed Scala beats an SQL fold
    * (carrying a skip-next flag through `aggregate()` is write-only),
    * and it deserializes only vocab rows, never the corpus.
    * Engine.cut severs the per-round lineage (the iterative-operator
    * norm here: dupComponents, pageRank, kmeans; reliable-checkpoint
    * knob: SPARK_GRAFT_CHECKPOINT_DIR).
    *
    * ORACLE-CHECKED since round 8: the round-dependent merge loop IS
    * expressible as one SQL statement — rounds unrolled as chained
    * CTEs, with the greedy non-overlapping merge application done by
    * `replace()` over a separator-encoded symbol string (see
    * SparkEntry.bpeLearnCtes). Also spec'd against a driver-side
    * reference BPE and the published worked example
    * ("low/lower/newest/widest"). */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    bpeLearn(spark, Tables(spark, dir, "documents"), 8)

  /** Default merges learned per driver round (see [[bpeLearnBatched]]).
    * batch = 1 is the classic one-merge-per-round loop; the batched
    * loop learns the IDENTICAL sequence in up to batch× fewer rounds.
    * 64 makes a realistic 32k vocab O(hundreds) of driver rounds
    * instead of 32k (VERDICT r9 #3 — the r7 width of 4 left an ~8k-
    * round wall); the hazard validation stays exact at any width, and
    * a conflict-dense corpus degrades gracefully toward fewer merges
    * per round, never past the classic loop. Driver cost per round is
    * the 8·batch+1-row collect window — ~500 rows at 64, still
    * centroid-scale bounded state. */
  val BpeBatch = 64

  def bpeLearn(spark: SparkSession, docs: DataFrame, nMerges: Int): DataFrame =
    bpeLearnBatched(spark, docs, nMerges, BpeBatch)._1

  /** Words in the driver-side speculation sample (see
    * [[bpeLearnBatched]]): the Zipf head carries almost all pair mass,
    * so the sample's classic-BPE sequence predicts the full corpus's
    * for long prefixes — and a wrong prediction costs ROUNDS, never
    * correctness (every accepted merge is verified against the exact
    * distributed count). Bounded driver state: ≤ this many (cnt, syms)
    * rows, the K-Means-centroid pattern. */
  val BpeSampleWords = 4096

  /** BATCHED merge learning (VERDICT r7 #6 / r9 #3): the classic loop
    * pays one distributed pair-count + one driver argmax PER MERGE — a
    * 50k-token vocabulary means 50k driver round-trips, the scaling
    * wall of driver-coordinated BPE. This loop learns up to `batch`
    * merges per round by SPECULATE-AND-VERIFY, reproducing the
    * single-merge sequence EXACTLY:
    *
    *  1. SPECULATE: the driver runs the classic sequential loop on the
    *     [[BpeSampleWords]] most frequent vocabulary words (same pair
    *     counting, same (count desc, l, r) total order, same greedy
    *     [[mergePair]] apply) → a proposed sequence of up to `batch`
    *     merges. The sample is a performance heuristic ONLY.
    *  2. VERIFY in ONE distributed job: each vocabulary word replays
    *     the proposed merges cumulatively, emitting its adjacent-pair
    *     counts AFTER every prefix — so the job yields the EXACT pair
    *     table T_j of the full vocabulary after proposed merges 1..j,
    *     for every j at once (tagged partial/final aggregation; map
    *     volume is batch × a vocabulary wordcount, amortized ~1 extra
    *     wordcount per learned merge — vocabulary altitude, ≪ corpus).
    *     Only the per-tag argmax rows come to the driver.
    *  3. ACCEPT the longest prefix where proposal j equals the true
    *     argmax of T_{j-1} under the total order — by induction T_{j-1}
    *     is then the true sequential state, so each accepted merge IS
    *     the classic loop's choice (with its exact count), no
    *     approximation anywhere. The first unverified table's argmax
    *     is itself exact (its prefix was verified), so a round always
    *     banks ≥ 1 merge — worst case degenerates to the classic loop,
    *     never past it. An earlier hazard-validated disjoint-prefix
    *     scheme was exact too but capped at ~1.5 merges/round on
    *     natural text (top pairs share letters); speculation rides the
    *     Zipf head instead and verifies whole cascades (t·h, th·e …)
    *     in one round.
    *
    * Spec'd: identical (rank, left, right, pair_count) sequence to
    * batch = 1 on the worked example, seeded random corpora, and the
    * sf corpus, in ~batch× fewer rounds when the sample predicts well.
    * Returns (merge table, driver rounds used). */
  private[graft] def bpeLearnBatched(spark: SparkSession, docs: DataFrame,
                                     nMerges: Int, batch: Int): (DataFrame, Int) = {
    import spark.implicits._
    var vocab = wordCount(docs)
      .select(col("cnt"), expr(
        """concat(transform(sequence(1, length(word)),
          |               i -> substring(word, i, 1)),
          |       array('</w>'))""".stripMargin).as("syms"))
      .as[(Long, Seq[String])]
      .transform(graft.Engine.cut(_))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    var rounds = 0
    while (!exhausted && merges.size < nMerges) {
      rounds += 1
      val want = math.min(batch, nMerges - merges.size)
      // 1. SPECULATE on the Zipf head (deterministic sample: count
      // desc, then the joined symbol string for a total order)
      val sample = vocab.toDF("cnt", "syms")
        .orderBy(desc("cnt"), concat_ws("", col("syms")).asc)
        .limit(BpeSampleWords)
        .as[(Long, Seq[String])].collect()
      val spec = speculateClassic(sample, want)
      // 2. VERIFY: tag j carries the full-vocab pair counts AFTER
      // applying spec(0..j-1) — tags 0..spec.length, so the argmax of
      // every intermediate table (and of the table after the whole
      // proposal) is exact
      val top: Map[Int, (String, String, Long)] = vocab
        .flatMap { case (cnt, syms0) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
          var syms = syms0
          var j = 0
          var more = true
          while (more) {
            var i = 0
            while (i < syms.length - 1) {
              out += ((j, syms(i), syms(i + 1), cnt)); i += 1
            }
            if (j < spec.length) {
              syms = mergePair(syms, spec(j)._1, spec(j)._2); j += 1
            } else more = false
          }
          out
        }
        .toDF("j", "l", "r", "w")
        .groupBy("j", "l", "r").agg(sum("w").as("c"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("j")
            .orderBy(desc("c"), asc("l"), asc("r"))))
        .where(col("rn") === 1)
        .collect()
        .map(r => r.getInt(0) -> (r.getString(1), r.getString(2), r.getLong(3)))
        .toMap
      // 3. ACCEPT: verified prefix, plus the first unverified table's
      // (exact) argmax as the guaranteed-progress merge
      val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var j = 0
      while (j < spec.length && sel.size < want &&
          top.get(j).exists(t => (t._1, t._2) == spec(j))) {
        sel += top(j); j += 1
      }
      if (sel.size < want) top.get(j) match {
        case Some(t) if sel.size == j => sel += t // prefix fully verified up to j
        case _ => ()
      }
      if (sel.isEmpty) exhausted = true
      else {
        sel.foreach { case (l, r, c) => merges += ((merges.size + 1L, l, r, c)) }
        val mlist: Seq[(String, String)] = sel.map(t => (t._1, t._2)).toSeq
        vocab = graft.Engine.cut(vocab.map { case (cnt, syms) =>
          (cnt, mlist.foldLeft(syms)((s, m) => mergePair(s, m._1, m._2)))
        })
      }
    }
    (merges.toSeq.toDF("rank", "left", "right", "pair_count"), rounds)
  }

  /** Classic sequential BPE on an in-memory word sample — the
    * speculation oracle for [[bpeLearnBatched]]. Same adjacent-pair
    * counting (overlaps included, weighted by word count), same
    * (count desc, l, r) argmax, same greedy [[mergePair]] apply as the
    * distributed loop, so on a sample that covers the live pair mass
    * the proposal matches the true sequence exactly. */
  private def speculateClassic(sample: Array[(Long, Seq[String])],
                               want: Int): IndexedSeq[(String, String)] = {
    var words = sample
    val spec = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var more = true
    while (more && spec.size < want) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (cnt, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      if (counts.isEmpty) more = false
      else {
        val best = counts.keysIterator.reduceLeft { (a, b) =>
          val ca = counts(a); val cb = counts(b)
          if (cb > ca || (cb == ca &&
            (b._1 < a._1 || (b._1 == a._1 && b._2 < a._2)))) b else a
        }
        spec += best
        words = words.map { case (cnt, syms) =>
          (cnt, mergePair(syms, best._1, best._2))
        }
      }
    }
    spec.toIndexedSeq
  }

  /** North-star q_bpe_encode: tokenize the CORPUS with the learned BPE
    * merges — the actual LLM-pipeline encode step that bpeLearn feeds.
    * Emits (doc_id, n_words, n_tokens, token_ids) with `token_ids` the
    * document's full word-order subword id sequence.
    *
    * Scale shape (100 TB): the greedy merge application runs once per
    * DISTINCT word (vocabulary altitude — the same trick as bpeLearn;
    * corpus duplication of a word costs nothing), with the bounded
    * merge list carried in the task closure. Token ids are ranks in
    * the sorted final symbol set, which is provably bounded by
    * |alphabet| + 1 + nMerges (every merge mints exactly ONE new
    * symbol), so the id map is a broadcast-sized driver collect — the
    * K-Means-centroid pattern of bounded driver state. The corpus-side
    * cost is one posexplode, one word-keyed join against the encoded
    * vocabulary, and one per-doc sort-flatten; nothing wide shuffles
    * except (doc_id, pos, word-id-array) triples.
    *
    * ORACLE-CHECKED since round 8 (the q_bpe CTE chain continued
    * through vocab-id assignment and per-doc flatten —
    * SparkEntry.bpeEncodeOracle); also spec'd against a driver-side
    * reference tokenizer and reconciled with q_token_count's per-doc
    * word counts. */
  /** Learned-tokenizer memo: real pipelines learn merges ONCE and
    * encode many corpora with them (the learn loop is the expensive
    * iterative part). Deterministic per (dir, nMerges, data
    * fingerprint) → safe to memoize, same pattern as Clustering's fit
    * cache; cleared by the bench between timed runs. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = Artifacts.memo(Artifacts.Model, "bpemerges", dir, "documents", 8) {
      val docs = Tables(spark, dir, "documents")
      bpeLearn(spark, docs, 8).orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }
    bpeEncode(spark, Tables(spark, dir, "documents"), merges)
  }

  /** Driver-checkable form of q_bpe_encode: `token_ids` rendered as a
    * space-joined string. The correctness harness normalizes results
    * with a pandas all-column sort, which cannot order a list column —
    * the array stays on the library API (`bpeEncode`); only the
    * DECLARED query flattens it (content-preserving: the string is a
    * bijection of the id sequence). */
  def bpeEncodeDeclared(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark, dir)
      .withColumn("token_ids", concat_ws(" ", col("token_ids")))

  def bpeEncode(spark: SparkSession, docs: DataFrame, nMerges: Int): DataFrame = {
    // learn, then pull the BOUNDED merge table (nMerges rows) to the driver
    val merges = bpeLearn(spark, docs, nMerges)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncode(spark, docs, merges)
  }

  /** Encode with an externally-learned merge list (rank order). */
  def bpeEncode(spark: SparkSession, docs: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    // each DISTINCT word tokenized once: chars + </w>, merges replayed
    // in learned rank order (the standard BPE apply). Materialized with
    // localCheckpoint (NOT Engine.cut: this is a two-consumer cache,
    // not a fault-tolerance lineage cut — the vocab-id collect below
    // and the corpus join both consume it, and a durable checkpoint
    // would buy nothing since a failure re-runs the whole encode).
    val wordSyms = (
      docs.select(explode(tokens(col("text"))).as("word"))
        .where(length(col("word")) > 0).distinct()
        .as[String]
        .map { w =>
          var syms: Seq[String] = w.map(_.toString) :+ "</w>"
          merges.foreach { case (l, r) => syms = mergePair(syms, l, r) }
          (w, syms)
        }
        .toDF("word", "syms")).localCheckpoint()
    // symbol→id: final symbols ⊆ alphabet ∪ {</w>} ∪ merge outputs, so
    // the vocab is ≤ |alphabet| + 1 + |merges| rows — bounded driver
    // state, sorted for a deterministic id assignment
    val vocabIds = wordSyms.select(explode(col("syms")).as("s")).distinct()
      .collect().map(_.getString(0)).sorted.zipWithIndex.toMap
    val idsOf = udfLessIds(vocabIds)
    val wordIds = wordSyms
      .withColumn("ids", idsOf(col("syms")))
      .select(col("word"), col("ids"))
    // corpus side: words in document order, word-keyed join to the
    // encoded vocabulary, per-doc flatten in position order
    val docWords = docs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
    val enc = docWords.join(wordIds, Seq("word"))
      .groupBy("doc_id")
      .agg(flatten(array_sort(collect_list(struct(col("pos"), col("ids"))))
        .getField("ids")).as("token_ids"),
        count(lit(1)).as("n_words"))
      .select(col("doc_id"), col("n_words"),
        size(col("token_ids")).cast(LongType).as("n_tokens"),
        col("token_ids"))
    // keep zero-token documents (explode drops them): empty encode
    docs.select(col("doc_id")).join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("token_ids"), array().cast("array<int>")).as("token_ids"))
      .orderBy("doc_id")
  }

  /** Map a symbol array to vocab ids inside codegen-friendly SQL: the
    * bounded vocab rides the plan as a map literal (no UDF, no
    * broadcast variable plumbing). */
  private def udfLessIds(vocab: Map[String, Int]): Column => Column =
    if (vocab.isEmpty) // empty corpus: no symbols exist to look up
      (syms: Column) => transform(syms, _ => lit(null).cast("int"))
    else {
      val m = map(vocab.toSeq.sortBy(_._1)
        .flatMap { case (s, i) => Seq(lit(s), lit(i)) }: _*)
      (syms: Column) => transform(syms, s => element_at(m, s))
    }

  /** Greedy left-to-right non-overlapping merge of adjacent (l, r) —
    * the BPE apply step; "aaa" under (a,a) → ["aa", "a"]. */
  def mergePair(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprint(Tables(spark, dir, "documents"))

  /** Document fingerprints: `full_fp` the polynomial hash of the whole
    * lowercased text, `win_fp` the MINIMUM over all 8-char window
    * hashes (a winnowing-style robust fingerprint).
    *
    * Scale shape: both hashes come from [[graft.functions.PolyFingerprint]],
    * a codegen'd rolling-hash Expression — ONE compiled O(n) pass per
    * document, no per-element allocation. Replaces the round-6
    * perf-weak `transform(sequence(…), i -> aggregate(slice(codes, i,
    * 8), …))` form, whose interpreted higher-order-function path
    * re-sliced and re-folded 8 chars per position (~4-5 s at sf0.1;
    * the Expression is ~ms). Bit parity with the per-window fold (and
    * the unchanged DuckDB oracle) is argued at the Expression and
    * pinned by the driver-reference spec. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.functions.PolyFingerprint.fp(lower(col("text"))))
      .select(col("doc_id"),
        col("fp.full_fp").as("full_fp"),
        col("fp.win_fp").as("win_fp"))

  /** q_winnow: full winnowing fingerprint SELECTION (Schleimer-
    * Wilkerson-Aiken, SIGMOD 2003) — where [[fingerprint]] keeps one
    * global-min hash per document, this keeps the whole fixed-density
    * sketch: per doc, every window of [[graft.functions.WinnowFp.W]]
    * consecutive K-char-gram hashes selects its rightmost minimum.
    * Output (doc_id, pos, fp): 1-based codepoint position of the
    * selected gram and its polynomial hash. The selection guarantee —
    * any substring of length ≥ W + K − 1 = 35 shared by two documents
    * shares a selected fingerprint — is what makes this the standard
    * exact-substring dedup primitive (the MOSS algorithm; the same
    * role as the suffix-array pass in Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, at
    * fixed-gram granularity).
    *
    * Scale shape: the sketch is ~2/(W+1) of positions — a 100 TB
    * corpus yields a bounded-density fingerprint table, computed in
    * ONE codegen'd O(n)-per-doc pass (monotonic-deque window minimum
    * inside the Expression), no shuffle until the consumer. */
  def winnow(spark: SparkSession, dir: String): DataFrame =
    winnow(Tables(spark, dir, "documents"))

  def winnow(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.WinnowFp.of(lower(col("text")))).as("enc"))
      .select(col("doc_id"),
        expr(s"enc div ${graft.functions.WinnowFp.Enc}").as("pos"),
        expr(s"enc % ${graft.functions.WinnowFp.Enc}").as("fp"))

  /** ONE decoded selection table (doc_id, pos, fp, gram) for every
    * winnow consumer — the pos·2³⁰+fp decode and the gram extraction
    * exist exactly once beside their oracle mirrors. */
  private def winnowDecoded(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(graft.functions.WinnowFp.of(col("t"))).as("enc"))
      .select(col("doc_id"),
        expr(s"enc div ${graft.functions.WinnowFp.Enc}").as("pos"),
        expr(s"enc % ${graft.functions.WinnowFp.Enc}").as("fp"),
        expr(s"substring(t, cast(enc div ${graft.functions.WinnowFp.Enc} as int), " +
          s"${graft.functions.WinnowFp.K})").as("gram"))

  /** Document-frequency cap for [[winnowDups]]: a fingerprint selected
    * in more than this many documents is boilerplate (shared template
    * text), and every boilerplate gram contributes df² candidate
    * pairs — the cap bounds per-key join fanout the same way the
    * MinHash band convention bounds band buckets. */
  val WinnowMaxDf = 256

  /** q_winnow_dups: exact-substring duplicate pairs — documents
    * sharing ≥ 1 VERIFIED selected gram (fingerprint hash equality is
    * only the candidate filter; the k-gram text itself is compared, so
    * hash collisions cannot create a false pair). Output (da, db,
    * shared_grams): the number of distinct shared grams per pair.
    *
    * Scale shape: join key is (fp, gram) over the fixed-density
    * winnow sketch — never doc × doc; the [[WinnowMaxDf]] cap drops
    * boilerplate keys whose fanout would be quadratic, the standard
    * df-cut every large-scale substring-dedup pipeline applies. */
  def winnowDups(spark: SparkSession, dir: String): DataFrame =
    winnowDups(Tables(spark, dir, "documents"))

  def winnowDups(docs: DataFrame): DataFrame =
    winnowDupsBody(winnowDecoded(docs).select("doc_id", "fp", "gram"))

  /** The dup-pair tail over (doc_id, fp, gram) selection rows — ONE
    * body for the live, indexed and appended forms. */
  private def winnowDupsBody(sel: DataFrame): DataFrame = {
    val fd = sel.select("doc_id", "fp", "gram").distinct()
    val rare = fd.groupBy("fp", "gram").count()
      .where(col("count") <= WinnowMaxDf).select("fp", "gram")
    val fdr = fd.join(rare, Seq("fp", "gram"), "left_semi")
    fdr.as("a")
      .join(fdr.as("b"),
        col("a.fp") === col("b.fp") && col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(countDistinct(col("a.gram")).as("shared_grams"))
  }

  // ---- staged / appended winnow index (q_winnow_dups_indexed/_append):
  // the append-maintained-artifact pattern extended to SUBSTRING
  // granularity (the 4th index family beside inverted postings, the
  // MinHash band index and the ANN indices). The persisted artifact is
  // the decoded selection table (doc_id, pos, fp, gram) in
  // fgrp = fp pmod 64 partition dirs; serving the dup-pair query from
  // it removes the expensive part of every serve — the codegen O(n)
  // winnow fingerprint pass over the corpus text — and the serve plan
  // never scans the documents table at all (the verified gram TEXT is
  // a stored column). Like LSH (and unlike IVF/PQ), the fingerprint
  // function is data-independent, so delta rows ≡ one-shot rows and
  // appended-index serves are bit-identical to live runs — no
  // frozen-model caveat.

  private def winnowIndexRows(docs: DataFrame): DataFrame =
    winnowDecoded(docs)
      .withColumn("fgrp", pmod(col("fp"), lit(64L)))

  private[graft] def stagedWinnowIndex(spark: SparkSession, dir: String): String =
    winnowIndex(spark, dir, appended = false)

  /** Base staged once, the late decile's selection rows appended into
    * the same fgrp dirs (per-doc pure function ⇒ row sets equal the
    * one-shot artifact's). */
  private[graft] def stagedAppendedWinnowIndex(spark: SparkSession, dir: String): String =
    winnowIndex(spark, dir, appended = true)

  private def winnowIndex(spark: SparkSession, dir: String, appended: Boolean): String =
    Artifacts.staged(Artifacts.Index, if (appended) "winnowinc" else "winnowidx", dir, "documents") { root =>
      Staging.stage(spark, root, Staging.Partitioned(Seq("fgrp"), Seq("fp", "doc_id")),
        Staging.arrival(spark, dir, "documents", "doc_id", appended)
          .slices(Tables(spark, dir, "documents")).map(winnowIndexRows))
    }._1

  /** North-star q_winnow_dups_indexed: dup pairs served from the
    * persisted selection artifact — ≡ live [[winnowDups]] bit-for-bit
    * (integer fp and the gram string round-trip parquet exactly). */
  def winnowDupsIndexed(spark: SparkSession, dir: String): DataFrame = {
    winnowDupsBody(spark.read.parquet(stagedWinnowIndex(spark, dir)))
  }

  /** North-star q_winnow_dups_append: served from the append-
    * maintained artifact; ≡ live by construction (see block comment). */
  def winnowDupsAppended(spark: SparkSession, dir: String): DataFrame = {
    winnowDupsBody(spark.read.parquet(stagedAppendedWinnowIndex(spark, dir)))
  }

  /** Per-doc codepoint lengths (doc_id, n) staged once beside the
    * winnow artifact — the only piece of [[winnowStats]] the selection
    * table can't answer (zero-selection docs must still report n with
    * dup_chars = 0). Tiny (two longs per doc) and corpus-versioned
    * like every other staged artifact. (Distinct from the BM25
    * [[stagedDocLens]] sidecar, whose dl is a TOKEN total.) */
  private[graft] def stagedDocCharLens(spark: SparkSession, dir: String): String = {
    val (root, _) = Artifacts.staged(Artifacts.Index, "doccharlen", dir, "documents") { root =>
      Tables(spark, dir, "documents")
        .select(col("doc_id"),
          length(lower(col("text"))).cast(LongType).as("n"))
        .write.mode("overwrite").parquet(s"$root/doclen")
    }
    s"$root/doclen"
  }

  /** q_winnow_stats_indexed (VERDICT r12 #4): the stats-grain serve —
    * per-doc duplication coverage aggregated DIRECTLY from the staged
    * selection artifact, never materializing cross-doc pairs. This is
    * the common "how duplicated is each document" question answered at
    * the cost the question deserves: the pair-grain serve
    * ([[winnowDupsIndexed]]) is linear in the dup-PAIR mass (inherent
    * when the consumer wants pairs — 96.9 s at sf10), while this serve
    * is linear in the SELECTION mass (shared-key df filter → per-doc
    * islands merge → one aggregate), plus a read of the staged
    * doc-length sidecar. Result ≡ live [[winnowStats]] bit-for-bit
    * (integer fp/pos and the gram string round-trip parquet exactly;
    * the double division has the same operand order), so the live
    * oracle is shared verbatim. */
  def winnowStatsIndexed(spark: SparkSession, dir: String): DataFrame = {
    val spans = winnowSpansSel(
        spark.read.parquet(stagedWinnowIndex(spark, dir)).select("doc_id", "pos", "fp", "gram"))
      .groupBy("doc_id").agg(sum("span_len").as("dup_chars"))
    spark.read.parquet(stagedDocCharLens(spark, dir))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        when(col("n") > 0,
          coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** q_winnow_spans: maximal DUPLICATED-TEXT REGIONS per document —
    * the actionable output of substring dedup (Lee et al. 2022 cut
    * exactly these spans from the training set). A position is
    * "duplicated" when its selected gram (hash AND text — verified,
    * collision-proof) appears in ≥ 2 documents after the
    * [[WinnowMaxDf]] boilerplate cap; overlapping/adjacent K-char gram
    * intervals merge into maximal spans via the classic gaps-and-
    * islands window (running max of span ends over preceding rows →
    * new-island flag → running island id), all integer and replayed
    * exactly by the DuckDB oracle. Output (doc_id, span_start,
    * span_end, span_len), 1-based inclusive character positions.
    *
    * Scale shape: everything is bounded by the fixed-density winnow
    * sketch — the shared-key semi-join prunes to duplicated positions
    * BEFORE any window runs, and the islands window partitions by
    * doc_id (per-doc row counts, never corpus-wide ordering). */
  def winnowSpans(spark: SparkSession, dir: String): DataFrame =
    winnowSpans(Tables(spark, dir, "documents"))

  def winnowSpans(docs: DataFrame): DataFrame =
    winnowSpansSel(winnowDecoded(docs))

  /** The spans tail over an ALREADY-DECODED (doc_id, pos, fp, gram)
    * selection table — shared by the live form and the staged-artifact
    * serve ([[winnowStatsIndexed]]), so the two cannot drift. */
  private def winnowSpansSel(f: DataFrame): DataFrame = {
    val k = graft.functions.WinnowFp.K
    val sharedKeys = f.select(col("doc_id"), col("fp"), col("gram")).distinct()
      .groupBy("fp", "gram").count()
      .where(col("count") >= 2 && col("count") <= WinnowMaxDf)
      .select("fp", "gram")
    // ONE exchange for distinct + window (VERDICT r9 #6): hash on
    // doc_id up front — HashPartitioning(doc_id) satisfies the
    // distinct's ClusteredDistribution(doc_id, pos) (a subset
    // partitioning co-locates every full-key group) AND the islands
    // window's ClusteredDistribution(doc_id), so neither re-shuffles.
    val sp = f.join(sharedKeys, Seq("fp", "gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .repartition(col("doc_id"))
      .distinct()
    islandSpans(sp, k)
  }

  /** Gaps-and-islands merge of 1-based positions into maximal K-char
    * covered spans — the winnowSpans tail, shared with [[winnowCut]]
    * so the two faces of substring-region surgery cannot drift.
    * Expects (doc_id, pos) pre-partitioned by doc_id. */
  private def islandSpans(sp: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    sp
      .withColumn("prev_end", max(col("pos") + lit(k - 1)).over(wPrev))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1).cast(LongType)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** q_winnow_stats: the MEASUREMENT face of substring dedup — per
    * document, how much of it is duplicated text: total characters,
    * characters covered by duplicated-region spans ([[winnowSpans]] —
    * maximal, non-overlapping, so the sum is exact coverage), and the
    * duplicated fraction. The number a curation pipeline thresholds on
    * ("drop docs that are > 60% boilerplate") and tracks across crawl
    * snapshots. One double division per doc (int / int, same operand
    * order in the oracle → bit parity). */
  def winnowStats(spark: SparkSession, dir: String): DataFrame =
    winnowStats(Tables(spark, dir, "documents"))

  def winnowStats(docs: DataFrame): DataFrame = {
    val spans = winnowSpans(docs)
      .groupBy("doc_id").agg(sum("span_len").as("dup_chars"))
    docs
      .select(col("doc_id"), length(lower(col("text"))).cast(LongType).as("n"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        when(col("n") > 0,
          coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** q_winnow_cut: the TRANSFORM face of substring dedup — emit each
    * document's text with duplicated regions REMOVED, keep-first-
    * occurrence policy (the actual dataset operation of Lee et al.
    * 2022: the cut list [[winnowSpans]] computes, applied). "First
    * occurrence" is decided at GRAM granularity: a selected position
    * is cut-worthy iff its verified (fp, gram) key is shared by ≥ 2
    * documents (≤ the [[WinnowMaxDf]] boilerplate cap, like
    * winnowSpans) AND this document is NOT the minimum doc_id holding
    * that gram — so exactly one copy of every duplicated substring
    * survives in the corpus, in its earliest document. Cut-worthy
    * positions merge into maximal spans (the [[islandSpans]] logic,
    * shared with winnowSpans), and the spans are excised from the
    * lowercased text (the winnow family's canonical form — positions
    * index it) by one fold over the per-doc sorted span list.
    *
    * Output (doc_id, removed_chars, clean_len, clean_text), clean_len
    * = original length − removed_chars by construction. Containment
    * invariants vs the siblings (spec'd): every cut span lies inside
    * some winnowSpans span of the same doc, removed_chars ≤ that
    * doc's q_winnow_stats dup_chars, and a doc that is the first
    * occurrence of ALL its duplicated grams loses nothing.
    *
    * Scale shape: same bounds as winnowSpans — fixed-density sketch,
    * df-capped keys, per-doc windows after ONE doc_id exchange; the
    * span list folded per doc is sketch-density-bounded (≈ 2·len/(W+1)
    * worst case), and the surgery is one codegen'd `aggregate` fold
    * per document, no extra shuffle past the span groupBy. */
  def winnowCut(spark: SparkSession, dir: String): DataFrame =
    winnowCut(Tables(spark, dir, "documents"))

  def winnowCut(docs: DataFrame): DataFrame = {
    val k = graft.functions.WinnowFp.K
    val f = winnowDecoded(docs)
    val keys = f.select(col("doc_id"), col("fp"), col("gram")).distinct()
      .groupBy("fp", "gram")
      .agg(count(lit(1)).as("df"), min("doc_id").as("keeper"))
      .where(col("df") >= 2 && col("df") <= WinnowMaxDf)
      .select("fp", "gram", "keeper")
    val cutPos = f.join(keys, Seq("fp", "gram"))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
      .repartition(col("doc_id"))
      .distinct()
    val spans = islandSpans(cutPos, k)
      .groupBy("doc_id")
      .agg(sum("span_len").as("removed_chars"),
        sort_array(collect_list(struct(
          col("span_start").as("s"), col("span_end").as("e")))).as("sp"))
    docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        when(col("sp").isNull, col("t")).otherwise(expr(
          """aggregate(sp,
            |  struct(cast(1 as bigint) as nxt, cast('' as string) as acc),
            |  (st, x) -> struct(x.e + 1L,
            |    concat(st.acc, substring(t, cast(st.nxt as int),
            |                             cast(x.s - st.nxt as int)))),
            |  st -> concat(st.acc,
            |    substring(t, cast(st.nxt as int),
            |              greatest(0, length(t) - cast(st.nxt as int) + 1))))
            |""".stripMargin)).as("clean_text"))
      .withColumn("clean_len", length(col("clean_text")).cast(LongType))
      .select("doc_id", "removed_chars", "clean_len", "clean_text")
  }

  /** Per-term postings cap for [[invertedIndex]]. */
  val PostingsCap = 32

  /** q_inverted_index: term → (document frequency, total term
    * frequency, bounded posting list) — the canonical MapReduce
    * application (Dean & Ghemawat, OSDI 2004, §2.1 lists it beside
    * word count; the reference's framework exists to run exactly this
    * shape) re-expressed as two partial/final aggregations.
    *
    * Scale shape: the trap at 100 TB is the posting list itself — a
    * stop word's postings are |corpus|-sized, so `collect_list` (an
    * unbounded agg buffer AND an unbounded exchange row) OOMs the hot
    * reducer. Here the list rides the bounded [[graft.functions.TopKByScore]]
    * partial aggregator (score = −doc_id keeps the FIRST
    * [[PostingsCap]] docs in ascending-id order): each map partition
    * contributes ≤ cap entries per term to the exchange, the merged
    * buffer never exceeds cap — the same partial/final shape the kNN
    * join uses. df/tf stay exact (plain count partials); the capped
    * list is the index's retrieval seed, the caps documented in-row
    * via df vs the list length. Doc ids fit a double exactly (< 2^53),
    * so the score negation is lossless. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(Tables(spark, dir, "documents"))

  def invertedIndex(docs: DataFrame): DataFrame =
    finishIndex(indexPartials(docs))

  /** Per-term index partials: (word, df, total_tf, ascending-id
    * postings array ≤ [[PostingsCap]]). Shared by the one-shot index
    * and the maintained one (Incremental.incrInverted) — df/tf are sum
    * partials and the capped list merges associatively (smallest-cap
    * of a union = smallest-cap of the two sides' smallest-caps), so
    * partials over disjoint doc slices fold to the full index. */
  private[graft] def indexPartials(docs: DataFrame): DataFrame = {
    val tk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(PostingsCap),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .groupBy("word")
      .agg(
        count(lit(1)).as("df"),
        sum("tf").as("total_tf"),
        tk(-col("doc_id").cast("double"), col("doc_id")).as("top"))
      .select(col("word"), col("df"), col("total_tf"),
        transform(col("top"), x => x.getField("_2")).as("postings"))
  }

  /** Postings array → the catalog surface (joined string, term order). */
  private[graft] def finishIndex(partials: DataFrame): DataFrame =
    partials
      .select(col("word"), col("df"), col("total_tf"),
        array_join(transform(col("postings"), _.cast("string")), ",").as("postings"))
      .orderBy("word")

  /** Bucket fan-out for the staged postings index, and the catalog
    * lookup's term pair (two common co-occurring corpus terms). */
  val PostingsBuckets = 64
  val LookupTerms: (String, String) = ("scan", "merge")

  /** Staged FULL postings index: (word, doc_id, tf) hash-bucketed by
    * term into [[PostingsBuckets]] directory partitions and sorted by
    * (word, doc_id) within each, memoized per (dir, data fingerprint).
    *
    * This is the serving-side complement of q_inverted_index's capped
    * catalog rows: the catalog answers "what does the index hold",
    * this artifact answers term QUERIES. Bucketing by term hash (not
    * `partitionBy(word)`) keeps the directory fan-out fixed at any
    * vocabulary size — a million-term vocabulary is still 64
    * directories — while the within-bucket (word, doc_id) sort gives
    * parquet row-group min/max stats that skip everything but the
    * probed terms inside a bucket.
    *
    * Returns (artifact root, corpus doc count). The count is staged
    * WITH the artifact (it describes the same corpus version), so
    * serve-time queries never run a corpus job — [[indexSearch]]'s N
    * is a memo read, not a count() per call. */
  private[graft] def stagedPostings(spark: SparkSession, dir: String): (String, Long) =
    postings(spark, dir, appended = false)

  /** Bucketed posting rows for a doc slice: (word, doc_id, tf, bucket).
    * tf is per (word, doc), so disjoint doc slices produce disjoint,
    * exact posting rows — the property that makes the serving artifact
    * APPEND-ONLY maintainable ([[stagedAppendedPostings]]). */
  private def postingRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(col("word")))
          .bitwiseAND(PostingsBuckets - 1).cast("int"))

  /** Term-bucket dirs, rows sorted by (word, doc_id) within each file. */
  private val PostingsLayout = Staging.Partitioned(Seq("bucket"), Seq("word", "doc_id"))

  // ---- df-form library surface for the postings index (arbitrary
  // corpora and paths; the catalog q_index_* rows ride the staged
  // memoized forms of the same three calls).

  /** Build (or overwrite) a bucketed postings index for `docs`
    * (doc_id, text) at `path`. */
  def buildPostingsIndex(docs: DataFrame, path: String): Unit =
    PostingsLayout.write(postingRows(docs), path, "overwrite")

  /** Append an increment's postings into an existing index at `path`
    * — delta-sized files into the same bucket dirs; callers feed only
    * NEW doc_ids (disjoint slices keep the row set exact). */
  def appendPostingsIndex(docs: DataFrame, path: String): Unit =
    PostingsLayout.write(postingRows(docs), path, "append")

  /** Conjunctive lookup against an index built by the two calls
    * above: (doc_id, tf_a, tf_b) for docs containing both terms. */
  def lookupPostings(spark: SparkSession, path: String,
      t1: String, t2: String): DataFrame =
    lookupFrom(spark, path, t1, t2)

  /** Postings artifact built as base + APPENDED crawl increment: the
    * base slice (doc_id < cut) is staged once, then the delta slice is
    * written with `mode("append")` into the SAME bucket directories —
    * the increment costs its own tokenization and writes delta-sized
    * files only; base files are never read or rewritten, and lookups
    * keep their static bucket pruning (new files land inside the same
    * partition dirs). Posting rows over disjoint doc slices are
    * disjoint and exact, so the appended artifact holds exactly the
    * full-corpus row set — q_index_append shares q_index_lookup's
    * oracle. (Row-group word-sort pruning holds per file; the delta
    * files are sorted the same way.) */
  private[graft] def stagedAppendedPostings(spark: SparkSession, dir: String): (String, Long) =
    postings(spark, dir, appended = true)

  private def postings(spark: SparkSession, dir: String, appended: Boolean): (String, Long) =
    Artifacts.staged(Artifacts.Index, if (appended) "postappend" else "postings", dir, "documents") { root =>
      Staging.stage(spark, root, PostingsLayout,
        Staging.arrival(spark, dir, "documents", "doc_id", appended)
          .slices(Tables(spark, dir, "documents")).map(postingRows))
      Staging.rows(spark, dir, "documents")
    }

  /** The JVM twin of the artifact's bucket expression (term routing is
    * a driver-side constant fold — no corpus work to find a bucket). */
  private[graft] def termBucket(term: String): Int =
    (graft.functions.Fnv32a.mix32(
      graft.functions.Fnv32a.hash(term.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      & (PostingsBuckets - 1)).toInt

  /** q_index_lookup: a conjunctive term query (docs containing BOTH
    * terms, with their term frequencies) served ENTIRELY from the
    * staged postings index — the retrieval half of the inverted-index
    * story. The lookup's scan carries a static PartitionFilter on the
    * two terms' buckets (≤ 2 of [[PostingsBuckets]] directories read,
    * whatever the corpus size) and a pushed `word IN` predicate that
    * the within-bucket sort turns into row-group skips; the documents
    * table itself is never touched (plan-spec'd). The conjunction is a
    * doc-grain partial/final aggregate over the ≤ |postings(t1)| +
    * |postings(t2)| surviving rows. */
  def indexLookup(spark: SparkSession, dir: String): DataFrame =
    indexLookup(spark, dir, LookupTerms._1, LookupTerms._2)

  def indexLookup(spark: SparkSession, dir: String, t1: String, t2: String): DataFrame =
    lookupFrom(spark, stagedPostings(spark, dir)._1, t1, t2)

  /** q_index_append: the same conjunctive lookup served from the
    * base+appended artifact — ≡ [[indexLookup]] over the full corpus
    * (disjoint exact posting rows), shared oracle; the pruned-scan
    * plan shape is identical (spec'd). */
  def indexLookupAppended(spark: SparkSession, dir: String): DataFrame =
    lookupFrom(spark, stagedAppendedPostings(spark, dir)._1,
      LookupTerms._1, LookupTerms._2)

  private def lookupFrom(spark: SparkSession, root: String,
      t1: String, t2: String): DataFrame =
    spark.read.parquet(root)
      .where(col("bucket").isin(termBucket(t1), termBucket(t2)) &&
        col("word").isin(t1, t2))
      .groupBy("doc_id")
      .agg(
        sum(when(col("word") === t1, col("tf"))).as("tf_a"),
        sum(when(col("word") === t2, col("tf"))).as("tf_b"))
      .where(col("tf_a").isNotNull && col("tf_b").isNotNull)
      .orderBy("doc_id")

  /** q_index_search: RANKED disjunctive retrieval from the postings
    * index — top-[[SearchK]] docs for an OR-query scored by the
    * tf·N/df weight sum (the linear tf-idf convention of
    * [[tfidfTopTerms]]: rare terms weigh more, no libm log so the
    * score replays exactly; N enters as a driver-held scalar). The
    * scan is the same ≤-2-bucket pruned artifact read as
    * [[indexLookup]]; df comes from a tiny per-term aggregate of the
    * surviving rows (never a second corpus pass), and the top-k is a
    * TakeOrderedAndProject under (score DESC, doc_id ASC) — no full
    * sort at any corpus size. */
  def indexSearch(spark: SparkSession, dir: String): DataFrame =
    indexSearch(spark, dir, LookupTerms._1, LookupTerms._2, SearchK)

  def indexSearch(spark: SparkSession, dir: String, t1: String, t2: String,
      k: Int): DataFrame = {
    val (root, nDocs) = stagedPostings(spark, dir) // N staged with the index
    val posts = spark.read.parquet(root)
      .where(col("bucket").isin(termBucket(t1), termBucket(t2)) &&
        col("word").isin(t1, t2))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("word")
    posts
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("weight",
        col("tf").cast("double") * lit(nDocs.toDouble) / col("df").cast("double"))
      .groupBy("doc_id")
      .agg(sum("weight").as("score"), count(lit(1)).as("terms_hit"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Result size for [[indexSearch]]'s catalog row. */
  val SearchK = 25

  /** Doc-length sidecar for [[bm25]]: (doc_id, dl) with dl ≡ Σ tf per
    * doc, staged beside the index with the corpus token total T. One
    * small table — |docs| rows, two ints — the standard companion
    * artifact every BM25 deployment persists (Lucene's norms file).
    * DERIVED from the staged postings artifact, not a second corpus
    * tokenization: the postings rows already hold every (word, doc)
    * count, so aggregating the small (word, doc_id, tf) table gives
    * the identical sidecar at a fraction of the cost AND makes
    * tokenizer drift between postings and dl impossible by
    * construction. */
  private[graft] def stagedDocLens(spark: SparkSession, dir: String): (String, Long) =
    docLens(spark, dir, appended = false)

  /** One build body for both doc-length sidecars: the dl rows of the
    * postings artifact of the same form, staged under the same arrival
    * (disjoint doc slices → disjoint exact dl rows). */
  private def docLens(spark: SparkSession, dir: String, appended: Boolean): (String, Long) =
    Artifacts.staged(Artifacts.Index, if (appended) "dlappend" else "doclens", dir, "documents") { root =>
      val (postRoot, nDocs) = postings(spark, dir, appended)
      Staging.stage(spark, root, Staging.Ranged("doc_id"),
        Staging.arrival(spark, dir, "documents", "doc_id", appended)
          .slices(spark.read.parquet(postRoot))
          .map(_.groupBy("doc_id").agg(sum("tf").as("dl"))))
      val r = spark.read.parquet(root)
        .agg(sum("dl"), max("dl")).head()
      requireBm25Safe(nDocs, r.getLong(0), r.getLong(1))
      r.getLong(0)
    }

  /** Build-time overflow guard for [[bm25Rank]]'s exact ranking: the
    * per-term numerator is ≤ S·(2N+1)·22·tf·T with tf ≤ dl row-wise,
    * so maxdl bounds every tf the serve path can see. The ranking
    * evaluates in DECIMAL(38,0) (round 12 — the old BIGINT form capped
    * the corpus at ~10⁷ tokens), so the guard is: numerator AND
    * denominator < 10³⁸ (decimal-128 exactness), quotient < 2⁶³ (the
    * BIGINT Spark's decimal `div` returns). The guard itself evaluates
    * in BigInt (it cannot wrap) and fails the ARTIFACT BUILD — never
    * the serve path — because an overflowed decimal in Spark's
    * non-ANSI arithmetic nulls scores silently while the DuckDB oracle
    * promotes to HUGEINT and diverges. */
  private def requireBm25Safe(nDocs: Long, totTok: Long, maxDl: Long): Unit = {
    val d38 = BigInt(10).pow(38)
    val num = BigInt(Bm25Scale) * (2 * BigInt(nDocs) + 1) * 22 *
      BigInt(maxDl) * BigInt(totTok)
    val den = (2 * BigInt(nDocs) + 1) *
      (BigInt(10) * totTok * maxDl + 3 * BigInt(totTok) + 9 * BigInt(maxDl) * nDocs)
    // quotient ≤ num / (10·T·tf) = S·(2N+1)·22 / 10 (at df = 0, dl → 0)
    val quot = BigInt(Bm25Scale) * (2 * BigInt(nDocs) + 1) * 22 / 10 + 1
    require(num < d38 && den < d38 && quot < BigInt(Long.MaxValue),
      s"bm25 exact ranking out of range (nDocs=$nDocs totTok=$totTok " +
        s"maxdl=$maxDl -> numerator $num / denominator $den vs 10^38, " +
        s"quotient bound $quot vs 2^63): reduce Bm25Scale")
  }

  /** Fixed-point score scale (integer-scaled BM25 scores). */
  val Bm25Scale = 10000L

  /** q_bm25: BM25-ranked disjunctive retrieval — [[indexSearch]]'s
    * pruned-artifact read upgraded to the industry-standard ranking
    * function (Robertson-Spärck Jones / Okapi BM25): per matched term,
    * idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with k1 = 1.2,
    * b = 0.75 — term-frequency SATURATION (the 50th occurrence is not
    * 50× evidence) and DOC-LENGTH normalization (a match in a short
    * doc outranks the same match buried in a long one), the two
    * semantics the linear tf·N/df convention lacks.
    *
    * No-libm exactness: the log-idf is replaced by its argument, the
    * Robertson–Spärck Jones odds ratio (N − df + ½)/(df + ½) — the
    * same rare-terms-weigh-more ordering PER TERM without a
    * transcendental call — and every factor is cleared to integers:
    * with avgdl = T/N, the per-term score is the single integer
    * division  S·(2N−2df+1)·22·tf·T div ((2df+1)·(10·T·tf + 3·T +
    * 9·dl·N))  (k1, b substituted; all operands non-negative, so
    * Spark's `div` ≡ DuckDB's `//` and the oracle replays the ranking
    * bit-for-bit).
    *
    * SEMANTICS CAVEAT (documented convention, not a bug): because the
    * idf enters UN-LOGGED, only the single-term ordering is guaranteed
    * to match textbook BM25. The multi-term SUM weights rare terms
    * more aggressively than Lucene-style log-idf BM25 — a doc matching
    * one very rare term can outrank a doc matching two moderately rare
    * ones where the log form would rank them the other way. Same
    * family as the linear-idf q_tfidf; callers wanting Lucene parity
    * apply ln() to the odds ratio and accept double scoring.
    *
    * Overflow bound (exact): the numerator is ≤ S·(2N+1)·22·tf·T, so
    * with S = 10⁴ it stays under 2⁶³ only while N·tf·T < ~2.1e13 —
    * with realistic doc counts that is ~10⁶–10⁷ corpus tokens, NOT
    * unbounded corpus scale. Past it Spark's non-ANSI BIGINT wraps
    * silently while DuckDB promotes to HUGEINT, corrupting rankings
    * undetected — so [[stagedDocLens]]/[[stagedAppendedDocLens]]
    * enforce a BUILD-TIME guard: S·(2N+1)·22·maxdl·T < 2⁶³ (tf ≤ dl
    * row-wise, so maxdl bounds every tf), failing the artifact build
    * with instructions to drop S rather than serving wrapped scores.
    *
    * Scale shape: postings read is the ≤-2-bucket pruned artifact scan
    * (static PartitionFilters); the dl sidecar joins map-side against
    * the broadcast matched-postings set (never a corpus scan of
    * documents); N and T are memo scalars staged with the artifacts;
    * top-k is TakeOrderedAndProject. */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25(spark, dir, LookupTerms._1, LookupTerms._2, SearchK)

  def bm25(spark: SparkSession, dir: String, t1: String, t2: String,
      k: Int): DataFrame = {
    val (root, nDocs) = stagedPostings(spark, dir)
    val (dlRoot, totTok) = stagedDocLens(spark, dir)
    bm25Serve(spark, root, dlRoot, nDocs, totTok, t1, t2, k)
  }

  /** ONE serve path for both artifact pairs (one-shot and appended) —
    * the pruned postings read, per-term df window, broadcast dl join,
    * and ranking tail cannot drift between the two forms. */
  private def bm25Serve(spark: SparkSession, root: String, dlRoot: String,
      nDocs: Long, totTok: Long, t1: String, t2: String, k: Int): DataFrame = {
    val posts = spark.read.parquet(root)
      .where(col("bucket").isin(termBucket(t1), termBucket(t2)) &&
        col("word").isin(t1, t2))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("word")
    bm25Rank(
      spark.read.parquet(dlRoot)
        .join(broadcast(posts.withColumn("df", count(lit(1)).over(w))), "doc_id"),
      nDocs, totTok, k)
  }

  /** q_bm25_append: BM25 served from the APPEND-MAINTAINED artifacts —
    * [[stagedAppendedPostings]] (base staged once, delta appended into
    * the same bucket dirs) plus a dl sidecar maintained the same way
    * (doc-length rows are per-doc pure functions, so disjoint doc
    * slices append exactly). Posting and dl row sets equal the
    * one-shot artifacts' row for row, so the ranking — and the DuckDB
    * oracle — is q_bm25's verbatim; what changes is the MAINTENANCE
    * cost: an increment bills |delta| tokenization + delta-sized
    * writes, never a base rewrite. */
  def bm25Appended(spark: SparkSession, dir: String): DataFrame = {
    val (root, nDocs) = stagedAppendedPostings(spark, dir)
    val (dlRoot, totTok) = stagedAppendedDocLens(spark, dir)
    bm25Serve(spark, root, dlRoot, nDocs, totTok,
      LookupTerms._1, LookupTerms._2, SearchK)
  }

  /** The dl sidecar maintained base + append over the appended
    * postings artifact — the ONE tokenization path, so the two appended
    * artifacts cannot disagree on a token. */
  private[graft] def stagedAppendedDocLens(spark: SparkSession, dir: String): (String, Long) =
    docLens(spark, dir, appended = true)

  /** The BM25 ranking tail over (doc_id, tf, df, dl) rows — shared by
    * the artifact-served form and the direct semantics reference.
    * The term score evaluates in DECIMAL(38,0): the numerator
    * S·(2N+1)·22·tf·T passes 2⁶³ at ~10⁷ corpus tokens (the sf10
    * document corpus tripped the old BIGINT guard at 500k docs / 27M
    * tokens), while decimal-128 carries it exactly to ~10³⁸ — enough
    * for N ≈ 10¹², T ≈ 10¹⁵ (the 100 TB design point, bound ~2·10³⁶).
    * Still EXACT integer arithmetic: scale-0 decimals, one integral
    * division (Spark's decimal `div` returns the BIGINT quotient,
    * which is what DuckDB's `//` produces from its HUGEINT promotion)
    * — the oracle is unchanged and the ranking stays bit-replayable. */
  private def bm25Rank(rows: DataFrame, nDocs: Long, totTok: Long,
      k: Int): DataFrame =
    rows
      .withColumn("s",
        // Every multiplicative chain is anchored on a DECIMAL literal so
        // no 64-bit SUBTERM can wrap inside the guard's envelope (e.g.
        // 9·dl·N passes 2⁶³ long before den reaches 10³⁸): non-ANSI
        // BIGINT wrap is silent, and promotion-after-wrap would corrupt
        // the denominator only for long documents.
        expr(s"(CAST(${Bm25Scale} AS DECIMAL(38,0)) * (CAST(2 AS DECIMAL(38,0)) * ${nDocs}L - CAST(2 AS DECIMAL(38,0)) * df + 1) * 22L * tf * ${totTok}L) div " +
          s"((CAST(2 AS DECIMAL(38,0)) * df + 1) * (CAST(10 AS DECIMAL(38,0)) * ${totTok}L * tf + " +
          s"CAST(3 AS DECIMAL(38,0)) * ${totTok}L + CAST(9 AS DECIMAL(38,0)) * dl * ${nDocs}L))"))
      .groupBy("doc_id")
      .agg(sum("s").as("score"), count(lit(1)).as("terms_hit"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  /** Direct corpus-scan form of [[bm25]] (no staged artifacts) — the
    * semantics reference the spec pins the artifact-served form
    * against, and the df-form library surface for arbitrary corpora.
    * Driver-side counts are the test seam's cost, not the serving
    * path's (the staged form reads N and T from the artifact memos). */
  private[graft] def bm25Direct(docs: DataFrame, t1: String, t2: String,
      k: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
    val nDocs = docs.count()
    // totTok = Σdl over the (per-doc, bounded) length table — rides the
    // aggregation instead of its own tokenize pass (the q_pmi pattern)
    val dls = graft.Engine.cut(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val totTok = dls.agg(coalesce(sum("dl"), lit(0L))).head().getLong(0)
    val tf = toks.where(col("word").isin(t1, t2))
      .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("word")
    bm25Rank(
      dls.join(broadcast(tf.withColumn("df", count(lit(1)).over(w))), "doc_id"),
      nDocs, totTok, k)
  }

  // ---------------------------------------------------------------------
  // q_hybrid_rrf: hybrid retrieval — BM25 ∪ vector search fused by RRF
  // ---------------------------------------------------------------------

  /** RRF dampening constant (the k = 60 of Cormack, Clarke &
    * Buettcher, "Reciprocal rank fusion outperforms Condorcet and
    * individual rank learning methods", SIGIR 2009). */
  val RrfC = 60

  /** Fused results returned. */
  val HybridK = 10

  /** The hybrid query's vector half: document 0's embedding (doc_id
    * and vec_id align row-for-row in the corpus) — "documents
    * matching ⟨scan, merge⟩ AND similar to document 0". */
  val HybridQueryVec = 0L

  /** q_hybrid_rrf: hybrid retrieval — the staple of every modern
    * search stack: a LEXICAL ranked list (BM25 over the staged
    * postings, [[bm25]]) and a SEMANTIC ranked list (exact cosine
    * against the query embedding) fused by Reciprocal Rank Fusion,
    *   rrf(d) = Σ_lists 1/(C + rank_d),
    * which needs NO score calibration between the lists — only ranks —
    * the reason RRF won over score-blending (Cormack et al. 2009).
    *
    * Exactness: each contribution is the pinned integer
    * 10⁶ div (C + rank) (documented micro-unit floor of the real-valued
    * RRF — both engines compute the identical BIGINT, and with C = 60
    * and ≤ 25-deep lists all contributions are distinct), absent-from-
    * list contributes 0 (rank sentinel 0 in the output), and the final
    * order (rrf_micro DESC, doc_id) is total.
    *
    * Shape at scale: the BM25 side is the pruned-postings serve path
    * (never a corpus scan); the vector side is one broadcast query row
    * against the embeddings scan with a TakeOrderedAndProject top-k;
    * fusion itself joins two ≤ [[SearchK]]-row lists — driver-free,
    * bounded by the shortlists. The per-list windows rank ≤ SearchK
    * rows (post-limit), so their SinglePartition is a constant-size
    * tail, not a corpus sort. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Window.orderBy(col("score").desc, col("doc_id").asc)
    val text = bm25(spark, dir, LookupTerms._1, LookupTerms._2, SearchK)
      .select(col("doc_id"), row_number().over(byScore).cast(LongType).as("bm25_rank"))
    val v = Similarity.vecs(spark, dir)
    val q = v.where(col("vec_id") === HybridQueryVec)
      .select(col("e").as("qe"), col("nrm").as("qnrm"))
    val byCos = Window.orderBy(col("cos").desc, col("doc_id").asc)
    val vec = v.where(col("vec_id") =!= HybridQueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        (graft.functions.VectorExprs.dot(col("e"), col("qe")) /
          (col("nrm") * col("qnrm"))).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(SearchK)
      .select(col("doc_id"), row_number().over(byCos).cast(LongType).as("cos_rank"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        coalesce(col("cos_rank"), lit(0L)).as("cos_rank"))
      .withColumn("rrf_micro",
        expr(s"if(bm25_rank = 0, 0L, 1000000L div (${RrfC}L + bm25_rank))") +
          expr(s"if(cos_rank = 0, 0L, 1000000L div (${RrfC}L + cos_rank))"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
      .limit(HybridK)
  }

  /** Direct corpus-scan form of [[indexLookup]] (no index) — the
    * semantics reference: the spec asserts lookup ≡ this, and the
    * DuckDB oracle is this query in SQL. */
  private[graft] def invertedIndexDirectProbe(spark: SparkSession, dir: String,
      t1: String, t2: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .where(col("word").isin(t1, t2))
      .groupBy("doc_id")
      .agg(
        sum(when(col("word") === t1, 1L)).as("tf_a"),
        sum(when(col("word") === t2, 1L)).as("tf_b"))
      .where(col("tf_a").isNotNull && col("tf_b").isNotNull)
      .orderBy("doc_id")

  /** Count-Min sketch depth (hash rows) / width (counters per row).
    * Width a power of two so `h AND (w−1)` ≡ `h % w` in both engines. */
  val CmsDepth = 4
  val CmsWidth = 512

  /** (j, cell) assignments for every (word, cnt) row: d rows per word,
    * cell_j = mix32(fnv32a("j:" ++ word)) masked to the width — the
    * same avalanche-finalized FNV family as the HLL/sample operators,
    * row-seeded through the key prefix. One pass over `wc` (the d-way
    * fan-out is an explode, not a union of re-scans). */
  private[graft] def cmsCells(wc: DataFrame): DataFrame =
    wc.select(col("word"), col("cnt"),
        explode(array((0 until CmsDepth).map(lit(_)): _*)).as("j"))
      .withColumn("cell",
        graft.functions.Fnv32a.mix32(
          graft.functions.Fnv32a.fnv32a(
            concat(col("j").cast("string"), lit(":"), col("word"))))
          .bitwiseAND(CmsWidth - 1))

  /** q_cms_topk: Count-Min sketch frequency estimates (Cormode &
    * Muthukrishnan, J. Algorithms 2005) for the corpus's top tokens —
    * the point-queryable counterpart to q_topk_sketch's Misra-Gries:
    * d×w = 4×512 counters at ANY corpus size, each counter a plain
    * SUM (so sketches of partitions merge by addition — the mergeable
    * property that lets 1000 executors build one sketch with no
    * coordination), estimate = min over the d rows, one-sidedly ≥ the
    * true count and ≤ true + εN with ε = e/w.
    *
    * Every step is integer-domain and seed-free (the hash family is
    * the deterministic FNV+avalanche chain), so the DuckDB oracle
    * replays the whole sketch: build, point queries, and the top-k
    * surface. The counter table derives via a window over the
    * vocab-grain cell table — ONE documents scan feeds both the
    * sketch and the queries (no self-join re-scan); the final top-k
    * is an ORDER BY ... LIMIT (TakeOrderedAndProject, no full sort). */
  def cmsTopTokens(spark: SparkSession, dir: String): DataFrame =
    cmsTopTokens(Tables(spark, dir, "documents"), 20)

  def cmsTopTokens(docs: DataFrame, k: Int): DataFrame = {
    val wc = wordCountPartials(docs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("j", "cell")
    cmsCells(wc)
      .withColumn("c", sum("cnt").over(w))
      .groupBy("word", "cnt")
      .agg(min("c").as("cms_est"))
      .orderBy(desc("cms_est"), asc("word"))
      .limit(k)
  }
}
