package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting. All pure expression
  * chains (array/lambda higher-order functions) — fully codegen'd, no
  * UDFs, embarrassingly parallel per-row at any scale.
  *
  * Each operator ships its DuckDB-oracle SQL alongside so the two stay
  * in lock-step (the oracle is the t2 correctness gate).
  */
object TextAnalysis {
  import org.apache.spark.sql.classic.GraftColumnBridge.{column, expression}
  import graft.expressions.{CharClass, PiiScrubExpr, TextClassCounts, TextClassSpec}

  private def tokens(c: Column): Column = split(c, "\\s+")

  private[operators] val Stopwords = Seq("the", "a", "and", "of", "to")
  private[operators] def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** Java regex `\s` as explicit codepoint ranges — the ONE whitespace
    * definition the kernels, the `split('\s+')`-equivalent token
    * segmentation, and (from round 13) the DuckDB oracles all share.
    * Spelled out because RE2's `\s` omits `\x0B` (the r12 ADVICE
    * portability item): both engines now classify identically on any
    * input, not just the VT-free fixture.
    */
  private val WsRanges = Seq(0x09 -> 0x0D, 0x20 -> 0x20)

  /** `\s` as an explicit RE2-safe class (body + wrapped) for the
    * oracle SQL — the body form composes into larger classes.
    */
  private[operators] val WsCharsSql = " \\t\\n\\x0B\\f\\r"
  private[operators] val WsClassSql = s"[$WsCharsSql]"

  /** One single-scan classifier for the quality family: char class 0 =
    * `[^a-z0-9\s]` (punctuation), token set 0 = [[Stopwords]]. Shared
    * `val` so every call site builds the SAME spec instance and
    * identical kernel calls unify under codegen subexpression
    * elimination.
    */
  private val QualitySpec = TextClassSpec.build(
    Seq(CharClass(
      Seq('a'.toInt -> 'z'.toInt, '0'.toInt -> '9'.toInt) ++ WsRanges,
      negate = true)),
    Seq(Stopwords))

  /** The kernel call: `[n_chars, n_tokens, <classes...>, <sets...>]`
    * per document in one scan ([[graft.expressions.TextClassCounts]]).
    */
  private def textCounts(text: Column, spec: TextClassSpec): Column =
    column(TextClassCounts(expression(text), spec))

  // ------------------------------------------------------------- quality

  /** [[keepCol]] over an already-computed [[QualitySpec]] counts array
    * — slot 1 = n_tokens, slot 3 = stopword hits.
    */
  private def keepFromCounts(a: Column): Column =
    a(1) >= 5 && a(1) <= 10000 &&
      (a(3).cast(DoubleType) / a(1)) < lit(0.5)

  /** The keep/drop predicate of [[qualityScore]] as a standalone Column
    * — shared with the curation pipeline so the two can never drift.
    * One kernel scan; the historical split+filter formulation survives
    * as the TextKernelLawsSpec reference implementation.
    */
  private[operators] def keepCol(text: Column): Column =
    keepFromCounts(textCounts(text, QualitySpec))

  /** SQL twin of [[keepCol]] over a token-list column (oracle reuse). */
  private[operators] def keepSql(toksCol: String): String =
    s"""LEN($toksCol) >= 5 AND LEN($toksCol) <= 10000
       |    AND CAST(LEN(LIST_FILTER($toksCol,
       |          t -> t IN ${sqlList(Stopwords)})) AS DOUBLE)
       |          / LEN($toksCol) < 0.5""".stripMargin

  /** Quality scoring: char/token counts, stopword ratio, punctuation
    * count, and a keep/drop flag — the usual first-pass corpus filter.
    *
    * One [[QualitySpec]] kernel scan per document (round 13; the prior
    * formulation paid a `split` array materialization, a lambda
    * filter, AND a `regexp_extract_all` pass — the r12 VERDICT's
    * largest measured constant-factor tail). All six output columns
    * derive from the one counts array; the float arithmetic
    * (`n_stop/n_tokens` as double) is reproduced operation-for-
    * operation so q41's oracle hash is unchanged.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val a = textCounts(col("text"), QualitySpec)
    docs.select(
      col("doc_id"),
      a(0).as("n_chars"),
      a(1).as("n_tokens"),
      a(3).as("n_stop"),
      (a(3).cast(DoubleType) / a(1)).as("stop_ratio"),
      a(2).as("n_punct"),
      when(keepFromCounts(a), 1).otherwise(0).as("keep"))
  }

  // whitespace spelled as the explicit Java-\s class (WsClassSql):
  // RE2's \s omits \x0B, so the bare escape was only fixture-portable
  val qualityScoreOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, STRING_SPLIT_REGEX(text, '$WsClassSql+') AS toks
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
       |  CAST(LEN(toks) AS BIGINT) AS n_tokens,
       |  CAST(LEN(LIST_FILTER(toks, t -> t IN ${sqlList(Stopwords)})) AS BIGINT) AS n_stop,
       |  CAST(LEN(LIST_FILTER(toks, t -> t IN ${sqlList(Stopwords)})) AS DOUBLE)
       |    / LEN(toks) AS stop_ratio,
       |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z0-9$WsCharsSql]')) AS BIGINT) AS n_punct,
       |  CASE WHEN LEN(toks) >= 5 AND LEN(toks) <= 10000
       |        AND CAST(LEN(LIST_FILTER(toks, t -> t IN ${sqlList(Stopwords)})) AS DOUBLE)
       |              / LEN(toks) < 0.5
       |       THEN 1 ELSE 0 END AS keep
       |FROM t ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- tokens

  /** Token counting: whitespace tokens + a BPE-ish regex token stream
    * (letter runs / digit runs / single non-alnum symbols).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    graft.functions.Fns.spreadIfNarrow(docs, col("doc_id")).select(
      col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        .cast(LongType).as("n_bpe_tokens"),
      length(col("text")).cast(LongType).as("n_chars"))

  val tokenCountsOracle: String =
    """SELECT doc_id,
      |  CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(LENGTH(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- lang id

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "les", "et"),
    "de" -> Seq("der", "die", "und"),
    "zh" -> Seq("de5", "shi4", "le5"))

  /** One single-scan classifier for [[langId]]: token set k = language
    * k's marker words, in [[LangMarkers]] order.
    */
  private val LangSpec = TextClassSpec.build(Nil, LangMarkers.map(_._2))

  /** Marker-word language ID with a deterministic priority argmax.
    * One [[LangSpec]] kernel scan replaces the five per-language
    * split+filter passes (round 13 — see [[qualityScore]]).
    */
  def langId(docs: DataFrame): DataFrame = {
    val a = textCounts(col("text"), LangSpec)
    val scoreCols = LangMarkers.zipWithIndex.map { case ((lang, _), k) =>
      a(2 + k).as(s"s_$lang")
    }
    val withScores = docs.select(col("doc_id") +: col("lang") +: scoreCols: _*)
    val predicted = LangMarkers.map(_._1).init.foldRight(lit(LangMarkers.last._1)) {
      case (lang, elseCol) =>
        val mine = col(s"s_$lang")
        val ge = LangMarkers.map(_._1).filter(_ != lang)
          .map(o => mine >= col(s"s_$o")).reduce(_ && _)
        when(ge, lang).otherwise(elseCol)
    }
    withScores.withColumn("predicted_lang", predicted)
  }

  val langIdOracle: String = {
    val scoreExprs = LangMarkers.map { case (lang, markers) =>
      s"CAST(LEN(LIST_FILTER(toks, t -> t IN ${sqlList(markers)})) AS BIGINT) AS s_$lang"
    }.mkString(",\n  ")
    val langs = LangMarkers.map(_._1)
    val caseArms = langs.init.map { lang =>
      val conds = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, STRING_SPLIT_REGEX(text, '$WsClassSql+') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |  $scoreExprs
       |  FROM t)
       |SELECT doc_id, lang, s_en, s_es, s_fr, s_de, s_zh,
       |  CASE $caseArms
       |    ELSE '${langs.last}' END AS predicted_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- script profile

  /** (class name, BMP codepoint ranges) in PRIORITY order — the
    * dominant-script tie-break and the output column order. Block
    * ranges, not `\p{script=...}` property classes: property classes
    * depend on each regex engine's Unicode table version (Java vs RE2
    * disagree at the margins and drift across releases), while
    * literal codepoint ranges mean the engine and the DuckDB oracle
    * classify identically forever. Latin includes the Latin-1
    * supplement + Extended-A/B blocks (the whole 00C0–024F run — a
    * handful of non-letters like × ÷ ride along; a block
    * classifier's documented trade).
    */
  private val ScriptClasses: Seq[(String, Seq[(Int, Int)])] = Seq(
    "latin" -> Seq(('A'.toInt, 'Z'.toInt), ('a'.toInt, 'z'.toInt),
      (0xC0, 0x24F)),
    "cyrillic" -> Seq((0x400, 0x4FF)),
    "greek" -> Seq((0x370, 0x3FF)),
    "cjk" -> Seq((0x4E00, 0x9FFF)),
    "hangul" -> Seq((0xAC00, 0xD7A3)))

  private def classRegex(ranges: Seq[(Int, Int)]): String =
    ranges.map { case (lo, hi) => s"${lo.toChar}-${hi.toChar}" }
      .mkString("[", "", "]")

  /** One single-scan classifier for [[scriptProfile]]: classes 0–4 =
    * the [[ScriptClasses]] blocks in priority order, 5 = digits, 6 =
    * whitespace. Both engines count CODEPOINTS, so the arithmetic is
    * engine-portable for BMP classes. Round 13: replaces the 7-pass
    * `length(x) − length(regexp_replace(x, cls, ''))` chain — the
    * oracle keeps the length-difference formulation as the independent
    * truth.
    */
  private val ScriptSpec = TextClassSpec.build(
    ScriptClasses.map { case (_, ranges) => CharClass(ranges) } ++
      Seq(CharClass(Seq('0'.toInt -> '9'.toInt)), CharClass(WsRanges)),
    Nil)

  /** Per-document Unicode-script profile — the curation signal that
    * routes documents to script-appropriate pipelines (tokenizer
    * choice, language-ID model family, CJK-vs-whitespace
    * segmentation) and catches mis-sourced corpora (a "Latin" crawl
    * slice that is 40% Cyrillic) before they poison a training mix.
    * Counts codepoints per script class (block ranges — see
    * [[ScriptClasses]]), plus digits, whitespace-excluded `other`,
    * the dominant script (priority-ordered argmax, [[langId]]'s
    * deterministic fold) and its share of all script-classified
    * codepoints (NULL when the doc has none).
    *
    * Scale: ONE [[ScriptSpec]] kernel scan per document (round 13 —
    * all seven class counts from a single codepoint walk; the prior
    * per-class `regexp_replace` chain was 7 regex passes over every
    * byte), codegen'd, no shuffle, no UDF; at 100 TB this is a
    * map-only pass whose cost is bounded by bytes scanned.
    *
    * @return (doc_id, n_chars, latin, cyrillic, greek, cjk, hangul,
    *         digit, other, dominant, dominant_ratio)
    */
  def scriptProfile(docs: DataFrame, content: Column, id: Column): DataFrame = {
    val names = ScriptClasses.map(_._1)
    val a = textCounts(content, ScriptSpec)
    val counted = docs.select(
      id.as("doc_id") +: a(0).as("n_chars") +:
        (names.zipWithIndex.map { case (nm, k) => a(2 + k).as(nm) } ++ Seq(
          a(2 + names.size).as("digit"),
          a(3 + names.size).as("__ws"))): _*)
    val scriptTotal = names.map(col).reduce(_ + _)
    val dominant = names.init.foldRight(lit(names.last)) {
      case (nm, elseCol) =>
        val ge = names.filter(_ != nm).map(o => col(nm) >= col(o))
          .reduce(_ && _)
        when(ge, nm).otherwise(elseCol)
    }
    val top = greatest(names.map(col): _*)
    counted
      .withColumn("other",
        col("n_chars") - col("__ws") - scriptTotal - col("digit"))
      .withColumn("dominant", dominant)
      .withColumn("dominant_ratio",
        top.cast(DoubleType) / when(scriptTotal === 0, lit(null))
          .otherwise(scriptTotal))
      .drop("__ws")
  }

  /** Oracle for [[scriptProfile]]: the same block ranges, length
    * differences, and priority fold, over `textExpr` (so graded
    * fixtures can profile a derived column — see [[scriptShiftSql]]).
    * DuckDB `regexp_replace` needs the explicit 'g' flag (Spark's
    * replaces all matches by default).
    */
  def scriptProfileOracle(textExpr: String = "text"): String = {
    val names = ScriptClasses.map(_._1)
    def cnt(cls: String) =
      s"LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '$cls', '', 'g'))"
    val classExprs = ScriptClasses.map { case (nm, ranges) =>
      s"${cnt(classRegex(ranges))} AS $nm"
    }.mkString(",\n  ")
    val total = names.mkString(" + ")
    val caseArms = names.init.map { nm =>
      val conds = names.filter(_ != nm).map(o => s"$nm >= $o")
        .mkString(" AND ")
      s"WHEN $conds THEN '$nm'"
    }.mkString("\n    ")
    s"""WITH shifted AS (SELECT doc_id, $textExpr AS text FROM documents),
       |c AS (
       |  SELECT doc_id, LENGTH(text) AS n_chars,
       |  $classExprs,
       |  ${cnt("[0-9]")} AS digit,
       |  ${cnt(WsClassSql)} AS n_ws
       |  FROM shifted)
       |SELECT doc_id, n_chars, ${names.mkString(", ")}, digit,
       |  n_chars - n_ws - ($total + digit) AS other,
       |  CASE $caseArms
       |    ELSE '${names.last}' END AS dominant,
       |  CAST(GREATEST(${names.mkString(", ")}) AS DOUBLE)
       |    / NULLIF($total, 0) AS dominant_ratio
       |FROM c ORDER BY doc_id""".stripMargin
  }

  private val LatinLower = ('a' to 'z').mkString
  private def block(lo: Int, n: Int): String =
    (0 until n).map(i => (lo + i).toChar).mkString

  /** Deterministic script-shifted corpus: maps each doc's lowercase
    * Latin letters into another script's block by `id % 6` (1 →
    * Cyrillic, 2 → Greek, 3 → CJK, 4 → Hangul, 5 → a HALF-alphabet
    * Cyrillic shift producing genuinely mixed-script docs, 0 →
    * unchanged). Exists because the synthetic corpus is pure ASCII —
    * this gives the graded q196 fixture real non-Latin codepoints so
    * the classifier's ranges, codepoint counting, and dominant fold
    * are all exercised, with [[scriptShiftSql]] replaying the exact
    * `translate` on the oracle side. Targets are 26 (resp. 13)
    * CONSECUTIVE codepoints from each block, so both engines'
    * `translate` see equal-length from/to strings.
    */
  def scriptShift(text: Column, id: Column): Column = {
    val m = pmod(id, lit(6))
    when(m === 1, translate(text, LatinLower, block(0x430, 26)))
      .when(m === 2, translate(text, LatinLower, block(0x3B1, 26)))
      .when(m === 3, translate(text, LatinLower, block(0x4E00, 26)))
      .when(m === 4, translate(text, LatinLower, block(0xAC00, 26)))
      .when(m === 5,
        translate(text, LatinLower.take(13), block(0x430, 13)))
      .otherwise(text)
  }

  /** SQL form of [[scriptShift]] over columns `textCol`/`idCol`. */
  def scriptShiftSql(textCol: String = "text",
                     idCol: String = "doc_id"): String = {
    def t(n: Int, lo: Int) =
      s"TRANSLATE($textCol, '${LatinLower.take(n)}', '${block(lo, n)}')"
    s"""CASE $idCol % 6
       |    WHEN 1 THEN ${t(26, 0x430)}
       |    WHEN 2 THEN ${t(26, 0x3B1)}
       |    WHEN 3 THEN ${t(26, 0x4E00)}
       |    WHEN 4 THEN ${t(26, 0xAC00)}
       |    WHEN 5 THEN ${t(13, 0x430)}
       |    ELSE $textCol END""".stripMargin
  }

  /** Corpus-level script mixture — the rollup a curator actually reads
    * over [[scriptProfile]] (the q189-over-q182 report precedent):
    * per dominant script, document count and share, total codepoints,
    * and the mean dominant-share among docs that HAVE script content
    * (NULL-ratio docs — no script codepoints at all — count toward
    * n_docs but not the mean, the SQL AVG convention). The mean runs
    * on the `Fns.exactAvgScaled` fixed-point accumulator (scale 6) so
    * it is order-independent and oracle-replayable; the corpus total
    * attaches as a broadcast scalar, never a window. One pass over
    * the text + one tiny aggregate: the per-doc profile is map-only,
    * the rollup groups on ≤ |script classes| keys.
    */
  def scriptMixture(docs: DataFrame, content: Column, id: Column): DataFrame = {
    val prof = scriptProfile(docs, content, id)
    // Contract note (the q137 lesson, r12 VERDICT #3): attaching a
    // corpus scalar via crossJoin(broadcast(agg)) normally re-runs the
    // upstream subtree in the broadcast build — banned when that
    // subtree carries real work. THIS instance is the documented safe
    // exception: the build is `prof.agg(count(*))`, which references
    // no columns, so column pruning strips the entire per-doc profile
    // (the kernel call, the shift translate, every derived column)
    // from the build branch — the executed plan (r13 explain audit)
    // shows a bare row-count FileScan with an EMPTY ReadSchema feeding
    // the BroadcastExchange, i.e. a parquet-footer count, not a second
    // text pass. A collected scalar would buy nothing and would make
    // the operator eager.
    prof.groupBy("dominant")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        graft.functions.Fns.exactAvgScaled(col("dominant_ratio"), 6)
          .as("mean_dominant_ratio"))
      .crossJoin(broadcast(prof.agg(count(lit(1)).as("__total"))))
      .withColumn("doc_fraction",
        col("n_docs").cast(DoubleType) / col("__total"))
      .drop("__total")
  }

  /** Oracle for [[scriptMixture]] — wraps [[scriptProfileOracle]] as a
    * CTE; the mean replays the exactAvgScaled division chain
    * parenthesis-for-parenthesis.
    */
  def scriptMixtureOracle(textExpr: String = "text"): String =
    s"""WITH prof AS (${scriptProfileOracle(textExpr)}),
       |t AS (SELECT COUNT(*) AS total FROM prof)
       |SELECT dominant, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  (CAST(SUM(CAST(FLOOR(dominant_ratio * 1000000 + 0.5) AS BIGINT))
       |      AS DOUBLE) / 1000000) / COUNT(dominant_ratio)
       |    AS mean_dominant_ratio,
       |  CAST(COUNT(*) AS DOUBLE) / MAX(total) AS doc_fraction
       |FROM prof, t GROUP BY dominant ORDER BY dominant""".stripMargin

  // ------------------------------------------------------------ sampling

  /** Deterministic stratified sample: the k rows per stratum with the
    * smallest md5(id) — a reproducible uniform sample (hash order is
    * fixed, so re-runs, retries, and different cluster sizes all pick
    * the SAME rows; no RNG state to coordinate).
    *
    * Round-6 scale shape: strata are LOW-cardinality (languages,
    * domains), so a direct per-stratum window is one single-task sort
    * per stratum over the whole corpus at 100 TB. The rank instead
    * comes from the two-phase [[graft.operators.Skew.saltedRank]] with
    * the top 54 bits of md5(id) as the integer range key (md5 is
    * uniform, so range buckets are even by construction — the
    * best-case input for the bucketed rank) and (full md5, id) as the
    * tiebreak; a 54-bit prefix orders exactly like the hex string it
    * prefixes, so the sampled rows are IDENTICAL to the md5-order
    * window's. 54 (not 60) bits keeps saltedRank's
    * `(hi − lo) · buckets` int64 contract with headroom.
    *
    * NULL strata are a stratum of their own (the pre-round-6 window
    * semantics): saltedRank attaches bounds/offsets via inner
    * equi-joins on the stratum, under which bare NULL keys never match
    * and the rows silently vanish. Wrapping the stratum in a
    * single-field struct fixes that — struct equality follows row
    * ordering, where a NULL field equals a NULL field — without the
    * collision a sentinel value would introduce.
    */
  def stratifiedHashSample(df: DataFrame, stratum: Column, id: Column,
                           k: Int): DataFrame = {
    val withKeys = df
      .withColumn("__strat", struct(stratum.as("s")))
      .withColumn("__md5", md5(id.cast(StringType)))
      .withColumn("__h54",
        call_function("div",
          conv(substring(col("__md5"), 1, 15), 16, 10).cast(LongType),
          lit(64L)))
      .withColumn("__idc", id)
    graft.operators.Skew.saltedRank(withKeys, Seq("__strat"), "__h54",
        Seq("__md5", "__idc"), buckets = 64, as = "__rk")
      .filter(col("__rk") <= k)
      .select(df.columns.map(col): _*)
  }

  /** Deterministic Bernoulli sample: keep a row iff the top 60 bits of
    * md5(id) fall below fraction·2^60. Like [[stratifiedHashSample]],
    * reproducible across runs, retries, and cluster sizes — and unlike a
    * row_number top-k, it needs NO shuffle at all (pure filter on a scan,
    * the only sane way to sample 100 TB).
    */
  def bernoulliHashSample(df: DataFrame, id: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(hash60(id) < lit(sampleThreshold(fraction)))
  }

  /** The 60-bit md5-prefix hash gate shared by every deterministic
    * sampler ([[bernoulliHashSample]], [[domainMixture]]); SQL twin is
    * [[hash60Sql]].
    */
  private[operators] def hash60(id: Column): Column =
    conv(substring(md5(id.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** 2^60 — the exclusive upper bound of [[hash60]], exact as a double. */
  private[operators] val Hash60Range: Double = (1L << 60).toDouble

  private[operators] def sampleThreshold(fraction: Double): Long =
    (fraction * Hash60Range).toLong

  /** 60-bit md5-prefix hash of an md5-hex column, via nibble arithmetic
    * (oracle twin of the conv/substring expression above).
    */
  private[operators] def hash60Sql(hxCol: String): String =
    (1 to 15)
      .map(i => s"(STRPOS('0123456789abcdef', $hxCol[$i]) - 1) * ${math.pow(16, 15 - i).toLong}")
      .mkString(" + ")

  /** Vocabulary-growth (Heaps-law) curve in ONE corpus pass — the
    * corpus diagnostic behind the bounded-domain design assumption
    * this library leans on everywhere (BPE's `maxWords`, the LM model
    * frames, the profiling gates): how fast does the distinct-word
    * vocabulary grow as the corpus grows? Natural language plateaus
    * sublinearly (Heaps' law); ids/random strings grow linearly — the
    * curve is how you TEST which regime a new corpus is in before
    * trusting a vocab-frame operator on it.
    *
    * The naive protocol (sample the corpus at each fraction, count
    * distinct words — one full pass per point) is replaced by a
    * one-pass arrival construction: bucket every DOCUMENT by its
    * deterministic [[hash60]] prefix range (buckets must be a power of
    * two so the range edge `2⁶⁰ / buckets` is exact), and credit every
    * WORD to the minimum bucket of any document containing it — its
    * arrival point. Then the vocabulary at fraction b/buckets is
    * exactly the count of words with arrival ≤ b (what a prefix-range
    * hash sample at that fraction would see), and one cumulative sum
    * over the |buckets|-row frame yields the whole curve. Shapes: one
    * word explode, one map-side-combined min per word (the
    * vocabulary-bounded frame), one per-bucket doc/token aggregate;
    * the only window runs over `buckets` rows by construction.
    *
    * @return (fraction, n_docs, n_tokens, n_vocab), `buckets` rows,
    *         all counts cumulative; words are the [[Tokenizer]]
    *         `[a-z]+` convention
    */
  def vocabularyGrowth(docs: DataFrame, content: Column, id: Column,
                       buckets: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 4096 &&
      (buckets & (buckets - 1)) == 0,
      s"buckets ($buckets) must be a power of two in [2, 4096] so the " +
        "hash range edge is exact")
    val edge = (1L << 60) / buckets
    // the per-doc hash + tokenize map is the heavy stage and db is
    // derived twice (dt + nv) — spread the narrow local scan so both
    // derivations run at session parallelism (round 14: 2 of 32 cores
    // otherwise on the single-row-group local file)
    val db = graft.functions.Fns.spreadIfNarrow(
        docs.select(id.as("__id"), content.as("__content")), col("__id"))
      .select(
        call_function("div", hash60(col("__id")), lit(edge)).as("b"),
        regexp_extract_all(lower(col("__content")), lit("[a-z]+"), lit(0))
          .as("ws"))
    val dt = db.groupBy("b").agg(count(lit(1)).as("nd"),
      sum(size(col("ws"))).cast(LongType).as("nt"))
    // explode_outer + the explicit null filter ≡ explode's implicit
    // empty/null-array drop — but WITHOUT the InferFiltersFromGenerate
    // rewrite, which pushes a size(regexp_extract_all(..)) > 0 filter
    // BELOW the spread exchange and re-runs the whole tokenize inside
    // the 2-task scan stage (measured: a 1.9 s single-pair stage at
    // sf1 that the spread was supposed to kill; regexp_extract_all
    // never mints null ELEMENTS, so w IS NULL ⟺ the array was empty
    // or null)
    val nv = db.select(col("b"), explode_outer(col("ws")).as("w"))
      .filter(col("w").isNotNull)
      .groupBy("w").agg(min("b").as("mb"))
      .groupBy(col("mb").as("b")).agg(count(lit(1)).as("nw"))
    val spine = docs.sparkSession.range(buckets)
      .select(col("id").as("b"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(dt, Seq("b"), "left").join(nv, Seq("b"), "left")
      .na.fill(0L, Seq("nd", "nt", "nw"))
      .select(
        ((col("b") + 1).cast(DoubleType) / buckets).as("fraction"),
        sum("nd").over(w).as("n_docs"),
        sum("nt").over(w).as("n_tokens"),
        sum("nw").over(w).as("n_vocab"))
  }

  /** Oracle for [[vocabularyGrowth]]: identical hash60 bucket ranges,
    * arrival minima, and spine-joined cumulative sums.
    */
  def vocabularyGrowthOracle(buckets: Int = 8,
                             source: String = "documents"): String = {
    val edge = (1L << 60) / buckets
    s"""WITH d AS (
       |  SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS hx,
       |    regexp_extract_all(lower(text), '[a-z]+') AS ws
       |  FROM $source),
       |db AS (
       |  SELECT (${hash60Sql("hx")}) // $edge AS b, ws FROM d),
       |dt AS (
       |  SELECT b, COUNT(*) AS nd, CAST(SUM(LEN(ws)) AS BIGINT) AS nt
       |  FROM db GROUP BY b),
       |nv AS (
       |  SELECT mb AS b, COUNT(*) AS nw FROM (
       |    SELECT w, MIN(b) AS mb FROM (
       |      SELECT b, UNNEST(ws) AS w FROM db) GROUP BY w)
       |  GROUP BY mb),
       |sp AS (SELECT i AS b
       |       FROM UNNEST(GENERATE_SERIES(0, ${buckets - 1})) AS u(i))
       |SELECT CAST(sp.b + 1 AS DOUBLE) / $buckets AS fraction,
       |  CAST(SUM(COALESCE(nd, 0)) OVER (ORDER BY sp.b
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs,
       |  CAST(SUM(COALESCE(nt, 0)) OVER (ORDER BY sp.b
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens,
       |  CAST(SUM(COALESCE(nw, 0)) OVER (ORDER BY sp.b
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_vocab
       |FROM sp LEFT JOIN dt ON sp.b = dt.b LEFT JOIN nv ON sp.b = nv.b
       |ORDER BY fraction""".stripMargin
  }

  /** Oracle for [[bernoulliHashSample]] over (doc_id, lang, n_chars). */
  def bernoulliHashSampleOracle(fraction: Double): String =
    s"""WITH h AS (
       |  SELECT doc_id, lang, n_chars, MD5(CAST(doc_id AS VARCHAR)) AS hx
       |  FROM documents)
       |SELECT doc_id, lang, n_chars FROM h
       |WHERE ${hash60Sql("hx")} < ${sampleThreshold(fraction)}
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- tfidf

  /** Top-k characteristic terms per document by tf·idf. The idf is the
    * BM25-style RATIONAL form (N - df + 0.5)/(df + 0.5) rather than a
    * logarithm: ln() is libm-dependent and not bit-identical across
    * engines, while division is IEEE-deterministic — same ranking
    * behavior, oracle-replayable. Two aggregations (tf per doc·term, df
    * per term) + one window; every step is a hash-shuffle on a bounded
    * key, linear at corpus scale.
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df table = the distinct-term vocabulary — broadcast it so tf is
    // never re-shuffled from its (doc,term) partitioning onto term
    // (the q47 vocabulary-broadcast pattern)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("score", col("tf") * col("idf"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rk")
  }

  def tfIdfTopTermsOracle(k: Int): String =
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    tf.tf * ((n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS score
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
       |SELECT doc_id, term, tf, df, score, rk FROM (
       |  SELECT doc_id, term, tf, df, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, term) AS BIGINT) AS rk
       |  FROM scored)
       |WHERE rk <= $k ORDER BY doc_id, rk""".stripMargin

  /** BM25 ranked retrieval for a fixed term set — the Okapi scoring
    * the tf-idf ranker ([[tfIdfTopTerms]]) graduates into once term
    * saturation (k1) and length normalization (b) matter. The idf is
    * the same rational form as [[tfIdfTopTerms]] (no `ln` — libm is
    * not bit-portable across engines; the ranking is order-isomorphic
    * for a fixed corpus): idf = (N − df + 0.5)/(df + 0.5), and
    *
    *   score(d) = Σ_t idf_t · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with k1 = 1.2, b = 0.75 pinned as literals on both engines.
    * Float addition is not associative, so the Σ over terms is NOT a
    * `SUM()` (partition-order-dependent): each term's score is pivoted
    * into its own column (order-independent MAX) and the total is a
    * literal left-assoc `+` chain in the caller-given term order —
    * identical expression shape on both engines.
    *
    * Scale shape: one (doc, term) aggregation for lengths, one for the
    * term-filtered tf (the IN-filter prunes before the shuffle), a
    * broadcast df/corpus-stats attach, and a top-k via sort+limit
    * (TakeOrderedAndProject — never a single-partition window over the
    * corpus); only the k survivors are re-ranked for the rank column.
    *
    * @param terms query terms, score order fixed by this sequence
    * @return top-k (doc_id, score, rk) by (score desc, doc_id)
    */
  def bm25TopDocs(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "terms must be non-empty")
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = tok.filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType)
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfD = col("tf").cast(DoubleType)
    val dlD = col("dl").cast(DoubleType)
    val s = idf * (tfD * lit(2.2)) /
      (tfD + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * dlD / avgdl))
    val perTerm = tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), s.as("s"))
    val termCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("s"))), lit(0.0)).as(s"s$i")
    }
    val pivoted = perTerm.groupBy("doc_id")
      .agg(termCols.head, termCols.tail: _*)
    val total = terms.indices.map(i => col(s"s$i")).reduce(_ + _)
    val top = pivoted.select(col("doc_id"), total.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast(LongType))
      .select("doc_id", "score", "rk")
  }

  /** Oracle for [[bm25TopDocs]] — the identical expression shapes as
    * chained CTEs (every literal CAST to DOUBLE: DuckDB bare numerics
    * are DECIMAL).
    */
  def bm25TopDocsOracle(terms: Seq[String], k: Int): String = {
    val termList = sqlList(terms)
    val pivotCols = terms.zipWithIndex.map { case (t, i) =>
      s"COALESCE(MAX(CASE WHEN term = '$t' THEN s END), CAST(0.0 AS DOUBLE)) AS s$i"
    }.mkString(",\n    ")
    val total = terms.indices.map(i => s"s$i").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term
       |  FROM documents),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |                 CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |       WHERE term IN $termList GROUP BY doc_id, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |per_term AS (
       |  SELECT tf.doc_id, tf.term,
       |    ((stats.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
       |      / (dfreq.df + CAST(0.5 AS DOUBLE)))
       |    * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
       |    / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |        * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
       |           + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)
       |             / (CAST(stats.sum_dl AS DOUBLE)
       |                / CAST(stats.n_docs AS DOUBLE)))) AS s
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN stats),
       |piv AS (
       |  SELECT doc_id,
       |    $pivotCols
       |  FROM per_term GROUP BY doc_id),
       |top AS (
       |  SELECT doc_id, $total AS score FROM piv
       |  ORDER BY score DESC, doc_id LIMIT $k)
       |SELECT doc_id, score,
       |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |FROM top ORDER BY rk""".stripMargin
  }

  /** Token co-occurrence lift over a capped vocabulary: restrict to
    * the global top-`vocabTop` terms by document frequency (ties by
    * term — deterministic), pair them within each document, and score
    * association by lift = N·c_ab / (c_a·c_b) — the PMI argument
    * without the `ln` (libm is not bit-portable; lift is rank-
    * isomorphic to PMI). The integer products stay exact in BIGINT and
    * the single division is portable.
    *
    * Scale shape: the vocabulary cap is the quadratic bound — per-doc
    * pairs ≤ C(vocabTop, 2) whatever the corpus, so the pair stage is
    * linear in the corpus with a constant factor chosen by the caller.
    * Top-vocabulary selection is sort+limit (TakeOrderedAndProject),
    * broadcast back — never a window over the full vocabulary.
    *
    * @return (term_a, term_b, c_a, c_b, c_ab, lift) for pairs
    *         co-occurring in >= minPairDf docs, term_a < term_b
    */
  def cooccurrenceLift(docs: DataFrame, vocabTop: Int,
                       minPairDf: Long): DataFrame = {
    // the exploded token frame is referenced three times (vocab
    // derivation + both self-join sides) and the tokenize+explode is
    // the data-heavy stage — persist it once for the duration of the
    // build (round 14; the q208-q211 one-persisted-token-stream
    // pattern). The output is vocabTop²-bounded, so Dedup.selfCleaning
    // materializes it and drops the cache before returning.
    //
    // Two parallelism hazards measured at sf1 (StageProbe, round 14):
    // the 6 MB documents scan yields 2 splits, so an unspread explode
    // and the doc_id self-join both ran on 2 of 32 cores; and the
    // three cache consumers launch as PARALLEL stages of one job, so
    // an unmaterialized persist is computed concurrently by each
    // (cache-racing stages share nothing in-flight) — four 1.2 s
    // derivations instead of one. spreadIfNarrow fixes the first;
    // the count() action materializes the cache ONCE before the
    // consumers fan out (4.15 → 1.7 s wall).
    val dt = graft.functions.Fns.spreadIfNarrow(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dt.count(): Unit
    graft.operators.Dedup.selfCleaning(dt) {
      val dfreq = dt.groupBy("term").agg(count(lit(1)).as("df"))
      val vocab = dfreq.orderBy(col("df").desc, col("term")).limit(vocabTop)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val vt = dt.join(broadcast(vocab), "term")
      val pairs = vt.as("l").join(vt.as("r"), col("l.doc_id") === col("r.doc_id"))
        .filter(col("l.term") < col("r.term"))
        .groupBy(col("l.term").as("term_a"), col("r.term").as("term_b"))
        .agg(count(lit(1)).as("c_ab"),
          min(col("l.df")).as("c_a"), min(col("r.df")).as("c_b"))
        .filter(col("c_ab") >= minPairDf)
      pairs.crossJoin(broadcast(n))
        .select(col("term_a"), col("term_b"), col("c_a"), col("c_b"), col("c_ab"),
          ((col("n_docs") * col("c_ab")).cast(DoubleType) /
            (col("c_a") * col("c_b")).cast(DoubleType)).as("lift"))
    }
  }

  /** Oracle for [[cooccurrenceLift]]. */
  def cooccurrenceLiftOracle(vocabTop: Int, minPairDf: Long): String =
    s"""WITH dt AS (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term
       |    FROM documents)),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY term),
       |vocab AS (SELECT term, df FROM dfreq
       |          ORDER BY df DESC, term LIMIT $vocabTop),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |vt AS (SELECT dt.doc_id, dt.term, vocab.df
       |       FROM dt JOIN vocab ON dt.term = vocab.term),
       |pairs AS (
       |  SELECT l.term AS term_a, r.term AS term_b,
       |    COUNT(*) AS c_ab, MIN(l.df) AS c_a, MIN(r.df) AS c_b
       |  FROM vt l JOIN vt r ON l.doc_id = r.doc_id AND l.term < r.term
       |  GROUP BY l.term, r.term
       |  HAVING COUNT(*) >= $minPairDf)
       |SELECT term_a, term_b, CAST(c_a AS BIGINT) AS c_a,
       |  CAST(c_b AS BIGINT) AS c_b, CAST(c_ab AS BIGINT) AS c_ab,
       |  CAST(n.n_docs * c_ab AS DOUBLE) / CAST(c_a * c_b AS DOUBLE) AS lift
       |FROM pairs CROSS JOIN n
       |ORDER BY term_a, term_b""".stripMargin

  /** Pairwise vocabulary Jaccard between document domains — the
    * corpus-mixing diagnostic (how much do two sources share a word
    * list?): J(A, B) = |V_A ∩ V_B| / (|V_A| + |V_B| − |V_A ∩ V_B|)
    * over distinct whitespace tokens, exact integer counts with ONE
    * portable double division. Domain pairs with an empty
    * intersection are absent (the inner-join convention, like
    * [[cooccurrenceLift]]'s minPairDf floor).
    *
    * Scale shape: one explode + per-doc `array_distinct`, then a
    * global distinct on (domain, token) — a single shuffle whose
    * output is vocabulary-sized, not corpus-sized; the intersection
    * self-join keys on the token, so per-token fan-out is bounded by
    * the domain count squared whatever the corpus size, and the
    * domain-cardinality size frame attaches broadcast.
    *
    * @return (dom_a, dom_b, v_a, v_b, inter, jaccard), dom_a < dom_b
    */
  def domainTokenJaccard(docs: DataFrame, domain: Column): DataFrame = {
    // the vocab frame is read three times (sizes + both join sides);
    // materialize once so the corpus explode runs a single time
    val dt = docs.select(domain.as("dom"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      .filter(col("term") =!= "") // leading-whitespace split artifact
      .distinct()
      .localCheckpoint(eager = true)
    val sizes = dt.groupBy("dom").agg(count(lit(1)).as("v"))
    val inter = dt.as("l").join(dt.as("r"), col("l.term") === col("r.term"))
      .filter(col("l.dom") < col("r.dom"))
      .groupBy(col("l.dom").as("dom_a"), col("r.dom").as("dom_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("dom").as("dom_a"), col("v").as("v_a"))),
        "dom_a")
      .join(broadcast(sizes.select(col("dom").as("dom_b"), col("v").as("v_b"))),
        "dom_b")
      .select(col("dom_a"), col("dom_b"), col("v_a"), col("v_b"), col("inter"),
        (col("inter").cast(DoubleType) /
          (col("v_a") + col("v_b") - col("inter")).cast(DoubleType))
          .as("jaccard"))
  }

  /** Oracle for [[domainTokenJaccard]]: `vSql` must yield (dom, text). */
  def domainTokenJaccardOracle(vSql: String): String =
    s"""WITH src AS ($vSql),
       |dt AS (SELECT DISTINCT dom, term FROM (
       |  SELECT dom, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term
       |  FROM src) WHERE term <> ''),
       |s AS (SELECT dom, COUNT(*) AS v FROM dt GROUP BY dom),
       |i AS (SELECT l.dom AS dom_a, r.dom AS dom_b, COUNT(*) AS inter
       |      FROM dt l JOIN dt r ON l.term = r.term AND l.dom < r.dom
       |      GROUP BY l.dom, r.dom)
       |SELECT dom_a, dom_b, CAST(sa.v AS BIGINT) AS v_a,
       |  CAST(sb.v AS BIGINT) AS v_b, CAST(i.inter AS BIGINT) AS inter,
       |  CAST(i.inter AS DOUBLE)
       |    / CAST(sa.v + sb.v - i.inter AS DOUBLE) AS jaccard
       |FROM i JOIN s sa ON i.dom_a = sa.dom JOIN s sb ON i.dom_b = sb.dom
       |ORDER BY dom_a, dom_b""".stripMargin

  // ---------------------------------------------------------- repetition

  /** Repetition-based quality signals (the Gopher-rules family adapted
    * to whitespace corpora): duplicate-token fraction and the fraction
    * of all 2-grams taken by the single most repeated 2-gram. High
    * values flag boilerplate/spam documents that length and stopword
    * filters miss. Per-doc distincts are pure array expressions (no
    * shuffle); the top-2-gram pass is two hash aggregations keyed by
    * doc — linear at corpus scale.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    val staged = graft.functions.Fns.spreadIfNarrow(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val nTok = size(col("toks")).cast(LongType)
    val perDoc = staged.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"),
      (lit(1.0) - size(array_distinct(col("toks"))).cast(DoubleType) / nTok)
        .as("dup_token_frac"))
    // codegen occurrence stream (round 5) — repeats kept, so the
    // per-doc gram counts are unchanged from the interpreted chain
    val grams = staged.select(col("doc_id"),
      explode(column(graft.expressions.ShinglesAll(
        expression(col("toks")), expression(lit(2))))).as("g"))
    val gramStats = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_grams"),
        max(col("cnt")).as("top_gram_cnt"))
    perDoc.join(gramStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"), col("dup_token_frac"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("top_gram_cnt"), lit(0L)).as("top_gram_cnt"),
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(col("top_gram_cnt").cast(DoubleType) / col("n_grams"))
          .as("top_gram_frac"))
  }

  val repetitionSignalsOracle: String =
    """WITH t AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\s+') AS toks FROM documents),
      |per_doc AS (
      |  SELECT doc_id,
      |    CAST(LEN(toks) AS BIGINT) AS n_tokens,
      |    CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS n_distinct,
      |    1.0 - CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS dup_token_frac
      |  FROM t),
      |grams AS (
      |  SELECT doc_id, UNNEST(
      |    CASE WHEN LEN(toks) >= 2 THEN
      |      LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
      |        i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 1), ' '))
      |    ELSE [] END) AS g
      |  FROM t),
      |gram_stats AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
      |         CAST(MAX(cnt) AS BIGINT) AS top_gram_cnt
      |  FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g)
      |  GROUP BY doc_id)
      |SELECT p.doc_id, p.n_tokens, p.n_distinct, p.dup_token_frac,
      |  COALESCE(s.n_grams, 0) AS n_grams,
      |  COALESCE(s.top_gram_cnt, 0) AS top_gram_cnt,
      |  CASE WHEN s.n_grams IS NULL THEN 0.0
      |       ELSE CAST(s.top_gram_cnt AS DOUBLE) / s.n_grams END AS top_gram_frac
      |FROM per_doc p LEFT JOIN gram_stats s ON p.doc_id = s.doc_id
      |ORDER BY p.doc_id""".stripMargin

  // ----------------------------------------------------------- pii scrub

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII scrubbing: redact emails, URLs, and phone-shaped number runs to
    * typed placeholders, with per-category match counts. One
    * [[graft.expressions.PiiKernel]] call per document (round 13 —
    * hand-rolled scanners replacing SIX java.util.regex passes, the
    * r12 VERDICT's 22×-behind tail), embarrassingly parallel, the
    * standard pre-training privacy pass. Replacement order is fixed
    * (email → url → phone) so nested matches resolve identically on
    * any engine; the digest column makes the FULL scrubbed text
    * hash-verifiable without shipping it. The scanners replicate the
    * regex semantics match-for-match — TextKernelLawsSpec replays them
    * against `java.util.regex` on adversarial generators, and the
    * DuckDB oracle keeps the regex formulation as the independent
    * truth.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val p = column(PiiScrubExpr(expression(col("text"))))
    docs.select(col("doc_id"), p.as("__p"))
      .select(
        col("doc_id"),
        col("__p")("n_emails").as("n_emails"),
        col("__p")("n_urls").as("n_urls"),
        col("__p")("n_phones").as("n_phones"),
        md5(col("__p")("scrubbed").cast(BinaryType)).as("scrubbed_digest"))
  }

  val piiScrubOracle: String = {
    // DuckDB string literals don't escape backslashes; only quotes need care
    def esc(re: String) = re.replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '${esc(EmailRe)}')) AS BIGINT) AS n_emails,
       |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '${esc(UrlRe)}')) AS BIGINT) AS n_urls,
       |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '${esc(PhoneRe)}')) AS BIGINT) AS n_phones,
       |  MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
       |    '${esc(EmailRe)}', '<EMAIL>', 'g'),
       |    '${esc(UrlRe)}', '<URL>', 'g'),
       |    '${esc(PhoneRe)}', '<PHONE>', 'g')) AS scrubbed_digest
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------- fingerprints

  /** Document fingerprinting: min-MD5 over 5-token shingles (the
    * winnowing/rolling-hash family, expressed order-independently so it
    * parallelizes without coordination).
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    // one-pass codegen kernel (round 5): the interpreted
    // transform/md5/array_join chain materialized a shingle array AND
    // a digest array per row; `min_shingle_md5` tracks the minimum on
    // raw digest bytes and hex-encodes only the winner (same value —
    // unsigned-byte order IS lowercase-hex order; q44 hash unchanged)
    import org.apache.spark.sql.classic.GraftColumnBridge._
    val staged = docs.select(col("doc_id"), col("text"),
      tokens(col("text")).as("toks"))
    val n = size(col("toks"))
    staged.select(
      col("doc_id"),
      column(graft.expressions.MinShingleMd5(
        expression(col("toks")), expression(lit(5)))).as("fp_min"),
      when(n >= 5, (n - lit(4)).cast(LongType)).otherwise(lit(0L)).as("n_shingles"),
      md5(col("text").cast("binary")).as("fp_full"))
  }

  /** Token-bounded document chunking with overlap — the context-window
    * prep step of a training/RAG pipeline: each document becomes
    * `n_chunks = 1 + ceil(max(0, n_tok - chunkTokens) / stride)` chunks
    * of ≤ `chunkTokens` whitespace tokens, consecutive chunks sharing
    * `overlap` tokens (stride = chunkTokens − overlap).
    *
    * Scale shape: pure per-row expressions + one explode — no shuffle
    * at all until a consumer aggregates; chunk volume is linear in
    * corpus tokens. Deterministic chunk ids make the output stable
    * under any partitioning.
    */
  def chunkDocuments(docs: DataFrame, content: Column, id: Column,
                     chunkTokens: Int = 64, overlap: Int = 16): DataFrame =
    chunkedCore(docs, content, id, chunkTokens, overlap)
      .orderBy("doc_id", "chunk_id")

  /** [[chunkDocuments]] without the presentation sort — consumers that
    * aggregate or window over the chunks (chunkDedup) skip the wasted
    * sort stage.
    */
  /** Closed-form window count for `n_tok` tokens — the ONE definition
    * of how many chunks a document yields, shared by [[chunkedCore]]
    * and [[chunkDedupIncremental]]'s total-count path.
    */
  private def chunkCount(nTok: Column, chunkTokens: Int, stride: Int): Column =
    (lit(1) + floor(
      (greatest(nTok - chunkTokens, lit(0L)) + lit(stride - 1))
        / lit(stride))).cast(LongType)

  private[operators] def chunkedCore(docs: DataFrame, content: Column, id: Column,
                          chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    // spread + barrier the per-doc split (round 15): the raw inline
    // split ran the whole corpus tokenize on the 2 splits a sf1
    // documents scan yields (q116's 1.11 s two-task stage), and a
    // consumer's filter on a toks-derived column could be substituted
    // below the exchange (the r14 pushdown hazard barrierSplit exists
    // for). The tiny-input gate inside spreadIfNarrow keeps batch-
    // sized inputs on their cheap unspread shape.
    graft.functions.Fns.spreadIfNarrow(
        docs.select(id.as("doc_id"), content.as("__content")),
        col("doc_id"))
      .select(col("doc_id"),
        graft.operators.Dedup.barrierSplit(col("__content")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .withColumn("n_chunks", chunkCount(col("n_tok"), chunkTokens, stride))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"),
          (col("chunk_id") * stride + 1).cast(IntegerType), lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens.toLong), col("n_tok") - col("chunk_id") * stride)
          .as("n_chunk_tokens"))
  }

  def chunkDocumentsOracle(chunkTokens: Int = 64, overlap: Int = 16): String = {
    val stride = chunkTokens - overlap
    s"""WITH t AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |  FROM documents),
       |n AS (SELECT doc_id, toks, CAST(LEN(toks) AS BIGINT) AS n_tok FROM t),
       |c AS (SELECT doc_id, toks, n_tok,
       |  CAST(1 + FLOOR((GREATEST(n_tok - $chunkTokens, 0) + ${stride - 1})
       |    / $stride) AS BIGINT) AS n_chunks FROM n)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       |  ARRAY_TO_STRING(LIST_SLICE(toks, i * $stride + 1,
       |    i * $stride + $chunkTokens), ' ') AS chunk_text,
       |  CAST(LEAST($chunkTokens, n_tok - i * $stride) AS BIGINT)
       |    AS n_chunk_tokens
       |FROM c, UNNEST(GENERATE_SERIES(0, n_chunks - 1)) AS u(i)
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Corpus-level exact duplicate-passage removal — the C4/Dolma "line
    * dedup" step, adapted to fixed non-overlapping `chunkTokens`-token
    * windows because this corpus carries no line structure: every
    * distinct window survives only at its globally FIRST occurrence
    * (ordered by doc_id, then position); each document is reassembled
    * from its surviving windows.
    *
    * Scale shape: two shuffles, both on bounded keys — one window
    * function partitioned on the 128-bit chunk digest (the digest, not
    * the chunk text, is what the first-occurrence vote hashes on) and
    * one aggregation on doc_id to reassemble. No self-join, no
    * all-pairs; chunk volume is linear in corpus tokens. The keep rule
    * is a total order (digest, doc_id, chunk_id), so the output is
    * identical under any partitioning or cluster size.
    */
  def chunkDedup(docs: DataFrame, content: Column, id: Column,
                 chunkTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("chunk_text")))
      .orderBy("doc_id", "chunk_id")
    chunkedCore(docs, content, id, chunkTokens, overlap = 0)
      .withColumn("kept", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("kept").cast(LongType)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("chunk_id"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " ").as("dedup_text"))
      .orderBy("doc_id")
  }

  /** Oracle for [[chunkDedup]] over `documents(doc_id, text)`. */
  def chunkDedupOracle(chunkTokens: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |  FROM documents),
       |n AS (SELECT doc_id, toks, CAST(LEN(toks) AS BIGINT) AS n_tok FROM t),
       |c AS (SELECT doc_id, toks, n_tok,
       |  CAST(1 + FLOOR((GREATEST(n_tok - $chunkTokens, 0) + ${chunkTokens - 1})
       |    / $chunkTokens) AS BIGINT) AS n_chunks FROM n),
       |ch AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       |    ARRAY_TO_STRING(LIST_SLICE(toks, i * $chunkTokens + 1,
       |      i * $chunkTokens + $chunkTokens), ' ') AS chunk_text
       |  FROM c, UNNEST(GENERATE_SERIES(0, n_chunks - 1)) AS u(i)),
       |k AS (
       |  SELECT doc_id, chunk_id, chunk_text,
       |    ROW_NUMBER() OVER (PARTITION BY MD5(chunk_text)
       |      ORDER BY doc_id, chunk_id) = 1 AS kept
       |  FROM ch)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CAST(kept AS BIGINT)) AS BIGINT) AS n_kept,
       |  COALESCE(STRING_AGG(chunk_text, ' ' ORDER BY chunk_id)
       |    FILTER (WHERE kept), '') AS dedup_text
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The DISTINCT chunk-digest set of a corpus — what a standing chunk
    * index persists ([[StandingIndex.buildChunkIndex]]) and
    * [[chunkDedupIncremental]] derives inline: one `fp` column, md5
    * over non-overlapping `chunkTokens`-token chunk text (the q108
    * digest convention).
    */
  private[operators] def corpusChunkFps(corpus: DataFrame, content: Column,
                                        id: Column,
                                        chunkTokens: Int): DataFrame =
    chunkedCore(corpus, content, id, chunkTokens, overlap = 0)
      .select(md5(col("chunk_text")).as("fp")).distinct()

  /** The (fp, doc_id) REFERENCE pairs of a corpus — which documents
    * contribute each distinct chunk digest. The refcount sidecar a
    * delete-capable standing chunk index persists next to the
    * probe-facing digest set ([[StandingIndex.buildChunkIndex]]): a
    * digest dies only when its LAST live referencing document is
    * retired, and this frame is what makes that determinable from ids
    * alone. Distinct per (fp, doc_id) — within-document repetition is
    * irrelevant to liveness.
    */
  private[operators] def corpusChunkFpDocs(corpus: DataFrame, content: Column,
                                           id: Column,
                                           chunkTokens: Int): DataFrame =
    chunkedCore(corpus, content, id, chunkTokens, overlap = 0)
      .select(md5(col("chunk_text")).as("fp"), col("doc_id")).distinct()

  /** Screen a batch against an already-distinct corpus chunk-digest
    * frame (in memory or a [[StandingIndex]] table bucketed on fp —
    * then the anti-join's index side needs no Exchange): batch chunks
    * whose digest exists in the corpus drop entirely; first batch
    * occurrence wins among the survivors. Same output contract as
    * [[chunkDedupIncremental]].
    */
  private[operators] def chunkDedupAgainstFps(corpusFp: DataFrame,
                                              batch: DataFrame,
                                              content: Column, id: Column,
                                              chunkTokens: Int): DataFrame =
    chunkDedupAgainstFpLevels(Seq(corpusFp), batch, content, id, chunkTokens)

  /** [[chunkDedupAgainstFps]] over a LEVELED digest set (the round-14
    * incremental-publish layout): a batch chunk is corpus-dup if its
    * digest exists in ANY level, expressed as one chained left-anti
    * join per level — each keeps the bucketed level scan exchange-free
    * and shuffles only the (small) batch side, where a UNION of the
    * levels would erase the bucketing and shuffle the corpus.
    */
  private[operators] def chunkDedupAgainstFpLevels(corpusFpLevels: Seq[DataFrame],
                                                   batch: DataFrame,
                                                   content: Column, id: Column,
                                                   chunkTokens: Int,
                                                   deadFps: Option[DataFrame] =
                                                     None): DataFrame = {
    require(corpusFpLevels.nonEmpty, "need at least one corpus fp level")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("fp").orderBy("doc_id", "chunk_id")
    val chunks = chunkedCore(batch, content, id, chunkTokens, overlap = 0)
      .withColumn("fp", md5(col("chunk_text")))
    val afterLevels = corpusFpLevels.foldLeft(chunks)(
      (acc, lvl) => acc.join(lvl, Seq("fp"), "left_anti"))
    // dead digests (zero live referencing docs after deletes, still
    // physically present in a level until the next compaction fold)
    // must NOT count as corpus hits: un-kill the batch chunks whose fp
    // is on the dead list. The list is tombstone-sized (≪ corpus, or
    // you'd compact) so it broadcasts, and the two branches are
    // disjoint by construction (dead fps ⊆ level fps, so a dead-fp
    // chunk never survives the anti-join chain) — the union is exact.
    val survivors = deadFps.fold(afterLevels)(d =>
      afterLevels.unionByName(
        chunks.join(broadcast(d.select("fp")), Seq("fp"), "left_semi")))
    survivors
      .withColumn("kept", row_number().over(w) === 1)
      // anti-join survivors only — chunks found in the corpus are gone
      // entirely, so n_chunks must come from a fresh per-doc count over
      // ALL batch chunks, not the survivors
      .groupBy("doc_id")
      .agg(
        sum(col("kept").cast(LongType)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("chunk_id"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " ").as("dedup_text"))
      // total chunk count comes straight from the token count (the
      // same closed form chunkedCore uses) — no second explode pass
      .join(
        batch.select(id.as("doc_id"),
          size(split(content, "\\s+")).cast(LongType).as("n_tok"))
          .select(col("doc_id"),
            chunkCount(col("n_tok"), chunkTokens, stride = chunkTokens)
              .as("n_chunks")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** Incremental [[chunkDedup]]: dedup "today's crawl" against a
    * STANDING corpus — a batch chunk is dropped if its window already
    * exists anywhere in the corpus, or earlier in the batch itself
    * (first occurrence by (doc_id, position) among corpus-clean
    * chunks). The corpus contributes only its DISTINCT chunk digests
    * (the standing index — at scale a materialized digest table), the
    * probe is a left-anti equi-join on the digest, and the corpus
    * never self-joins or re-deduplicates. Same output shape as
    * [[chunkDedup]], restricted to the batch documents.
    *
    * PRECONDITION: corpus and batch must be DISJOINT document sets.
    * A document present in both is counted with n_kept = 0 here (its
    * batch chunks all hit the standing index) but claimed for the
    * corpus — and omitted from the output — by
    * [[chunkDedupIncrementalOracle]]'s `in_corpus` flag. The graded
    * q116 uses disjoint modulo predicates; callers with overlapping
    * sets must pick a side per document first (batchWhere ≡ NOT
    * corpusWhere over the union).
    */
  def chunkDedupIncremental(corpus: DataFrame, batch: DataFrame,
                            content: Column, id: Column,
                            chunkTokens: Int = 8): DataFrame =
    chunkDedupAgainstFps(corpusChunkFps(corpus, content, id, chunkTokens),
      batch, content, id, chunkTokens)

  /** Oracle for [[chunkDedupIncremental]] with corpus/batch selected by
    * `corpusWhere` / `batchWhere` over `documents`. Same disjointness
    * precondition as the operator: `in_corpus` claims a doc matching
    * BOTH predicates for the corpus (omitting it from the output),
    * where the operator would emit it with n_kept = 0 — the predicates
    * must partition the union (batchWhere ≡ NOT corpusWhere).
    */
  def chunkDedupIncrementalOracle(chunkTokens: Int = 8,
                                  corpusWhere: String,
                                  batchWhere: String): String =
    s"""WITH seg AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks,
       |    ($corpusWhere) AS in_corpus
       |  FROM documents WHERE ($corpusWhere) OR ($batchWhere)),
       |n AS (SELECT doc_id, toks, in_corpus,
       |  CAST(LEN(toks) AS BIGINT) AS n_tok FROM seg),
       |c AS (SELECT doc_id, toks, n_tok, in_corpus,
       |  CAST(1 + FLOOR((GREATEST(n_tok - $chunkTokens, 0) + ${chunkTokens - 1})
       |    / $chunkTokens) AS BIGINT) AS n_chunks FROM n),
       |ch AS (
       |  SELECT doc_id, in_corpus, CAST(i AS BIGINT) AS chunk_id,
       |    ARRAY_TO_STRING(LIST_SLICE(toks, i * $chunkTokens + 1,
       |      i * $chunkTokens + $chunkTokens), ' ') AS chunk_text
       |  FROM c, UNNEST(GENERATE_SERIES(0, n_chunks - 1)) AS u(i)),
       |cfp AS (SELECT DISTINCT MD5(chunk_text) AS fp FROM ch WHERE in_corpus),
       |bs AS (
       |  SELECT doc_id, chunk_id, chunk_text, MD5(chunk_text) AS fp
       |  FROM ch WHERE NOT in_corpus),
       |surv AS (
       |  SELECT b.doc_id, b.chunk_id, b.chunk_text, b.fp FROM bs b
       |  WHERE NOT EXISTS (SELECT 1 FROM cfp WHERE cfp.fp = b.fp)),
       |k AS (
       |  SELECT doc_id, chunk_id, chunk_text,
       |    ROW_NUMBER() OVER (PARTITION BY fp
       |      ORDER BY doc_id, chunk_id) = 1 AS kept
       |  FROM surv),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(SUM(CAST(kept AS BIGINT)) AS BIGINT) AS n_kept,
       |    COALESCE(STRING_AGG(chunk_text, ' ' ORDER BY chunk_id)
       |      FILTER (WHERE kept), '') AS dedup_text
       |  FROM k GROUP BY doc_id),
       |tot AS (
       |  SELECT doc_id, COUNT(*) AS n_chunks
       |  FROM ch WHERE NOT in_corpus GROUP BY doc_id)
       |SELECT t.doc_id, t.n_chunks,
       |  COALESCE(a.n_kept, 0) AS n_kept,
       |  COALESCE(a.dedup_text, '') AS dedup_text
       |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Sequence packing (first-order approximation): assign documents to
    * fixed-token-budget bins — the "pack short documents into one
    * context window" step before training. Exact first-fit packing is
    * inherently sequential; the scalable deterministic approximation:
    *
    *  1. spread docs over 16 partitions by an md5 nibble (unbiased,
    *     portable);
    *  2. within each partition, a running token cumsum over the
    *     hash-determined order;
    *  3. bin = floor((cumsum − n_tok) / budget) · 16 + partition
    *     (bin-major, so ids never collide across partitions at any
    *     scale) — each bin holds consecutive docs whose cumulative size
    *     spans one budget (a doc may straddle two budgets; the policy
    *     downstream truncates or carries over, as packing always must).
    *
    * Scale shape: the window runs per-PARTITION (16-way parallel, never
    * a global single-partition sort), then one aggregation on bin id.
    * Everything is md5-derived → identical on any engine/cluster size.
    */
  def packSequences(docs: DataFrame, content: Column, id: Column,
                    budgetTokens: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      id.as("doc_id"),
      size(split(content, "\\s+")).cast(LongType).as("n_tok"),
      md5(id.cast(StringType)).as("hx"))
      .withColumn("part", conv(substring(col("hx"), 1, 1), 16, 10).cast(LongType))
    val w = Window.partitionBy("part").orderBy("hx", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum", sum(col("n_tok")).over(w))
      // bin-major composition (bin·16 + part) is INJECTIVE for any bin
      // magnitude — a part-major namespace (part·K + bin) would silently
      // collide across partitions once a partition accumulates more
      // than K budgets of tokens
      .withColumn("bin_id",
        floor((col("cum") - col("n_tok")) / lit(budgetTokens)).cast(LongType)
          * 16 + col("part"))
      .groupBy("bin_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("bin_id")
  }

  def packSequencesOracle(budgetTokens: Int = 2048): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS BIGINT) AS n_tok,
       |    MD5(CAST(doc_id AS VARCHAR)) AS hx
       |  FROM documents),
       |p AS (SELECT doc_id, n_tok, hx,
       |  CAST(STRPOS('0123456789abcdef', hx[1]) - 1 AS BIGINT) AS part FROM t),
       |c AS (SELECT doc_id, n_tok, part,
       |  SUM(n_tok) OVER (PARTITION BY part ORDER BY hx, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM p),
       |b AS (SELECT doc_id, n_tok,
       |  CAST(FLOOR((cum - n_tok) / $budgetTokens) AS BIGINT) * 16 + part
       |    AS bin_id FROM c)
       |SELECT bin_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM b GROUP BY bin_id ORDER BY bin_id""".stripMargin

  val fingerprintOracle: String =
    """WITH t AS (
      |  SELECT doc_id, text, STRING_SPLIT_REGEX(text, '\s+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN LEN(toks) >= 5 THEN
      |    LIST_MIN(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 4),
      |      i -> MD5(ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 4), ' '))))
      |  ELSE NULL END AS fp_min,
      |  CASE WHEN LEN(toks) >= 5 THEN CAST(LEN(toks) - 4 AS BIGINT)
      |       ELSE 0 END AS n_shingles,
      |  MD5(text) AS fp_full
      |FROM t ORDER BY doc_id""".stripMargin

  // ------------------------------------------- quality-budget selection

  /** Select the highest-quality documents that fit a token budget — the
    * "best N tokens for training" cut. Exact greedy selection is a
    * global sort (inherently sequential); the scale-sane formulation:
    *
    *  1. bucket each doc's quality signal (stopword ratio) into 21
    *     integer buckets;
    *  2. cumulative bucket-token sums DESCENDING by quality — a window
    *     over a CONSTANT-size frame (≤21 rows at any corpus scale, so
    *     the "global" window is safe);
    *  3. whole buckets above the boundary are taken; the boundary
    *     bucket is filled to the remaining budget by the deterministic
    *     md5 hash gate (proportional in expectation — the exact
    *     knapsack tail is what the bucketing deliberately trades away).
    *
    * Two corpus scans (bucket stats, then the selection filter with the
    * one-row boundary broadcast); everything else is constant-size.
    * Returns per-bucket totals with selected-doc/token counts.
    */
  def qualityBudgetSelect(docs: DataFrame, content: Column, id: Column,
                          budgetFraction: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetFraction > 0 && budgetFraction <= 1, "budgetFraction in (0,1]")
    // one QualitySpec kernel scan (round 13): slot 1 = n_tokens,
    // slot 3 = stopword hits — the identical double division chain
    val a = textCounts(content, QualitySpec)
    val qb = floor((lit(1.0) - a(3).cast(DoubleType) / a(1)) * lit(20))
      .cast(LongType)
    val base = docs.select(id.as("doc_id"), a(1).as("n_tok"),
      qb.as("qbucket"), hash60(id).as("h60"))
    val buckets = base.groupBy("qbucket")
      .agg(count(lit(1)).as("bucket_docs"), sum("n_tok").as("bucket_tokens"))
    val tot = buckets.agg(sum("bucket_tokens").as("total_tokens"))
    val w = Window.orderBy(col("qbucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = buckets.crossJoin(broadcast(tot))
      .withColumn("cum_tokens", sum("bucket_tokens").over(w))
      .withColumn("budget_tokens",
        floor(lit(budgetFraction) * col("total_tokens")).cast(LongType))
    val boundary = withCum.filter(col("cum_tokens") >= col("budget_tokens"))
      .orderBy(col("qbucket").desc).limit(1)
      .select(col("qbucket").as("b_bucket"),
        ((col("budget_tokens") - (col("cum_tokens") - col("bucket_tokens")))
          .cast(DoubleType) / col("bucket_tokens")).as("b_frac"))
    base.crossJoin(broadcast(boundary))
      .withColumn("selected",
        col("qbucket") > col("b_bucket") ||
          (col("qbucket") === col("b_bucket") &&
            col("h60") < floor(col("b_frac") * lit(Hash60Range)).cast(LongType)))
      .groupBy("qbucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("bucket_tokens"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("sel_docs"),
        sum(when(col("selected"), col("n_tok")).otherwise(0L)).as("sel_tokens"))
      .orderBy(col("qbucket").desc)
  }

  /** Oracle for [[qualityBudgetSelect]] over `documents(doc_id, text)`. */
  def qualityBudgetSelectOracle(budgetFraction: Double = 0.5): String =
    s"""WITH t AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks,
       |    MD5(CAST(doc_id AS VARCHAR)) AS hx
       |  FROM documents),
       |b0 AS (
       |  SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tok,
       |    CAST(FLOOR((CAST(1.0 AS DOUBLE)
       |      - CAST(LEN(LIST_FILTER(toks, t -> t IN ${sqlList(Stopwords)}))
       |          AS DOUBLE) / LEN(toks)) * 20) AS BIGINT) AS qbucket,
       |    ${hash60Sql("hx")} AS h60
       |  FROM t),
       |bk AS (
       |  SELECT qbucket, COUNT(*) AS bucket_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS bucket_tokens
       |  FROM b0 GROUP BY qbucket),
       |tot AS (SELECT CAST(SUM(bucket_tokens) AS BIGINT) AS total_tokens FROM bk),
       |cum AS (
       |  SELECT qbucket, bucket_tokens,
       |    CAST(SUM(bucket_tokens) OVER (ORDER BY qbucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens,
       |    CAST(FLOOR(CAST($budgetFraction AS DOUBLE) * total_tokens) AS BIGINT)
       |      AS budget_tokens
       |  FROM bk CROSS JOIN tot),
       |boundary AS (
       |  SELECT qbucket AS b_bucket,
       |    CAST(budget_tokens - (cum_tokens - bucket_tokens) AS DOUBLE)
       |      / bucket_tokens AS b_frac
       |  FROM cum WHERE cum_tokens >= budget_tokens
       |  ORDER BY qbucket DESC LIMIT 1),
       |sel AS (
       |  SELECT b0.qbucket, b0.n_tok,
       |    (b0.qbucket > b.b_bucket OR (b0.qbucket = b.b_bucket
       |      AND b0.h60 < CAST(FLOOR(b.b_frac * ${Hash60Range.toLong})
       |        AS BIGINT))) AS selected
       |  FROM b0 CROSS JOIN boundary b)
       |SELECT qbucket, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS bucket_tokens,
       |  CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS sel_docs,
       |  CAST(SUM(CASE WHEN selected THEN n_tok ELSE 0 END) AS BIGINT)
       |    AS sel_tokens
       |FROM sel GROUP BY qbucket ORDER BY qbucket DESC""".stripMargin

  // ------------------------------------------------------- vocab / OOV

  /** Tokenizer-vocabulary induction + out-of-vocabulary profiling: build
    * the top-`vocabSize` corpus vocabulary by token frequency
    * (deterministic tie-break on the token itself), then report each
    * document's token count, OOV count, and OOV rate against it — the
    * "how much of my corpus does a V-token vocab cover" question asked
    * before every tokenizer training run.
    *
    * Scale shape: one map-side-combined shuffle on token for the
    * frequency table; the vocab is bounded by construction
    * (`vocabSize` rows) so the membership probe is a broadcast join;
    * one aggregation on doc_id. Linear in corpus tokens, no all-pairs,
    * no driver-side data.
    */
  def vocabOov(docs: DataFrame, content: Column, id: Column,
               vocabSize: Int = 100): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(tokens(content)).as("tok"))
    // (count desc, tok) is a total order, so the top-V boundary is
    // deterministic; sort+limit plans as TakeOrderedAndProject — a
    // distributed per-partition top-V + merge, never a global sort
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(true).as("iv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        (col("n_oov").cast(DoubleType) / col("n_tok")).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Oracle for [[vocabOov]] over `documents(doc_id, text)`. */
  def vocabOovOracle(vocabSize: Int = 100): String =
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS tok
       |  FROM documents),
       |cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
       |vocab AS (SELECT tok, TRUE AS iv FROM cnt
       |  ORDER BY c DESC, tok LIMIT $vocabSize),
       |j AS (
       |  SELECT t.doc_id, v.iv FROM toks t
       |  LEFT JOIN vocab v ON t.tok = v.tok),
       |a AS (
       |  SELECT doc_id, COUNT(*) AS n_tok,
       |    CAST(SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_oov
       |  FROM j GROUP BY doc_id)
       |SELECT doc_id, n_tok, n_oov,
       |  CAST(n_oov AS DOUBLE) / n_tok AS oov_rate
       |FROM a ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- domain mixture

  /** Domain-mixture resampling: hit a target per-domain token mixture
    * with deterministic document sampling. Given target weights per
    * stratum and a token budget expressed as a FRACTION of the corpus
    * (so the contract is scale-invariant), the per-stratum sampling
    * rate is `min(1, budget·w_s / avail_s)` — over-represented domains
    * are down-sampled toward their target share, under-represented ones
    * keep everything (rate capped at 1; re-weighting them UP is the
    * trainer's job, not the sampler's). Selection reuses the
    * [[bernoulliHashSample]] gate (top 60 bits of md5(doc_id) under
    * rate·2^60): reproducible across runs, retries, and cluster sizes,
    * and a pure per-row filter — no shuffle touches the corpus beyond
    * the two tiny per-stratum aggregations.
    *
    * All rate arithmetic is fixed-shape IEEE double (multiply, divide,
    * min, floor — no libm), so the oracle replays it bit-identically.
    */
  def domainMixture(docs: DataFrame, stratum: Column, id: Column,
                    content: Column, weights: Seq[(String, Double)],
                    budgetFraction: Double = 0.5): DataFrame = {
    require(budgetFraction > 0 && budgetFraction <= 1, "budgetFraction in (0,1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(
      stratum.as("stratum"),
      size(split(content, "\\s+")).cast(LongType).as("n_tok"),
      hash60(id).as("h60"))
    val avail = base.groupBy("stratum").agg(
      count(lit(1)).as("avail_docs"),
      sum("n_tok").as("avail_tokens"))
    val total = avail.agg(sum("avail_tokens").as("total_tokens"))
    val rates = avail
      .crossJoin(broadcast(total))
      .join(broadcast(weights.toDF("stratum", "w")), Seq("stratum"), "left")
      .select(col("stratum"), coalesce(col("w"), lit(0.0)).as("w"),
        col("avail_docs"), col("avail_tokens"),
        least(lit(1.0),
          lit(budgetFraction) * col("total_tokens") * coalesce(col("w"), lit(0.0))
            / col("avail_tokens")).as("rate"))
    val picked = base
      .join(broadcast(rates.select(col("stratum"),
        floor(col("rate") * lit(Hash60Range)).cast(LongType).as("thr"))),
        Seq("stratum"))
      .filter(col("h60") < col("thr"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("picked_docs"), sum("n_tok").as("picked_tokens"))
    rates.join(picked, Seq("stratum"), "left")
      .select(col("stratum"), col("w"), col("avail_docs"), col("avail_tokens"),
        col("rate"),
        coalesce(col("picked_docs"), lit(0L)).as("picked_docs"),
        coalesce(col("picked_tokens"), lit(0L)).as("picked_tokens"))
      .orderBy("stratum")
  }

  /** Oracle for [[domainMixture]] over `documents(doc_id, lang, text)`
    * with `lang` as the stratum.
    */
  def domainMixtureOracle(weights: Seq[(String, Double)],
                          budgetFraction: Double = 0.5): String = {
    val values = weights
      .map { case (s, w) => s"('${s.replace("'", "''")}', CAST($w AS DOUBLE))" }
      .mkString(", ")
    s"""WITH w(stratum, w) AS (VALUES $values),
       |t AS (
       |  SELECT lang AS stratum,
       |    CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS BIGINT) AS n_tok,
       |    MD5(CAST(doc_id AS VARCHAR)) AS hx
       |  FROM documents),
       |b AS (SELECT stratum, n_tok, ${hash60Sql("hx")} AS h60 FROM t),
       |a AS (SELECT stratum, COUNT(*) AS avail_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS avail_tokens FROM b GROUP BY stratum),
       |tot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens FROM a),
       |r AS (
       |  SELECT a.stratum, COALESCE(w.w, CAST(0.0 AS DOUBLE)) AS w,
       |    avail_docs, avail_tokens,
       |    LEAST(CAST(1.0 AS DOUBLE),
       |      CAST($budgetFraction AS DOUBLE) * total_tokens
       |        * COALESCE(w.w, CAST(0.0 AS DOUBLE)) / avail_tokens) AS rate
       |  FROM a CROSS JOIN tot LEFT JOIN w ON a.stratum = w.stratum),
       |p AS (
       |  SELECT b.stratum, COUNT(*) AS picked_docs,
       |    CAST(SUM(b.n_tok) AS BIGINT) AS picked_tokens
       |  FROM b JOIN r ON b.stratum = r.stratum
       |  WHERE b.h60 < CAST(FLOOR(r.rate * ${Hash60Range.toLong}) AS BIGINT)
       |  GROUP BY b.stratum)
       |SELECT r.stratum, r.w, r.avail_docs, r.avail_tokens, r.rate,
       |  COALESCE(p.picked_docs, 0) AS picked_docs,
       |  COALESCE(p.picked_tokens, 0) AS picked_tokens
       |FROM r LEFT JOIN p ON r.stratum = p.stratum
       |ORDER BY r.stratum""".stripMargin
  }
  /** Cross-document duplicated n-gram spans — the exact
    * substring-level dedup SIGNAL (distinct from chunk/prefix dedup):
    * every hashed n-token window occurring in at least `minDocs`
    * DISTINCT documents, with its document count, total occurrence
    * count, and the smallest carrying doc id. This is the
    * "deduplicating training data" primitive: repeated spans are
    * boilerplate/licensing/templating text that an LLM pipeline
    * down-weights or strips before training.
    *
    * Scale shape: windows are generated per row by the codegen
    * `shingles_all` kernel (no self-join, no shuffle — output is
    * ~tokens-per-doc rows, the tokenization
    * constant), then ONE map-side-combined shuffle on the 16-byte
    * gram digest via the two-stage (fp, doc) → fp aggregate — the
    * two-stage form deliberately avoids countDistinct's Expand plan.
    * Output is bounded by the number of DUPLICATED grams, which is
    * the quantity of interest, never the corpus.
    */
  def duplicatedSpans(docs: DataFrame, content: Column, id: Column,
                      n: Int = 20, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    require(n >= 1, s"n ($n) must be >= 1")
    require(minDocs >= 2, s"minDocs ($minDocs) must be >= 2")
    // r10 rewrite: the window stream comes from the codegen
    // `shingles_all` kernel instead of the interpreted
    // transform/sequence/slice HOF chain (the q47-era lesson; the sf1
    // comparator showed the HOF path 9× behind DuckDB on this very
    // shape). Output unchanged: the kernel emits the identical
    // space-joined windows, and md5(cast binary) hashes the same
    // bytes the inline md5(concat_ws(…)) did.
    graft.functions.Fns.spreadIfNarrow(
        docs.select(id.as("doc_id"), content.as("__content")), col("doc_id"))
      .select(col("doc_id"),
        graft.operators.Dedup.barrierSplit(col("__content")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(column(graft.expressions.ShinglesAll(
        expression(col("toks")), expression(lit(n))))).as("g"))
      .select(col("doc_id"), md5(col("g").cast("binary")).as("fp"))
      .groupBy("fp", "doc_id").agg(count(lit(1)).as("occ"))
      .groupBy("fp").agg(count(lit(1)).as("n_docs"),
        sum("occ").as("n_occ"), min("doc_id").as("min_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  // ------------------------------------------------------ n-gram novelty

  /** Per-document n-gram novelty — the inverse of boilerplate: the
    * fraction of a document's distinct n-grams that appear in NO other
    * document. High novelty = original content worth keeping; low
    * novelty = templated/mirrored text the dedup family flags from the
    * other side. The curation signal that catches near-boilerplate the
    * pairwise detectors price quadratically — this one is a linear
    * aggregation.
    *
    * Scale shape: one shingle explode (linear in corpus tokens), one
    * map-side-combined df aggregation on the gram, one join back, one
    * per-doc aggregation — two shuffles total, both on gram/doc keys,
    * nothing pairwise anywhere.
    *
    * @return (doc_id, n_grams, n_novel, novelty) for docs with ≥ 1
    *         n-gram
    */
  def ngramNovelty(docs: DataFrame, content: Column, id: Column,
                   n: Int = 3): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    val sh = graft.functions.Fns.spreadIfNarrow(
        docs.select(id.as("doc_id"), content.as("__content")), col("doc_id"))
      .select(col("doc_id"), tokens(col("__content")).as("toks"))
      .select(col("doc_id"),
        column(graft.expressions.Shingles(
          expression(col("toks")), expression(lit(n)))).as("sh"))
    // outer explode + null filter instead of a size(sh) > 0 guard: any
    // filter referencing the sh alias is pushed BELOW the spread
    // exchange and re-runs tokenize+shingle inside the narrow scan
    // stage (the spreadIfNarrow caller hazard); zero-gram docs drop
    // identically (Shingles elements are containsNull=false)
    val ex = sh.select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
    ex.join(df, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams"))
  }

  /** Oracle for [[ngramNovelty]] (distinct within-doc grams, df = docs
    * containing the gram — the [[graft.operators.Dedup]] shingle set).
    */
  def ngramNoveltyOracle(n: Int = 3): String =
    s"""WITH t AS (
       |  SELECT doc_id, CASE WHEN LEN(toks) >= $n THEN
       |    LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - ${n - 1}),
       |      i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + ${n - 1}), ' ')))
       |  ELSE [] END AS sh
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |        FROM documents)),
       |ex AS (SELECT doc_id, UNNEST(sh) AS s FROM t WHERE LEN(sh) > 0),
       |df AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s)
       |SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS novelty
       |FROM ex JOIN df ON ex.s = df.s
       |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin

  // ------------------------------------------- cross-source span matrix

  /** Source-pair shared-span matrix — which sources mirror each
    * other's content: for every pair of sources, the number of
    * DISTINCT `n`-token spans appearing in both. The corpus-mixing
    * diagnostic over [[duplicatedSpans]]'s fingerprints: a high count
    * means the two sources syndicate the same boilerplate and their
    * mixture weights double-count it.
    *
    * Scale shape: hashed sliding windows (linear explode, no
    * self-join on docs), distinct (fp, source) — cardinality bounded
    * by spans × sources — then a per-fp self-join whose per-group
    * fan-out is bounded by |sources|² regardless of corpus size, and
    * a |sources|²-bounded aggregation.
    *
    * @return (src_a, src_b, n_spans) with src_a < src_b, pairs
    *         sharing ≥ 1 span
    */
  def crossSourceSpans(docs: DataFrame, content: Column, src: Column,
                       n: Int = 20): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    require(n >= 1, s"n ($n) must be >= 1")
    // same codegen-kernel window stream as [[duplicatedSpans]] (r10).
    // Spread key: content hash — `source` has ~|sources| distinct
    // values, which would cap the spread at that many partitions.
    val spans = graft.functions.Fns.spreadIfNarrow(
        docs.select(src.as("source"), content.as("__content")),
        xxhash64(col("__content")))
      .select(col("source"),
        graft.operators.Dedup.barrierSplit(col("__content")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("source"), explode(column(graft.expressions.ShinglesAll(
        expression(col("toks")), expression(lit(n))))).as("g"))
      .select(col("source"), md5(col("g").cast("binary")).as("fp"))
    // this IS the frequent-pairs problem with basket = fingerprint and
    // item = source (round 14): n_spans(a, b) = number of distinct fps
    // whose source set contains both = the pair's basket support. The
    // old self-join re-derived the corpus-scale span frame on both
    // sides and shuffled each on fp; the no-prune frequentPairs fast
    // path dedups, sorts, and walks the runs above ONE fp exchange.
    graft.operators.ProductAnalytics.frequentPairs(spans,
        col("fp"), col("source"), minItemSupport = 1L, minPairSupport = 1L)
      .select(col("item_a").as("src_a"), col("item_b").as("src_b"),
        col("support").as("n_spans"))
  }

  /** Oracle for [[crossSourceSpans]] — the [[duplicatedSpansOracle]]
    * window idiom, aggregated to source pairs.
    */
  def crossSourceSpansOracle(n: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT source, STRING_SPLIT_REGEX(text, '\\s+') AS t
       |  FROM documents),
       |f AS (
       |  SELECT DISTINCT source,
       |    MD5(ARRAY_TO_STRING(LIST_SLICE(t, i, i + ${n - 1}), ' ')) AS fp
       |  FROM toks, UNNEST(RANGE(1, LEN(t) - ${n - 1} + 1)) AS u(i)
       |  WHERE LEN(t) >= $n)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans
       |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------- positional inverted index

  /** Positional inverted index over the corpus: one (term, doc_id,
    * pos) posting per token occurrence, positions 1-based. This is
    * the standing search structure a corpus pipeline builds ONCE and
    * probes many times ([[phraseSearch]]) — at scale it is written
    * bucketed/sorted by term, so a probe's term filter prunes to the
    * queried postings instead of rescanning the text.
    */
  def positionalIndex(docs: DataFrame, content: Column,
                      id: Column): DataFrame =
    docs.select(id.as("doc_id"),
        posexplode(tokens(content)).as(Seq("pos0", "term")))
      .select(col("term"), col("doc_id"), (col("pos0") + 1).as("pos"))

  /** Exact token-aligned phrase search over a [[positionalIndex]]:
    * occurrences of the consecutive-token phrase per document.
    *
    * Shape: filter the index to the phrase's terms FIRST (on a
    * term-bucketed index this touches only the phrase's postings —
    * the inverted-index point), then chain equi-joins on
    * (doc_id, pos − offset): occurrence positions of term i must sit
    * exactly i after term 0. Every join is an equi-join on the same
    * (doc_id, aligned-pos) key shape — hash-partitioned, nothing
    * positional ever sorts globally. Overlapping occurrences are
    * counted (each start position independently), matching the
    * positional-join semantics on any engine.
    *
    * @return (doc_id, hits) for documents with ≥ 1 occurrence
    */
  def phraseSearch(index: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val starts = phrase.zipWithIndex.map { case (w, i) =>
      index.filter(col("term") === w)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    starts.reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
  }

  /** Oracle for [[positionalIndex]] + [[phraseSearch]]: the identical
    * positional join via a lateral RANGE unnest (1-based, like the
    * [[duplicatedSpansOracle]] idiom).
    */
  def phraseSearchOracle(phrase: Seq[String]): String = {
    val p0 = phrase.head.replace("'", "''")
    val joins = phrase.zipWithIndex.tail.map { case (w, i) =>
      s"""JOIN p p$i ON p$i.doc_id = p0.doc_id
         |  AND p$i.pos = p0.pos + $i AND p$i.term = '${w.replace("'", "''")}'"""
        .stripMargin
    }.mkString("\n")
    s"""WITH toks AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS t
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, i AS pos, t[i] AS term
       |  FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) AS u(i)),
       |m AS (
       |  SELECT p0.doc_id FROM p p0
       |  $joins
       |  WHERE p0.term = '$p0')
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hits
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Oracle for [[duplicatedSpans]]: the identical hashed windows via
    * a lateral RANGE unnest (both engines slice 1-based inclusive).
    */
  def duplicatedSpansOracle(n: Int = 20, minDocs: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    MD5(ARRAY_TO_STRING(LIST_SLICE(t, i, i + ${n - 1}), ' ')) AS fp
       |  FROM toks, UNNEST(RANGE(1, LEN(t) - ${n - 1} + 1)) AS u(i)
       |  WHERE LEN(t) >= $n)
       |SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ, MIN(doc_id) AS min_doc
       |FROM g GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= $minDocs
       |ORDER BY fp""".stripMargin
}

