package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale corpus preparation: exact
  * (hash-groupBy), n-gram Jaccard (shingle equi-join), MinHash+LSH
  * (shingle → signature → band → bucket-join), SimHash (bit-vote
  * fingerprint + Hamming pairs).
  *
  * Exact dedup is a single hash-shuffle on a 128-bit digest; at 100 TB
  * this is the cheapest possible formulation (map-side combine collapses
  * per-partition duplicates before the shuffle, and the digest — not the
  * document body — is what moves over the network).
  *
  * The near-dup family deliberately avoids all-pairs comparison: n-gram
  * Jaccard joins on shared shingles, MinHash-LSH joins on band buckets,
  * SimHash buckets on a signature prefix — every candidate generation is
  * an equi-join, which is what survives a 1000-executor scale-up.
  *
  * Hash portability: every hash here is MD5-hex (identical string output
  * in Spark and DuckDB), so the DuckDB oracle can replay the exact
  * semantics — engine-specific hashes (xxhash64, DuckDB `hash`) would
  * make the t2 gate unverifiable.
  */
object Dedup {

  /** Distinct word `n`-gram shingles over a token array — the native
    * codegen'd `shingles` expression ([[graft.expressions.Shingles]]).
    *
    * Round-5 rewrite: this was a `transform`/`array_distinct`
    * higher-order chain, which Spark evaluates on the INTERPRETED
    * expression path (lambdas never enter whole-stage codegen) — the
    * attributed root cause of the three slowest inventory queries
    * (q47/q67/q87). The native expression does the whole row in one
    * compiled kernel with identical output (values and order), so all
    * downstream digests and oracle hashes are unchanged. The
    * `coalesce` preserves the old chain's null contract (null token
    * array → empty shingle set, matching the oracle's CASE guard);
    * short docs yield [] inside the kernel on both engines (DuckDB's
    * generate_series returns empty for k < 1).
    */
  def shingles(toks: Column, n: Int): Column = {
    // constructed directly (not via the function registry), so the
    // Column builder stays self-contained on any session — no
    // ensureRegistered precondition; the registry entry still exists
    // for SQL-surface users
    import org.apache.spark.sql.classic.GraftColumnBridge._
    coalesce(column(graft.expressions.Shingles(
        expression(toks), expression(lit(n)))),
      array().cast(ArrayType(StringType)))
  }

  /** (doc_id, sh) with the token array staged as a real column so the
    * shingle kernel reads an attribute (one regex split per row); the
    * short-doc filter runs on `size(toks)` so predicate pushdown never
    * duplicates the shingle construction into a Filter node.
    */
  private def shingledDocs(docs: DataFrame, content: Column, id: Column,
                           n: Int, dropShort: Boolean): DataFrame = {
    // A small corpus parquet arrives as one input split, so without a
    // spread the whole corpus would tokenize+shingle on ONE core.
    // Repartition up to the session's parallelism first; at real scale
    // the scan already has ≥ that many splits and this branch is a
    // no-op.
    val tokenized = tokenizedDocs(docs, content, id)
    val kept = if (dropShort) tokenized.filter(size(col("toks")) >= n) else tokenized
    kept.select(col("doc_id"), shingles(col("toks"), n).as("sh"))
  }

  /** `split(content, \s+)` wrapped in a [[graft.expressions.PushdownBarrier]]:
    * downstream filters on the staged token array (length guards,
    * join-key IS-NOT-NULL inference, generate-inferred size > 0)
    * cannot be substituted below the staging projection — without the
    * barrier each such filter re-runs the regex split inside the scan
    * stage (narrow and 2-task on a local single-row-group file).
    */
  private[operators] def barrierSplit(content: Column): Column = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    column(graft.expressions.PushdownBarrier(
      expression(split(content, "\\s+"))))
  }

  /** Spread a SCAN-SHAPED frame up to session parallelism before an
    * expensive cached/multi-pass consumer: a small corpus parquet
    * arrives as a handful of input splits, so without this every pass
    * over it runs on that many cores whatever the cluster size. Probe
    * the partition count only for scan-shaped inputs: on a frame with
    * shuffle stages, `.rdd` under AQE materializes every upstream
    * exchange just to read a count (the pipeline would run TWICE) —
    * and such a frame already carries shuffle-partition parallelism,
    * so the spread is unnecessary there anyway. At real scale the
    * scan has ≥ target splits and this is a no-op.
    */
  private[operators] def spreadScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (graft.functions.Fns.isScanShaped(df) &&
        df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  private def tokenizedDocs(docs: DataFrame, content: Column,
                            id: Column): DataFrame =
    spreadScan(docs).select(id.as("doc_id"), barrierSplit(content).as("toks"))

  /** (doc_id, g) exploded shingle pairs with the generator FUSED onto
    * the shingle expression — one kernel call per document, one output
    * row per gram. `toks` stays a real attribute so the regex split
    * runs once per row, not once per downstream projection copy.
    */
  private def shingledPairs(docs: DataFrame, content: Column, id: Column,
                            n: Int): DataFrame =
    tokenizedDocs(docs, content, id)
      .select(col("doc_id"), explode(shingles(col("toks"), n)).as("g"))

  private[operators] def shinglesSql(n: Int): String =
    s"""CASE WHEN LEN(toks) >= $n THEN
       |  LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - ${n - 1}),
       |    i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + ${n - 1}), ' ')))
       |ELSE [] END""".stripMargin

  // -------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard near-dup pairs via PPJoin-style prefix
    * filtering — full recall, no heuristics:
    *
    *  1. order each doc's shingles canonically (global document
    *     frequency asc, then shingle text — rarest first);
    *  2. index only each doc's PREFIX of length |d| - ⌈t·|d|⌉ + 1: two
    *     docs with J ≥ t MUST share a prefix shingle (pigeonhole on the
    *     canonical order), so the candidate equi-join sees ~(1-t)·|d|
    *     of the shingles and ~(1-t)² of the join volume;
    *  3. verify candidates with the exact intersection over the full
    *     distinct shingle sets.
    *
    * Candidate generation and verification are both equi-joins —
    * linear shuffle volume at any corpus size.
    */
  /** Registry-free merge-walk intersect count (see
    * [[graft.expressions.SortedIntersectCount]]) — arrays must be
    * sorted ascending.
    */
  private def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    column(graft.expressions.SortedIntersectCount(expression(a), expression(b)))
  }

  /** Pair operators are self-cleaning: the shared base is persisted for
    * the duration of the computation, the (small) pair result is
    * materialized via an eager localCheckpoint — which truncates lineage
    * so it no longer references the cache — and the base is unpersisted
    * before returning. No CacheManager entries survive the call.
    */
  private[operators] def selfCleaning(base: DataFrame)(build: => DataFrame): DataFrame =
    try build.localCheckpoint(eager = true)
    finally { base.unpersist(blocking = false); () }

  /** PPJoin candidate pairs over a persisted shingled base.
    *
    * Round-5 rewrite: candidates run entirely on 64-bit gram hashes,
    * never on shingle strings (the df groupBy and prefix window on
    * ~60-byte strings were the measured q47 hot spots, not the shingle
    * construction). xxhash64 is engine-local, which is FINE for an
    * intermediate: the canonical order just needs to be any one total
    * order consistent across docs (PPJoin's recall proof doesn't care
    * which), candidates only need superset-of-truth (a cross-string
    * collision can only ADD a candidate pair, since equal strings
    * always hash equal), and the exact string-set verification in
    * [[ngramJaccardPairs]] restores precision. The oracle replays
    * df-order on the strings themselves — different prefix, same final
    * pair set, which is all the gate hashes.
    *
    * One physical shape: explode → shuffle-join df → per-doc rank
    * window. All shuffles are linear in gram volume and nothing is
    * bounded by the driver — the shape that survives any corpus size,
    * and also the faster one at local scale (an A/B at sf0.1 measured a
    * map-side variant, which collected the df table into a broadcast
    * hash map to emit each doc's prefix without shuffling the gram
    * stream, slower: the driver collect + broadcast round-trip cost
    * more than these small shuffles).
    */
  /** Candidate join from a (doc_id, n_sh, g) prefix stream: equi-join
    * on the gram hash, ordered pair, plus PPJoin's LENGTH FILTER as a
    * residual predicate — J ≥ t implies min(|a|,|b|) ≥ t·max(|a|,|b|),
    * so wildly different-sized docs never become candidates (measured
    * 130k → far fewer verification pairs at sf0.1). `+1` slack keeps
    * the bound recall-safe under IEEE rounding (t·max can land a hair
    * above the true product; one extra candidate is cheaper than one
    * lost true pair).
    */
  private def candidateJoin(prefix: DataFrame, threshold: Double): DataFrame =
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.n_sh"), col("b.n_sh")) + 1 >=
             lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  private def jaccardCandidates(base: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = base
      .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("g"))
    val dfTable = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    val withDf = exploded.join(dfTable, "g")
    // floor (not the textbook ceil): one-longer prefix costs a few
    // extra candidates but is immune to IEEE t·|d| landing a hair
    // above an integer, which would shorten the prefix below the
    // recall bound
    val prefixLen = (col("n_sh") - floor(lit(threshold) * col("n_sh")) + 1)
    // (df, g) is a deterministic order: a tie means one doc holds two
    // distinct shingles with equal xxhash64 AND equal df — the two
    // rows are identical (doc_id, g) tuples after projection, so
    // whichever row_number picks, the emitted prefix set is the same
    val prefix = withDf
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id"), col("n_sh"), col("g"))
    candidateJoin(prefix, threshold)
  }

  def ngramJaccardPairs(docs: DataFrame, content: Column, id: Column,
                        n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // Persisted once for the 5 consumers (df table, two candidate
    // sides, two verify sides). An A/B tried recompute-per-consumer
    // (the codegen kernel makes each pass cheap, 0.34 s at sf0.1, vs a
    // 1.33 s cache fill) — measured a wash locally, and at scale one
    // materialization beats five corpus-wide tokenize+shingle passes.
    // The shingle set is stored SORTED: per-doc sort is paid once, and
    // every pairwise verification below becomes a linear merge walk
    // instead of a per-pair hash set (the measured q47 hot spot).
    val base = shingledDocs(docs, content, id, n, dropShort = false)
      .withColumn("sh", array_sort(col("sh")))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    selfCleaning(base) {
      val cand = jaccardCandidates(base, threshold)
      val sh = base.select(col("doc_id"), col("sh"), col("n_sh"))
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
          col("n_sh").as("n_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
          col("n_sh").as("n_b")), Seq("doc_b"))
        .withColumn("inter", sortedIntersectCount(col("sh_a"), col("sh_b")))
        .withColumn("jaccard",
          col("inter").cast(DoubleType) / (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    }
  }

  def ngramJaccardPairsOracle(n: Int, threshold: Double): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${shinglesSql(n)} AS sh
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks FROM documents)),
       |b AS (SELECT doc_id, sh, CAST(LEN(sh) AS BIGINT) AS n_sh FROM t),
       |ex AS (SELECT doc_id, n_sh, UNNEST(sh) AS s FROM b),
       |wdf AS (
       |  SELECT ex.doc_id, ex.n_sh, ex.s, d.df
       |  FROM ex JOIN (SELECT s, COUNT(*) AS df FROM ex GROUP BY s) d
       |    ON ex.s = d.s),
       |pfx AS (
       |  SELECT doc_id, s FROM (
       |    SELECT doc_id, s, n_sh,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, s) AS rk
       |    FROM wdf)
       |  WHERE rk <= n_sh - FLOOR($threshold * n_sh) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT doc_a, doc_b, sa.sh AS sh_a, sb.sh AS sh_b,
       |         sa.n_sh AS n_a, sb.n_sh AS n_b
       |  FROM cand
       |  JOIN b sa ON doc_a = sa.doc_id
       |  JOIN b sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(LEN(LIST_INTERSECT(sh_a, sh_b)) AS BIGINT) AS inter,
       |  CAST(LEN(LIST_INTERSECT(sh_a, sh_b)) AS DOUBLE)
       |    / (n_a + n_b - LEN(LIST_INTERSECT(sh_a, sh_b))) AS jaccard
       |FROM v
       |WHERE CAST(LEN(LIST_INTERSECT(sh_a, sh_b)) AS DOUBLE)
       |    / (n_a + n_b - LEN(LIST_INTERSECT(sh_a, sh_b))) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------- n-gram containment

  /** Asymmetric n-gram CONTAINMENT pairs — quote/excerpt detection,
    * the directional sibling of [[ngramJaccardPairs]]:
    * C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| ≥ τ finds documents
    * A substantially REUSED inside B even when B is much longer (a
    * case Jaccard's symmetric denominator suppresses — a 30-token
    * quote inside a 3000-token article has J ≈ 0.01 but C = 1.0).
    * Both directions of every pair are examined; output is directed.
    *
    * Full recall, no heuristics: C(A→B) ≥ τ needs overlap
    * ≥ ⌈τ·|A|⌉, so if B misses ALL of A's |A| − ⌈τ·|A|⌉ + 1 rarest
    * grams (the PPJoin prefix), the bound is unreachable — candidates
    * are A-prefix ⋈ FULL B-side gram index (containment admits no
    * B-side prefix: |B| is unconstrained). Same floor-slack prefix as
    * Jaccard (recall-safe under IEEE rounding) plus the containment
    * length filter |B| + 1 ≥ τ·|A| as a join residual. Exact
    * verification via the codegen sorted-merge intersect restores
    * precision.
    *
    * Scale shape: gram stream explodes once and serves both the df
    * table and both join sides off one persisted base; the candidate
    * join is an equi-join on the 64-bit gram hash. The B side is the
    * full posting list — the inverted-index build a curation pipeline
    * shares across probes — so candidate volume is Σ_gram
    * df_prefix(g)·df(g), kept sane by prefix grams being the RAREST
    * (low df) by construction.
    *
    * @return (doc_a, doc_b, inter, containment): grams of doc_a found
    *         in doc_b, fraction of doc_a's grams covered — C ≥ τ
    */
  def containmentPairs(docs: DataFrame, content: Column, id: Column,
                       n: Int = 3, threshold: Double = 0.7): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold ($threshold) must be in (0, 1]")
    // Grams travel, persist, and VERIFY as 60-bit md5-prefix int64s
    // (the [[contamination]] portability contract, extended to the
    // verify arrays — round-13 part 2): the cached per-doc frame and
    // the candidate-verify attach shuffle carry 8-byte longs instead
    // of ~25-byte gram strings (~3× lighter — at sf1 the string form
    // pushed ~6.5M candidate pairs × two ~15 KB arrays through a
    // sort-merge attach and swung 13–27 s run to run on spill/GC),
    // the canonical prefix order is (df, hash), and the verify
    // intersects sorted long arrays. Collisions are ~(grams/doc)²/2^61
    // — negligible AND engine-identical (both engines hash the same
    // way), so the oracle gate is unaffected even when one occurs.
    // the zero-gram filter sits ABOVE the persist: a filter referencing
    // the sh alias below the cache boundary gets pushed under the
    // spread exchange and re-runs the whole tokenize+shingle+hash
    // chain inside the narrow scan stage (the spreadIfNarrow caller
    // hazard); InMemoryRelation is a pushdown barrier, so filtering
    // the cached frame costs one cheap cache-side predicate instead
    val baseAll = shingledDocs(docs, content, id, n, dropShort = false)
      .select(col("doc_id"),
        array_sort(array_distinct(transform(col("sh"),
          g => tokenHash60(g)))).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = baseAll.filter(col("n_sh") > 0)
    selfCleaning(baseAll) {
      val exploded = base
        .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("g"))
      val dfTable = exploded.groupBy("g").agg(count(lit(1)).as("df"))
      val prefixLen = (col("n_sh") - floor(lit(threshold) * col("n_sh")) + 1)
      val prefix = exploded.join(dfTable, "g")
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
        .filter(col("rk") <= prefixLen)
        .select(col("doc_id"), col("n_sh"), col("g"))
      // Suffix-count bound (exact, PPJoin's suffix filter specialized
      // to containment): |A∩B| = |prefix(A)∩B| + |suffix(A)∩B|
      // ≤ m + max(n_a − p, 0), where m counts matched PREFIX grams
      // (the B side is the full posting list, so m is exact) and
      // p = n_a − ⌊t·n_a⌋ + 1 is the prefix length. Surviving
      // C ≥ t needs inter ≥ ⌈t·n_a⌉, so
      // m ≥ ⌈t·n_a⌉ − max(⌊t·n_a⌋ − 1, 0) (= 2 whenever t·n_a is
      // fractional and ≥ 1). The max-with-0 clamp matters when
      // ⌊t·n_a⌋ = 0 (docs with fewer distinct grams than 1/t, e.g. a
      // single-shingle doc at t = 0.7): there p exceeds n_a, the
      // prefix IS the whole doc and the suffix is empty, so the
      // correct demand is m ≥ ⌈t·n_a⌉ = 1 — the unclamped form
      // demanded 2, silently dropping true containment pairs the
      // oracle (which has no such filter) keeps. The dedup-by-pair
      // aggregate replaces the former DISTINCT — same shuffle keys,
      // one extra count — and at sf1 cuts the verify attach from
      // 6.52 M candidate pairs to 0.75 M (8.7×) on identical output
      // (avg matched prefix grams per candidate is 1.09: almost all
      // false candidates share exactly ONE prefix gram and can be
      // refuted by arithmetic before the arrays ever travel).
      val cand = prefix.as("a")
        .join(exploded.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id")
            && col("b.n_sh") + 1 >= lit(threshold) * col("a.n_sh"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n_sh").as("n_a"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("__m"), max("n_a").as("__na"))
        .filter(col("__m") >= ceil(lit(threshold) * col("__na"))
          - greatest(floor(lit(threshold) * col("__na")) - lit(1), lit(0)))
        .select("doc_a", "doc_b")
      val sh = base.select(col("doc_id"), col("sh"), col("n_sh"))
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
          col("n_sh").as("n_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
          Seq("doc_b"))
        .withColumn("inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
        .withColumn("containment",
          col("inter").cast(DoubleType) / col("n_a"))
        .filter(col("containment") >= threshold)
        .select("doc_a", "doc_b", "inter", "containment")
    }
  }

  /** Oracle for [[containmentPairs]]: same prefix filter on strings
    * (df order), full B-side postings, exact list-intersect verify.
    */
  /** Oracle twin of the hashed verify: grams become the same 60-bit
    * md5-prefix int64s ([[graft.operators.TextAnalysis.hash60Sql]]
    * nibble arithmetic — the md5 hex is materialized ONCE per gram in
    * `exh` so the 15-nibble expansion never recomputes it), the
    * canonical order is (df, hash), and the verify intersects the
    * per-doc sorted hash lists.
    */
  def containmentPairsOracle(n: Int, threshold: Double): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${shinglesSql(n)} AS shs
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks FROM documents)),
       |ex0 AS (SELECT doc_id, UNNEST(shs) AS g FROM t),
       |exh AS (SELECT doc_id, MD5(g) AS hx FROM ex0),
       |b AS (SELECT doc_id,
       |        LIST_SORT(LIST(DISTINCT ${TextAnalysis.hash60Sql("hx")})) AS sh,
       |        CAST(COUNT(DISTINCT ${TextAnalysis.hash60Sql("hx")}) AS BIGINT) AS n_sh
       |      FROM exh GROUP BY doc_id),
       |ex AS (SELECT doc_id, n_sh, UNNEST(sh) AS s FROM b),
       |wdf AS (
       |  SELECT ex.doc_id, ex.n_sh, ex.s, d.df
       |  FROM ex JOIN (SELECT s, COUNT(*) AS df FROM ex GROUP BY s) d
       |    ON ex.s = d.s),
       |pfx AS (
       |  SELECT doc_id, s, n_sh FROM (
       |    SELECT doc_id, s, n_sh,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, s) AS rk
       |    FROM wdf)
       |  WHERE rk <= n_sh - FLOOR($threshold * n_sh) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, bb.doc_id AS doc_b
       |  FROM pfx a JOIN ex bb ON a.s = bb.s AND a.doc_id != bb.doc_id
       |    AND bb.n_sh + 1 >= $threshold * a.n_sh),
       |v AS (
       |  SELECT doc_a, doc_b, sa.n_sh AS n_a,
       |    CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS BIGINT) AS inter
       |  FROM cand
       |  JOIN b sa ON doc_a = sa.doc_id
       |  JOIN b sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, inter,
       |  CAST(inter AS DOUBLE) / n_a AS containment
       |FROM v WHERE CAST(inter AS DOUBLE) / n_a >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Benchmark decontamination — the training-data counterpart of
    * dedup: for each corpus document, how many PROBE documents (an eval
    * set that must not leak into training) share at least one word
    * `n`-gram, and how many distinct n-grams collide. Downstream policy
    * drops or flags any corpus doc with `n_probes > 0`.
    *
    * Scale shape: both sides shingle + explode to (doc, gram) pairs and
    * meet in an equi-join on the gram. The probe side is an eval set —
    * tiny by construction — so its distinct (gram, probe) pairs
    * broadcast and the corpus stream is never shuffled for the join;
    * the only shuffle is the final per-doc aggregation. Corpus explode
    * volume is linear in corpus tokens.
    */
  def contamination(corpus: DataFrame, probes: DataFrame,
                    content: Column, id: Column, n: Int = 3): DataFrame = {
    // grams travel as 60-bit md5-prefix int64s, never as strings: the
    // broadcast shrinks ~4×, the join probes long keys, and the two
    // COUNT(DISTINCT)s aggregate longs. Collisions are ~(grams)²/2^61 —
    // negligible AND engine-identical (both sides hash the same way),
    // so the oracle gate is unaffected even when one occurs.
    def hashed(df: DataFrame, idAs: String): DataFrame =
      shingledPairs(df, content, id, n)
        .select(col("doc_id").as(idAs),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast(LongType).as("gh"))
    val c = hashed(corpus, "doc_id")
    val p = hashed(probes, "probe_id").distinct()
    // TWO different COUNT(DISTINCT) keys in one aggregate would Expand
    // the matched stream ×2 before the shuffle (the same plan trap as
    // co-aggregated sketches) — instead each distinct count runs as its
    // own partial-deduped branch over the persisted match stream, and
    // the two tiny per-doc results join at the end.
    val matches = c.join(broadcast(p), Seq("gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    selfCleaning(matches) {
      val nProbes = matches.select("doc_id", "probe_id").distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_probes"))
      val nGrams = matches.select("doc_id", "gh").distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      nProbes.join(nGrams, Seq("doc_id"))
        .orderBy("doc_id")
    }
  }

  /** Oracle for [[contamination]] with corpus/probe split expressed as
    * WHERE clauses over the `documents` table.
    */
  def contaminationOracle(n: Int, corpusWhere: String,
                          probeWhere: String): String =
    s"""WITH csh AS (
       |  SELECT doc_id, ${TextAnalysis.hash60Sql("MD5(g)")} AS gh FROM (
       |    SELECT doc_id, UNNEST(${shinglesSql(n)}) AS g
       |    FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |          FROM documents WHERE $corpusWhere))),
       |psh AS (
       |  SELECT DISTINCT doc_id AS probe_id, gh FROM (
       |    SELECT doc_id, ${TextAnalysis.hash60Sql("MD5(g)")} AS gh FROM (
       |      SELECT doc_id, UNNEST(${shinglesSql(n)}) AS g
       |      FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |            FROM documents WHERE $probeWhere))))
       |SELECT doc_id,
       |  COUNT(DISTINCT probe_id) AS n_probes,
       |  COUNT(DISTINCT gh) AS n_grams
       |FROM csh JOIN psh USING (gh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- MinHash LSH

  /** 32-bit shingle hash (first 8 hex chars of MD5 — portable across
    * engines via the same nibble arithmetic as [[tokenHash60]]).
    */
  private def shingleHash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast(LongType)

  /** Universal-hash "permutation" parameters for the k signature
    * components: h_i(x) = (A_i · x + B_i) mod P with P = 2^31 - 1
    * (Mersenne prime). A_i < 2^20 and x < 2^32 keep every product below
    * 2^52 — exact in int64 on BOTH engines (no overflow, no doubles).
    * ONE md5 per shingle total, versus one per (shingle, component) in
    * the naive string-hash formulation — measured 8× less hashing on
    * the signature stage.
    */
  private val MinHashP = 2147483647L
  private def minhashA(i: Int): Long = 2L * i + 1      // odd, < 2^20
  private def minhashB(i: Int): Long = 1000003L * (i + 1)

  /** MinHash signature component `i`: min over the pre-hashed shingle
    * values of the i-th universal hash.
    */
  private def minhashComponent(shh: Column, i: Int): Column =
    array_min(transform(shh,
      h => (lit(minhashA(i)) * h + lit(minhashB(i))) % lit(MinHashP)))

  /** MinHash + LSH near-dup pairs:
    * shingle → k-component signature → `bands` band hashes → candidates
    * join on (band index, band hash) → exact Jaccard verification at
    * `threshold`. The verification join re-derives shingle sets only for
    * candidate pairs — at scale, a tiny fraction of the corpus.
    */
  /** Shingled + hash-prepared base frame: (doc_id, sh, shh). Shingles
    * are hashed ONCE — the k signature components are arithmetic
    * permutations of `shh`, not k separate string hashes.
    */
  private[operators] def minhashBase(docs: DataFrame, content: Column, id: Column,
                          n: Int): DataFrame =
    shingledDocs(docs, content, id, n, dropShort = true)
      .withColumn("shh", transform(col("sh"), s => shingleHash32(s)))

  /** (doc_id, band, bucket) LSH index rows from a [[minhashBase]] frame
    * — the materializable form of the index (ids and band hashes only;
    * the full shingle arrays never travel with it).
    */
  private[operators] def minhashBanded(base: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val sig = base.select(
      col("doc_id"),
      array((0 until k).map(i => minhashComponent(col("shh"), i)): _*).as("sig"))
    sig.select(
      col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        md5(concat_ws("|",
          (0 until r).map(j => col("sig")(b * r + j).cast(StringType)): _*))
      }: _*)).as(Seq("band", "bucket")))
  }

  def minHashLshPairs(docs: DataFrame, content: Column, id: Column,
                      n: Int = 3, k: Int = 8, bands: Int = 4,
                      threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // reused by both self-join sides and the candidate verification
    val base = minhashBase(docs, content, id, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    selfCleaning(base) {
      // bands carry ids only — the distinct() below must never hash the
      // full shingle arrays; shingles re-join for candidate verification
      val banded = minhashBanded(base, k, bands)
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sh = base.select(col("doc_id"), col("sh"))
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
        .withColumn("jaccard", col("inter").cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    }
  }

  /** MinHash-estimate parity (round 5): for every LSH candidate pair,
    * the signature-agreement Jaccard ESTIMATE (matching components / k)
    * next to the exact Jaccard. The estimate is what a 100 TB pipeline
    * acts on (signatures are k longs; shingle sets don't travel) — this
    * operator makes its quality a CHECKED, hash-gated claim: the whole
    * minhash arithmetic is engine-portable (md5-prefix shingle hash +
    * universal-hash permutations, exact int64), so the oracle replays
    * the estimate EXACTLY, not within a bound. The per-component
    * equality fold is unrolled statically over k — pure codegen, no
    * lambda.
    */
  def minhashJaccardEstimate(docs: DataFrame, content: Column, id: Column,
                             n: Int = 3, k: Int = 8,
                             bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val base = minhashBase(docs, content, id, n)
      .withColumn("sh", array_sort(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    selfCleaning(base) {
      val banded = minhashBanded(base, k, bands)
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sigs = base.select(col("doc_id"),
        array((0 until k).map(i => minhashComponent(col("shh"), i)): _*).as("sig"),
        col("sh"))
      val matches = (0 until k)
        .map(i => when(col("sig_a")(i) === col("sig_b")(i), 1L).otherwise(0L))
        .reduce(_ + _)
      cand
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("sh").as("sh_a")), Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("sh").as("sh_b")), Seq("doc_b"))
        .withColumn("inter", sortedIntersectCount(col("sh_a"), col("sh_b")))
        .select(
          col("doc_a"), col("doc_b"),
          (matches.cast(DoubleType) / k).as("est_jaccard"),
          (col("inter").cast(DoubleType) /
            (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
            .as("jaccard"))
    }
  }

  /** Oracle for [[minhashJaccardEstimate]] — replays candidates,
    * signatures, the agreement estimate AND the exact Jaccard.
    */
  def minhashJaccardEstimateOracle(n: Int, k: Int, bands: Int): String = {
    val sigSelects = minhashSigSql(k)
    val bandSelects = minhashBandSelectsSql(k, bands)
    val matchSum = (0 until k)
      .map(i => s"CASE WHEN sa.sig[${i + 1}] = sb.sig[${i + 1}] THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, ${shinglesSql(n)} AS sh
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks FROM documents)),
       |nz AS (SELECT doc_id, sh,
       |         LIST_TRANSFORM(sh, s -> $h32Sql) AS shh
       |       FROM t WHERE LEN(sh) > 0),
       |sig AS (SELECT doc_id, sh, $sigSelects AS sig FROM nz),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(($matchSum) AS DOUBLE) / $k AS est_jaccard,
       |  CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE)
       |    / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh)))
       |    AS jaccard
       |FROM cand
       |JOIN sig sa ON doc_a = sa.doc_id
       |JOIN sig sb ON doc_b = sb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Boilerplate prefix-duplicate groups (round 5): documents sharing
    * an identical first-`kTokens` token prefix — the crawl-pipeline
    * signal for shared headers/templates that full-document hashing
    * misses. One md5 of the prefix per doc, one hash aggregate: same
    * single-shuffle shape as [[exact]] at any corpus size. Only groups
    * with 2+ members survive (the singletons are not boilerplate).
    */
  def prefixDupGroups(docs: DataFrame, content: Column, id: Column,
                      kTokens: Int): DataFrame =
    docs.select(id.as("doc_id"), barrierSplit(content).as("toks"))
      .filter(size(col("toks")) >= kTokens)
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), 1, kTokens), " ")).as("prefix_fp"))
      .groupBy("prefix_fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") >= 2)

  def prefixDupGroupsOracle(kTokens: Int): String =
    s"""SELECT MD5(ARRAY_TO_STRING(LIST_SLICE(toks, 1, $kTokens), ' ')) AS prefix_fp,
       |  COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
       |FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks FROM documents)
       |WHERE LEN(toks) >= $kTokens
       |GROUP BY 1 HAVING COUNT(*) >= 2
       |ORDER BY prefix_fp""".stripMargin

  /** Edit-distance near-dup pairs over a short derived key (round 5) —
    * the title/heading dedup of a crawl pipeline, here on the
    * deterministic first-`titleTokens` token prefix. Blocking keeps it
    * equi-join-shaped at scale:
    *
    *  1. block on the first `blockTokens` tokens (equi-join key) —
    *     near-identical titles almost always share their opening
    *     tokens; a stricter-recall variant would union several block
    *     keys (deletion-neighborhoods), same shape;
    *  2. LENGTH filter as a residual predicate: edit distance ≥
    *     |len(a) − len(b)|, so pairs further apart than `maxDist` in
    *     length never reach the verifier;
    *  3. verify with `levenshtein` — built into BOTH engines with
    *     identical semantics, so the whole operator is oracle-exact.
    *
    * `maxBlockSize` is the hard backstop for the block that comes out
    * hot anyway (round 6 — the [[graft.operators.Similarity.semanticDedup]]
    * `maxCellSize` treatment, ported): on a real crawl, boilerplate
    * prefixes ("Breaking news", "Sign in") make one 2-token block
    * mega-sized and the within-block self-join quadratic. A block of
    * size `s > maxBlockSize` is split into `⌈s / maxBlockSize⌉`
    * sub-blocks by a deterministic hash of the doc id, and pairs are
    * only compared WITHIN a sub-block — compared pairs per block drop
    * to ~`s·maxBlockSize/2` (linear in s) at the cost of missing pairs
    * that straddle sub-blocks (the standard cap trade). The default cap
    * (2²⁰) is far above any fixture block, so the graded q133 output —
    * and its replayed oracle — are the exact uncapped semantics; capped
    * runs are spec-gated (the split hash is engine-local, so no SQL
    * oracle). The per-block size aggregate joins back on `blk` — the
    * key the self-join shuffles on anyway — so the cap costs no extra
    * full-data exchange pattern.
    */
  def editDistancePairs(docs: DataFrame, content: Column, id: Column,
                        titleTokens: Int = 6, blockTokens: Int = 2,
                        maxDist: Int = 3,
                        maxBlockSize: Int = 1 << 20): DataFrame = {
    require(maxBlockSize >= 1, s"maxBlockSize ($maxBlockSize) must be >= 1")
    val titled = docs
      .select(id.as("doc_id"), barrierSplit(content).as("toks"))
      .filter(size(col("toks")) >= blockTokens)
      .select(col("doc_id"),
        array_join(slice(col("toks"), 1, titleTokens), " ").as("title"),
        array_join(slice(col("toks"), 1, blockTokens), " ").as("blk"))
    val sizes = titled.groupBy("blk").agg(count(lit(1)).as("__bsz"))
    val sub = titled.join(sizes, "blk")
      .withColumn("__sub", pmod(xxhash64(col("doc_id")),
        call_function("div",
          col("__bsz") + lit(maxBlockSize.toLong - 1),
          lit(maxBlockSize.toLong))))
      .select(col("doc_id"), col("title"), col("blk"), col("__sub"))
    // Probe-side spread (round 13): the whole pair stage is
    // broadcast-join-shaped — no exchange anywhere — so its
    // parallelism was whatever the SCAN happened to have, and a
    // single-row-group parquet input ran every bucket probe on one
    // core (sf1: 24 s on one task, ~3.3 M candidate evaluations).
    // One tiny exchange of the title frame (doc_id + two short
    // strings per doc — doc-count-sized, never corpus-text-sized)
    // buys even probe distribution independent of input file layout;
    // keyed on doc_id, not blk, so a boilerplate-heavy block's
    // probes spread over ALL cores rather than landing on the
    // block's one hash partition. The partition COUNT is pinned to
    // spark.sql.shuffle.partitions: AQE's coalescing is byte-based
    // and would fold this few-MB frame back to one partition,
    // re-serializing the probe work it was spread to parallelize
    // (sf1 measured: coalesced 14.5 s → pinned ~5 s); a pinned
    // user count is exempt from coalescing by contract.
    val nPart = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val a = sub.repartition(nPart, col("doc_id")).as("a")
    a.join(sub.as("b"),
        col("a.blk") === col("b.blk") && col("a.__sub") === col("b.__sub")
          && col("a.doc_id") < col("b.doc_id")
          && abs(length(col("a.title")) - length(col("b.title"))) <= maxDist
          // the THRESHOLD form runs the banded O(maxDist · len) DP and
          // bails with -1 as soon as the distance provably exceeds
          // maxDist — on a boilerplate-heavy block where most candidate
          // pairs are far apart, that turns the verifier from
          // O(len_a · len_b) per pair into O(maxDist · len). Values in
          // [0, maxDist] are the exact distance, so the oracle (full
          // LEVENSHTEIN + the same <= filter) is unchanged. The check
          // sits INSIDE the join condition, LAST: as a post-join
          // filter it gets pushed into the residual AND PREPENDED,
          // running the DP before the a<b / length-band conjuncts had
          // pruned 4× of the bucket scan (the observed sf1 plan);
          // survivors (output-sized) recompute it once in the select.
          && levenshtein(col("a.title"), col("b.title"), maxDist) >= 0)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.title"), col("b.title"), maxDist)
          .cast(LongType).as("dist"))
  }

  def editDistancePairsOracle(titleTokens: Int = 6, blockTokens: Int = 2,
                              maxDist: Int = 3): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    ARRAY_TO_STRING(LIST_SLICE(toks, 1, $titleTokens), ' ') AS title,
       |    ARRAY_TO_STRING(LIST_SLICE(toks, 1, $blockTokens), ' ') AS blk
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |        FROM documents)
       |  WHERE LEN(toks) >= $blockTokens)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(LEVENSHTEIN(a.title, b.title) AS BIGINT) AS dist
       |FROM t a JOIN t b
       |  ON a.blk = b.blk AND a.doc_id < b.doc_id
       | AND ABS(LEN(a.title) - LEN(b.title)) <= $maxDist
       |WHERE LEVENSHTEIN(a.title, b.title) <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  // Shared SQL builders for every MinHash oracle — the portability
  // arithmetic (nibble hash, universal-hash signature, band hashing)
  // must exist in exactly ONE place or a parameter change silently
  // breaks whichever oracle wasn't updated.
  /** 32-bit md5-prefix shingle hash via nibble arithmetic (8 hex chars). */
  private[operators] def h32Sql: String = (1 to 8)
    .map(i => s"(STRPOS('0123456789abcdef', MD5(s)[$i]) - 1) * ${math.pow(16, 8 - i).toLong}")
    .mkString(" + ")

  private[operators] def minhashSigSql(k: Int): String = (0 until k)
    .map(i => s"LIST_MIN(LIST_TRANSFORM(shh, h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinHashP))")
    .mkString("[", ",\n    ", "]")

  private[operators] def minhashBandSelectsSql(k: Int, bands: Int): String = {
    val r = k / bands
    (0 until bands).map { b =>
      val parts = (0 until r)
        .map(j => s"CAST(sig[${b * r + j + 1}] AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, MD5($parts) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
  }

  def minHashLshPairsOracle(n: Int, k: Int, bands: Int, threshold: Double): String = {
    val h32 = h32Sql
    val sigExprs = minhashSigSql(k)
    val bandSelects = minhashBandSelectsSql(k, bands)
    s"""WITH t AS (
       |  SELECT doc_id, ${shinglesSql(n)} AS sh
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks FROM documents)),
       |nz AS (SELECT doc_id, sh,
       |         LIST_TRANSFORM(sh, s -> $h32) AS shh
       |       FROM t WHERE LEN(sh) > 0),
       |sig AS (SELECT doc_id, sh, $sigExprs AS sig FROM nz),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b, sa.sh AS sh_a, sb.sh AS sh_b
       |  FROM cand
       |  JOIN nz sa ON cand.doc_a = sa.doc_id
       |  JOIN nz sb ON cand.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(LEN(LIST_INTERSECT(sh_a, sh_b)) AS DOUBLE)
       |    / (LEN(sh_a) + LEN(sh_b) - LEN(LIST_INTERSECT(sh_a, sh_b))) AS jaccard
       |FROM verified
       |WHERE CAST(LEN(LIST_INTERSECT(sh_a, sh_b)) AS DOUBLE)
       |    / (LEN(sh_a) + LEN(sh_b) - LEN(LIST_INTERSECT(sh_a, sh_b))) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Incremental near-duplicate lookup — dedup a NEW batch against an
    * EXISTING corpus, the shape a continuously-fed training pipeline
    * actually runs (full self-join dedup of corpus+batch re-pays the
    * whole corpus on every increment): flag each batch document whose
    * n-gram Jaccard with some corpus document reaches `threshold`,
    * candidates from the MinHash-LSH band index.
    *
    * Scale shape: the corpus side computes — in production, READS as a
    * materialized table — its band index ([[minhashBanded]]: ids and
    * band hashes only) in one scan with no self-join anywhere; the
    * batch side is small by definition, so its band table and its
    * shingle sets BROADCAST — candidate generation and verification
    * never shuffle the corpus. Full recall relative to a fresh
    * corpus∪batch LSH run restricted to (corpus, batch) pairs: the
    * band hashes are data-independent functions of each document alone.
    */
  /** A standing MinHash-LSH index over a corpus: the shingled base
    * (for candidate verification) and the band table (for candidate
    * generation). LIFECYCLE IS THE CALLER'S: persist (or save as
    * tables) both frames when the index serves repeated lookups — a
    * streaming sink doing one lookup per micro-batch must not recompute
    * the corpus every batch.
    */
  final case class MinHashIndex(base: DataFrame, banded: DataFrame,
                                n: Int, k: Int, bands: Int)

  def minHashIndex(corpus: DataFrame, content: Column, id: Column,
                   n: Int = 3, k: Int = 8, bands: Int = 4): MinHashIndex = {
    require(k % bands == 0, "k must divide into bands")
    val base = minhashBase(corpus, content, id, n)
    MinHashIndex(base, minhashBanded(base, k, bands), n, k, bands)
  }

  /** One batch-vs-index lookup (see [[incrementalNearDups]] for the
    * end-to-end contract). The batch side is persisted for the call
    * (it feeds both candidate generation and verification); the INDEX
    * side's caching is the caller's concern.
    */
  def lookupNearDups(index: MinHashIndex, batch: DataFrame,
                     content: Column, id: Column,
                     threshold: Double = 0.8): DataFrame = {
    val bBase = minhashBase(batch, content, id, index.n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pin the candidate frame's parallelism (round 14): the distinct's
      // few-MB output lets AQE coalesce to ~1 partition, and the two
      // broadcast joins below preserve that — so the array_intersect
      // verify (the per-pair heavy work) ran on ONE task (3.1 s of a
      // 5.5 s query at sf1). A pinned-count keyed repartition holds the
      // verify at session parallelism; at cluster scale the exchange is
      // candidate-pair-sized, never corpus-sized.
      val sp = bBase.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val cand = index.banded
        .join(broadcast(minhashBanded(bBase, index.k, index.bands)
          .withColumnRenamed("doc_id", "new_id")), Seq("band", "bucket"))
        .select(col("new_id"), col("doc_id").as("dup_of"))
        .distinct()
        .repartition(sp, col("dup_of"))
      cand
        .join(index.base.select(col("doc_id").as("dup_of"), col("sh").as("sh_c")),
          Seq("dup_of"))
        .join(broadcast(bBase.select(col("doc_id").as("new_id"),
          col("sh").as("sh_n"))), Seq("new_id"))
        .withColumn("inter",
          size(array_intersect(col("sh_n"), col("sh_c"))).cast(LongType))
        .withColumn("jaccard", col("inter").cast(DoubleType) /
          (size(col("sh_n")) + size(col("sh_c")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("new_id", "dup_of", "jaccard")
        .localCheckpoint(eager = true)
    } finally { bBase.unpersist(blocking = false); () }
  }

  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
                          content: Column, id: Column,
                          n: Int = 3, k: Int = 8, bands: Int = 4,
                          threshold: Double = 0.8): DataFrame = {
    val idx = minHashIndex(corpus, content, id, n, k, bands)
    val cBase = idx.base
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try lookupNearDups(idx.copy(base = cBase,
      banded = minhashBanded(cBase, k, bands)), batch, content, id, threshold)
    finally { cBase.unpersist(blocking = false); () }
  }

  /** Oracle for [[incrementalNearDups]] with the corpus/batch split
    * expressed as WHERE predicates over `documents`.
    */
  def incrementalNearDupsOracle(n: Int, k: Int, bands: Int,
                                threshold: Double, corpusWhere: String,
                                batchWhere: String): String = {
    val h32 = h32Sql
    val sigExprs = minhashSigSql(k)
    val bandSelects = minhashBandSelectsSql(k, bands)
    s"""WITH t AS (
       |  SELECT doc_id, ${shinglesSql(n)} AS sh
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks FROM documents)),
       |nz AS (SELECT doc_id, sh,
       |         LIST_TRANSFORM(sh, s -> $h32) AS shh
       |       FROM t WHERE LEN(sh) > 0),
       |sig AS (SELECT doc_id, sh, $sigExprs AS sig FROM nz),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS dup_of
       |  FROM banded c JOIN banded b
       |    ON c.band = b.band AND c.bucket = b.bucket
       |  WHERE c.doc_id IN (SELECT doc_id FROM documents WHERE $corpusWhere)
       |    AND b.doc_id IN (SELECT doc_id FROM documents WHERE $batchWhere)),
       |verified AS (
       |  SELECT new_id, dup_of, sn.sh AS sh_n, sc.sh AS sh_c
       |  FROM cand
       |  JOIN nz sn ON cand.new_id = sn.doc_id
       |  JOIN nz sc ON cand.dup_of = sc.doc_id)
       |SELECT new_id, dup_of,
       |  CAST(LEN(LIST_INTERSECT(sh_n, sh_c)) AS DOUBLE)
       |    / (LEN(sh_n) + LEN(sh_c) - LEN(LIST_INTERSECT(sh_n, sh_c))) AS jaccard
       |FROM verified
       |WHERE CAST(LEN(LIST_INTERSECT(sh_n, sh_c)) AS DOUBLE)
       |    / (LEN(sh_n) + LEN(sh_c) - LEN(LIST_INTERSECT(sh_n, sh_c))) >= $threshold
       |ORDER BY new_id, dup_of""".stripMargin
  }

  // --------------------------------------------------------- SimHash

  /** 60-bit portable token hash: first 15 hex chars of MD5, parsed to an
    * integer (Spark `conv(…,16,10)`; DuckDB replays it with STRPOS
    * nibble arithmetic — identical values, both < 2^60 so they fit a
    * signed int64 on either engine).
    */
  private def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast(LongType)

  val SimHashBits = 60
  private val SimHashBands = 4          // 4 bands × 15 bits
  private val BandBits = SimHashBits / SimHashBands

  /** 60-bit SimHash per document: each token votes ±1 on every bit of
    * its hash; bit j of the signature is set iff the vote sum is
    * positive. Computed by exploding tokens and aggregating 60
    * conditional sums in ONE pass (single shuffle on doc_id).
    */
  def simHash(docs: DataFrame, content: Column, id: Column): DataFrame = {
    // per-token md5 + 60 partial sums are the heavy map stage — spread
    // a narrow scan before it (identity on any real multi-split input)
    val base = graft.functions.Fns.spreadIfNarrow(
      docs.select(id.as("doc_id"), content.as("__content")), col("doc_id"))
    val tok = base.select(col("doc_id"),
        explode(split(col("__content"), "\\s+")).as("t"))
      .withColumn("v", tokenHash60(col("t")))
    val votes = tok.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      (0 until SimHashBits).map { j =>
        sum(when(shiftright(col("v"), j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
          .as(s"s$j")
      }: _*)
    votes.select(
      col("doc_id"), col("n_tokens"),
      (0 until SimHashBits)
        .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance <= maxHamming (< number
    * of bands). Candidate generation is the pigeonhole band trick: split
    * the 60-bit signature into 4 15-bit bands — any pair within Hamming
    * distance 3 MUST agree on at least one whole band, so joining on
    * (band index, band value) is an equi-join with FULL recall, never an
    * all-pairs comparison.
    */
  def simHashPairs(docs: DataFrame, content: Column, id: Column,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimHashBands, "pigeonhole recall needs maxHamming < bands")
    val sig = simHash(docs, content, id)
    val banded = sig.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until SimHashBands).map { b =>
        shiftright(col("simhash"), b * BandBits)
          .bitwiseAND((1L << BandBits) - 1)
      }: _*)).as(Seq("band", "band_bits")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_bits") === col("b.band_bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast(IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The SimHash signature CTE chain (tok → hashed → votes → sig) —
    * shared by [[simHashPairsOracle]] and [[hammingPairsOracle]] so the
    * nibble/vote/signature arithmetic exists in exactly one place.
    */
  private def simHashSigCtes(source: String): String = {
    def nib(i: Int) = s"(STRPOS('0123456789abcdef', h[$i]) - 1)"
    val vExpr = (1 to 15)
      .map(i => s"${nib(i)} * ${math.pow(16, 15 - i).toLong}")
      .mkString(" + ")
    val voteExprs = (0 until SimHashBits)
      .map(j => s"SUM(CASE WHEN (v // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n    ")
    val sigExpr = (0 until SimHashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS t
       |  FROM $source),
       |hashed AS (
       |  SELECT doc_id, $vExpr AS v
       |  FROM (SELECT doc_id, MD5(t) AS h FROM tok)),
       |votes AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    $voteExprs
       |  FROM hashed GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id, CAST($sigExpr AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  def simHashPairsOracle(maxHamming: Int, source: String = "documents"): String = {
    val bandSelects = (0 until SimHashBands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, " +
        s"(simhash // ${1L << (b * BandBits)}) % ${1L << BandBits} AS band_bits FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${simHashSigCtes(source)},
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_bits = b.band_bits
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(BIT_COUNT(XOR(sim_a, sim_b)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE BIT_COUNT(XOR(sim_a, sim_b)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Banded Hamming near-dup pairs over ANY precomputed `bits`-wide
    * fingerprint column (SimHash signatures, perceptual image aHashes,
    * audio fingerprints — the pair stage is hash-agnostic): candidates
    * share at least one whole band, verified with the exact
    * `bit_count(xor)`.
    *
    * The band count is DERIVED from `maxHamming` — `bands =
    * maxHamming + 1` — which is what makes the pigeonhole guarantee
    * actually hold: `d <= maxHamming` differing bits can touch at most
    * `d < bands` bands, so at least one band is untouched and the pair
    * meets in that band's equi-join bucket. FULL recall at any
    * `maxHamming <= bits - 1`, never all-pairs. (A FIXED band count B
    * only guarantees recall for `maxHamming <= B - 1`; the round-10
    * image near-dup operator hard-coded 4 bands with a default
    * maxHamming of 6 and silently missed pairs whose 4-6 differing
    * bits straddled all four bands — this operator replaces that
    * shape.) Band widths are the balanced integer split
    * `floor((b+1)·bits/bands) − floor(b·bits/bands)`; extraction uses
    * unsigned shifts so a set sign bit (bit 63) is just another bit.
    *
    * Scale: |rows| × bands explode, one equi-join on (band, key),
    * DISTINCT before the verify (a pair sharing several bands arrives
    * once per shared band), one broadcast-free narrow filter. More
    * bands = narrower keys = bigger buckets: recall is free, the
    * precision/cost knob is `maxHamming` itself.
    *
    * Degenerate-band backstop: a band key constant across a large
    * corpus slice (black-border images all sharing an all-zero aHash
    * band) makes that band's self-join bucket quadratic. The
    * [[editDistancePairs]] `maxBlockSize` treatment applies: a
    * (band, key) bucket of size `s > maxBucketSize` is split into
    * `⌈s / maxBucketSize⌉` sub-buckets by a deterministic hash of the
    * id and candidates are generated only within a sub-bucket —
    * linear in s. The recall cost when the cap ENGAGES is softer
    * than editDistancePairs': a pair split apart in one hot band
    * still meets in any OTHER band left untouched by its differing
    * bits (only pairs whose every untouched band is hot AND
    * sub-split apart are lost — with the degenerate shared key being
    * precisely the meeting key, that takes every clean band
    * degenerate at once). The default cap (2²⁰) is far above any
    * fixture bucket, so graded output (q191, q49's image twin) is
    * the exact pigeonhole semantics.
    *
    * @return (id_a, id_b, hamming), id_a < id_b, hamming <= maxHamming
    */
  def hammingPairs(hashes: DataFrame, id: Column, hash: Column,
                   bits: Int = 64, maxHamming: Int = 3,
                   maxBucketSize: Int = 1 << 20): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits ($bits) must be in [1, 64]")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming ($maxHamming) must be in [0, bits)")
    require(maxBucketSize >= 1,
      s"maxBucketSize ($maxBucketSize) must be >= 1")
    val bands = maxHamming + 1
    // Null ids/hashes can never pair (the a.id < b.id and equi-key
    // predicates both reject NULL), so dropping them up front is
    // semantics-free — and it makes all THREE consumers of this frame
    // (join left, join right, the bucket-size count) canonically
    // identical subtrees: without it, constraint inference pushes
    // isnotnull(id) into the join sides' scans but not the count
    // frame's, and AQE's exchange reuse misses the count frame — a
    // whole extra upstream pass (fingerprint derivation included) at
    // scale. With it, the upstream exchange materializes once and the
    // other two consumers are ReusedExchange (EXPLAIN_r12, q191).
    val h = hashes.select(id.as("id"), hash.as("h"))
      .filter(col("id").isNotNull && col("h").isNotNull)
    val banded = h.select(
      col("id"), col("h"),
      posexplode(array((0 until bands).map { b =>
        val lo = b * bits / bands
        val width = (b + 1) * bits / bands - lo
        val mask = if (width == 64) -1L else (1L << width) - 1
        shiftrightunsigned(col("h"), lo).bitwiseAND(mask)
      }: _*)).as(Seq("band", "key")))
    val sizes = banded.groupBy("band", "key").agg(count(lit(1)).as("__bsz"))
    val sub = banded.join(sizes, Seq("band", "key"))
      .withColumn("__sub", pmod(xxhash64(col("id")),
        call_function("div",
          col("__bsz") + lit(maxBucketSize.toLong - 1),
          lit(maxBucketSize.toLong))))
      .select(col("band"), col("key"), col("id"), col("h"), col("__sub"))
    sub.as("a")
      .join(sub.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.__sub") === col("b.__sub") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.h").as("h_a"), col("b.h").as("h_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast(IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Oracle for [[hammingPairs]] over the documents' SimHash
    * signatures (the q191 fixture: a 60-bit content fingerprint whose
    * near-dups land at small NONZERO Hamming distances, so the graded
    * output exercises bands the fixed-band q49 shape cannot reach —
    * maxHamming 5 needs 6 derived bands where 4 fixed bands only
    * guarantee distance 3). Signature CTEs shared with
    * [[simHashPairsOracle]]; band extraction replays the same
    * floor-boundary split (signatures are < 2^60, so `//`/`%`
    * arithmetic equals the unsigned shifts). The oracle therefore
    * only covers NON-NEGATIVE sub-63-bit fingerprints: at bits = 64
    * the widest band's `1L << 64` divisor would wrap to 1 (every key
    * 0 → all-pairs candidates) and signed `//`/`%` misbehaves on
    * negative hashes — hence the `bits < 64` gate, which the Scala
    * operator (unsigned shifts, any bits ≤ 64) does not need.
    */
  def hammingPairsOracle(maxHamming: Int, bits: Int = SimHashBits,
                         source: String = "documents"): String = {
    require(bits >= 1 && bits < 64,
      s"hammingPairsOracle covers non-negative sub-63-bit fingerprints " +
        s"only (got bits = $bits): signed SQL // and % arithmetic " +
        "cannot replay the unsigned shift extraction at 64 bits")
    val bands = maxHamming + 1
    val bandSelects = (0 until bands).map { b =>
      val lo = b * bits / bands
      val width = (b + 1) * bits / bands - lo
      s"SELECT doc_id, simhash, $b AS band, " +
        s"(simhash // ${1L << lo}) % ${1L << width} AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${simHashSigCtes(source)},
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.simhash AS h_a, b.simhash AS h_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key
       |   AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(BIT_COUNT(XOR(h_a, h_b)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE BIT_COUNT(XOR(h_a, h_b)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  // -------------------------------------------- cluster assignment (CC)

  /** Undirected connected components by iterative min-label propagation:
    * every vertex starts labeled with its own id; each round every
    * vertex takes the minimum label among itself and its neighbors;
    * converged when no label changes. The cluster id is therefore the
    * smallest member id — deterministic, engine-replayable.
    *
    * Scale shape: each round is one equi-join of the (id, label) frame
    * against the edge list plus a min-aggregate — linear shuffle volume,
    * no all-pairs anything. Each round is checkpointed so the plan
    * stays O(1) deep instead of growing with the iteration count.
    *
    * Pointer doubling is the only path: after the propagation hops,
    * every round also shortcuts `label(v) ← min(label(v),
    * label(label(v)))` (one extra join of the tiny label frame against
    * itself), which bounds rounds at O(log diameter) instead of
    * O(diameter) — a 300-hop chain converges in ~8 rounds instead of
    * 300. The shortcut pays on the one real graph: the SimHash near-dup
    * graph is chained near-dups of diameter ~14, not shallow cliques,
    * and doubling cut its rounds from 8 to 6 and q67 from ~4.2-5.4 s to
    * ~3.7-4.3 s at sf0.1 (PLANS.md, "Pointer doubling measured on the
    * real graph"). Correctness: the exit condition (no label adopted a
    * smaller label) implies labels are equal across every edge, hence
    * constant-per-component, and the component min always keeps its
    * own label.
    */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 50): DataFrame = {
    // checkpoint the DIRECTED edges first, then derive both directions
    // from the checkpoint: union(edges, edges.swapped) over the raw
    // frame would re-evaluate the (uncached, typically expensive —
    // SimHash/Jaccard candidate generation) edge pipeline once per
    // union branch; over the checkpoint both branches are narrow reads
    // of cached blocks
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(eager = true)
    val und = e0.select(col("src").as("dst_id"), col("dst").as("nb"))
      .union(e0.select(col("dst").as("dst_id"), col("src").as("nb")))
    // Only vertices that occur in an edge can change label — everything
    // else is a singleton by construction. Iterating over the edge
    // subgraph keeps the per-round frame at |paired vertices| (tiny for
    // dedup graphs) instead of |corpus|; isolated vertices are unioned
    // back label=own-id at the end, costing zero propagation rounds.
    var labels = und.select(col("dst_id").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = true)
    var changed = 1L
    var rounds = 0
    // one min-propagation hop, carrying `carry` (the label to diff
    // against for convergence) through unchanged
    def hop(l: DataFrame, carry: String): DataFrame = {
      val nbMin = und
        .join(l.select(col("id").as("nb"), col("label").as("nl")), Seq("nb"))
        .groupBy(col("dst_id").as("id")).agg(min("nl").as("nb_min"))
      l.join(nbMin, Seq("id"), "left")
        .select(col("id"), col(carry),
          least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"))
    }
    while (changed > 0 && rounds < maxIters) {
      // TWO hops per materialization: the cost of a round is dominated
      // by the checkpoint+count scheduling, not the tiny joins, so
      // halving the materializations (vs one hop each) cut q67's CC
      // phase ~40% at sf0.1 (measured: the SimHash near-dup graph has
      // diameter ~14 — chained near-dups, not shallow cliques).
      // THREE hops A/B'd in round 8: rounds drop 6→4 but the deeper
      // lazy plan (each hop doubles it) raises per-round cost ~45% —
      // a wash at best (4.60 vs 4.17 s median); two stays.
      // Convergence stays sound: labels are monotone non-increasing, so
      // "no change across the two hops" ⟺ fixpoint of a single hop.
      // LAZY checkpoint: the convergence count below is the round's
      // first action and materializes (lineage-truncates) it in the
      // same job.
      val two = hop(hop(labels.withColumn("old_label", col("label")),
        "old_label"), "old_label")
      // Pointer-doubling shortcut FUSED into the round's one job: the
      // shortcut is a self-join of the post-hop frame (label(v) ←
      // min(label(v), label(label(v)))), evaluated lazily inside the
      // same checkpoint+count action — one job per round instead of
      // two (the count dominates round cost, not the tiny joins; the
      // duplicated unmaterialized two-hop subplan is cached-input
      // compute, not a re-run of the edge pipeline). Convergence stays
      // sound: the shortcut only lowers labels, so `label < old_label`
      // catches hop AND shortcut progress, and changed == 0 still
      // implies the single-hop fixpoint.
      val parents = two.select(col("id").as("label"), col("label").as("ll"))
      val step = two.join(parents, Seq("label"), "left")
        .select(col("id"), col("old_label"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
      changed = step.filter(col("label") < col("old_label")).count()
      labels = step.select(col("id"), col("label"))
      rounds += 1
    }
    // Exiting on the round cap with labels still moving means the graph
    // diameter exceeds maxIters and the labels are NOT components yet —
    // returning them silently would hand the caller wrong clusters.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($changed labels still changing); the graph diameter exceeds " +
          "the round cap — raise maxIters")
    val isolated = vertices.select(col(idCol).as("id"))
      .join(labels.select("id"), Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    labels.unionByName(isolated)
      .select(col("id").as(idCol), col("label").as("cluster"))
  }

  /** Near-dup cluster assignment over the SimHash pair graph: every doc
    * gets the smallest doc_id of its connected component plus the
    * component size — the form a dedup policy consumes ("keep the
    * cluster representative, drop the rest").
    */
  def simHashClusters(docs: DataFrame, content: Column, id: Column,
                      maxHamming: Int = 3): DataFrame =
    simHashClustersFrom(docs, id, simHashPairs(docs, content, id, maxHamming))

  /** [[simHashClusters]] over an ALREADY-BUILT pair frame ((doc_a,
    * doc_b, …) — [[simHashPairs]]' output, possibly persisted):
    * consumers of one near-dup graph share the banded self-join build
    * (the train-once economics; the fused operator delegates here, so
    * both paths are value-identical).
    */
  def simHashClustersFrom(docs: DataFrame, id: Column,
                          pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(
      docs.select(id.as("doc_id")), "doc_id", pairs, "doc_a", "doc_b")
    // Sizes via aggregate + join, NOT a count-over-cluster window: a
    // boilerplate mega-cluster is one hot key, and the window form
    // buffers it in a single un-splittable task, while the join form
    // reduces map-side and lets AQE skew-split the probe side.
    val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
  }

  /** Oracle for [[simHashClusters]]: the SimHash pair CTEs + a recursive
    * transitive closure, MIN-label per reachable set — an independent
    * SQL formulation of the same component semantics.
    */
  def simHashClustersOracle(maxHamming: Int, source: String = "documents"): String = {
    val pairSql = simHashPairsOracle(maxHamming, source)
    // reuse the full pair query as a CTE body (strip its ORDER BY tail)
    val pairBody = pairSql.substring(0, pairSql.lastIndexOf("ORDER BY"))
    s"""WITH RECURSIVE pairs AS (
       |$pairBody),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM $source
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
       |SELECT src AS doc_id, cluster,
       |  COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
       |FROM (SELECT src, MIN(dst) AS cluster FROM reach GROUP BY src)
       |ORDER BY doc_id""".stripMargin
  }

  /** Near-dup cluster KEEP-BEST selection — the dedup DECISION step:
    * for every SimHash connected component, keep the member with the
    * highest `score` (ties broken by minimum doc_id — a total order,
    * engine-portable) and mark everything else for the purge list.
    * This upgrades the min-id representative rule ([[graft.operators.
    * Curate.corpus]] step 2) to the policy production pipelines
    * actually run: keep the LONGEST / highest-quality copy of each
    * near-dup family, not the one with the smallest key.
    *
    * Shape: the cluster machinery is [[simHashClusters]] unchanged;
    * the pick is ONE `max(struct(score, −doc_id))` aggregate per
    * cluster — map-side combinable, so a viral boilerplate
    * mega-cluster collapses partially before the shuffle (never a
    * per-cluster window, which would buffer the hot cluster in a
    * single sort task), plus one join back to attach the winner.
    *
    * Preconditions (the max(struct(s, −doc_id)) argmax trick): `score`
    * must be NON-NULL (a null score sorts SMALLEST in Spark's struct
    * order but per DuckDB's ORDER BY ... DESC default in the oracle —
    * coalesce a nullable score to a sentinel before calling) and
    * `doc_id` must exceed Long.MinValue (negation would overflow).
    * Unique ids make the tie-break total.
    *
    * @param score keep-policy score (higher wins, non-null),
    *              e.g. `col("n_chars")`
    * @return (doc_id, cluster, cluster_size, keep_id, kept 0/1)
    */
  def clusterRepresentatives(docs: DataFrame, content: Column, id: Column,
                             score: Column, maxHamming: Int = 3): DataFrame =
    clusterRepresentativesFrom(simHashClusters(docs, content, id, maxHamming),
      docs, id, score)

  /** [[clusterRepresentatives]] over an ALREADY-BUILT cluster frame
    * ((doc_id, cluster, cluster_size) — [[simHashClusters]]' output,
    * possibly persisted): several consumers of one clustering share
    * the expensive pair + component build (the train-once economics;
    * the fused operator delegates here, so both paths are
    * value-identical).
    */
  def clusterRepresentativesFrom(clusters: DataFrame, docs: DataFrame,
                                 id: Column, score: Column): DataFrame = {
    val scored = docs.select(id.as("doc_id"), score.as("s"))
    val keeps = clusters.join(scored, "doc_id")
      .groupBy("cluster")
      .agg(max(struct(col("s"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster"), (-col("b.nid")).as("keep_id"))
    clusters.join(keeps, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("keep_id"),
        when(col("doc_id") === col("keep_id"), lit(1L)).otherwise(lit(0L))
          .as("kept"))
  }

  /** Oracle for [[clusterRepresentatives]]: the SimHash pair CTEs + a
    * recursive transitive closure (the [[simHashClustersOracle]]
    * formulation) + an independent ROW_NUMBER argmax on
    * (`scoreSql` DESC, doc_id) per cluster.
    */
  def clusterRepresentativesOracle(maxHamming: Int,
                                   scoreSql: String = "n_chars",
                                   source: String = "documents"): String = {
    val pairSql = simHashPairsOracle(maxHamming, source)
    val pairBody = pairSql.substring(0, pairSql.lastIndexOf("ORDER BY"))
    s"""WITH RECURSIVE pairs AS (
       |$pairBody),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM $source
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       |lab AS (SELECT src AS doc_id, MIN(dst) AS cluster
       |        FROM reach GROUP BY src),
       |sized AS (
       |  SELECT doc_id, cluster,
       |    COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
       |  FROM lab),
       |keeps AS (
       |  SELECT cluster, doc_id AS keep_id FROM (
       |    SELECT l.cluster, l.doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY l.cluster
       |        ORDER BY d.$scoreSql DESC, l.doc_id) AS rn
       |    FROM lab l JOIN $source d ON l.doc_id = d.doc_id)
       |  WHERE rn = 1)
       |SELECT s.doc_id, s.cluster, s.cluster_size, k.keep_id,
       |  CAST(CASE WHEN s.doc_id = k.keep_id THEN 1 ELSE 0 END AS BIGINT)
       |    AS kept
       |FROM sized s JOIN keeps k ON s.cluster = k.cluster
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Exact content dedup: group by MD5(content), keep the minimum id.
    * Returns (fp, keep_id, copies).
    */
  def exact(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(md5(content.cast("binary")).as("fp"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("copies"))

  /** The deduplicated view itself: one surviving row per distinct
    * content (minimum id wins — ids are unique, so the pick is total).
    * Shape: `min_by` aggregate, not a per-content window — a viral
    * document is one hot fingerprint, and the aggregate collapses its
    * copies MAP-SIDE (partial aggregation) where the window form would
    * ship every copy to a single sort task.
    */
  def dropExactDuplicates(df: DataFrame, content: Column, id: Column): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(content.cast("binary")).as("__fp"))
      .agg(min_by(struct(cols.map(col): _*), id).as("__row"))
      .select(cols.map(c => col(s"__row.$c")): _*)
  }

  // ------------------------- variable-length exact substring dedup
  //
  // The fixed-n span detector ([[graft.operators.TextAnalysis
  // .duplicatedSpans]], q168) reports duplicated n-token FRAGMENTS:
  // a 99-token verbatim syndication shows up as 80 overlapping
  // 20-gram rows with no record that they are one region, and a
  // 25-token one is priced identically to the 99-token one. The
  // suffix-automaton dedup result the curation literature built on
  // ("deduplicating training data", the ≥50-token maximal-substring
  // rule) needs the MAXIMAL repeated substrings — which fixed-n
  // under-approximates. Two operators recover them Spark-first,
  // without a corpus-sized suffix sort:
  //   - [[maximalMatchPairs]]: the pairwise witnesses — every maximal
  //     cross-doc token match ≥ minLen with its exact length, via
  //     anchor-gram equi-join + codegen extend-while-equal;
  //   - [[dedupRegions]]: the per-doc CUT LIST — maximal runs of
  //     positions whose minLen-window occurs ≥ minOcc times anywhere,
  //     the ranges a dedup pass actually removes, linear end to end.

  /** Maximal cross-document token matches ≥ `minLen` tokens: one row
    * per maximal match — (doc_a, pos_a, doc_b, pos_b, match_len),
    * positions 1-based, doc_a < doc_b — where
    * `toks_a[pos_a, pos_a+match_len)` equals
    * `toks_b[pos_b, pos_b+match_len)` and the match extends in
    * neither direction.
    *
    * Shape (100 TB): candidate generation is an EQUI-join of
    * `minLen`-token anchor windows on their xxhash64 — never a
    * data-sized sort, never all-pairs. Each maximal match of length m
    * spawns its m−minLen+1 anchor alignments as candidates, but only
    * the LEFTMOST survives the head check inside
    * [[graft.expressions.SpanMatchLenKernel]], so every match is
    * emitted exactly once. The extension verifier re-reads both docs'
    * token arrays (attached by two equi-joins on doc id) and
    * re-verifies the anchor window itself, which makes the operator
    * immune to anchor-hash collisions — xxhash64 is a routing key
    * here, not a correctness assumption (contrast the md5 contract of
    * [[graft.operators.TextAnalysis.duplicatedSpans]], whose OUTPUT
    * is the digest).
    *
    * Hot-anchor backstop: a viral boilerplate window ("Sign in to
    * continue…") makes one anchor bucket quadratic. The
    * [[editDistancePairs]] `maxBlockSize` treatment applies verbatim:
    * buckets above `maxAnchorOccurrences` are split into sub-buckets
    * by a deterministic hash of the doc id and pairs are generated
    * only within a sub-bucket — linear in the hot bucket's size, at
    * the documented cost of losing matches whose candidates all fall
    * across sub-buckets. Under the diagonal-run verify (round 13) a
    * match is emitted iff SOME surviving candidate's diagonal span
    * covers its start — a strict superset of what the old
    * per-candidate head check kept (which needed the LEFTMOST
    * alignment specifically to survive), still never a truncated or
    * inexact row: the kernel is token-maximal, and its span-start
    * left check reproduces the drop (not truncate) semantics when a
    * match extends left of every surviving candidate. Exactness under
    * the cap requires the cross-side fan-out treatment
    * ([[incrementalMaximalMatches]]); here the cap is a same-frame
    * self-join backstop. The default cap
    * (2²⁰) is far above any fixture bucket (sf0.1 max occurrence: 3),
    * so the graded q181 output is the exact uncapped semantics.
    *
    * Within-doc repeats are out of scope here (doc_a < doc_b);
    * [[dedupRegions]] counts them.
    */
  def maximalMatchPairs(docs: DataFrame, content: Column, id: Column,
                        minLen: Int = 20,
                        maxAnchorOccurrences: Int = 1 << 20): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    require(minLen >= 2, s"minLen ($minLen) must be >= 2")
    require(maxAnchorOccurrences >= 1,
      s"maxAnchorOccurrences ($maxAnchorOccurrences) must be >= 1")
    val toks = splitToksMin(docs, content, id, minLen)
    // ONE anchor shuffle for the whole operator (round 13 — the q191
    // exchange-reuse lesson): the hot-list aggregate and both self-join
    // sides all read the same repartition(gh) exchange (HashPartitioning
    // on gh satisfies the aggregate's distribution AND the (gh, __sub)
    // join's — __sub is a function of the row), and the per-gh
    // occurrence count attaches via a broadcast of ONLY the over-cap
    // ghs (the matchIndexFromOccurrences shape) instead of the former
    // anchors⋈sizes join of two anchor-sized frames — which re-derived
    // the anchor stream and paid a data-sized sort-merge join just to
    // hand every row an occurrence count that is 1-bucket for all but
    // the hot tail. sf1: the candidate stage dropped 13.2 → ~7 s.
    val anchors = anchorGrams(toks, minLen).repartition(col("gh"))
    val hot = anchors.groupBy("gh").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > maxAnchorOccurrences)
      .select(col("gh"), call_function("div",
        col("__occ") + lit(maxAnchorOccurrences.toLong - 1),
        lit(maxAnchorOccurrences.toLong)).as("nsub"))
    val sub = anchors.join(broadcast(hot), Seq("gh"), "left")
      .select(col("gh"), col("doc_id"), col("pos"),
        pmod(xxhash64(col("doc_id")), coalesce(col("nsub"), lit(1L)))
          .as("__sub"))
    val cand = sub.as("a")
      .join(sub.as("b"),
        col("a.gh") === col("b.gh") && col("a.__sub") === col("b.__sub")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.pos").as("pos_a"),
        col("b.doc_id").as("doc_b"), col("b.pos").as("pos_b"))
    verifyDiagonalRuns(cand, "doc_a", "pos_a", "doc_b", "pos_b",
      toks.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
      toks.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
      minLen)
  }

  /** Shared verify stage of the maximal-match family (round 13): a
    * maximal match of length m spawns its m−minLen+1 aligned anchor
    * candidates at CONSECUTIVE positions on one (docA, docB,
    * posA−posB) diagonal, so the per-candidate verify — which
    * attached BOTH full token arrays to every candidate row and paid
    * a [[graft.expressions.SpanMatchLen]] call each, with only the
    * leftmost surviving the head check — did ~m−minLen+1× the work
    * per match (sf1 measured: 86,630 candidates for 2,210 emitted
    * matches, and the array-attach join fan-out dominated the 13 s
    * runtime). Candidates now group per diagonal (one aggregate over
    * 4-long candidate rows), the token arrays join once per
    * DIAGONAL, and [[graft.expressions.SpanMatchRunsKernel]] scans
    * the grouped span once, emitting every maximal match in it —
    * exact under hash collisions and under the hot-anchor cap for
    * the reasons documented on the kernel. Output columns and
    * semantics are identical to the per-candidate form (q181/q188/
    * q192/q201 oracle hashes unchanged).
    */
  private def verifyDiagonalRuns(cand: DataFrame, docA: String, posA: String,
                                 docB: String, posB: String,
                                 toksA: DataFrame, toksB: DataFrame,
                                 minLen: Int): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    val runs = cand
      .groupBy(col(docA), col(docB), (col(posA) - col(posB)).as("__diag"))
      .agg(min(posA).as("__lo_a"), min(posB).as("__lo_b"),
        (max(posA) - min(posA) + lit(minLen)).as("__span"))
    runs
      .join(toksA, docA)
      .join(toksB, docB)
      .select(col(docA), col(docB), col("__lo_a"), col("__lo_b"),
        explode(column(graft.expressions.SpanMatchRuns(
          expression(col("ta")), expression(col("__lo_a")),
          expression(col("tb")), expression(col("__lo_b")),
          expression(col("__span")), minLen))).as("__m"))
      .select(col(docA), col("__m.pos_a").as(posA), col(docB),
        (col("__m.pos_a") - col("__lo_a") + col("__lo_b")).as(posB),
        col("__m.match_len").as("match_len"))
  }

  /** Oracle for [[maximalMatchPairs]]: anchors join on the RAW gram
    * string (equality on the window — what the Spark side's
    * hash-join + kernel re-verification computes), head check and
    * extend-while-equal replayed as a comparison-vector scan. DuckDB's
    * `LIST_POSITION(l, x)` returns 0 — not NULL — when absent, hence
    * the CASE on 0 for the fully-extending branch.
    */
  def maximalMatchPairsOracle(minLen: Int = 20,
                              source: String = "documents"): String = {
    val nm1 = minLen - 1
    val extVec = s"""LIST_TRANSFORM(GENERATE_SERIES(1,
       LEAST(LEN(ta) - pos_a, LEN(tb) - pos_b) - $nm1),
       jj -> CASE WHEN ta[pos_a + $minLen + jj - 1] =
                       tb[pos_b + $minLen + jj - 1]
                  THEN 1 ELSE 0 END)"""
    s"""WITH t AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |  FROM $source),
       |a AS (
       |  SELECT doc_id, i AS pos,
       |    ARRAY_TO_STRING(LIST_SLICE(toks, i, i + $nm1), ' ') AS g
       |  FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks) - $nm1)) AS u(i)),
       |c AS (
       |  SELECT x.doc_id AS doc_a, x.pos AS pos_a,
       |         y.doc_id AS doc_b, y.pos AS pos_b
       |  FROM a x JOIN a y ON x.g = y.g AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT c.*, ta.toks AS ta, tb.toks AS tb FROM c
       |  JOIN t ta ON c.doc_a = ta.doc_id
       |  JOIN t tb ON c.doc_b = tb.doc_id),
       |e AS (
       |  SELECT doc_a, pos_a, doc_b, pos_b,
       |    CASE WHEN pos_a > 1 AND pos_b > 1
       |              AND ta[pos_a - 1] = tb[pos_b - 1] THEN NULL
       |    ELSE $minLen + CASE WHEN LIST_POSITION($extVec, 0) = 0
       |      THEN GREATEST(LEAST(LEN(ta) - pos_a, LEN(tb) - pos_b)
       |                      - $nm1, 0)
       |      ELSE LIST_POSITION($extVec, 0) - 1 END
       |    END AS match_len
       |  FROM j)
       |SELECT doc_a, CAST(pos_a AS INT) AS pos_a,
       |       doc_b, CAST(pos_b AS INT) AS pos_b,
       |       CAST(match_len AS BIGINT) AS match_len
       |FROM e WHERE match_len IS NOT NULL
       |ORDER BY doc_a, pos_a, doc_b, pos_b""".stripMargin
  }

  /** Incremental maximal-match dedup — the PRODUCTION shape of
    * [[maximalMatchPairs]] (the [[incrementalNearDups]] pattern): a
    * daily `batch` of new documents screened against the standing
    * `corpus`, emitting every maximal cross-side verbatim match
    * ≥ `minLen` tokens — (batch_id, pos_b, corpus_id, pos_c,
    * match_len). Candidates join batch anchors to the corpus anchor
    * index on the window hash; the [[graft.expressions.SpanMatchLen]]
    * kernel re-verifies, head-filters, and extends exactly as in the
    * all-pairs form (leftmost ALIGNMENT is side-symmetric, so each
    * maximal match is emitted once here too).
    *
    * Hot-anchor handling differs from [[maximalMatchPairs]]'s
    * same-frame sub-split, because dropping or hash-splitting a
    * CROSS-side bucket would lose matches (a match whose head anchor
    * is dropped never re-emerges — every later anchor fails the head
    * check): instead the corpus index is sub-split by corpus doc id
    * into `⌈occ / maxAnchorOccurrences⌉` sub-buckets and each hot
    * batch anchor FANS OUT to every sub-bucket (explode over the
    * per-hash sub-count) — exactness preserved, per-join-key fan-out
    * bounded by the cap, and the explode multiplies ONLY anchors
    * whose corpus occurrence exceeds the cap (none at the default
    * 2²⁰: the plan degenerates to the plain equi-join).
    */
  /** (doc_id, toks) for every doc long enough to hold a `minLen`
    * anchor — the shared head of the maximal-match family and of the
    * standing anchor index ([[StandingIndex]]): the index build and
    * every probe MUST derive tokens and anchors identically or the
    * kernel's head check silently diverges.
    */
  private[operators] def splitToksMin(df: DataFrame, content: Column,
                                      id: Column, minLen: Int): DataFrame =
    graft.functions.Fns.spreadIfNarrow(
        df.select(id.as("doc_id"), content.as("__content")), col("doc_id"))
      .select(col("doc_id"), barrierSplit(col("__content")).as("toks"))
      .filter(size(col("toks")) >= minLen)

  /** (doc_id, pos, gh): every `minLen`-token anchor window of every
    * doc as its 1-based position and xxhash64 routing key. The gram
    * strings never leave this projection — only (hash, id, pos)
    * shuffles.
    */
  private[operators] def anchorGrams(toks: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    toks
      .select(col("doc_id"), posexplode(column(graft.expressions.ShinglesAll(
        expression(col("toks")), expression(lit(minLen))))).as(Seq("i", "g")))
      .select(col("doc_id"), (col("i") + 1).as("pos"),
        xxhash64(col("g")).as("gh"))
  }

  /** The three frames a standing match index persists
    * ([[StandingIndex.buildMatchIndex]]) and
    * [[incrementalMaximalMatches]] derives inline — ONE construction
    * so the persisted index and the ad-hoc run cannot diverge:
    *
    *   - `anchors` (gh, sub, corpus_id, pos_c): every corpus anchor
    *     with its hot-bucket sub-split assignment precomputed
    *     (`pmod(xxhash64(id), nsub)`; sub = 0 everywhere a gh's
    *     occurrence is within the cap — the common case);
    *   - `hot` (gh, nsub): ONLY the ghs whose occurrence exceeds
    *     `maxAnchorOccurrences` — empty at the default cap, tiny by
    *     construction otherwise, always broadcastable;
    *   - `toks` (corpus_id, tc): the token arrays the
    *     [[graft.expressions.SpanMatchLen]] verifier re-reads.
    */
  private[operators] def matchIndexFrames(corpus: DataFrame, content: Column,
                                          id: Column, minLen: Int,
                                          maxAnchorOccurrences: Int):
      (DataFrame, DataFrame, DataFrame) = {
    require(minLen >= 2, s"minLen ($minLen) must be >= 2")
    require(maxAnchorOccurrences >= 1,
      s"maxAnchorOccurrences ($maxAnchorOccurrences) must be >= 1")
    val toksC = splitToksMin(corpus, content, id, minLen)
    val aC = anchorGrams(toksC, minLen)
      .select(col("gh"), col("doc_id").as("corpus_id"),
        col("pos").as("pos_c"))
    val (anchors, hot) = matchIndexFromOccurrences(aC, maxAnchorOccurrences)
    (anchors, hot,
      toksC.select(col("doc_id").as("corpus_id"), col("toks").as("tc")))
  }

  /** Hot-list derivation + sub-bucket assignment over a RAW
    * anchor-occurrence frame (gh, corpus_id, pos_c) → the (anchors,
    * hot) member pair. Split out of [[matchIndexFrames]] (round 13) so
    * [[StandingIndex.appendMatchIndex]] can re-derive the pair from
    * `old anchors ∪ delta anchors` WITHOUT re-tokenizing the indexed
    * corpus — the occurrence count (and hence nsub and every sub
    * assignment, `pmod(xxhash64(id), nsub)`) is a pure function of the
    * occurrence frame, so an incremental publish through this ONE
    * construction is bit-identical to a full rebuild.
    */
  private[operators] def matchIndexFromOccurrences(
      aC: DataFrame, maxAnchorOccurrences: Int): (DataFrame, DataFrame) = {
    val hot = aC.groupBy("gh").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > maxAnchorOccurrences)
      .select(col("gh"), call_function("div",
        col("__occ") + lit(maxAnchorOccurrences.toLong - 1),
        lit(maxAnchorOccurrences.toLong)).as("nsub"))
    val anchors = aC.join(broadcast(hot), Seq("gh"), "left")
      .select(col("gh"),
        pmod(xxhash64(col("corpus_id")), coalesce(col("nsub"), lit(1L)))
          .as("sub"),
        col("corpus_id"), col("pos_c"))
    (anchors, hot)
  }

  /** Probe a batch against [[matchIndexFrames]]-shaped corpus frames
    * (in memory or read back from a standing index's bucketed tables):
    * hot ghs fan out to every sub-bucket (exactness preserved — see
    * [[incrementalMaximalMatches]]), candidates equi-join on
    * (gh, sub), the kernel verifies/extends. When the frames come from
    * [[StandingIndex]] tables bucketed on gh / corpus_id, BOTH
    * corpus-side joins are satisfied by the bucket layout — zero
    * corpus-side Exchange (spec-asserted), the batch side alone
    * shuffles.
    */
  private[operators] def probeMatchFrames(anchors: DataFrame, hot: DataFrame,
                                          toksCorpus: DataFrame,
                                          batch: DataFrame, content: Column,
                                          id: Column, minLen: Int): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    val toksB = splitToksMin(batch, content, id, minLen)
    val aB = anchorGrams(toksB, minLen)
    val probe = aB.join(broadcast(hot), Seq("gh"), "left")
      .select(col("gh"), col("doc_id").as("batch_id"),
        col("pos").as("pos_b"),
        explode(sequence(lit(0L), coalesce(col("nsub"), lit(1L)) - 1))
          .as("sub"))
    // diagonal-run verify (round 13, see [[verifyDiagonalRuns]]):
    // cross-side candidates are exact by construction (hot batch
    // anchors fan out to every sub-bucket), so the runs grouping is a
    // pure cost transformation here — token arrays attach per
    // diagonal instead of per candidate, and the corpus-side bucketed
    // joins see a smaller probe frame
    val cand = probe.join(anchors, Seq("gh", "sub"))
      .select(col("batch_id"), col("pos_b"), col("corpus_id"), col("pos_c"))
    verifyDiagonalRuns(cand, "batch_id", "pos_b", "corpus_id", "pos_c",
      toksB.select(col("doc_id").as("batch_id"), col("toks").as("ta")),
      toksCorpus.select(col("corpus_id"), col("tc").as("tb")),
      minLen)
  }

  def incrementalMaximalMatches(corpus: DataFrame, batch: DataFrame,
                                content: Column, id: Column,
                                minLen: Int = 20,
                                maxAnchorOccurrences: Int = 1 << 20): DataFrame = {
    val (anchors, hot, toksC) =
      matchIndexFrames(corpus, content, id, minLen, maxAnchorOccurrences)
    probeMatchFrames(anchors, hot, toksC, batch, content, id, minLen)
  }

  /** Oracle for [[incrementalMaximalMatches]] over a batch/corpus
    * split of `documents` (`batchPred` selects the batch side; the
    * complement is the corpus).
    */
  def incrementalMaximalMatchesOracle(minLen: Int = 20,
                                      batchPred: String = "doc_id % 10 = 0",
                                      source: String = "documents"): String = {
    val nm1 = minLen - 1
    val extVec = s"""LIST_TRANSFORM(GENERATE_SERIES(1,
       LEAST(LEN(tb) - pos_b, LEN(tc) - pos_c) - $nm1),
       jj -> CASE WHEN tb[pos_b + $minLen + jj - 1] =
                       tc[pos_c + $minLen + jj - 1]
                  THEN 1 ELSE 0 END)"""
    s"""WITH t AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks,
       |         ($batchPred) AS is_batch
       |  FROM $source),
       |a AS (
       |  SELECT doc_id, is_batch, i AS pos,
       |    ARRAY_TO_STRING(LIST_SLICE(toks, i, i + $nm1), ' ') AS g
       |  FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks) - $nm1)) AS u(i)),
       |c AS (
       |  SELECT b.doc_id AS batch_id, b.pos AS pos_b,
       |         x.doc_id AS corpus_id, x.pos AS pos_c
       |  FROM a b JOIN a x ON b.g = x.g
       |  WHERE b.is_batch AND NOT x.is_batch),
       |j AS (
       |  SELECT c.*, tb.toks AS tb, tc.toks AS tc FROM c
       |  JOIN t tb ON c.batch_id = tb.doc_id
       |  JOIN t tc ON c.corpus_id = tc.doc_id),
       |e AS (
       |  SELECT batch_id, pos_b, corpus_id, pos_c,
       |    CASE WHEN pos_b > 1 AND pos_c > 1
       |              AND tb[pos_b - 1] = tc[pos_c - 1] THEN NULL
       |    ELSE $minLen + CASE WHEN LIST_POSITION($extVec, 0) = 0
       |      THEN GREATEST(LEAST(LEN(tb) - pos_b, LEN(tc) - pos_c)
       |                      - $nm1, 0)
       |      ELSE LIST_POSITION($extVec, 0) - 1 END
       |    END AS match_len
       |  FROM j)
       |SELECT batch_id, CAST(pos_b AS INT) AS pos_b,
       |       corpus_id, CAST(pos_c AS INT) AS pos_c,
       |       CAST(match_len AS BIGINT) AS match_len
       |FROM e WHERE match_len IS NOT NULL
       |ORDER BY batch_id, pos_b, corpus_id, pos_c""".stripMargin
  }

  /** Per-document duplicated-region cut list: maximal runs of 1-based
    * anchor positions whose `minLen`-token window occurs at least
    * `minOcc` times in the whole corpus (same-doc repeats included —
    * the "appears elsewhere" rule). One row per region —
    * (doc_id, start_pos, end_pos, region_len, n_windows) — covering
    * tokens `start_pos .. end_pos + minLen − 1`, so
    * `region_len = end_pos − start_pos + minLen`. This is the output
    * shape a dedup pass consumes directly: the token ranges to cut.
    *
    * Every position inside a region is the start of SOME duplicated
    * window, which is exactly the removal criterion of the public
    * maximal-substring dedup result; adjacent regions whose duplicated
    * windows match different partners merge — deliberate: the cut
    * decision is per-position, not per-partner (the pairwise witness
    * view is [[maximalMatchPairs]]).
    *
    * Shape (100 TB): windows hashed per doc (linear explode, md5 both
    * engines — the q168 portability contract), one map-side-combined
    * occurrence count on the digest, one equi-join back, then
    * gaps-and-islands per document — the one window runs
    * `partitionBy(doc_id)`, bounded by the longest DOCUMENT, never by
    * the data. Nothing pairwise anywhere: a span shared by 10⁶ docs
    * costs 10⁶ rows, not 10¹² pairs — the linear complement to
    * [[maximalMatchPairs]]'s witnesses.
    */
  def dedupRegions(docs: DataFrame, content: Column, id: Column,
                   minLen: Int = 20, minOcc: Int = 2): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    require(minLen >= 2, s"minLen ($minLen) must be >= 2")
    require(minOcc >= 2, s"minOcc ($minOcc) must be >= 2")
    // ONE anchor derivation, ONE fp shuffle for the whole operator
    // (round 13 — the q181 one-exchange discipline, adapted): the old
    // aggregate+semi-join shape derived the window stream TWICE
    // (explode+md5 into the groupBy, again into the join) and
    // shuffled each derivation separately — and unlike q181's
    // over-cap hot list, the repeated-fp set scales with corpus
    // duplication, so the broadcast fix doesn't transfer and an
    // explicit co-partitioning still leaves two derivations (column
    // pruning narrows the count branch to fp-only, so the exchanges
    // never canonicalize equal → no ReusedExchange). The occurrence
    // test is instead a windowed count over `partition by fp`:
    // corpus scanned once, exploded once, shuffled once; the window
    // sorts only within fp partitions and spills per-group, so a
    // span shared by 10⁶ docs costs one spilled group, not a
    // collect_list blow-up or a 10⁶-row join build.
    val anchors = splitToksMin(docs, content, id, minLen)
      .select(col("doc_id"), posexplode(column(graft.expressions.ShinglesAll(
        expression(col("toks")), expression(lit(minLen))))).as(Seq("i", "g")))
      .select(col("doc_id"), (col("i") + 1).as("pos"),
        md5(col("g").cast("binary")).as("fp"))
    val dupPos = anchors
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("occ") >= minOcc)
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("start_pos"), max("pos").as("end_pos"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + minLen).as("region_len"),
        col("n_windows"))
  }

  /** Per-source duplication report — the number a curation dashboard
    * actually shows: for every source, how many documents carry
    * duplicated regions and what fraction of its TOKENS sits inside
    * one. Composes [[dedupRegions]] with
    * [[ProductAnalytics.intervalCoverage]]: regions become half-open
    * token intervals `[start_pos, end_pos + minLen)` and the coverage
    * union handles the subtlety that ANCHOR-level islands separated by
    * a short gap still overlap at the TOKEN level (two islands whose
    * anchor gap is < minLen share covered tokens — summing region_len
    * would double-count them; the interval union does not).
    *
    * Exactness: every sum is BIGINT; the one division (dup_fraction)
    * happens once per source row on the final aggregates — portable.
    * Docs without regions join as zero coverage (LEFT join).
    *
    * Scale shape: [[dedupRegions]]'s linear chain, then one per-DOC
    * interval union (windows bounded by a doc's region count) and one
    * map-side-combinable per-source aggregation. |sources|-bounded
    * output.
    *
    * @return (source, n_docs, docs_with_dups, total_tokens,
    *         dup_tokens, dup_fraction)
    */
  def duplicationReport(docs: DataFrame, content: Column, id: Column,
                        src: Column, minLen: Int = 20,
                        minOcc: Int = 2): DataFrame = {
    val regions = dedupRegions(docs, content, id, minLen, minOcc)
    val cov = ProductAnalytics.intervalCoverage(regions, col("doc_id"),
        col("start_pos").cast(LongType),
        (col("end_pos") + minLen).cast(LongType))
      .select(col("k").as("doc_id"), col("covered"))
    // empty/whitespace-leading docs must not be credited a phantom ""
    // token (the Curate.temperatureMixture convention — one token
    // definition across the codebase), so filter before counting.
    // Coverage positions, however, come out of [[dedupRegions]] over
    // the UNFILTERED split (its positions must line up with q181/q188
    // anchor positions, which index the raw split) — on a
    // whitespace-LEADING doc that space is one position wider than
    // n_tok, so clamp per-doc coverage at n_tok: dup_tokens never
    // exceeds total_tokens and dup_fraction stays in [0, 1].
    docs.select(src.as("source"), id.as("doc_id"),
        size(filter(split(content, "\\s+"), t => t =!= ""))
          .cast(LongType).as("n_tok"))
      .join(cov, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("covered").isNotNull, 1L).otherwise(0L))
          .as("docs_with_dups"),
        sum("n_tok").as("total_tokens"),
        sum(least(coalesce(col("covered"), lit(0L)), col("n_tok")))
          .as("dup_tokens"))
      .withColumn("dup_fraction",
        col("dup_tokens").cast(DoubleType) /
          col("total_tokens").cast(DoubleType))
  }

  /** Oracle for [[duplicationReport]]: the [[dedupRegionsOracle]]
    * chain, intervals unioned per doc with the running-max island
    * trick ([[ProductAnalytics.intervalCoverageOracle]] idiom), then
    * the per-source rollup.
    */
  def duplicationReportOracle(minLen: Int = 20, minOcc: Int = 2,
                              source: String = "documents"): String = {
    val nm1 = minLen - 1
    s"""WITH a AS (
       |  SELECT doc_id, i AS pos,
       |    MD5(ARRAY_TO_STRING(LIST_SLICE(toks, i, i + $nm1), ' ')) AS fp
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |        FROM $source),
       |    UNNEST(GENERATE_SERIES(1, LEN(toks) - $nm1)) AS u(i)),
       |d AS (SELECT fp FROM a GROUP BY fp HAVING COUNT(*) >= $minOcc),
       |p AS (SELECT a.doc_id, a.pos FROM a JOIN d USING (fp)),
       |i AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS grp
       |  FROM p),
       |reg AS (
       |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + $minLen AS e
       |  FROM i GROUP BY doc_id, grp),
       |m AS (
       |  SELECT doc_id, s, e,
       |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM reg),
       |g AS (
       |  SELECT doc_id, s, e,
       |    SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e
       |        ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM m),
       |islands AS (
       |  SELECT doc_id, isl, MIN(s) AS s0, MAX(e) AS e1
       |  FROM g GROUP BY doc_id, isl),
       |cov AS (
       |  SELECT doc_id, SUM(e1 - s0) AS covered
       |  FROM islands GROUP BY doc_id),
       |dt AS (
       |  SELECT source, doc_id,
       |    LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
       |                    t -> t <> '')) AS n_tok
       |  FROM $source)
       |SELECT dt.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN cov.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS docs_with_dups,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(SUM(LEAST(COALESCE(covered, 0), n_tok)) AS BIGINT)
       |    AS dup_tokens,
       |  CAST(SUM(LEAST(COALESCE(covered, 0), n_tok)) AS DOUBLE)
       |    / CAST(SUM(n_tok) AS DOUBLE) AS dup_fraction
       |FROM dt LEFT JOIN cov ON dt.doc_id = cov.doc_id
       |GROUP BY dt.source ORDER BY dt.source""".stripMargin
  }

  /** Oracle for [[dedupRegions]]: identical md5 windows, HAVING-count
    * duplicate filter, ROW_NUMBER gaps-and-islands.
    */
  def dedupRegionsOracle(minLen: Int = 20, minOcc: Int = 2,
                         source: String = "documents"): String = {
    val nm1 = minLen - 1
    s"""WITH a AS (
       |  SELECT doc_id, i AS pos,
       |    MD5(ARRAY_TO_STRING(LIST_SLICE(toks, i, i + $nm1), ' ')) AS fp
       |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS toks
       |        FROM $source),
       |    UNNEST(GENERATE_SERIES(1, LEN(toks) - $nm1)) AS u(i)),
       |d AS (SELECT fp FROM a GROUP BY fp HAVING COUNT(*) >= $minOcc),
       |p AS (SELECT a.doc_id, a.pos FROM a JOIN d USING (fp)),
       |i AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS grp
       |  FROM p)
       |SELECT doc_id, CAST(MIN(pos) AS INT) AS start_pos,
       |  CAST(MAX(pos) AS INT) AS end_pos,
       |  CAST(MAX(pos) - MIN(pos) + $minLen AS INT) AS region_len,
       |  CAST(COUNT(*) AS BIGINT) AS n_windows
       |FROM i GROUP BY doc_id, grp
       |ORDER BY doc_id, start_pos""".stripMargin
  }
}
