package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar column library (SURVEY §2 rows P1-P9, F1-F8).
  *
  * Everything here is a pure `Column => Column` composition of built-in,
  * codegen-friendly Spark expressions — no UDFs, so Catalyst can fold,
  * push down, and whole-stage-codegen through every one of them.
  *
  * Reference behavior being reproduced (cited file:line are in
  * /root/reference):
  *  - snake-casing: ingestion/src/ingestion/utils.py:21-31
  *  - slugify:      ingestion/src/ingestion/fastf1_ingest.py:75
  *  - ns durations: ai/rag_api/main.py:63 ("Times are stored as nanoseconds")
  *  - ns → pretty:  dashboard/app.py:48-53
  *  - defensive ts: dashboard/app.py:61-68
  *  - safe_* macros: transform/macros/compat.sql:3-6, safe.sql:1-3
  */
object Fns {

  /** P1 — column snake-casing: lowercase, collapse non-alphanumerics to `_`,
    * strip leading/trailing `_`. Matches the reference exactly: camelCase
    * yields separator-free names (`LapTime` → `laptime`).
    * Ref: ingestion/src/ingestion/utils.py:21-31.
    */
  def toSnake(name: String): String =
    name.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")

  /** P4 — "keys first, then the remaining columns in original order"
    * star-exclude projection shape (silver/laps.sql:4-9).
    */
  def keysFirst(df: DataFrame, keys: Seq[String]): DataFrame = {
    val rest = df.columns.filterNot(keys.contains)
    df.select((keys ++ rest).map(col).toIndexedSeq: _*)
  }

  /** F1 — slugify: "Bahrain Grand Prix" → "bahrain-grand-prix".
    * Ref: fastf1_ingest.py:5,75 (python-slugify; ASCII inputs only in F1
    * event names, so transliteration is not needed).
    */
  def slugify(c: Column): Column =
    regexp_replace(
      regexp_replace(lower(trim(c)), "[^a-z0-9]+", "-"),
      "^-+|-+$", "")

  /** F2 — int64 nanoseconds → fractional seconds (dashboard/app.py:56-58). */
  def nsToSeconds(c: Column): Column = c / lit(1e9)

  /** F3 — int64 nanoseconds → zero-padded "mm:ss.mmm"
    * (dashboard/app.py:48-53). floor() before cast keeps the arithmetic
    * identical across engines (DuckDB CAST(double AS BIGINT) rounds,
    * Spark truncates — floor removes the difference).
    *
    * Built from concat/lpad rather than format_string: Spark's
    * format_string goes through java.util.Formatter (~µs per call —
    * 2-3× the whole row pipeline on a wide scan), while concat/lpad
    * are codegen'd byte copies. Semantics are identical to
    * "%02d:%02d.%03d" for the non-negative durations the reference
    * stores: seconds/millis are range-bounded (<60, <1000) so lpad
    * never truncates, and minutes ≥100 print unpadded exactly like
    * %02d would.
    */
  def nsToPretty(ns: Column): Column = {
    val mins = floor(ns / lit(60000000000L)).cast(LongType)
    val secs = (floor(ns / lit(1000000000L)) % 60).cast(LongType)
    val ms = (floor(ns / lit(1000000L)) % 1000).cast(LongType)
    concat(
      when(mins < 10, concat(lit("0"), mins.cast(StringType)))
        .otherwise(mins.cast(StringType)),
      lit(":"), lpad(secs.cast(StringType), 2, "0"),
      lit("."), lpad(ms.cast(StringType), 3, "0"))
  }

  /** P2 — error-tolerant int promotion (silver/laps.sql:5-6 try_cast).
    *
    * NOT `c.try_cast(IntegerType)` (round 14): under ANSI mode (the
    * Spark 4 default) try_cast evaluates the THROWING cast and catches
    * per row — on a column where most values are non-numeric (q02's
    * market segments) that is an exception-throw-per-row hot path,
    * measured 3.0-3.6 s vs 0.3-0.6 s for this guarded form on 2M rows
    * (graft.TcProbe, 50% non-numeric). Instead the integer grammar is
    * made EXPLICIT — optional ASCII control/space padding (the set
    * UTF8String.trimAll strips), optional sign, leading zeros, and at
    * most 18 significant digits (more cannot fit int anyway; try_cast
    * nulls them via overflow, this nulls them via no-match — same
    * result) — extracted once per row with a cached regex, cast on the
    * guaranteed-parseable match only, and range-checked into int.
    * Deterministic and engine-portable by construction (the grammar is
    * in the expression, not in an engine's parse internals); probed
    * value-identical to try_cast on signs, padding (space/\t/\n/\r/
    * \x0B), empty, decimals, exponents, hex, inner spaces, int and
    * long overflow, and 21-digit zero-padded values.
    */
  def tryCastInt(c: Column): Column = {
    val m = regexp_extract(c.cast(StringType),
      "^[\\x00-\\x20]*([+-]?0*\\d{1,18})[\\x00-\\x20]*$", 1)
    val lng = when(length(m) > 0, m.cast(LongType))
    when(lng.between(Int.MinValue, Int.MaxValue), lng.cast(IntegerType))
  }

  /** F6 — safe_text macro: nullif(trim(cast(x as varchar)), '').
    * compat.sql:6 has a latent `""` identifier bug; we implement the
    * intended `''` semantics (SURVEY §2 F6).
    */
  def safeText(c: Column): Column =
    nullif(trim(c.cast(StringType)), lit(""))

  /** F8 — bool_to_int macro (transform/macros/safe.sql:1-3). */
  def boolToInt(c: Column): Column = when(c, 1).otherwise(0)

  /** P8 — NULL/empty normalization:
    * COALESCE(NULLIF(x, ''), fallback)  ([DSS]:10).
    */
  def emptyToFallback(c: Column, fallback: Column): Column =
    coalesce(nullif(c, lit("")), fallback)

  /** F4 — defensive datetime parse (dashboard/app.py:61-68): try a direct
    * timestamp parse, else interpret the value as int64 nanoseconds.
    */
  def defensiveTs(c: Column): Column =
    coalesce(
      c.try_cast(TimestampType),
      timestamp_micros(floor(c.try_cast(DoubleType) / lit(1000.0)).cast(LongType)))

  /** Exact, engine-order-independent SUM of a double column: cast each value
    * to DECIMAL(38,6) first so partial/final aggregation order cannot
    * change the result (double summation is not associative; decimal is).
    * This is the idiom every money/measure SUM in the library uses — it is
    * also what makes results hash-identical to a single-threaded oracle.
    */
  def exactSum(c: Column): Column = sum(c.cast(DecimalType(38, 6)))

  /** `exactSum` with the final value cast back to DOUBLE. The accumulation
    * stays decimal (order-independent, exact); only the OUTPUT type changes.
    * Use this whenever the sum is a result column: a DECIMAL(38,6) output
    * column stringifies differently across engines ("253942.000000" vs
    * "253942.0") even when values are equal, so hash-parity requires the
    * double representation on both sides — mirror with
    * `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)` in oracle SQL.
    * Keep plain `exactSum` for intermediates that are re-aggregated or
    * only filtered on.
    */
  def exactSumD(c: Column): Column = exactSum(c).cast(DoubleType)

  /** Exact, order-independent SUM for a double column whose values are
    * known to live on a FIXED decimal scale (money at scale 2, a product
    * of two scale-2 columns at scale 4, integral quantities at scale 0).
    * Each value is scaled to an int64 (`round` clears the ~1 ulp of double
    * representation noise), summed in LongType — associative, exact, and
    * codegen-cheap (no BigDecimal in the inner loop, unlike `exactSum`'s
    * DECIMAL(38,6) accumulator) — and descaled to DOUBLE at output.
    *
    * Oracle mirror: `CAST(SUM(CAST(FLOOR(x * 10^s + 0.5) AS BIGINT)) AS
    * DOUBLE) / 10^s` — both engines compute the identical IEEE product,
    * snap it to the same integer, sum exactly, and perform the same
    * final division, so results are bit-identical. `floor(v + 0.5)`
    * rather than `round(v)` because Spark's Round on doubles detours
    * through BigDecimal per row while floor stays in codegen'd double
    * arithmetic; the two differ only on exact .5 ties, which cannot
    * occur here (the scaled value sits within ~1e-7 of an integer).
    *
    * Preconditions the caller owns: values exactly representable at
    * `scale` (else this computes a round-at-scale sum, still
    * deterministic but not the true sum), and |sum of scaled values| <
    * 2^63 (at scale 4 that allows ~9·10^14 absolute sum — far beyond any
    * per-group money total; for unbounded global sums keep `exactSumD`,
    * which is the general path).
    */
  def exactSumScaled(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 9, s"scale $scale out of supported range")
    val factor = math.pow(10, scale) // exact double for scale <= 15
    val scaled =
      if (scale == 0) floor(c + lit(0.5)) else floor(c * lit(factor) + lit(0.5))
    val total = sum(scaled.cast(LongType)).cast(DoubleType)
    if (scale == 0) total else total / lit(factor)
  }

  /** Deterministic AVG built from the exact decimal SUM: the sum is exact,
    * the final decimal→double conversion and the IEEE division are
    * deterministic, so the result is bit-identical regardless of
    * parallelism. (Plain avg(double) is partition-order-dependent.)
    */
  def exactAvg(c: Column): Column =
    exactSum(c).cast(DoubleType) / count(c)

  /** [[exactAvg]] on the [[exactSumScaled]] accumulator — for fixed-scale
    * inputs the average inherits the scaled sum's codegen-cheap exactness.
    * Oracle mirror: `(CAST(SUM(CAST(FLOOR(x*10^s+0.5) AS BIGINT)) AS
    * DOUBLE) / 10^s) / COUNT(x)` — the division chain must match
    * parenthesis-for-parenthesis (two IEEE divisions, same order).
    */
  def exactAvgScaled(c: Column, scale: Int): Column =
    exactSumScaled(c, scale) / count(c)

  /** Parallelism guard for compute-heavy map stages rooted directly on
    * a scan (round 13): repartition ONLY when the source plan has fewer
    * partitions than the session's shuffle parallelism. On a cluster
    * reading a 100 TB table the scan already has thousands of splits
    * and this is an identity — no shuffle is ever added; on a
    * single-row-group local file (unsplittable below file level, the
    * bench shape) every downstream per-token md5 / explode / partial
    * aggregate would otherwise run on ONE core regardless of
    * local[32]. The count is pinned because AQE's byte-based
    * coalescing folds a small-byte / heavy-CPU frame back to ~1 MB
    * partitions, re-serializing exactly the work the exchange exists
    * to spread; keyed (not round-robin) so the shuffle is
    * deterministic under retries.
    */
  /** CALLER HAZARD (round 14, the q190/q178/q198 finding): the spread
    * only moves PROJECTIONS above the exchange — Catalyst pushes
    * FILTERS below it, and a filter referencing a heavy alias
    * (user-written `size(ws) >= 2`, or the `size(..) > 0` filter
    * `InferFiltersFromGenerate` mints for a plain `explode` of an
    * attribute) is rewritten in terms of the underlying expression and
    * re-runs the whole tokenize/shingle INSIDE the narrow scan stage.
    * Downstream of a spread, guard with CASE-WHEN inside the
    * projection and use `explode_outer` + an explicit null filter
    * instead of `explode` + size filters.
    */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame =
    spreadIfNarrow(df, key, SpreadMinBytes)

  /** [[spreadIfNarrow]] with a caller-chosen tiny-input threshold:
    * the default gate assumes sub-[[SpreadMinBytes]] scans carry at
    * most ~a second of one-core map work, which is false for
    * regex-heavy text kernels on compressed text (r17 q178 StageProbe:
    * a 0.6 MB documents scan carried ~1.8 s of single-task
    * regexp_extract_all+explode). Such callers pass a lower
    * `minBytes` (0 = spread whenever narrow and scan-shaped).
    */
  def spreadIfNarrow(df: DataFrame, key: Column,
                     minBytes: Long): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Probe the partition count only for scan-shaped inputs: on a frame
    // with shuffle stages, `.rdd` under AQE materializes every upstream
    // exchange just to read a count (the pipeline would run TWICE) —
    // and such a frame already carries shuffle-partition parallelism,
    // so the spread is unnecessary there anyway. (Same discipline as
    // Dedup.tokenizedDocs, which predates this helper.)
    if (df.isStreaming) return df // no .rdd / batch repartition on streams
    val scanShaped = isScanShaped(df)
    // Tiny-input gate (round-13 part 3): the spread is one extra stage
    // whose scheduling barrier costs ~0.3–0.5 s at local[32] REGARDLESS
    // of data size, so on a sub-megabyte scan it BUYS less single-core
    // map time than it spends (measured at sf0.1: the simhash family
    // paid +1.0–1.9 s per derivation for a 0.6 MB input; r12-code
    // control on the same box confirmed the delta is the spread, not
    // the box). Catalyst's file-size-based estimate on the projected
    // scan is free to read and scale-faithful: below SpreadMinBytes the
    // whole map stage is seconds of one-core work at most — skip; above
    // it the spread amortizes immediately (the sf1 wins: 8.0→2.7 s on
    // 6 MB inputs). At cluster scale the partition-count probe already
    // short-circuits (multi-split scans), so the gate only ever fires
    // where it was measured to matter.
    val tiny = scanShaped &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes
    if (!tiny && scanShaped && df.rdd.getNumPartitions < n)
      df.repartition(n, key)
    else df
  }

  /** True when `df` is a scan-shaped input below [[SpreadMinBytes]] —
    * the same tiny-input test [[spreadIfNarrow]] gates on, exposed for
    * callers that must make the MATCHING sequencing decision: an eager
    * cache-fill action before consumers fan out is a serial barrier
    * worth paying only when the fill parallelizes (i.e. when the
    * spread fired). On a tiny unspread input the racing per-consumer
    * recomputes run CONCURRENTLY on idle cores and cost less
    * wall-clock than one serial single-task fill job (round-15 q208
    * StageProbe: a 0.31 s one-task fill stage on a 0.6 MB corpus that
    * r13's race overlapped to near zero).
    */
  def tinyScan(df: DataFrame): Boolean =
    !df.isStreaming && isScanShaped(df) &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes < SpreadMinBytes

  /** True when `df`'s analyzed plan has no operator that shuffles or
    * sorts: no aggregate, join, window, distinct, dedup, repartition or
    * sort. Only such a frame still has its scan's partitioning.
    */
  private[graft] def isScanShaped(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical
    df.queryExecution.analyzed.collectFirst {
      case _: logical.Aggregate                  => ()
      case _: logical.Join                       => ()
      case _: logical.Window                     => ()
      case _: logical.Distinct                   => ()
      case _: logical.Deduplicate                => ()
      case _: logical.DeduplicateWithinWatermark => ()
      case _: logical.RepartitionOperation       => ()
      case _: logical.Sort                       => ()
    }.isEmpty
  }

  /** Break-even input size for [[spreadIfNarrow]]: below this the one
    * extra exchange stage costs more wall-clock than the single-core
    * map work it parallelizes (measured on the simhash family — see
    * PLANS round-13 part 3). The 2 MB value encodes THIS BOX's
    * measured stage-scheduling floor (~0.3–0.5 s per barrier at
    * local[32]) against ~1–2 s/MB of heavy per-doc map work: barrier
    * cost ≈ map time of ~0.5–1 MB, doubled for margin. If the
    * scheduling floor changes (different cluster, faster scheduler),
    * re-derive the threshold from those two measurements rather than
    * trusting the constant.
    */
  val SpreadMinBytes: Long = 2L << 20
}
