package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Table profiling: per-column row/null/distinct counts, unpivoted to
  * a row per column.
  *
  * `exact = false` (THE DEFAULT) estimates distincts with HLL sketches:
  * the whole profile is ONE aggregate pass — counts, null counts and
  * one mergeable sketch per column — with no shuffle amplification. At
  * 100 TB this is the only sane default: the exact multi-distinct form
  * plans an Expand that duplicates the scan stream once per profiled
  * column ((k+1)× rows through the shuffle for k columns).
  *
  * `exact = true` is the opt-in for when exact distincts are worth the
  * Expand (small tables, audit passes) — the q126-gated shape.
  *
  * In sketch mode the output carries the q62-style hash-checkable
  * contract: the EXACT count (one gate-only multi-distinct aggregate)
  * plus a boolean asserting the sketch landed within the 5% bound.
  * The oracle emits the exact count and literal TRUE, so a wildly-off
  * estimate fails the gate while bit-level sketch differences do not.
  * At 100 TB the exact branch is dropped and the profile ships the
  * sketch alone — it exists here to make approximation a CHECKED
  * claim, not a vibe.
  */
object Profiling {

  /** Default distinct-value cap for the operators whose ranking window
    * is sized by the VALUE DOMAIN ([[equiFreqBins]], [[ksDrift]],
    * [[skyline2D]]): 2²⁴ ≈ 16.7M — far above any deliberately
    * discretized measure (e.g. the cents domain of a bounded price is
    * ~10⁷ whatever the row count) yet small enough that a genuinely
    * continuous column (distincts ≈ rows, billions at scale) fails
    * loudly instead of funneling the data through one sort task.
    */
  val DefaultMaxDomain: Long = 1L << 24

  /** Default window-vs-bucketed crossover for the ADAPTIVE rankings
    * ([[robustStats]]): below this distinct-value count the one-window
    * cumulative ranking wins (fewest stages; the per-group sort is
    * trivial), above it the range-bucketed [[lowerQuantileW]] wins —
    * a `partitionBy(g)` window funnels the whole count frame through
    * |G| tasks, so a low-cardinality grouping over a wide value
    * domain (the r13 sf1 measurement: 5.5M distinct cents over 3
    * groups) pays |G|-parallel sorts where the bucketed path stays
    * cluster-parallel (measured 1.5× at sf1, and the gap grows with
    * D/|G|). Both paths compute the identical exact statistic.
    */
  val DefaultWindowRankDomain: Long = 1L << 20

  /** |G| ceiling under which the quantile machinery's per-group stats
    * frames (bounds: 3 longs + key; targets: |qs| small structs per
    * group) are explicitly broadcast — ~40 B/group puts 2²⁰ groups at
    * ~40 MB, comfortably inside executor broadcast budgets. Above it
    * the frames join by shuffle, which is well-spread precisely
    * because g then has ≥ 2²⁰ values.
    */
  val BroadcastGroupLimit: Long = 1L << 20

  /** Loud bounded-domain gate: materialize the distinct-value frame,
    * probe its size, and refuse to run the global-order window over a
    * frame larger than `maxDomain`. The probe's cost is one count on
    * the already-needed materialized frame; the failure mode it
    * replaces is a data-sized single-partition window sort that would
    * otherwise just hang/spill at scale with no hint of the cause.
    * Returns the materialized frame for reuse.
    */
  private def requireBoundedDomain(op: String, distinctFrame: DataFrame,
                                   maxDomain: Long): DataFrame =
    requireBoundedDomainN(op, distinctFrame, maxDomain)._1

  /** [[requireBoundedDomain]] variant that also returns the probed
    * count, for callers whose physical shape adapts to the domain size
    * (the [[ksCore]] window-vs-bucketed arm choice) — the count is
    * already paid for by the gate, so the arm choice costs nothing.
    */
  private def requireBoundedDomainN(op: String, distinctFrame: DataFrame,
                                    maxDomain: Long): (DataFrame, Long) = {
    require(maxDomain >= 1L, s"maxDomain ($maxDomain) must be >= 1")
    val m = distinctFrame.localCheckpoint(eager = true)
    val nd = m.count()
    if (nd > maxDomain)
      throw new IllegalArgumentException(
        s"$op: the distinct-value frame holds $nd rows, above " +
          s"maxDomain=$maxDomain. This operator ranks the value DOMAIN " +
          "in one global-order window; a continuous measure makes that " +
          "window data-sized in a single partition. Discretize the " +
          "column first (fixed-width buckets, cents, equiFreqBins " +
          "edges) or raise maxDomain deliberately.")
    (m, nd)
  }

  /** `exactCheck` (sketch mode only): attach the exact distincts and
    * the within-bound flag — the gate contract. `false` is the 100 TB
    * production shape: the sketch pass alone, `n_distinct` carries the
    * estimate, no Expand anywhere in the plan (spec-asserted).
    */
  def tableProfile(df: DataFrame, cols: Seq[String],
                   exact: Boolean = false,
                   exactCheck: Boolean = true): DataFrame =
    if (exact) exactProfile(df, cols)
    else sketchProfile(df, cols, exactCheck)

  /** Exact equal-frequency binning (round 5; bucketed round 14) — the
    * feature-engineering twin of the q127 percentile machinery: split
    * an integer measure into `bins` quantile buckets and profile each.
    *
    * Boundary j (j = 1..bins−1) is the k_j-th smallest value with
    * k_j = ⌈j·n/bins⌉ in pure integer arithmetic; a row's bin is
    * 1 + |{j : boundary_j < x}| — strictly-less, so EQUAL VALUES ALWAYS
    * SHARE A BIN (value-deterministic, partition-independent; bins can
    * be unevenly sized exactly when ties straddle a boundary, which is
    * the price of determinism).
    *
    * Scale shape (round 14): all bins−1 boundaries come from ONE
    * [[lowerQuantilesW]] range-bucketed pass at ranks (j, bins) —
    * identical k_j arithmetic, but the per-value work is a
    * map-side-combined |buckets|-row count, never a window over the
    * value DOMAIN (the round-5 rank-distinct form sorted every
    * distinct value through a single partition: 4.6 M rows
    * single-core on the widened sf1 fixture, 5.6 → ~2 s after the
    * reroute). Continuous measures are therefore FINE here now — the
    * old `maxDomain` gate is gone because the hazard it guarded is
    * gone. Caller contract (inherited from the bucket arithmetic, as
    * [[weightedMedian]]/[[robustStats]]): (max−min)·buckets must fit
    * int64 — enforced at runtime by [[lowerQuantilesW]]'s bounds-pass
    * gate, which fails loudly instead of wrapping. Boundaries land in ONE single-row frame and broadcast
    * back — the per-row bin assignment is a statically unrolled
    * comparison chain, map-side, no driver collect anywhere.
    */
  def equiFreqBins(df: DataFrame, value: Column, bins: Int,
                   buckets: Int = 64): DataFrame = {
    require(bins >= 2, s"bins ($bins) must be >= 2")
    val bounds = lowerQuantilesW(
      df.select(lit(1L).as("g"), value.as("x"), lit(1L).as("w")),
      (1 until bins).map(j => (s"b_$j", j.toLong, bins.toLong)),
      buckets).drop("g", "n")
    val bin = (1 until bins)
      .map(j => when(col(s"b_$j") < col("x"), 1).otherwise(0))
      .reduce(_ + _) + 1
    df.select(value.as("x"))
      .crossJoin(broadcast(bounds))
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        (sum(col("x")).cast(DoubleType) / count(lit(1))).as("mean_x"))
  }

  /** Oracle for [[equiFreqBins]] over an integer-SQL value expression. */
  def equiFreqBinsOracle(valueSql: String, table: String, bins: Int): String = {
    val ks = (1 until bins)
      .map(j => s"MAX(CASE WHEN cum - cnt < (n * $j + ${bins - 1}) // $bins " +
        s"AND cum >= (n * $j + ${bins - 1}) // $bins THEN x END) AS b_$j")
      .mkString(",\n    ")
    val binExpr = (1 until bins)
      .map(j => s"CASE WHEN b.b_$j < v.x THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH v AS (SELECT $valueSql AS x FROM $table),
       |c AS (SELECT x, COUNT(*) AS cnt FROM v GROUP BY x),
       |r AS (
       |  SELECT x, cnt,
       |    SUM(cnt) OVER (ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER () AS n
       |  FROM c),
       |b AS (SELECT $ks FROM r)
       |SELECT $binExpr + 1 AS bin, COUNT(*) AS n_rows,
       |  MIN(v.x) AS min_x, MAX(v.x) AS max_x,
       |  CAST(SUM(v.x) AS DOUBLE) / COUNT(*) AS mean_x
       |FROM v, b
       |GROUP BY bin ORDER BY bin""".stripMargin
  }

  private def exactProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        countDistinct(col(c)).as(s"dist_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c => struct(
      lit(c).as("column_name"), col("n_rows"),
      col(s"null_$c").as("n_null"), col(s"dist_$c").as("n_distinct")))
    wide.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  private def sketchProfile(df: DataFrame, cols: Seq[String],
                            exactCheck: Boolean): DataFrame = {
    // one pass: count + per-column null counts + per-column HLL.
    // Sketch partials merge associatively — no Expand, no per-distinct
    // keying of the shuffle (the q62 plan lesson). DataSketches HLL
    // (hll_sketch_agg), not approx_count_distinct: the HLL++
    // ImperativeAggregate's interpreted per-row update measured ~2 s
    // for 4 columns × 600k rows where the DataSketches update is near
    // free (q128 3.16 → 0.94 s at sf0.1; the remainder is mostly the
    // gate-only exact branch). Inputs cast to string — an injective
    // mapping, so the sketch sees exactly one value per distinct
    // column value (the function accepts only int/long/string/binary).
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        hll_sketch_estimate(
          hll_sketch_agg(col(c).cast("string"))).as(s"ad_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    if (!exactCheck) {
      // the 100 TB production shape: sketch pass only, estimate IS the
      // reported distinct count, no Expand in the plan
      val rows = cols.map(c => struct(
        lit(c).as("column_name"), col("n_rows"),
        col(s"null_$c").as("n_null"),
        col(s"ad_$c").cast(LongType).as("n_distinct")))
      return wide.select(explode(array(rows: _*)).as("r")).select("r.*")
    }
    // gate-only exact branch: ONE multi-distinct aggregate (it pays
    // the q126 Expand, but once — k separate two-phase distincts cost
    // k extra scans, measured worse at any scale).
    val exacts = df.agg(
      countDistinct(col(cols.head)).as(s"ex_${cols.head}"),
      cols.tail.map(c => countDistinct(col(c)).as(s"ex_$c")): _*)
    val joined = wide.crossJoin(exacts)
    val rows = cols.map(c => struct(
      lit(c).as("column_name"), col("n_rows"),
      col(s"null_$c").as("n_null"),
      col(s"ex_$c").as("n_distinct"),
      (abs(col(s"ad_$c").cast(LongType) - col(s"ex_$c")).cast(DoubleType) /
        col(s"ex_$c") <= lit(0.05)).as("within_bound")))
    joined.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** 2-D skyline (Pareto frontier): rows not dominated by any other
    * row — a dominates b iff a.mn <= b.mn AND a.mx >= b.mx with one
    * strict. The textbook formulation is a quadratic NOT-EXISTS
    * dominance join (the oracle keeps it as the truth spec); this one
    * is the scale-safe shape, the q127 distinct-value trick applied to
    * skylines:
    *
    *   1. aggregate to one row per distinct `mn` value carrying
    *      max(mx) — ONE shuffle, output bounded by D = |distinct mn|;
    *   2. a running max over the D-row frame ordered by mn finds, for
    *      each value, the best mx among all STRICTLY smaller mn — a
    *      window over D rows, not N;
    *   3. a value survives iff its max(mx) beats every cheaper point;
    *      survivors broadcast back, and a row is on the skyline iff its
    *      mn survived and its mx equals that value's max (same-mn rows
    *      below the max are dominated within the group; ties all
    *      survive — dominance requires one strict inequality).
    *
    * @param df input frame
    * @param id passthrough identity column
    * @param minimize integer dimension being minimized (`mn`)
    * @param maximize integer dimension being maximized (`mx`)
    * @return (id, mn, mx) — the non-dominated rows
    */
  def skyline2D(df: DataFrame, id: Column,
                minimize: Column, maximize: Column,
                maxDomain: Long = DefaultMaxDomain): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select(id.as("id"), minimize.as("mn"), maximize.as("mx"))
    val g = requireBoundedDomain("skyline2D",
      v.groupBy("mn").agg(max("mx").as("best_mx")), maxDomain)
    // distinct mn values: rows-frame 'all preceding' == strictly smaller
    val w = Window.orderBy("mn").rowsBetween(Window.unboundedPreceding, -1)
    val surv = g.withColumn("best_cheaper", max("best_mx").over(w))
      .filter(col("best_cheaper").isNull || col("best_mx") > col("best_cheaper"))
      .select(col("mn").as("s_mn"), col("best_mx").as("s_mx"))
    v.join(broadcast(surv),
        col("mn") === col("s_mn") && col("mx") === col("s_mx"))
      .select("id", "mn", "mx")
  }

  /** Oracle for [[skyline2D]]: the quadratic NOT-EXISTS dominance
    * definition — the independent truth spec for the windowed form.
    */
  def skyline2DOracle(table: String, idSql: String,
                      minimizeSql: String, maximizeSql: String): String =
    s"""WITH v AS (
       |  SELECT $idSql AS id, $minimizeSql AS mn, $maximizeSql AS mx
       |  FROM $table)
       |SELECT id, mn, mx FROM v b
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM v a
       |  WHERE a.mn <= b.mn AND a.mx >= b.mx
       |    AND (a.mn < b.mn OR a.mx > b.mx))
       |ORDER BY id""".stripMargin

  /** Per-group robust statistics over integer measures, all EXACT and
    * order-independent: mode (most frequent `modeOf` value, minimum
    * value breaking count ties), lower median of `spreadOf`, and the
    * median absolute deviation around that median.
    *
    * Lower median = k-th smallest with k = (n+1) div 2 — integer-exact
    * (no interpolation, hence no float) and identical on both engines.
    * Every ranking runs over DISTINCT values per group (the q127
    * pattern): the window input is D rows, never N, so a
    * low-cardinality group key cannot produce a billion-row window
    * sort. The per-group medians frame is |G|-sized and joins back for
    * the deviation pass — with NO forced broadcast hint: AQE
    * broadcasts it when |G| is actually small and falls back to a
    * shuffle join when a high-cardinality grouping would otherwise
    * OOM the driver (hint removal = the frequentPairs discipline).
    *
    * Scale shape — ONE scan of the data into a lineage-intact
    * spillable cache (round 14). The projected (g, q, x) frame is
    * persisted MEMORY_AND_DISK and every pass — bounds, mode counts,
    * both rankings — reads the cache, so the fact is scanned once
    * whatever the value domain. The earlier form built a GROUPING
    * SETS count frame instead: correct, but its Expand doubles the
    * corpus map-side, its shuffle and eager localCheckpoint are
    * DATA-sized whenever the measure is near-continuous (sf1: 5.5 M
    * distinct cents of 6 M rows — no compression), and a truncated-
    * lineage corpus-scale checkpoint is unrecoverable on executor
    * loss (the round-14 ADVICE hazard; persist keeps lineage). The
    * bucket aggregates the rankings are built on combine map-side to
    * |G|·B rows, so nothing data-sized ever shuffles off the cache.
    * The MAD's second ranking is inherent — |x − med| needs med —
    * but its bucketing BOUNDS derive arithmetically from the median
    * pass's ([0, max(hi−med, med−lo)] bounds any deviation), so the
    * MAD leg adds no extra bounds pass.
    *
    * Ranking path is ADAPTIVE on the per-group distinct-value count
    * (an HLL estimate riding the bounds aggregate — the arm choice
    * is a performance crossover, both arms exact, so an estimate
    * cannot change the statistic): within `maxWindowDomain` the
    * med/mad rankings run as ONE distinct-value cumulative window
    * each over a freshly counted (g, x) frame ([[medianFromCounts]],
    * the q127 "window input is D rows, never N" pattern); above it —
    * a genuinely continuous measure — they take the range-bucketed
    * [[lowerQuantilesW]], which never funnels more than ~n/B rows
    * through an ordered path. Both paths compute the identical exact
    * statistic, so the choice is invisible to the oracle.
    *
    * @return (g, mode_val, med, mad) one row per group
    */
  def robustStats(df: DataFrame, grp: Column,
                  modeOf: Column, spreadOf: Column,
                  maxWindowDomain: Long = DefaultWindowRankDomain): DataFrame = {
    // spread the cache to session parallelism (r17 StageProbe: every
    // data pass ran 3 tasks on 32 cores — the 3-split fixture layout
    // rode through the persist; at real scale this is a no-op)
    val v = graft.operators.Dedup.spreadScan(
        df.select(grp.as("g"), modeOf.as("q"), spreadOf.as("x")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.Dedup.selfCleaning(v) {
      // one bounds pass (materializes the cache as a side effect):
      // per-group lo/hi/n for the rankings plus the HLL distinct-x
      // estimate for the arm choice. |G|-sized, eager-checkpointed so
      // the driver probes below read a local block.
      val bounds = v.groupBy("g")
        .agg(min("x").as("__lo"), max("x").as("__hi"),
          count(lit(1)).as("__n"),
          approx_count_distinct(col("x")).as("__dx"))
        .localCheckpoint(eager = true)
      val nG = bounds.count()
      val xrows = bounds.agg(sum("__dx")).collect()(0).getLong(0)
      val b3 = bounds.select("g", "__lo", "__hi", "__n")
      // |G|-sized frames joining back into cache-sized streams: the
      // same adaptive broadcast as [[lowerQuantilesW]] — an unhinted
      // plan's INITIAL sort-merge join would exchange the stream side
      // on g (parallelism |G|) before AQE could demote it (the q127
      // EXPLAIN finding), and a forced broadcast of a huge |G| would
      // risk the driver. Pick per materialized |G|.
      def gj(f: DataFrame): DataFrame =
        if (nG <= BroadcastGroupLimit) broadcast(f) else f
      // mode: counts per distinct (g, q), max-count per group by agg +
      // equi-join — NOT a partitionBy(g) window, which would funnel
      // the distinct-value frame through |G| partitions. `mc` carries
      // (g, q, w); the window arm below supplies it from the fused
      // grouping-sets pass, the bucketed arm from its own cache scan.
      def modesFrom(mc: DataFrame): DataFrame = {
        val mx = mc.groupBy("g").agg(max("w").as("mx"))
        mc.join(gj(mx), Seq("g"))
          .filter(col("w") === col("mx"))
          .groupBy("g").agg(min("q").as("mode_val"))
      }
      val vw = v.select(col("g"), col("x"), lit(1L).as("w"))
      val (modes, med, mad) =
        if (xrows <= maxWindowDomain) {
          // WINDOW arm (round 17): ONE fused count pass serves mode,
          // median AND MAD. Mode's (g, q) counts and the ranking's
          // (g, x) counts ride one GROUPING SETS aggregate (both are
          // per-(g, value) counts off the same cache — the Expand
          // doubles map-side rows but halves the scan/job count; the
          // r17 RsProbe A/B measured the fused pass faster, min 0.61
          // vs 0.72 s at sf0.1). grouping_id discriminates the sets,
          // so NULL measure values cannot collide with grouping nulls.
          // The MAD's deviation distribution then derives from the
          // (g, x) count rows arithmetically — |x − med| with the same
          // weight, a DOMAIN-sized transform (≤ maxWindowDomain rows),
          // never a second data pass (the former shape re-scanned the
          // cache). medianFromCounts tolerates the duplicate deviation
          // values this produces (med+d and med−d merge): ties share
          // the value, so no re-aggregation is needed either.
          val gs = v.groupingSets(
              Seq(Seq(col("g"), col("q")), Seq(col("g"), col("x"))),
              col("g"), col("q"), col("x"))
            .agg(count(lit(1)).as("w"), grouping(col("q")).as("gq"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val xc = gs.filter(col("gq") === 1).select("g", "x", "w")
            // all three are |G|-sized; eager-checkpoint so the dev
            // transform and the output join read local blocks and
            // nothing re-reads gs after its unpersist below
            val modesF = modesFrom(
                gs.filter(col("gq") === 0).select("g", "q", "w"))
              .localCheckpoint(eager = true)
            val medF = medianFromCounts(xc).withColumnRenamed("q0", "med")
              .localCheckpoint(eager = true)
            val dev = xc.join(gj(medF), Seq("g"))
              .select(col("g"), abs(col("x") - col("med")).as("x"),
                col("w"))
            val madF = medianFromCounts(dev).withColumnRenamed("q0", "mad")
              .localCheckpoint(eager = true)
            (modesF, medF, madF)
          } finally { gs.unpersist(blocking = false); () }
        } else {
          val modesF = modesFrom(
            v.groupBy("g", "q").agg(count(lit(1)).as("w")))
          // BUCKETED arm (near-continuous measure): counting distinct
          // values compresses nothing, so both rankings run the
          // range-bucketed path over the data cache — the MAD's
          // second data pass is inherent here (|x − med| needs med).
          val medF = lowerQuantilesW(vw, Seq(("q0", 1L, 2L)),
              boundsOpt = Some(b3))
            .select("g", "q0").withColumnRenamed("q0", "med")
            .localCheckpoint(eager = true)
          val dev = vw.join(gj(medF), Seq("g"))
            .select(col("g"), abs(col("x") - col("med")).as("x"), col("w"))
          // deviation bounds: lo = 0 and hi = max(hi−med, med−lo)
          // bound |x − med| for every row — bucketing needs bounds
          // that COVER the values, not tight ones, so the MAD pass
          // pays no bounds aggregate of its own.
          val devBounds = b3.join(medF, Seq("g"))
            .select(col("g"), lit(0L).as("__lo"),
              greatest(col("__hi") - col("med"), col("med") - col("__lo"))
                .as("__hi"),
              col("__n"))
          val madF = lowerQuantilesW(dev, Seq(("q0", 1L, 2L)),
              boundsOpt = Some(devBounds))
            .select("g", "q0").withColumnRenamed("q0", "mad")
          (modesF, medF, madF)
        }
      modes.join(med, Seq("g")).join(mad, Seq("g"))
        .select("g", "mode_val", "med", "mad")
    }
  }

  /** Lower median over a (g, x, w) COUNT frame in one cumulative
    * window: the smallest x whose running weight reaches
    * k = (W+1) div 2. Caller contract: the frame is domain-bounded
    * (the [[robustStats]]/[[madOutliers]] adaptive gate) — the window
    * input is D distinct-value rows, never the data, so the per-group
    * funnel is capped by the value domain whatever the row count (the
    * q127 pattern). Duplicate x rows (an unreduced deviation frame)
    * are fine: ties share the value, so the first row reaching k
    * names the right x regardless of how weight splits across them.
    * Exactly [[lowerQuantileW]] at p = 1/2 — the two paths are
    * interchangeable statistic-for-statistic.
    */
  private[graft] def medianFromCounts(vc: DataFrame): DataFrame = {
    val cum = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc.withColumn("__cum", sum("w").over(cum))
      .withColumn("__n", sum("w").over(Window.partitionBy("g")))
      .filter(col("__cum") >= call_function("div", col("__n") + lit(1L), lit(2L)))
      .groupBy("g").agg(min("x").as("q0"))
  }

  /** k-th smallest with k = (n+1) div 2 per group: (g, x) → (g, med0).
    *
    * Two-phase range-bucketed formulation (the q129 saltedRank idea
    * specialized to a single order statistic). The naive shapes both
    * fail at scale: a `partitionBy(g) ORDER BY x` cumulative window
    * funnels everything through |G| partitions (parallelism |G|
    * whatever the cluster), and even the distinct-count pre-aggregate
    * shuffles data-sized output when values are mostly unique. Here
    * rows are range-bucketed per group ((x−lo)·B div (hi−lo+1),
    * monotone in x) and counted — a map-side-combined |G|·B-row
    * shuffle; the cumulative bucket totals locate the bucket holding
    * the k-th element plus its offset, and only THAT bucket's rows —
    * ~n/B per group — pay the ordered scan. Caller contract (as
    * saltedRank): (hi−lo)·B must fit int64 — true for any discretized
    * measure (cents, micros, ns-in-day).
    */
  private[graft] def lowerMedian(v: DataFrame, buckets: Int = 64): DataFrame =
    lowerQuantile(v, 1L, 2L, buckets).withColumnRenamed("q0", "med0")

  /** Lower p-quantile per group, p = pNum/pDen: the k-th smallest with
    * k = ⌈n·pNum/pDen⌉ (so (1, 2) is exactly the lower median's
    * k = (n+1) div 2). Same machinery, arbitrary rank. Caller
    * contract: n·pNum must fit int64.
    */
  private[graft] def lowerQuantile(v: DataFrame, pNum: Long, pDen: Long,
                                   buckets: Int = 64): DataFrame =
    lowerQuantileW(v.withColumn("w", lit(1L)), pNum, pDen, buckets)

  /** Weighted lower p-quantile per group over (g, x, w): the smallest
    * x whose cumulative weight reaches k = ⌈W·pNum/pDen⌉ (W = Σw per
    * group) — each row counts w times without ever being expanded.
    * Weights must be positive BIGINTs; W·pNum must fit int64.
    */
  private[graft] def lowerQuantileW(v: DataFrame, pNum: Long, pDen: Long,
                                    buckets: Int = 64): DataFrame =
    lowerQuantilesW(v, Seq(("q0", pNum, pDen)), buckets)
      .select(col("g"), col("q0"))

  /** Several lower p-quantiles per group in ONE bucket pass:
    * (g, x, w) → (g, n, <one column per requested name>). Each
    * requested quantile is the k-th smallest weight unit with
    * k = ⌈W·pNum/pDen⌉ — identical per-quantile semantics to
    * [[lowerQuantileW]], which now delegates here. The raw rows are
    * bucket-counted once; every quantile's target bucket is located
    * on the same |G|·B cumulative frame; and one tagged join scans
    * the union of target buckets (a bucket serving two quantiles is
    * scanned once per tag — the tags ride the join). Three quantiles
    * cost one extra |targets| broadcast over the single-quantile
    * call, not two more full passes.
    *
    * `boundsOpt`, when given, must be a CHEAP |G|-frame (g, __lo,
    * __hi, __n) with __lo ≤ min x, __hi ≥ max x per group (coverage,
    * not tightness — bucketing only needs bounds that contain the
    * values) and __n = Σw — callers that already hold the bounds
    * (e.g. [[robustStats]]'s MAD leg, whose deviation bounds derive
    * arithmetically from the median pass's) skip this function's own
    * bounds aggregate and its checkpoint barrier.
    */
  private[graft] def lowerQuantilesW(v: DataFrame,
                                     qs: Seq[(String, Long, Long)],
                                     buckets: Int = 64,
                                     boundsOpt: Option[DataFrame] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Never persist v: round-15 QcacheAb put cached q157 at 2.77 s vs 1.66 s uncached.
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach { case (name, pNum, pDen) =>
      require(pNum >= 1 && pNum <= pDen,
        s"need 1 <= pNum <= pDen for $name, got $pNum/$pDen")
    }
    require(qs.map(_._1).distinct.size == qs.size, "quantile names must be unique")
    val B = buckets.toLong
    // The bounds frame is |G| rows of (lo, hi, n). The r13 EXPLAIN
    // audit of q127 caught the subtle failure of leaving its join
    // strategy entirely to AQE: the INITIAL plan is a sort-merge join
    // (Catalyst can't see the aggregate is tiny), so the raw rows
    // materialize one full Exchange hashpartitioning(g) BEFORE AQE
    // demotes the join to broadcast — and when |G| is small that
    // exchange lands the whole dataset on |G| tasks (3 for q127's
    // return flags): the straggler shape, data-sized at 100 TB. The
    // two regimes are complementary, so pick per |G| on the
    // MATERIALIZED bounds (eager checkpoint + count, |G| rows — the
    // robustStats adaptive-probe discipline): small |G| → an explicit
    // broadcast (zero stream-side shuffle anywhere below the |G|·B
    // aggregate, which partial-aggregates map-side); large |G| → the
    // unhinted shuffle join, which is well-spread exactly because g
    // has many values (and a broadcast there would risk the driver —
    // the r08 stats-frame rule this adaptive probe keeps honoring).
    val bounds = boundsOpt.getOrElse(
      v.groupBy("g")
        .agg(min("x").as("__lo"), max("x").as("__hi"), sum("w").as("__n"))
        .localCheckpoint(eager = true))
    // one action serves both the |G| probe and the overflow gate: the
    // bucket expression below computes (x − lo)·B, so the contract
    // (hi − lo)·B ≤ Long.MaxValue must FAIL LOUDLY, not wrap — binning
    // a full-range long/hash column would otherwise return wrong
    // buckets silently wherever ANSI arithmetic is off
    val boundsStats = bounds
      .agg(count(lit(1)), max(col("__hi") - col("__lo")),
        min(col("__hi") - col("__lo"))).head
    val nG = boundsStats.getLong(0)
    if (nG > 0 && !boundsStats.isNullAt(1)) {
      val maxSpread = boundsStats.getAs[Number](1).longValue
      // hi − lo itself wraps negative under non-ANSI arithmetic when a
      // group's spread exceeds Long.MaxValue (full-range long/hash
      // column — the gate's own motivating case), and max() over
      // groups would hide the wrapped value behind any positive
      // spread; a negative MIN proves the subtraction wrapped
      val minSpread = boundsStats.getAs[Number](2).longValue
      require(minSpread >= 0,
        s"a group's value spread wrapped int64 (hi - lo = $minSpread) — " +
          "rescale the measure before bucketing")
      require(maxSpread <= Long.MaxValue / B,
        s"value spread $maxSpread × $B buckets overflows int64 — " +
          "rescale the measure or lower `buckets`")
    }
    val smallG = nG <= BroadcastGroupLimit
    // the target frame is |G|·|qs| rows (one exploded struct per
    // group per quantile) — gate ITS forced broadcast on the product,
    // not |G| alone, or several quantiles at the |G| boundary could
    // collect a multiple of the sizing rationale onto the driver
    // (round-14 ADVICE)
    val smallTarget = nG * qs.size <= BroadcastGroupLimit
    def gFrame(df: DataFrame): DataFrame =
      if (smallG) broadcast(df) else df
    def gFrameTarget(df: DataFrame): DataFrame =
      if (smallTarget) broadcast(df) else df
    val vb = v.join(gFrame(bounds), Seq("g"))
      .withColumn("__bkt", call_function("div",
        (col("x") - col("__lo")) * lit(B), col("__hi") - col("__lo") + lit(1L)))
    // |G|·B frame straight off the raw rows — map-side combine means
    // the full data NEVER shuffles (the earlier distinct-count form
    // shuffled every (g, x) pair, data-sized when values are unique).
    // Cumulative bucket totals in bucket (= x) order locate, for EACH
    // requested quantile, the bucket holding its k-th weight unit,
    // k = ceil(W·pNum/pDen).
    def k(pNum: Long, pDen: Long) = call_function("div",
      col("__n") * lit(pNum) + lit(pDen - 1), lit(pDen))
    val perBkt = vb.groupBy(col("g"), col("__bkt"))
      .agg(sum("w").as("__bcnt"), max("__n").as("__n"))
      .withColumn("__cum", sum(col("__bcnt")).over(
        Window.partitionBy("g").orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // one target row per (group, quantile): |G|·|qs|-sized
    val perQ = qs.flatMap { case (name, pNum, pDen) =>
      val kq = k(pNum, pDen)
      Seq(
        min(when(col("__cum") >= kq, col("__bkt"))).as(s"__tbkt_$name"),
        coalesce(max(when(col("__cum") < kq, col("__cum"))), lit(0L))
          .as(s"__off_$name"))
    }
    val target = perBkt.groupBy("g")
      .agg(perQ.head, perQ.tail: _*)
      .select(col("g"),
        explode(array(qs.map { case (name, _, _) =>
          struct(lit(name).as("q"), col(s"__tbkt_$name").as("tbkt"),
            col(s"__off_$name").as("off"))
        }: _*)).as("__t"))
      .select(col("g"), col("__t.q").as("__q"),
        col("__t.tbkt").as("__tbkt"), col("__t.off").as("__offset"))
    // only the target buckets' rows (~W/B weight per group per
    // quantile) reach the ordered path, pre-reduced to distinct
    // values before the window; the quantile tag rides the join so a
    // bucket serving several quantiles fans out by tag, never by data
    val kByName = qs.map { case (name, pNum, pDen) => (name, (pNum, pDen)) }.toMap
    val kCol = qs.tail.foldLeft(
      when(col("__q") === qs.head._1,
        call_function("div", col("__n") * lit(qs.head._2) + lit(qs.head._3 - 1),
          lit(qs.head._3)))) { case (acc, (name, _, _)) =>
      val (pNum, pDen) = kByName(name)
      acc.when(col("__q") === name,
        call_function("div", col("__n") * lit(pNum) + lit(pDen - 1), lit(pDen)))
    }
    // target is |G|·|qs| rows — same adaptive broadcast as bounds but
    // gated on the |G|·|qs| product, so in the small regime the raw
    // rows reach their partial aggregates with ZERO stream-side
    // exchange anywhere
    val picked = vb.join(gFrameTarget(target), Seq("g"))
      .filter(col("__bkt") === col("__tbkt"))
      .groupBy(col("g"), col("__q"), col("x"))
      .agg(sum("w").as("cnt"), max("__n").as("__n"),
        max("__offset").as("__offset"))
      .withColumn("__cum", col("__offset") + sum("cnt").over(
        Window.partitionBy("g", "__q").orderBy("x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__cum") >= kCol)
      .groupBy("g", "__q").agg(min("x").as("__qx"), max("__n").as("__n"))
    picked.groupBy("g").agg(
      max(col("__n")).as("n"),
      qs.map { case (name, _, _) =>
        max(when(col("__q") === name, col("__qx"))).as(name)
      }: _*)
  }

  /** Per-group weighted median: the smallest value at which cumulative
    * weight reaches half the group's total — e.g. the price below
    * which half the shipped QUANTITY sits, not half the line items.
    * Exact integer arithmetic throughout ([[lowerQuantileW]] at 1/2);
    * rows are never expanded by their weights.
    *
    * @return (g, wmed)
    */
  def weightedMedian(df: DataFrame, grp: Column, value: Column,
                     weight: Column): DataFrame =
    lowerQuantileW(
      df.select(grp.as("g"), value.as("x"), weight.as("w")), 1L, 2L)
      .withColumnRenamed("q0", "wmed")

  /** Oracle for [[weightedMedian]]: `vSql` must yield (g, x, w). */
  def weightedMedianOracle(vSql: String): String =
    s"""WITH v AS ($vSql),
       |c AS (SELECT g, x, SUM(w) AS cnt FROM v GROUP BY g, x),
       |r AS (
       |  SELECT g, x,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM c)
       |SELECT g, MIN(x) AS wmed FROM r
       |WHERE cum >= (n + 1) // 2 GROUP BY g ORDER BY g""".stripMargin

  /** Oracle for [[robustStats]]: replays the identical distinct-value
    * rankings as CTEs (DuckDB's MEDIAN interpolates on even counts, so
    * the built-in is NOT the same statistic).
    */
  def robustStatsOracle(table: String, grpSql: String,
                        modeOfSql: String, spreadOfSql: String): String =
    s"""WITH v AS (
       |  SELECT $grpSql AS g, $modeOfSql AS q, $spreadOfSql AS x
       |  FROM $table),
       |mc AS (SELECT g, q, COUNT(*) AS cnt FROM v GROUP BY g, q),
       |modes AS (
       |  SELECT g, MIN(q) AS mode_val FROM (
       |    SELECT g, q, cnt, MAX(cnt) OVER (PARTITION BY g) AS mx FROM mc)
       |  WHERE cnt = mx GROUP BY g),
       |c1 AS (SELECT g, x, COUNT(*) AS cnt FROM v GROUP BY g, x),
       |r1 AS (
       |  SELECT g, x,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM c1),
       |med AS (SELECT g, MIN(x) AS med FROM r1
       |        WHERE cum >= (n + 1) // 2 GROUP BY g),
       |d AS (SELECT v.g, ABS(v.x - med.med) AS x
       |      FROM v JOIN med ON v.g = med.g),
       |c2 AS (SELECT g, x, COUNT(*) AS cnt FROM d GROUP BY g, x),
       |r2 AS (
       |  SELECT g, x,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM c2),
       |mad AS (SELECT g, MIN(x) AS mad FROM r2
       |        WHERE cum >= (n + 1) // 2 GROUP BY g)
       |SELECT modes.g, mode_val, med, mad
       |FROM modes JOIN med ON modes.g = med.g JOIN mad ON modes.g = mad.g
       |ORDER BY modes.g""".stripMargin

  /** Robust per-group outlier flags: a row is an outlier when its
    * MAD-z exceeds `zTenths/10` — entirely in scaled-integer
    * comparison, no float ever:
    *
    *   |x − med| / (1.4826·mad) > zTenths/10
    *     ⇔  100000·|x−med| > zTenths·14826·mad
    *
    * (both sides BIGINT; with cent-scaled inputs ≤ ~1e9 the products
    * stay far under 2^63). `med`/`mad` are the same lower-median
    * statistics as [[robustStats]]. A zero MAD (≥ half the group at one
    * value) flags every row off the median — the strictest consistent
    * reading, identical on both engines.
    *
    * Scale shape — TWO scans of the data, each inherent: one (g, x)
    * count aggregation (map-side combined, localCheckpoint-ed at
    * distinct-pair size — med and mad are then weighted rankings over
    * counts, so the six ranking passes of the earlier form read local
    * count-frame blocks instead of rescanning the fact), and one
    * flagging scan over the raw rows (per-row output needs the rows).
    * The ranking path is adaptive on the materialized count-frame
    * size, exactly as [[robustStats]]: [[medianFromCounts]] within
    * `maxWindowDomain`, the range-bucketed [[lowerQuantileW]] above
    * it. The |G|-sized stats join back with NO forced broadcast
    * hint — AQE broadcasts small stats frames at runtime and a
    * high-cardinality grouping degrades to a shuffle join instead of
    * a driver OOM (the [[robustStats]] contract).
    *
    * @return outlier rows (id, g, x, med, mad)
    */
  def madOutliers(df: DataFrame, grp: Column, id: Column, value: Column,
                  zTenths: Long = 30L,
                  maxWindowDomain: Long = DefaultMaxDomain): DataFrame = {
    require(zTenths >= 1L, s"zTenths ($zTenths) must be >= 1")
    val v = df.select(grp.as("g"), id.as("id"), value.as("x"))
    val xc = v.groupBy("g", "x").agg(count(lit(1)).as("w"))
      .localCheckpoint(eager = true)
    val medOf: DataFrame => DataFrame =
      if (xc.count() <= maxWindowDomain) medianFromCounts
      else lowerQuantileW(_, 1L, 2L)
    val med = medOf(xc).withColumnRenamed("q0", "med")
    val mad = medOf(
        xc.join(med, Seq("g"))
          .select(col("g"), abs(col("x") - col("med")).as("x"), col("w")))
      .withColumnRenamed("q0", "mad")
    v.join(med, Seq("g")).join(mad, Seq("g"))
      .filter(lit(100000L) * abs(col("x") - col("med")) >
        lit(zTenths) * lit(14826L) * col("mad"))
      .select("id", "g", "x", "med", "mad")
  }

  /** Oracle for [[madOutliers]]: the [[robustStatsOracle]] median/MAD
    * CTEs plus the identical integer threshold filter. `vSql` must
    * yield (g, id, x).
    */
  def madOutliersOracle(vSql: String, zTenths: Long = 30L): String =
    s"""WITH v AS ($vSql),
       |c1 AS (SELECT g, x, COUNT(*) AS cnt FROM v GROUP BY g, x),
       |r1 AS (
       |  SELECT g, x,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM c1),
       |med AS (SELECT g, MIN(x) AS med FROM r1
       |        WHERE cum >= (n + 1) // 2 GROUP BY g),
       |d AS (SELECT v.g, ABS(v.x - med.med) AS x
       |      FROM v JOIN med ON v.g = med.g),
       |c2 AS (SELECT g, x, COUNT(*) AS cnt FROM d GROUP BY g, x),
       |r2 AS (
       |  SELECT g, x,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM c2),
       |mad AS (SELECT g, MIN(x) AS mad FROM r2
       |        WHERE cum >= (n + 1) // 2 GROUP BY g)
       |SELECT v.id, v.g, v.x, med.med, mad.mad
       |FROM v JOIN med ON v.g = med.g JOIN mad ON v.g = mad.g
       |WHERE 100000 * ABS(v.x - med.med) > $zTenths * 14826 * mad.mad
       |ORDER BY v.id""".stripMargin

  /** Per-group quantile bands — the lower p-quantile (k-th smallest,
    * k = ⌈n·p/100⌉) at each requested integer percent, one column per
    * band. Integer-exact, no interpolation, identical on both engines.
    *
    * Scale shape: one range-bucketed [[lowerQuantile]] pass per band
    * (the full data never shuffles — |G|·B bucket counts plus the
    * target bucket's ~n/B rows each), joined on the |G|-sized group
    * key. Bands are few (3–5) and each pass is column-pruned, so at
    * 100 TB this is p scans of two columns with near-empty shuffles.
    *
    * @return (g, p_<p1>, p_<p2>, …) one row per group
    */
  def quantileBands(df: DataFrame, grp: Column, value: Column,
                    percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be within 1..100: $percents")
    require(percents.distinct.size == percents.size,
      s"percents must be distinct: $percents")
    // round 14: all bands ride ONE bucket pass ([[lowerQuantilesW]],
    // w = 1) instead of one full lowerQuantile pipeline per percent
    // joined at the end — three bands used to cost three bucket-count
    // aggregates plus three ordered tails over the same data (sf1
    // q155 min: 4.8 s → 3.7-4.2; the residual is the machinery's
    // fixed passes — bounds, buckets, tail — not the per-band count)
    val v = df.select(grp.as("g"), value.as("x")).withColumn("w", lit(1L))
    lowerQuantilesW(v, percents.map(p => (s"p_$p", p.toLong, 100L)))
      .select(col("g") +: percents.map(p => col(s"p_$p")): _*)
  }

  /** Oracle for [[quantileBands]]: one distinct-value ranking CTE, one
    * threshold per band. `vSql` must yield (g, x).
    */
  def quantileBandsOracle(vSql: String, percents: Seq[Int]): String = {
    val bands = percents.map(p =>
      s"""p$p AS (SELECT g, MIN(x) AS p_$p FROM r
         |       WHERE cum >= (n * $p + 99) // 100 GROUP BY g)""".stripMargin)
      .mkString(",\n")
    val joins = percents.tail
      .map(p => s"JOIN p$p ON p${percents.head}.g = p$p.g").mkString(" ")
    val cols = percents.map(p => s"p_$p").mkString(", ")
    s"""WITH v AS ($vSql),
       |c AS (SELECT g, x, COUNT(*) AS cnt FROM v GROUP BY g, x),
       |r AS (
       |  SELECT g, x,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM c),
       |$bands
       |SELECT p${percents.head}.g, $cols
       |FROM p${percents.head} $joins
       |ORDER BY p${percents.head}.g""".stripMargin
  }

  /** Chi-square independence cells for two categorical columns. Each
    * (a, b) cell of the contingency table — INCLUDING zero-observed
    * cells, which carry their full expected count — reports its exact
    * observed count and its χ² contribution
    *
    *   (obs − exp)² / exp  with  exp = rowTot·colTot / n
    *     = (obs·n − rowTot·colTot)² / (n·rowTot·colTot)
    *
    * with the numerator `obs·n − rowTot·colTot` held exact in BIGINT,
    * then squared and divided in IEEE double (the square in int64
    * would overflow near n ≈ 10⁵ for strongly-associated columns —
    * |num| grows like n²). Every double step (int64→double cast,
    * `*`, `/`) is bit-identical on Spark and DuckDB, so each cell is
    * portable. The total statistic is a float sum whose value depends
    * on addition order (not cross-engine stable); summing the cells is
    * the caller's one-line fold. Caller contract: obs·n and
    * rowTot·colTot fit int64 — true up to n ≈ 3·10⁹ rows.
    *
    * Scale shape: one (a, b) aggregation of the data (map-side
    * combined), margins re-aggregated from the |A|·|B| cell frame —
    * never a second data scan — and the zero cells come from the
    * |A|×|B| cross of the two margin frames, hint-broadcast (margin
    * frames are category-cardinality-sized) so the shape holds even
    * under `autoBroadcastJoinThreshold = -1`.
    *
    * @return (a, b, obs, exp, chi2_cell) one row per margin pair
    */
  def chiSquareCells(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    // the cell frame fans out to margins/total/zero-cells; materialize
    // it once (category-cardinality-sized) — column-pruned branches
    // defeat ReuseExchange and would re-scan the data per branch
    val obs = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("obs"))
      .localCheckpoint(eager = true)
    val rowTot = obs.groupBy("a").agg(sum("obs").as("rt"))
    val colTot = obs.groupBy("b").agg(sum("obs").as("ct"))
    val n = obs.agg(sum("obs").as("n"))
    val cells = rowTot.crossJoin(broadcast(colTot)).crossJoin(broadcast(n))
      .join(broadcast(obs), Seq("a", "b"), "left")
      .na.fill(0L, Seq("obs"))
    val num = (col("obs") * col("n") - col("rt") * col("ct"))
      .cast(DoubleType)
    cells.select(col("a"), col("b"), col("obs"),
      ((col("rt") * col("ct")).cast(DoubleType) /
        col("n").cast(DoubleType)).as("exp"),
      ((num * num) /
        (col("n").cast(DoubleType) * col("rt").cast(DoubleType) *
          col("ct").cast(DoubleType))).as("chi2_cell"))
  }

  /** Oracle for [[chiSquareCells]]: identical rational forms. `vSql`
    * must yield (a, b).
    */
  def chiSquareCellsOracle(vSql: String): String =
    s"""WITH v AS ($vSql),
       |obs AS (SELECT a, b, COUNT(*) AS obs FROM v GROUP BY a, b),
       |rt AS (SELECT a, SUM(obs) AS rt FROM obs GROUP BY a),
       |ct AS (SELECT b, SUM(obs) AS ct FROM obs GROUP BY b),
       |n AS (SELECT SUM(obs) AS n FROM obs),
       |cells AS (
       |  SELECT rt.a, ct.b, rt.rt, ct.ct, n.n,
       |    COALESCE(obs.obs, 0) AS obs
       |  FROM rt CROSS JOIN ct CROSS JOIN n
       |  LEFT JOIN obs ON obs.a = rt.a AND obs.b = ct.b)
       |SELECT a, b, CAST(obs AS BIGINT) AS obs,
       |  CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS exp,
       |  (CAST(obs * n - rt * ct AS DOUBLE)
       |     * CAST(obs * n - rt * ct AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
       |    AS chi2_cell
       |FROM cells ORDER BY a, b""".stripMargin

  /** Per-group Gini impurity of a label column: 1 − Σ(cᵢ/n)², held
    * exact as (n² − Σcᵢ²)/n² in BIGINT and cast to double in ONE
    * division — bit-portable. Caller contract: n² fits int64 per group
    * (n ≤ 3·10⁹ rows per group).
    *
    * Scale shape: one (g, label) aggregation (map-side combined), then
    * one re-aggregation of the counts frame on g — the data shuffles
    * at most label-cardinality rows per group.
    *
    * @return (g, n, n_labels, gini)
    */
  def giniImpurity(df: DataFrame, grp: Column, label: Column): DataFrame = {
    val c = df.select(grp.as("g"), label.as("l"))
      .groupBy("g", "l").agg(count(lit(1)).as("cnt"))
    c.groupBy("g").agg(
        sum("cnt").as("n"),
        count(lit(1)).as("n_labels"),
        sum(col("cnt") * col("cnt")).as("sq"))
      .select(col("g"), col("n"), col("n_labels"),
        ((col("n") * col("n") - col("sq")).cast(DoubleType) /
          (col("n") * col("n")).cast(DoubleType)).as("gini"))
  }

  /** Oracle for [[giniImpurity]]: `vSql` must yield (g, l). */
  def giniImpurityOracle(vSql: String): String =
    s"""WITH v AS ($vSql),
       |c AS (SELECT g, l, COUNT(*) AS cnt FROM v GROUP BY g, l),
       |s AS (SELECT g, SUM(cnt) AS n, COUNT(*) AS n_labels,
       |             SUM(cnt * cnt) AS sq
       |      FROM c GROUP BY g)
       |SELECT g, CAST(n AS BIGINT) AS n,
       |  CAST(n_labels AS BIGINT) AS n_labels,
       |  CAST(n * n - sq AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
       |FROM s ORDER BY g""".stripMargin

  /** Cohen's kappa agreement between two categorical raters — the
    * standard annotation-quality check before training on labelled
    * data — held exact until ONE double division:
    *
    *   κ = (p_o − p_e) / (1 − p_e)
    *     = (n·agree − Σ_k rt_k·ct_k) / (n² − Σ_k rt_k·ct_k)
    *
    * where `agree` counts identical labels, rt/ct are the per-category
    * margins, and every product stays exact in BIGINT (caller
    * contract: n ≤ ~3·10⁹ so n² fits int64) — bit-portable like
    * [[chiSquareCells]]. Degenerate when the expected agreement is 1
    * (both raters constant on the same single category): the double
    * division is 0/0 = NaN on both engines.
    *
    * Scale shape: one (a, b) aggregation of the data (map-side
    * combined); the agreement sum, both margins, and the margin
    * dot-product all re-aggregate the category-cardinality cell frame
    * — never a second data scan; the scalar frames attach by 1-row
    * cross joins.
    *
    * @return single row (n, agree, kappa)
    */
  def cohensKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    // three aggregate branches read the cell frame; one eager
    // materialization keeps the data scan single (see chiSquareCells)
    val obs = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val nAgree = obs.agg(sum("c").as("n"),
      coalesce(sum(when(col("a") === col("b"), col("c"))), lit(0L))
        .as("agree"))
    val rt = obs.groupBy("a").agg(sum("c").as("rt"))
    val ct = obs.groupBy("b").agg(sum("c").as("ct"))
    val sp = rt.join(ct, col("a") === col("b"))
      .agg(coalesce(sum(col("rt") * col("ct")), lit(0L)).as("sp"))
    nAgree.crossJoin(broadcast(sp))
      .select(col("n"), col("agree"),
        ((col("n") * col("agree") - col("sp")).cast(DoubleType) /
          (col("n") * col("n") - col("sp")).cast(DoubleType)).as("kappa"))
  }

  /** Oracle for [[cohensKappa]]: `vSql` must yield (a, b). */
  def cohensKappaOracle(vSql: String): String =
    s"""WITH v AS ($vSql),
       |obs AS (SELECT a, b, COUNT(*) AS c FROM v GROUP BY a, b),
       |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs),
       |ag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS agree
       |       FROM obs WHERE a = b),
       |rt AS (SELECT a, SUM(c) AS rt FROM obs GROUP BY a),
       |ct AS (SELECT b, SUM(c) AS ct FROM obs GROUP BY b),
       |sp AS (SELECT CAST(COALESCE(SUM(rt.rt * ct.ct), 0) AS BIGINT) AS sp
       |       FROM rt JOIN ct ON rt.a = ct.b)
       |SELECT n.n AS n, ag.agree AS agree,
       |  CAST(n.n * ag.agree - sp.sp AS DOUBLE)
       |    / CAST(n.n * n.n - sp.sp AS DOUBLE) AS kappa
       |FROM n CROSS JOIN ag CROSS JOIN sp""".stripMargin

  /** Smoothed target encoding of a categorical feature — the
    * leakage-prone-if-naive ML-prep step done as one exact pass:
    *
    *   enc_c = (pos_c + m·(P/N)) / (cnt_c + m)
    *         = (pos_c·N + m·P) / (N·(cnt_c + m))
    *
    * (m = `smoothing` pseudo-observations of the global positive rate
    * P/N) with both sides exact in BIGINT and ONE double division —
    * bit-portable. `label` must be an integer 0/1 column. Caller
    * contract: pos_c·N and N·(cnt_c + m) fit int64 — true to N ≈ 3·10⁹.
    *
    * Scale shape: one map-side-combined aggregation on the category;
    * the global totals re-aggregate the category frame and attach by a
    * 1-row cross join — never a second data scan, no window.
    *
    * @return (cat, cnt, pos, enc) one row per category
    */
  def targetEncoding(df: DataFrame, category: Column, label: Column,
                     smoothing: Long): DataFrame =
    encodeFromState(
      df.select(category.as("cat"), label.cast(LongType).as("y"))
        .groupBy("cat").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
        .localCheckpoint(eager = true), // totals + output both read it
      smoothing)

  /** The read side of [[targetEncoding]], split out so an
    * incrementally-maintained (cat, cnt, pos) count state — e.g. the
    * streaming sink's base ⊕ delta table — derives the identical
    * encoding. `per` is read twice (global totals + output); pass a
    * materialized frame.
    */
  def encodeFromState(per: DataFrame, smoothing: Long): DataFrame = {
    require(smoothing >= 0, s"smoothing ($smoothing) must be >= 0")
    val g = per.agg(sum("cnt").as("n_tot"), sum("pos").as("pos_tot"))
    per.crossJoin(broadcast(g))
      .select(col("cat"), col("cnt"), col("pos"),
        ((col("pos") * col("n_tot") + lit(smoothing) * col("pos_tot"))
          .cast(DoubleType) /
          (col("n_tot") * (col("cnt") + lit(smoothing)))
            .cast(DoubleType)).as("enc"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between the value
    * distributions of two data slices — the drift check between crawl
    * snapshots / data sources before mixing them into a training set —
    * held exact until ONE double division:
    *
    *   D = max_v |F₁(v) − F₂(v)|
    *     = max_v |cum₁(v)·n₂ − cum₂(v)·n₁| / (n₁·n₂)
    *
    * with the per-value numerators exact in BIGINT (caller contract:
    * cum·n fits int64 — n ≤ ~3·10⁹) and the max taken over integers,
    * so the statistic is bit-portable. Ties across slices are handled
    * exactly (both CDFs step at the shared value).
    *
    * Scale shape: one map-side-combined per-value count over the
    * tagged union, then the cumulative sums run over the
    * VALUE-DOMAIN-bounded count frame (the q126/q138 bounded-input
    * discipline) — above [[DefaultWindowRankDomain]] distincts via the
    * TWO-PHASE bucket-offset CDF in [[ksCore]] (r18), so no window
    * ever holds more than a range bucket of the domain, and the data
    * itself never reaches any ordered path; pre-bucket (e.g.
    * [[equiFreqBins]] edges or fixed-width cents) when the measured
    * column is continuous. The bounded-domain contract is ENFORCED: a
    * frame above `maxDomain` distincts throws instead of funneling
    * the domain through the cumulative pass
    * ([[requireBoundedDomain]]). The count frame is checkpointed once
    * (totals and the cumulative pass both read it).
    *
    * @return single row (n1, n2, d_num, ks) — ks = d_num/(n1·n2)
    */
  def ksDrift(a: DataFrame, b: DataFrame, value: Column,
              maxDomain: Long = DefaultMaxDomain,
              windowDomain: Long = DefaultWindowRankDomain): DataFrame = {
    val tagged = a.select(value.as("x"), lit(1L).as("s"))
      .unionByName(b.select(value.as("x"), lit(2L).as("s")))
    ksCore("ksDrift",
      tagged.groupBy("x").agg(
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("s") === 2L, 1L).otherwise(0L)).as("c2")),
      maxDomain, windowDomain)
  }

  /** [[ksDrift]] from PRE-AGGREGATED per-value counts — the read side
    * of an incremental drift monitor whose state is a per-value count
    * frame maintained by a streaming fold (the
    * [[graft.streaming.EventStream.valueCountsSink]] pattern): the
    * monitored stream never re-reads its history, only its O(domain)
    * state. Both inputs are (x, c); identical arithmetic to
    * [[ksDrift]], so `ksDriftFromCounts(counts(a), counts(b)) ==
    * ksDrift(a, b)` exactly.
    */
  def ksDriftFromCounts(a: DataFrame, b: DataFrame,
                        maxDomain: Long = DefaultMaxDomain,
                        windowDomain: Long = DefaultWindowRankDomain): DataFrame = {
    val tagged = a.select(col("x"), col("c").as("c1"), lit(0L).as("c2"))
      .unionByName(b.select(col("x"), lit(0L).as("c1"), col("c").as("c2")))
    ksCore("ksDriftFromCounts",
      tagged.groupBy("x").agg(sum("c1").as("c1"), sum("c2").as("c2")),
      maxDomain, windowDomain)
  }

  /** Shared KS tail over a (x, c1, c2) count frame: exact integer
    * CDF-gap numerators, one final portable division.
    *
    * Cumulative-CDF shape is ADAPTIVE on the gate-probed domain size
    * (r18; the [[robustStats]] window-vs-bucketed crossover
    * discipline — both arms exact, so the choice is invisible to the
    * oracle, and the count is already paid for by the
    * [[requireBoundedDomain]] gate):
    *
    *  - `nd ≤` [[DefaultWindowRankDomain]]: ONE cumulative window over
    *    the checkpointed count frame. The single-task sort this
    *    funnels through is provably ≤ 2²⁰ rows — trivial work, fewest
    *    stages (the measured r18 A/B: the two-phase arm's ~4 fixed
    *    extra stages cost 0.42 → 1.23 s at sf0.1's 50-value domain).
    *  - above it: the TWO-PHASE bucket-offset CDF (the
    *    [[systematicSample]] idiom generalized to an arbitrary
    *    orderable domain) — range-bucket on x (bucket =
    *    range-partition id, a monotone prefix of the x order, so
    *    bucket offset + within-bucket cumsum IS the global cumsum
    *    exactly), per-bucket partial sums, prefix offsets over the
    *    ≤P-row bucket frame, and a PARALLEL per-bucket cumulative
    *    window. No window in this arm ever holds more than a range
    *    bucket of the domain; the only partition-less window is the
    *    prefix-sum over the ≤P-row bucket totals (the systematicSample
    *    256-bucket class of provably bounded frames). The bucketed
    *    frame is materialized because range boundaries are SAMPLED
    *    per execution — two un-materialized consumers could bucket
    *    rows differently, corrupting the offsets.
    *
    * So the domain sweep is: tiny/discretized domains take the
    * fewest-stages window; 2²⁰..`maxDomain` (≤ 2²⁴ default) domains
    * distribute the cumsum; larger domains still FAIL LOUDLY at the
    * gate (a continuous measure must be pre-bucketed by the caller).
    */
  private def ksCore(op: String, counts: DataFrame, maxDomain: Long,
                     windowDomain: Long = DefaultWindowRankDomain): DataFrame = {
    val (m0, nd) = requireBoundedDomainN(op, counts, maxDomain)
    val tot = m0.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val cum = if (nd <= windowDomain) {
      val w = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m0.select(col("x"),
        sum("c1").over(w).as("f1"), sum("c2").over(w).as("f2"))
    } else {
      val p = counts.sparkSession.sparkContext.defaultParallelism
      val m = m0.repartitionByRange(p, col("x"))
        .withColumn("b", spark_partition_id())
        .localCheckpoint(eager = true)
      val perB = m.groupBy("b").agg(sum("c1").as("p1"), sum("c2").as("p2"))
      val wOff = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = perB.select(col("b"),
        coalesce(sum("p1").over(wOff), lit(0L)).as("o1"),
        coalesce(sum("p2").over(wOff), lit(0L)).as("o2"))
      val wCum = Window.partitionBy("b").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.join(broadcast(offs), "b")
        .select(col("x"),
          (col("o1") + sum("c1").over(wCum)).as("f1"),
          (col("o2") + sum("c2").over(wCum)).as("f2"))
    }
    cum
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("f1") * col("n2") - col("f2") * col("n1")).as("d"))
      .groupBy("n1", "n2").agg(max("d").as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast(DoubleType) /
          (col("n1") * col("n2")).cast(DoubleType)).as("ks"))
  }

  /** Oracle for [[ksDriftFromCounts]]: `aSql`/`bSql` must each yield a
    * pre-aggregated (x, c) count frame.
    */
  def ksDriftFromCountsOracle(aSql: String, bSql: String): String =
    s"""WITH counts AS (
       |  SELECT x, SUM(ca) AS c1, SUM(cb) AS c2 FROM (
       |    SELECT x, c AS ca, 0 AS cb FROM ($aSql)
       |    UNION ALL SELECT x, 0 AS ca, c AS cb FROM ($bSql))
       |  GROUP BY x),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
       |               CAST(SUM(c2) AS BIGINT) AS n2 FROM counts),
       |cum AS (
       |  SELECT x,
       |    CAST(SUM(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS f1,
       |    CAST(SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS f2
       |  FROM counts),
       |d AS (SELECT CAST(MAX(ABS(f1 * tot.n2 - f2 * tot.n1)) AS BIGINT)
       |        AS d_num
       |      FROM cum CROSS JOIN tot)
       |SELECT tot.n1, tot.n2, d.d_num,
       |  CAST(d.d_num AS DOUBLE) / CAST(tot.n1 * tot.n2 AS DOUBLE) AS ks
       |FROM tot CROSS JOIN d""".stripMargin

  /** Oracle for [[ksDrift]]: `aSql`/`bSql` must each yield a single
    * column `x`.
    */
  def ksDriftOracle(aSql: String, bSql: String): String =
    s"""WITH counts AS (
       |  SELECT x, SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1,
       |         SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS c2
       |  FROM (SELECT x, 1 AS s FROM ($aSql)
       |        UNION ALL SELECT x, 2 AS s FROM ($bSql))
       |  GROUP BY x),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
       |               CAST(SUM(c2) AS BIGINT) AS n2 FROM counts),
       |cum AS (
       |  SELECT x,
       |    CAST(SUM(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS f1,
       |    CAST(SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS f2
       |  FROM counts),
       |d AS (SELECT CAST(MAX(ABS(f1 * tot.n2 - f2 * tot.n1)) AS BIGINT)
       |        AS d_num
       |      FROM cum CROSS JOIN tot)
       |SELECT tot.n1, tot.n2, d.d_num,
       |  CAST(d.d_num AS DOUBLE) / CAST(tot.n1 * tot.n2 AS DOUBLE) AS ks
       |FROM tot CROSS JOIN d""".stripMargin

  /** Oracle for [[targetEncoding]]: `vSql` must yield (cat, y). */
  def targetEncodingOracle(vSql: String, smoothing: Long): String =
    s"""WITH v AS ($vSql),
       |per AS (SELECT cat, COUNT(*) AS cnt, SUM(y) AS pos
       |        FROM v GROUP BY cat),
       |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot,
       |             CAST(SUM(pos) AS BIGINT) AS pos_tot FROM per)
       |SELECT cat, CAST(cnt AS BIGINT) AS cnt, CAST(pos AS BIGINT) AS pos,
       |  CAST(pos * n_tot + $smoothing * pos_tot AS DOUBLE)
       |    / CAST(n_tot * (cnt + $smoothing) AS DOUBLE) AS enc
       |FROM per CROSS JOIN g ORDER BY cat""".stripMargin
}
