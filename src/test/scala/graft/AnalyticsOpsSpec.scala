package graft

import org.apache.spark.sql.functions._
import graft.operators.{GraphOps, Merge, ProductAnalytics, Profiling, Similarity, TextAnalysis}

/** Laws for the round-5 analytics operators: IVM merge algebra, skyline
  * dominance, PageRank partition-invariance, exact-integer RRF.
  */
class AnalyticsOpsSpec extends SparkSpec {

  import spark.implicits._

  // ---------------------------------------- incremental agg maintenance

  private lazy val txns = Seq(
    (1L, 100L), (1L, 250L), (2L, 30L), (3L, 7L), (3L, 7L), (3L, 1L),
    (4L, 900L), (2L, 60L), (5L, 5L)).toDF("k0", "v0")

  private def state(df: org.apache.spark.sql.DataFrame) =
    Merge.aggState(df, col("k0"), col("v0"))

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("k")
      -> (r.getAs[Long]("cnt"), r.getAs[Long]("sum_v"))).toMap

  test("mergeAggState: base ⊕ delta == full recompute, any split") {
    val full = asMap(state(txns))
    for (m <- Seq(2L, 3L)) {
      val base  = state(txns.filter(pmod(col("v0"), lit(m)) =!= 0))
      val delta = state(txns.filter(pmod(col("v0"), lit(m)) === 0))
      assert(asMap(Merge.mergeAggState(base, delta)) === full, s"split mod $m")
    }
  }

  test("mergeAggState is associative and has the empty state as identity") {
    val a = state(txns.filter(col("k0") <= 1))
    val b = state(txns.filter(col("k0") === 2 || col("k0") === 3))
    val c = state(txns.filter(col("k0") >= 4))
    val lhs = asMap(Merge.mergeAggState(Merge.mergeAggState(a, b), c))
    val rhs = asMap(Merge.mergeAggState(a, Merge.mergeAggState(b, c)))
    assert(lhs === rhs)
    assert(lhs === asMap(state(txns)))
    val empty = state(txns.filter(lit(false)))
    assert(asMap(Merge.mergeAggState(a, empty)) === asMap(a))
  }

  // ------------------------------------------------------- 2-D skyline

  test("skyline2D matches brute-force dominance on an adversarial fixture") {
    // ties on both dims, duplicate points, a dominated duplicate price
    val pts = Seq(
      (1L, 10L, 5L), (2L, 10L, 9L), (3L, 10L, 9L), (4L, 12L, 9L),
      (5L, 12L, 11L), (6L, 15L, 11L), (7L, 15L, 14L), (8L, 20L, 1L),
      (9L, 8L, 2L), (10L, 8L, 2L))
    val df = pts.toDF("pid", "price", "size")
    val got = Profiling.skyline2D(df, col("pid"), col("price"), col("size"))
      .collect().map(_.getAs[Long]("id")).toSet
    val brute = pts.filter { case (_, mn, mx) =>
      !pts.exists { case (_, amn, amx) =>
        amn <= mn && amx >= mx && (amn < mn || amx > mx) }
    }.map(_._1).toSet
    assert(got === brute)
    assert(got === Set(2L, 3L, 5L, 7L, 9L, 10L)) // ties all survive
  }

  // ----------------------------------------------------------- PageRank

  private lazy val edges = Seq(
    (0L, 1L, 3L), (0L, 2L, 1L), (1L, 2L, 2L), (2L, 0L, 1L),
    (3L, 0L, 5L) // node 4 is isolated; node 3 has no in-edges
  ).toDF("src", "dst", "w")
  private lazy val nodes = (0L to 4L).toDF("node")

  test("pageRank: partition-invariant, mass-bounded, no-in-edge node sits at base") {
    val r = GraphOps.pageRank(edges, nodes, iters = 5)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank_scaled")).toMap
    val rShuf = GraphOps.pageRank(edges.repartition(7), nodes.repartition(3),
        iters = 5)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank_scaled")).toMap
    assert(r === rShuf) // exact integer arithmetic ⇒ bit-identical
    assert(r.values.forall(_ > 0L))
    assert(r.values.sum <= 1000000000000L) // floor-div only loses mass
    // nodes 3 and 4 receive nothing: rank = (15·scale) div (100·N)
    assert(r(3L) === 15L * 1000000000000L / (100L * 5L))
    assert(r(4L) === r(3L))
    // node 0 takes 3's full damped contribution and more: strictly above base
    assert(r(0L) > r(3L))
  }

  test("bounded graph variants: bit-identical to the distributed operators; loud gate") {
    // the driver-iterated variants replay the identical exact-integer
    // arithmetic — every (node, score) must match the distributed
    // result exactly, and the output schema (post-cast node type)
    // must round-trip too
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(0) -> x.toSeq.drop(1)).toMap
    assert(m(GraphOps.pageRankBounded(edges, nodes, iters = 5)) ===
      m(GraphOps.pageRank(edges, nodes, iters = 5)))
    val e2 = edges.select("src", "dst")
    assert(m(GraphOps.hitsBounded(e2, nodes, iters = 3)) ===
      m(GraphOps.hits(e2, nodes, iters = 3)))
    val src = Seq(0L).toDF("node")
    assert(m(GraphOps.shortestPathsBounded(edges, src, maxHops = 3)) ===
      m(GraphOps.shortestPaths(edges, src, maxHops = 3)))
    // unreachable-absent convention carries over
    assert(!m(GraphOps.shortestPathsBounded(edges, src, maxHops = 3))
      .contains(4L))
    // the gate refuses an over-cap domain instead of collecting it
    val big = (0L to 99L).toDF("node")
    val bigE = (0L until 99L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      GraphOps.pageRankBounded(bigE, big, iters = 1, maxNodes = 10)
    }
  }

  // ----------------------------------------------------------- triangles

  test("triangleStats: internal degree-ordering bounds the wedge-candidate key") {
    // Middle-id hub: 40 lower-id leaves point INTO node 50, 40
    // higher-id leaves point OUT of it (the id-oriented worst case —
    // in·out through the hub is 40·40), plus one triangle {0,1,50}.
    val hub = 50L
    val pairs = ((0L to 39L).map(i => (i, hub)) ++
      (51L to 90L).map(j => (hub, j)) ++ Seq((0L, 1L)))
      .toDF("doc_a", "doc_b")
    def candCount(e: org.apache.spark.sql.DataFrame): Long =
      e.as("e1").join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a")).count()
    // id orientation funnels 40·40 wedges through the hub; degree
    // orientation points every hub edge AT the hub (forward degree 0
    // there), leaving only the one real wedge at node 1.
    assert(candCount(pairs) === 40L * 40L + 1L)
    assert(candCount(GraphOps.orientByDegree(pairs)) === 1L)
    // counts are orientation-invariant: the relabel must not change them
    val r = GraphOps.triangleStats(pairs).collect()(0)
    assert(r.getAs[Long]("n_nodes") === 81L)
    assert(r.getAs[Long]("n_edges") === 81L)
    assert(r.getAs[Long]("n_wedges") === 3162L) // C(80,2) + 1 + 1
    assert(r.getAs[Long]("n_triangles") === 1L)
  }

  test("triangleStats: clique census is exact under the relabel") {
    val m = 8L
    val clique = (for { a <- 0L until m; b <- (a + 1) until m } yield (a, b))
      .toDF("doc_a", "doc_b")
    val r = GraphOps.triangleStats(clique).collect()(0)
    assert(r.getAs[Long]("n_edges") === m * (m - 1) / 2)
    assert(r.getAs[Long]("n_triangles") === m * (m - 1) * (m - 2) / 6)
    assert(r.getAs[Long]("n_wedges") === m * (m - 1) * (m - 2) / 2)
    assert(r.getAs[Double]("global_clustering") === 1.0)
  }

  test("pageRank: residual stop fires and lands on a fixed-iteration state") {
    // 30-node synthetic ring-with-chords graph, formula-built (no RNG).
    val big = (0L until 30L).flatMap { i =>
      Seq((i, (i + 1) % 30, 1L + (i % 3)), (i, (i * 7 + 3) % 30, 1L + (i % 5)))
    }.filter { case (s, d, _) => s != d }.toDF("src", "dst", "w")
    val bigNodes = (0L until 30L).toDF("node")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank_scaled")).toMap
    // an effectively-infinite tolerance must stop after exactly 1 iteration
    val one = ranks(GraphOps.pageRank(big, bigNodes, iters = 20,
      tolScaled = Long.MaxValue))
    assert(one === ranks(GraphOps.pageRank(big, bigNodes, iters = 1)))
    // a real tolerance converges BEFORE the cap (L1 residual contracts
    // ~×0.85/iteration), to exactly the state some fixed iteration
    // count k < cap produces (integer arithmetic makes each iteration
    // bit-deterministic, so equality is exact)
    val cap = 12
    val conv = ranks(GraphOps.pageRank(big, bigNodes, iters = cap,
      tolScaled = 20000000000L))
    val k = (1 to cap).find(i =>
      ranks(GraphOps.pageRank(big, bigNodes, iters = i)) == conv)
    assert(k.isDefined && k.get < cap, s"converged state must match some k < $cap")
  }

  // ------------------------------------------------------ frequent pairs

  test("frequentPairs prunes infrequent items before pairing") {
    val t = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 30L),
      (4L, 40L), (4L, 10L),
      (2L, 10L) // duplicate line: must not double-count
    ).toDF("basket", "item")
    val r = ProductAnalytics.frequentPairs(t, col("basket"), col("item"),
        minItemSupport = 2, minPairSupport = 2)
      .collect()
      .map(x => (x.getAs[Long]("item_a"), x.getAs[Long]("item_b"))
        -> x.getAs[Long]("support")).toMap
    // item 40 has support 1 → pruned; (10,20) in baskets 1,2,3; (10,30)+(20,30) in 1,3
    assert(r === Map((10L, 20L) -> 3L, (10L, 30L) -> 2L, (20L, 30L) -> 2L))
  }

  test("frequentPairs: minItemSupport<=1 fast path == pruned path, one basket-first exchange") {
    val t = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L),
      (3L, 30L), (3L, 10L), (2L, 10L)).toDF("basket", "item")
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getAs[Long]("item_a"), x.getAs[Long]("item_b"))
        -> x.getAs[Long]("support")).toMap
    // support=1 makes the prune a no-op, so both paths must agree
    val fast = ProductAnalytics.frequentPairs(t, col("basket"), col("item"),
      minItemSupport = 1, minPairSupport = 1)
    val slowEquiv = ProductAnalytics.frequentPairs(
      t.unionAll(t), // every item's support doubles past 2: prune passes all
      col("basket"), col("item"), minItemSupport = 2, minPairSupport = 1)
    assert(collect(fast) === collect(slowEquiv))
    assert(collect(fast) === Map((10L, 20L) -> 2L, (10L, 30L) -> 2L,
      (20L, 30L) -> 1L))
    // the fast path's dedup/sort/walk all sit above ONE basket exchange
    fast.queryExecution.toRdd.foreachPartition(_ => ())
    val plan = fast.queryExecution.executedPlan.toString
    val exKeys = """Exchange (?:hash|REPARTITION_BY_COL.*?hash)partitioning\(([^)]*)\)""".r
      .findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim.takeWhile(_ != '#'))
        .filter(s => s.nonEmpty && !s.forall(_.isDigit)).toSeq)
      .toSet
    assert(exKeys === Set(Seq("basket"), Seq("item_a", "item_b")),
      s"expected only {basket},{item_a,item_b} exchanges, got $exKeys:\n$plan")
  }

  test("frequentPairs: semi-join prune below, sorted-run walk above one basket exchange") {
    val t = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 30L))
      .toDF("basket", "item")
    // no forced broadcast: the hint-free semi join is still planned (AQE
    // picks the physical strategy from the measured size at runtime),
    // and it structurally precedes the basket self-join: the pair stage
    // is built on the pruned frame
    val pruned = ProductAnalytics.prunedBasketItems(
      t, col("basket"), col("item"), minItemSupport = 2)
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("LeftSemi"),
      s"expected a semi-join prune in:\n$prunedPlan")
    val df = ProductAnalytics.frequentPairs(t, col("basket"), col("item"),
      minItemSupport = 2, minPairSupport = 2)
    // r14 second pass: lazy end-to-end — the prune pipeline is visible
    // in the final plan (no checkpoint erases it), and the pair stage
    // is a sorted-run mapPartitions walk above ONE basket repartition,
    // not a self-join. (Catalyst pushes the semi prune below the pair
    // side's distinct, so the column-pruned source is scanned twice —
    // the operator Scaladoc documents that trade.)
    df.queryExecution.toRdd.foreachPartition(_ => ())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"expected the semi-join prune in the lazy final plan:\n$plan")
    assert(plan.contains("MapPartitions") && !plan.contains("SortMergeJoin"),
      s"expected a sorted-run mapPartitions pair stage, no self-join:\n$plan")
    // the full lazy pipeline's exchange key signatures: the (basket,
    // item) dedup, the frequent-item aggregate (and/or shuffled-semi
    // probe) on item, the single basket repartition, the pair aggregate
    val exKeys = """Exchange (?:hash|REPARTITION_BY_COL.*?hash)partitioning\(([^)]*)\)""".r
      .findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim.takeWhile(_ != '#'))
        .filter(s => s.nonEmpty && !s.forall(_.isDigit)).toSeq)
      .toSet
    assert(exKeys === Set(Seq("basket", "item"), Seq("item"),
        Seq("basket"), Seq("item_a", "item_b")),
      s"expected {basket,item},{item},{basket},{item_a,item_b} exchanges, got $exKeys:\n$plan")
    val got = df.collect()
      .map(x => (x.getAs[Long]("item_a"), x.getAs[Long]("item_b"))
        -> x.getAs[Long]("support")).toMap
    assert(got === Map((10L, 20L) -> 2L))
  }

  // ---------------------------------------------------------------- RRF

  test("rrfFuse: scaled terms are exact and fusion matches rational RRF") {
    val P = Similarity.RrfLcmK60Len10
    (1 to 10).foreach(r => assert(P % (60L + r) === 0L, s"rank $r"))
    val a = Seq((0L, 100L, 1L), (0L, 101L, 2L), (0L, 102L, 3L))
      .toDF("query_id", "neighbor_id", "rnk")
    val b = Seq((0L, 102L, 1L), (0L, 101L, 2L), (0L, 103L, 3L))
      .toDF("query_id", "neighbor_id", "rnk")
    val got = Similarity.rrfFuse(a, b, topK = 4).orderBy("rnk")
      .collect().map(x => (x.getAs[Long]("neighbor_id"), x.getAs[Long]("rrf_scaled")))
    // independent exact computation over rationals scaled by P
    def s(r: Long) = P / (60L + r)
    val expected = Seq(
      101L -> (s(2) + s(2)), 102L -> (s(3) + s(1)),
      100L -> s(1), 103L -> s(3))
      .sortBy { case (id, sc) => (-sc, id) }
    assert(got.toSeq === expected)
  }

  test("rankAgreement: identical lists 1, reversed lists -1, partial overlap exact") {
    def lst(q: Long, ids: Seq[Long]) =
      ids.zipWithIndex.map { case (id, i) => (q, id, (i + 1).toLong) }
        .toDF("query_id", "neighbor_id", "rnk")
    // q0: identical 4-item lists; q1: exactly reversed 4-item lists
    val a = lst(0L, Seq(10L, 11L, 12L, 13L))
      .unionAll(lst(1L, Seq(20L, 21L, 22L, 23L)))
    val b = lst(0L, Seq(10L, 11L, 12L, 13L))
      .unionAll(lst(1L, Seq(23L, 22L, 21L, 20L)))
    val r = Similarity.rankAgreement(a, b).collect()
      .map(x => x.getAs[Long]("query_id") ->
        (x.getAs[Double]("rho"), x.getAs[Double]("tau"))).toMap
    assert(r(0L) === ((1.0, 1.0)))
    assert(r(1L) === ((-1.0, -1.0)))
    // partial overlap: a ranks shared {5, 6, 7} as 1,2,3; b sees them
    // re-ranked 2,3,1 -> d2 = 1+1+4 = 6, rho = (24-36)/24 = -0.5;
    // pairs: (5,6) conc, (5,7) disc, (6,7) disc -> tau = 2(1-2)/6
    val a2 = lst(2L, Seq(5L, 6L, 7L, 8L))
    val b2 = lst(2L, Seq(7L, 9L, 5L, 6L))
    val r2 = Similarity.rankAgreement(a2, b2).collect()(0)
    assert(r2.getAs[Long]("n_shared") === 3L)
    assert(r2.getAs[Long]("sum_d2") === 6L)
    assert(r2.getAs[Long]("concordant") === 1L)
    assert(r2.getAs[Long]("discordant") === 2L)
    assert(r2.getAs[Double]("rho") === -0.5)
    assert(r2.getAs[Double]("tau") === 2.0 * (1 - 2) / 6.0)
  }

  // ------------------------------------------------------ shortest paths

  test("shortestPaths: hop cap, relaxation, unreachable absent, partition-invariant") {
    // 0→1 costs 10 direct but 3 via 2 hops through node 2; 4 isolated.
    val e = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 1L, 2L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val src = Seq(0L).toDF("node")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(m(GraphOps.shortestPaths(e, src, maxHops = 1)) ===
      Map(0L -> 0L, 1L -> 10L, 2L -> 1L))
    val h3 = m(GraphOps.shortestPaths(e, src, maxHops = 3))
    assert(h3 === Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 4L))
    // node 4 never appears (recursive-CTE convention), even as a source set grows
    assert(!h3.contains(4L))
    // exact integer arithmetic ⇒ bit-identical under repartition + checkpoint cadence
    assert(m(GraphOps.shortestPaths(e.repartition(5), src.repartition(2),
      maxHops = 3, checkpointEvery = 1)) === h3)
    // multi-source: seeds at 0 and 2 — 2's zero seed beats the 0→2 path
    val h2 = m(GraphOps.shortestPaths(e, Seq(0L, 2L).toDF("node"), maxHops = 2))
    assert(h2 === Map(0L -> 0L, 1L -> 2L, 2L -> 0L, 3L -> 3L))
  }

  // -------------------------------------------------- interval coverage

  test("intervalCoverage: touching merges, nesting absorbs, gaps split") {
    val iv = Seq(
      ("a", 0L, 10L), ("a", 5L, 20L),   // overlap → one island
      ("a", 20L, 30L),                  // touching (s == pmax) → same island
      ("a", 40L, 50L),                  // gap → new island
      ("b", 0L, 100L), ("b", 10L, 20L), // nested absorbs
      ("c", 7L, 7L)                     // empty interval: island of length 0
    ).toDF("k0", "s0", "e0")
    val r = ProductAnalytics.intervalCoverage(iv, col("k0"), col("s0"), col("e0"))
      .collect().map(x => x.getAs[String]("k") ->
        (x.getAs[Long]("n_intervals"), x.getAs[Long]("n_islands"),
         x.getAs[Long]("covered"))).toMap
    assert(r === Map(
      "a" -> ((4L, 2L, 40L)),  // [0,30) ∪ [40,50)
      "b" -> ((2L, 1L, 100L)),
      "c" -> ((1L, 1L, 0L))))
  }

  // ------------------------------------------------------- MAD outliers

  test("madOutliers: integer threshold matches hand-computed med/MAD") {
    // g1: 1..9 plus an extreme 100 → med 5, mad 2; only 100 crosses z=3.
    val g1 = (1L to 9L).map(v => ("g1", v * 10 + v, v)) :+ (("g1", 999L, 100L))
    // g2: constant value → mad 0 → every off-median row flags
    val g2 = Seq(("g2", 1L, 7L), ("g2", 2L, 7L), ("g2", 3L, 7L), ("g2", 4L, 8L))
    val df = (g1 ++ g2).toDF("g0", "id0", "x0")
    val r = Profiling.madOutliers(df, col("g0"), col("id0"), col("x0"))
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("x"), x.getAs[Long]("med"), x.getAs[Long]("mad"))).toMap
    assert(r === Map(999L -> ((100L, 5L, 2L)), 4L -> ((8L, 7L, 0L))))
    // tighter z flags the tails of g1 too: z=1.5 ⇒ |x-5| > 1.5·1.4826·2 ≈ 4.45
    val tight = Profiling.madOutliers(df, col("g0"), col("id0"), col("x0"),
        zTenths = 15L)
      .collect().map(_.getAs[Long]("x")).toSet
    assert(tight === Set(100L, 8L))
  }

  test("robustStats: high-cardinality grouping stays exact (no forced stats broadcast)") {
    // 3000 groups × 5 rows: the |G|-sized med frame joins back without
    // a broadcast() hint — AQE picks the strategy — and the result must
    // equal the per-group brute force either way. Values are a
    // deterministic per-group permutation so medians differ per group.
    val rows = for (g <- 0L until 3000L; i <- 0L until 5L)
      yield (g, (g * 7 + i * 13) % 17, g + ((i * 31 + g) % 5))
    val df = rows.toDF("g0", "q0", "x0")
    val got = Profiling.robustStats(df, col("g0"), col("q0"), col("x0"))
      .collect().map(r => r.getAs[Long]("g") ->
        (r.getAs[Long]("med"), r.getAs[Long]("mad"))).toMap
    def lowerMed(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val xs = rs.map(_._3)
      val med = lowerMed(xs)
      g -> (med, lowerMed(xs.map(x => math.abs(x - med))))
    }
    assert(got.size === 3000)
    assert(got === want)
  }

  test("robustStats/madOutliers: window and bucket ranking paths agree") {
    // The adaptive gate picks medianFromCounts under maxWindowDomain
    // and lowerQuantileW above it; both must compute the identical
    // exact statistic. maxWindowDomain = 0 forces the bucket path on
    // the same data the default (window) path sees.
    val rows = for (g <- 0L until 40L; i <- 0L until 25L)
      yield (g, (g * 7 + i * 13) % 17, (g * 31 + i * i * 7) % 97)
    val df = rows.toDF("g0", "q0", "x0")
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("g") ->
      (r.getAs[Long]("mode_val"), r.getAs[Long]("med"), r.getAs[Long]("mad"))
    val win = Profiling.robustStats(df, col("g0"), col("q0"), col("x0"))
      .collect().map(key).toMap
    val bkt = Profiling.robustStats(df, col("g0"), col("q0"), col("x0"),
      maxWindowDomain = 0L).collect().map(key).toMap
    assert(win.size === 40)
    assert(win === bkt)
    val winO = Profiling.madOutliers(df, col("g0"), col("q0") * 1000 + col("x0"),
      col("x0"), zTenths = 10L).collect().map(_.getAs[Long]("id")).toSet
    val bktO = Profiling.madOutliers(df, col("g0"), col("q0") * 1000 + col("x0"),
      col("x0"), zTenths = 10L, maxWindowDomain = 0L)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(winO === bktO)
  }

  test("robustStats scans its parquet input once; madOutliers twice") {
    // The r08-verdict fix: mode + both median rankings derive from ONE
    // GROUPING SETS count frame (localCheckpoint-ed), so the returned
    // plan reads only checkpoint blocks — the single parquet scan
    // happened in the checkpoint-fill job. madOutliers keeps exactly
    // one parquet scan in the returned plan: the per-row flagging pass.
    val dir = "/root/testdata/sf0.001"
    val li = graft.tables.Tables.lineitem(spark, dir)
    def parquetScans(df: org.apache.spark.sql.DataFrame): Int = {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan.toString.linesIterator
        .count(l => l.contains("Scan parquet") || l.contains("FileScan"))
    }
    val rs = Profiling.robustStats(li, col("l_returnflag"),
      floor(col("l_quantity")).cast("long"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
    assert(parquetScans(rs) === 0,
      "robustStats result must read only the checkpointed count frame")
    val mo = Profiling.madOutliers(li, col("l_returnflag"), col("l_orderkey"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
    assert(parquetScans(mo) === 1,
      "madOutliers result must rescan the input only for the flagging pass")
  }

  test("ksDriftFromCounts == ksDrift on the same slices") {
    val a = Seq(1L, 1L, 2L, 3L, 5L, 5L, 5L).toDF("x0")
    val b = Seq(1L, 2L, 2L, 4L, 4L, 6L).toDF("x0")
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Long]("d_num"),
        r.getAs[Double]("ks"))).toSeq
    def cnts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("x0").as("x")).agg(count(lit(1)).as("c"))
    val raw = row(Profiling.ksDrift(a, b, col("x0")))
    val pre = row(Profiling.ksDriftFromCounts(cnts(a), cnts(b)))
    assert(raw === pre)
    assert(raw.head._1 === 7L && raw.head._2 === 6L)
    // the two-phase bucket-offset CDF arm (domains above windowDomain;
    // r18) must compute the identical statistic — force it by putting
    // the crossover below the 7-value domain
    val two = row(Profiling.ksDrift(a, b, col("x0"), windowDomain = 1L))
    assert(two === raw)
  }

  test("ksDrift two-phase arm: cumulative windows are per-bucket, never global") {
    // a domain wide enough to spread over several range buckets, with
    // clumped duplicates so bucket boundaries land inside value runs
    val a = spark.range(0, 3000).selectExpr("(id % 500) * 3 AS x0")
    val b = spark.range(0, 2000).selectExpr("(id % 400) * 4 AS x0")
    val forced = Profiling.ksDrift(a, b, col("x0"), windowDomain = 1L)
    val plan = forced.queryExecution.executedPlan.toString
    // every window over the bucketed count frame is partitioned by the
    // range-bucket id; the x-ordered cumsum must never be global
    assert(plan.contains("windowspecdefinition(b#"),
      s"expected a per-bucket cumulative window in:\n$plan")
    assert(!plan.contains("windowspecdefinition(x#"),
      s"the global-order x window must be gone in the two-phase arm:\n$plan")
    val dflt = Profiling.ksDrift(a, b, col("x0"))
    assert(forced.collect().toSeq === dflt.collect().toSeq)
  }

  test("systematicSample: exact k, partition-invariant, equals the global-window brute force") {
    import graft.operators.Sampling
    val rows = (1L to 500L).map(i => (i, 1L + (i * 13) % 20))
    val df = rows.toDF("id0", "w0")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Sampling.systematicSample(d, col("id0"), col("w0"), k = 50)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("w"),
          r.getAs[Long]("cum"))).sortBy(_._1).toSeq
    val got = sample(df)
    // every w <= W/k here, so the boundary count is exact
    assert(got.size === 50)
    // two-phase bucket cumsum must equal the one global weight line:
    // replay it in the driver with the same md5 order
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md5.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val line = rows.map { case (id, w) => (hex(id.toString), id, w) }.sorted
    val W = rows.map(_._2).sum
    var cum = 0L
    val want = line.flatMap { case (_, id, w) =>
      val before = cum; cum += w
      if (before * 50 / W < cum * 50 / W) Some((id, w, cum)) else None
    }.sortBy(_._1)
    assert(got === want)
    // deterministic under any partitioning
    assert(sample(df.repartition(13)) === got)
    // a heavy row absorbs several boundaries but is emitted once
    val heavy = (Seq((1000L, 900L)) ++ (1L to 10L).map(i => (i, 2L)))
      .toDF("id0", "w0")
    val hs = Sampling.systematicSample(heavy, col("id0"), col("w0"), k = 5)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(hs.count(_ == 1000L) === 1)
    assert(hs.size < 5)
  }

  test("systematicSamplePerGroup: per-group boundaries replay the per-group weight lines") {
    import graft.operators.Sampling
    val off = Map("a" -> 0L, "b" -> 1000000L, "c" -> 2000000L)
    val rows = for (g <- Seq("a", "b", "c"); i <- 1L to 200L)
      yield (g, off(g) + i, 1L + (i * 7) % 13)
    val df = rows.toDF("g0", "id0", "w0")
    val got = Sampling.systematicSamplePerGroup(
        df, col("g0"), col("id0"), col("w0"), k = 20)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("id"),
        r.getAs[Long]("w"), r.getAs[Long]("cum")))
      .sortBy(x => (x._1, x._2)).toSeq
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md5.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val line = rs.map { case (_, id, w) => (hex(id.toString), id, w) }.sorted
      val W = rs.map(_._3).sum
      var cum = 0L
      line.flatMap { case (_, id, w) =>
        val before = cum; cum += w
        if (before * 20 / W < cum * 20 / W) Some((g, id, w, cum)) else None
      }
    }.sortBy(x => (x._1, x._2))
    assert(got === want)
    // all weights <= W_g/k here, so each group yields exactly k
    assert(got.groupBy(_._1).view.mapValues(_.size).toMap
      === Map("a" -> 20, "b" -> 20, "c" -> 20))
  }

  test("bounded-domain guard: continuous columns fail loudly, discretized ones run") {
    val cont = spark.range(0, 5000).selectExpr("id AS x0")
    intercept[IllegalArgumentException] {
      Profiling.ksDrift(cont, cont, col("x0"), maxDomain = 100L)
    }
    intercept[IllegalArgumentException] {
      Profiling.skyline2D(cont, col("x0"), col("x0"), col("x0"),
        maxDomain = 100L)
    }
    // equiFreqBins shed its gate in round 14: the bucketed boundary
    // pass never windows over the value domain, so a fully-continuous
    // measure (5000 distincts of 5000 rows) is a first-class input —
    // exact quartile boundaries, k_j = ceil(j*5000/4)-th smallest
    val r = Profiling.equiFreqBins(cont, col("x0"), bins = 4)
      .orderBy("bin")
      .collect().map(x => (x.getAs[Int]("bin"), x.getAs[Long]("n_rows"),
        x.getAs[Long]("min_x"), x.getAs[Long]("max_x")))
    assert(r === Array((1, 1250L, 0L, 1249L), (2, 1250L, 1250L, 2499L),
      (3, 1250L, 2500L, 3749L), (4, 1250L, 3750L, 4999L)))
    // a discretized measure still bins correctly
    assert(Profiling.equiFreqBins(cont, pmod(col("x0"), lit(7)), bins = 3)
      .count() === 3)
  }

  // ------------------------------------------- limited-split prefix law

  test("split(limit)+slice ≡ unlimited split+explode+pos<5 " +
       "on whitespace adversaries") {
    // pins the q74 rewrite's exactness argument: Spark's split keeps
    // trailing empties at EVERY limit (unlike java.lang.String#split,
    // which strips them when limit <= 0), so the first 5 elements of
    // the limit-6 split are bit-identical to the unlimited split's —
    // the 6th limited element is the discarded remainder when the doc
    // has >= 6 split points, and the arrays are equal outright below
    val texts = Seq(
      " leading space", "trailing space ", "a b", " ", "", "\t\n a \t ",
      "one two three four five six seven", "a  b\t\tc \n d", "x ",
      " a b c d e f ").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val slow = df
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))
      .filter(col("pos") < 5)
    val fast = df
      .select(col("doc_id"),
        posexplode(slice(split(col("text"), "\\s+", 6), 1, 5))
          .as(Seq("pos", "token")))
    val s = slow.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(x => (x._1, x._2))
    val f = fast.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(x => (x._1, x._2))
    assert(f === s)
  }

  // --------------------------------------------------------------- k-core

  test("kCore: chains peel one hop per round, cliques survive, idempotent past fixpoint") {
    // triangle {0,1,2} + chain 2-3-4-5 hanging off it + isolated edge 8-9
    val g = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (8L, 9L)).toDF("doc_a", "doc_b")
    def nodes(rounds: Int) = GraphOps.kCore(g, k = 2, rounds = rounds)
      .collect().map(_.getAs[Long]("node")).toSet
    // round 1 drops {5, 8, 9} and the FINAL deg>=k output filter trims
    // the newly-exposed chain end (4) — one free extra half-peel, the
    // oracle's HAVING does the identical trim; round 2 then drops 4
    // from the edge set and the filter trims 3 → core
    assert(nodes(1) === Set(0L, 1L, 2L, 3L))
    assert(nodes(2) === Set(0L, 1L, 2L))
    assert(nodes(5) === Set(0L, 1L, 2L)) // extra rounds are no-ops
    // core degrees are the in-core degrees, not the original ones
    val deg = GraphOps.kCore(g, k = 2, rounds = 5)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toMap
    assert(deg === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("kCore: broadcast rounds ≡ shuffled fallback (gate at 0 forces old shape)") {
    // same graph as the peeling spec: triangle + chain + isolated edge.
    // broadcastNodeLimit = 0 forces the shuffled path; the default gate
    // takes the doubled-adjacency broadcast path — results must be
    // identical (nodes AND core degrees) round-for-round.
    val g = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (8L, 9L)).toDF("doc_a", "doc_b")
    for (rounds <- 1 to 3) {
      val bc = GraphOps.kCore(g, k = 2, rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = GraphOps.kCore(g, k = 2, rounds = rounds,
          broadcastNodeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bc === sh, s"rounds=$rounds")
    }
    // the early-exit round counter must agree across paths too
    val (_, rBc) = GraphOps.kCoreWithRounds(g, k = 2, rounds = 200)
    val (_, rSh) = GraphOps.kCoreWithRounds(g, k = 2, rounds = 200,
      broadcastNodeLimit = 0L)
    assert(rBc === rSh)
  }

  test("kCore: early exit — a huge round cap stops at convergence") {
    // a triangle IS its own 2-core: round 1 removes nothing, so the
    // peeling loop must stop there even with a 200-round cap. The
    // explicit round counter is the early-exit witness — deterministic,
    // unlike counting global job-start events (AQE subquery jobs +
    // async listener delivery made that bound timing-sensitive).
    val tri = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("doc_a", "doc_b")
    val (core, rounds) = GraphOps.kCoreWithRounds(tri, k = 2, rounds = 200)
    assert(core.collect().map(_.getAs[Long]("node")).toSet === Set(0L, 1L, 2L))
    assert(rounds === 1,
      s"expected early exit after 1 converged round, ran $rounds")
    // a 3-chain peels from both ends: round 1 drops the endpoints,
    // round 2 drops the middle pair, round 3 proves the empty fixpoint
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val (core2, rounds2) = GraphOps.kCoreWithRounds(chain, k = 2, rounds = 200)
    assert(core2.count() === 0L)
    assert(rounds2 <= 3, s"chain should converge in <= 3 rounds, ran $rounds2")
  }

  // ------------------------------------------------------ quantile bands

  test("quantileBands: lower-quantile ranks, p50 == lower median, p100 == max") {
    // 1..10 in one group: k(p) = ceil(10p/100) ⇒ p10→1st, p50→5th, p90→9th
    val df = ((1L to 10L).map(("u", _)) ++ Seq(("w", 7L), ("w", 9L)))
      .toDF("g0", "x0")
    val r = Profiling.quantileBands(df, col("g0"), col("x0"),
        percents = Seq(10, 50, 90, 100))
      .collect().map(x => x.getAs[String]("g") ->
        (x.getAs[Long]("p_10"), x.getAs[Long]("p_50"),
         x.getAs[Long]("p_90"), x.getAs[Long]("p_100"))).toMap
    assert(r === Map("u" -> ((1L, 5L, 9L, 10L)), "w" -> ((7L, 7L, 9L, 9L))))
    // partition-invariance: exact integer machinery, bit-identical
    val rShuf = Profiling.quantileBands(df.repartition(7), col("g0"), col("x0"),
        percents = Seq(10, 50, 90, 100))
      .collect().map(x => x.getAs[String]("g") -> x.getAs[Long]("p_50")).toMap
    assert(rShuf === Map("u" -> 5L, "w" -> 7L))
  }

  // ------------------------------------------------------ weighted median

  test("weightedMedian == unweighted median of the weight-expanded rows") {
    val wv = Seq(("a", 10L, 3L), ("a", 20L, 1L), ("a", 30L, 1L),
      ("b", 5L, 1L), ("b", 7L, 4L), ("c", 9L, 2L)).toDF("g0", "x0", "w0")
    val got = Profiling.weightedMedian(wv, col("g0"), col("x0"), col("w0"))
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("wmed")).toMap
    // defining law: each row repeated w times, then plain lower median
    val expanded = wv.withColumn("i",
        explode(sequence(lit(1L), col("w0"))))
      .select(col("g0").as("g"), col("x0").as("x"))
    val want = Profiling.lowerMedian(expanded)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("med0")).toMap
    assert(got === want)
    assert(got === Map("a" -> 10L, "b" -> 7L, "c" -> 9L))
  }

  // --------------------------------------------------------- chi-square

  test("chiSquareCells: exact rational cells, zero cells carry expected mass") {
    // 2×2 with an empty (y, b) cell: rows x:(3a,1b), y:(2a,0b)
    val df = (Seq.fill(3)(("x", "A")) ++ Seq(("x", "B")) ++
      Seq.fill(2)(("y", "A"))).toDF("a0", "b0")
    val r = Profiling.chiSquareCells(df, col("a0"), col("b0"))
      .collect().map(x => (x.getAs[String]("a"), x.getAs[String]("b")) ->
        (x.getAs[Long]("obs"), x.getAs[Double]("exp"),
         x.getAs[Double]("chi2_cell"))).toMap
    // n=6; rt(x)=4, rt(y)=2; ct(A)=5, ct(B)=1
    def cell(obs: Long, rt: Long, ct: Long) = {
      val num = (obs * 6 - rt * ct).toDouble
      (obs, rt * ct / 6.0, num * num / (6.0 * rt * ct))
    }
    assert(r === Map(
      ("x", "A") -> cell(3, 4, 5), ("x", "B") -> cell(1, 4, 1),
      ("y", "A") -> cell(2, 2, 5), ("y", "B") -> cell(0, 2, 1)))
  }

  test("chiSquareCells: survives the int64-square overflow regime") {
    // Perfectly-associated balanced 2×2 at n = 400k: |obs·n − rt·ct|
    // = n²/4 = 4·10¹⁰, whose int64 square (1.6·10²¹) overflows 2⁶³
    // ≈ 9.2·10¹⁸. The numerator must be squared in double — under
    // ANSI mode an int64 square would throw, and with ANSI off it
    // would silently wrap to a wrong cell.
    val half = 200000
    val df = spark.range(half).select(lit("x").as("a0"), lit("A").as("b0"))
      .unionAll(spark.range(half)
        .select(lit("y").as("a0"), lit("B").as("b0")))
    val r = Profiling.chiSquareCells(df, col("a0"), col("b0"))
      .collect().map(x => (x.getAs[String]("a"), x.getAs[String]("b")) ->
        x.getAs[Double]("chi2_cell")).toMap
    val n = 2.0 * half
    // each cell of a perfect association contributes n/4; total = n
    assert(r.size === 4)
    assert(r(("x", "A")) === n / 4)
    assert(r(("y", "B")) === n / 4)
    assert(r(("x", "B")) === n / 4)
    assert(r(("y", "A")) === n / 4)
  }

  // --------------------------------------------------------------- gini

  test("giniImpurity: pure group 0, uniform k-label group 1 - 1/k") {
    val df = (Seq.fill(5)(("pure", "A")) ++
      Seq(("uni", "A"), ("uni", "B"), ("uni", "C"), ("uni", "D")) ++
      Seq(("mix", "A"), ("mix", "A"), ("mix", "B"))).toDF("g0", "l0")
    val r = Profiling.giniImpurity(df, col("g0"), col("l0"))
      .collect().map(x => x.getAs[String]("g") ->
        (x.getAs[Long]("n"), x.getAs[Long]("n_labels"),
         x.getAs[Double]("gini"))).toMap
    assert(r("pure") === ((5L, 1L, 0.0)))
    assert(r("uni") === ((4L, 4L, (16.0 - 4.0) / 16.0))) // 1 - 1/4
    assert(r("mix") === ((3L, 2L, (9.0 - 5.0) / 9.0)))   // 1 - (4+1)/9
  }

  // --------------------------------------------------------------- hits

  test("hits: directed star - center is the hub, leaves the authorities") {
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val nodes = (0L to 4L).toDF("node")
    val r = GraphOps.hits(e, nodes, iters = 1).collect()
      .map(x => x.getAs[Long]("node") ->
        (x.getAs[Long]("auth_scaled"), x.getAs[Long]("hub_scaled"))).toMap
    // round 1: rawA(leaf) = h0(0) = 1e6 each, total 4e6 -> q=4,
    // a(leaf) = 250000; rawH(0) = 4*250000 = 1e6, q=1 -> h(0) = 1e6
    assert(r(0L) === ((0L, 1000000L)))
    (1L to 4L).foreach(v => assert(r(v) === ((250000L, 0L))))
    // extra iterations preserve the star fixpoint
    val r3 = GraphOps.hits(e, nodes, iters = 3).collect()
      .map(x => x.getAs[Long]("node") ->
        (x.getAs[Long]("auth_scaled"), x.getAs[Long]("hub_scaled"))).toMap
    assert(r3 === r)
  }

  // -------------------------------------------------------------- kappa

  test("cohensKappa: textbook 2x2 table and perfect agreement") {
    // cells (y,y)=4 (y,n)=1 (n,y)=2 (n,n)=3: n=10 agree=7,
    // rt=(5,5) ct=(6,4), sp=5*6+5*4=50, kappa=(70-50)/(100-50)=0.4
    val df = (Seq.fill(4)(("y", "y")) ++ Seq(("y", "n")) ++
      Seq.fill(2)(("n", "y")) ++ Seq.fill(3)(("n", "n"))).toDF("ra", "rb")
    val r = Profiling.cohensKappa(df, col("ra"), col("rb")).collect()(0)
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Long]("agree") === 7L)
    assert(r.getAs[Double]("kappa") === 0.4)
    // identical raters over >= 2 categories: kappa exactly 1
    val same = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("ra", "rb")
    assert(Profiling.cohensKappa(same, col("ra"), col("rb"))
      .collect()(0).getAs[Double]("kappa") === 1.0)
    // independent-by-margins raters: kappa exactly 0 — 2x2 with cells
    // proportional to the margin products (1,1,1,1): agree=2, sp=2*2+2*2=8,
    // kappa=(4*2-8)/(16-8)=0
    val ind = Seq(("y", "y"), ("y", "n"), ("n", "y"), ("n", "n"))
      .toDF("ra", "rb")
    assert(Profiling.cohensKappa(ind, col("ra"), col("rb"))
      .collect()(0).getAs[Double]("kappa") === 0.0)
  }

  // ------------------------------------------------------ vocab jaccard

  test("domainTokenJaccard: exact overlap counts, empty pairs absent") {
    val df = Seq(
      (1L, "d1", "a b c"), (2L, "d1", "a b"),
      (3L, "d2", "b c d"), (4L, "d3", "x y")).toDF("doc_id", "dom0", "text")
    val r = TextAnalysis.domainTokenJaccard(df, col("dom0"))
      .collect().map(x => (x.getAs[String]("dom_a"), x.getAs[String]("dom_b")) ->
        (x.getAs[Long]("v_a"), x.getAs[Long]("v_b"),
         x.getAs[Long]("inter"), x.getAs[Double]("jaccard"))).toMap
    // d1 vocab {a,b,c}, d2 {b,c,d}: inter {b,c} -> J = 2/4
    assert(r === Map(("d1", "d2") -> ((3L, 3L, 2L, 0.5))))
  }

  // ----------------------------------------------------------- KS drift

  test("ksDrift: exact CDF-gap maximum; identical samples score 0") {
    // a = {1, 2}, b = {2, 3}: at v=1 |F1-F2| = |1/2 - 0| = 1/2 (the
    // max); numerator form: |1*2 - 0*2| = 2, ks = 2/(2*2) = 0.5
    val a = Seq(1L, 2L).toDF("v")
    val b = Seq(2L, 3L).toDF("v")
    val r = Profiling.ksDrift(a, b, col("v")).collect()(0)
    assert(r.getAs[Long]("n1") === 2L)
    assert(r.getAs[Long]("n2") === 2L)
    assert(r.getAs[Long]("d_num") === 2L)
    assert(r.getAs[Double]("ks") === 0.5)
    // identical samples: every cumulative gap is exactly zero
    val same = Profiling.ksDrift(a, a, col("v")).collect()(0)
    assert(same.getAs[Long]("d_num") === 0L)
    assert(same.getAs[Double]("ks") === 0.0)
    // disjoint supports: somewhere one CDF is 1 and the other 0
    val far = Profiling.ksDrift(Seq(1L, 2L).toDF("v"),
      Seq(10L, 11L).toDF("v"), col("v")).collect()(0)
    assert(far.getAs[Double]("ks") === 1.0)
  }

  // ---------------------------------------------------- target encoding

  test("targetEncoding: m=0 is the raw rate; m>0 shrinks to the prior") {
    val df = Seq(("x", 1), ("x", 0), ("y", 1), ("y", 1)).toDF("c0", "y0")
    val raw = Profiling.targetEncoding(df, col("c0"), col("y0"), 0L)
      .collect().map(x => x.getAs[String]("cat") -> x.getAs[Double]("enc"))
      .toMap
    assert(raw === Map("x" -> 0.5, "y" -> 1.0))
    // N=4, P=3, m=2: enc_x = (1*4 + 2*3)/(4*(2+2)) = 10/16,
    // enc_y = (2*4 + 2*3)/(4*4) = 14/16 — both pulled toward P/N = 0.75
    val sm = Profiling.targetEncoding(df, col("c0"), col("y0"), 2L)
      .collect().map(x => x.getAs[String]("cat") ->
        (x.getAs[Long]("cnt"), x.getAs[Long]("pos"), x.getAs[Double]("enc")))
      .toMap
    assert(sm === Map("x" -> ((2L, 1L, 0.625)), "y" -> ((2L, 2L, 0.875))))
  }

  // ------------------------------------------------- label propagation

  test("labelPropagation: bridged triangles settle into two communities, min-label ties") {
    // triangle {0,1,2} bridged by 2-10 to triangle {10,11,12}: the
    // hand-computed synchronous rounds (min-label tie-break) converge
    // by round 4 to community 0 on the left and 2 on the right (the
    // bridge carries the left's label ACROSS as the right's seed — a
    // real LPA artifact the fixed rule makes deterministic).
    val g = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (2L, 10L)).toDF("doc_a", "doc_b")
    val r = GraphOps.labelPropagation(g, rounds = 4)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("community"))
      .toMap
    assert(r === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 2L, 11L -> 2L, 12L -> 2L))
  }

  test("labelPropagation: partitioning-invariant (aggregate argmax, no window)") {
    val edges = (0L to 30L).flatMap(i => Seq((i, (i + 1) % 31),
      (i, (i + 7) % 31))).map { case (a, b) if a < b => (a, b)
      case (a, b) => (b, a) }.distinct
    val g = edges.toDF("doc_a", "doc_b")
    val a = GraphOps.labelPropagation(g, rounds = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val b = GraphOps.labelPropagation(g.repartition(13), rounds = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(a === b)
  }

  test("labelPropagation: broadcast rounds == shuffled-join fallback") {
    // the broadcastNodeLimit gate only changes the PHYSICAL round
    // shape (broadcast label frame + exchange-free aggs vs shuffled
    // join); forcing the fallback with limit 0 must reproduce the
    // default (broadcast) path's labeling exactly
    val edges = (0L to 40L).flatMap(i => Seq((i, (i + 1) % 41),
      (i, (i + 11) % 41))).map { case (a, b) if a < b => (a, b)
      case (a, b) => (b, a) }.distinct
    val g = edges.toDF("doc_a", "doc_b")
    val bc = GraphOps.labelPropagation(g, rounds = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val sh = GraphOps.labelPropagation(g, rounds = 4,
        broadcastNodeLimit = 0L)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(bc === sh)
  }

  // ----------------------------------------- exchange-free graph rounds

  /** Shuffle exchanges in `df`'s executed plan, after running it.
    * ShuffleExchangeExec renders as "Exchange hashpartitioning(...)"
    * (under AQE as "ShuffleQueryStage"), so matching the class name
    * would always count 0. ReusedExchange lines embed the reused
    * child's "Exchange ..." text and would count one shuffle twice, so
    * they are skipped.
    */
  private def shuffleExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect(): Unit
    val pat = "Exchange (hash|range|SinglePartition)|ShuffleQueryStage".r
    df.queryExecution.executedPlan.toString.linesIterator
      .filterNot(_.contains("ReusedExchange"))
      .map(l => pat.findAllIn(l).size).sum
  }

  test("kCore and LPA broadcast rounds plan no shuffle above a checkpointed hash-partitioned adjacency") {
    // the premise of GraphOps' broadcast rounds: a repartition(n) +
    // localCheckpoint LogicalRDD keeps its HashPartitioning(n), so a
    // round's aggregations by n need no exchange above it. The
    // checkpoint keeps it only when built with AQE off: under AQE the
    // repartition's AdaptiveSparkPlanExec reports UnknownPartitioning
    // (Spark 4.1), so the rounds themselves run under the session's AQE
    // but the adjacency is built without it.
    val raw = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("n", "peer")
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    val adj =
      try raw.repartition(col("n")).localCheckpoint(eager = true)
      finally spark.conf.set(aqeKey, aqe)
    def kcoreRound(a: org.apache.spark.sql.DataFrame) = {
      val keep = a.groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 1).select("n")
      a.join(broadcast(keep), Seq("n"), "left_semi")
        .join(broadcast(keep.withColumnRenamed("n", "peer")), Seq("peer"),
          "left_semi")
        .select("n", "peer")
        .groupBy("n").agg(count(lit(1)).as("deg"))
    }
    def lpaRound(a: org.apache.spark.sql.DataFrame) = {
      val lbl = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "lbl")
      a.join(broadcast(lbl.select(col("node").as("peer"), col("lbl"))), "peer")
        .groupBy(col("n"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("n").as("node"))
        .agg(min(struct((-col("cnt")).as("neg"), col("lbl")))
          .getField("lbl").as("lbl"))
    }
    try {
      // the counter is live: the same rounds over the unpartitioned
      // frame do shuffle
      assert(shuffleExchanges(kcoreRound(raw)) > 0)
      assert(shuffleExchanges(lpaRound(raw)) > 0)
      for (round <- Seq(kcoreRound(adj), lpaRound(adj)))
        assert(shuffleExchanges(round) === 0, round.queryExecution.executedPlan)
    } finally adj.unpersist(blocking = true)
  }
}
