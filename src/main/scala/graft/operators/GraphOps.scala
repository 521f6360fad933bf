package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Graph analytics over pair frames (the near-dup graph is the
  * in-engine producer). Everything here is equi-join-shaped — the only
  * formulation that survives a 1000-executor scale-up.
  */
object GraphOps {

  /** Free the block-store blocks behind an eagerly localCheckpoint-ed
    * frame. `Dataset.unpersist` routes through the SQL CacheManager,
    * where checkpoint RDDs are never registered — on these frames it
    * is a silent no-op and the blocks live until the ContextCleaner
    * GCs the RDD (one retained RDD per round on long iterative runs).
    * The blocks ARE the data (checkpoint lineage is truncated), so
    * callers must only release frames nothing live still reads — in
    * the loops below that means the round-(i−1) frame after round i
    * has eagerly materialized.
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Orient an undirected pair list low-degree → high-degree (ties
    * broken by id): under the (degree, id) total order each edge is
    * emitted exactly once as (lower ≺ higher). This is the standard
    * degree-ordering transform — after it, every node's FORWARD degree
    * is bounded by ~√(2|E|) (a node with forward degree f has f
    * neighbors of degree ≥ its own, so f·f ≤ Σdeg = 2|E|), which caps
    * the per-key cost of the wedge candidate join even on clique-heavy
    * near-dup graphs where one boilerplate clique would otherwise emit
    * ~deg² wedges from a single key. `deg` must be (n, d) — the
    * UNDIRECTED degree per node.
    */
  private def orientLowHigh(raw: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = raw
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("a"),
      when(aLower, col("b")).otherwise(col("a")).as("b"))
  }

  /** Spec-visible wrapper over [[orientLowHigh]]: (doc_a, doc_b) pairs
    * in, degree-ordered (doc_a ≺ doc_b) pairs out.
    */
  private[graft] def orientByDegree(pairs: DataFrame): DataFrame = {
    val raw = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val deg = raw.select(col("a").as("n")).union(raw.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    orientLowHigh(raw, deg)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
  }

  /** Exact triangle count over a pair list (`doc_a < doc_b` by id, the
    * near-dup pair convention — any consistent one-row-per-edge
    * orientation works). Edges are first RE-ORIENTED internally by the
    * (degree, id) order ([[orientLowHigh]]); each triangle {x ≺ y ≺ z}
    * is then counted exactly once as the join (x,y) ⋈ (y,z) ⋈ (x,z) —
    * two equi-joins, no orientation dedup pass, no double counting.
    * The candidate join (e1 ⋈ e2) is the quadratic-in-degree step every
    * triangle algorithm pays; degree-ordering bounds each key's forward
    * degree by ~√(2|E|), so total candidates are O(|E|^1.5) WHATEVER
    * the input orientation — a 10⁵-member boilerplate clique no longer
    * funnels ~10¹⁰ wedges through one key. The relabel is internal:
    * triangle/wedge counts are orientation-invariant, so the oracle is
    * unchanged.
    *
    * The WEDGE census (the clustering-coefficient denominator) is NOT
    * the ordered-candidate count — a wedge centered at v exists for
    * every unordered neighbor pair, Σ_v C(deg(v), 2), counted from the
    * UNDIRECTED degree per node (one bounded aggregate), or the
    * coefficient silently inflates ~3× and can exceed 1.
    *
    * @return one row: (n_nodes, n_edges, n_wedges, n_triangles,
    *         global_clustering = 3·triangles / wedges)
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // The pair list is typically an EXPENSIVE upstream (a near-dup pair
    // pipeline); the degree aggregate, the orient joins, and the three
    // triangle-join uses would each recompute it. The previous
    // formulation persisted lazily and attached the three 1-row
    // aggregates via crossJoin(broadcast(...)): each broadcast BUILD is
    // its own subjob that the scheduler launches before/concurrently
    // with the main job, racing the cache fill — so the whole pair
    // pipeline could re-run up to three times against a cold cache
    // (measured 4–6× over the oracle on a 512-edge graph). Now: fill
    // each cache EAGERLY in dependency order (count() before any
    // consumer exists), then collect the four stats as 1-row driver
    // actions over cached inputs — there is nothing left to broadcast,
    // so no subjob can re-run the upstream — and release every cache
    // synchronously so no generation outlives the call.
    val spark = edges.sparkSession
    val raw = edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .persist()
    val deg = raw.select(col("a").as("n")).union(raw.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")).persist()
    val e = orientLowHigh(raw, deg).persist()
    try {
      // raw MUST fill before e materializes: inside e.count()'s one
      // job, raw feeds BOTH the degree aggregate and the orient join's
      // probe side as parallel stages, and parallel stages share
      // nothing in-flight — an unfilled raw cache would run the
      // expensive pair pipeline twice concurrently. deg has no such
      // double consumer within the job (one stage above filled raw),
      // so its separate fill action was a pure scheduling barrier
      // (round 14; the value was never used)
      raw.count() // pair pipeline runs exactly once, before any consumer
      val nEdges = e.count()
      val cands = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val nTriangles = cands.join(e.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b")).count()
      val degRow = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(call_function("div", col("d") * (col("d") - 1), lit(2L)))
          .as("n_wedges")).first()
      val nNodes = degRow.getLong(0)
      val nWedges = if (degRow.isNullAt(1)) 0L else degRow.getLong(1)
      // same double arithmetic + association as the oracle's
      // CAST(3.0 AS DOUBLE) * n_triangles / n_wedges
      val gc = if (nWedges == 0L) 0.0 else 3.0 * nTriangles / nWedges
      import spark.implicits._
      Seq((nNodes, nEdges, nWedges, nTriangles, gc))
        .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles",
          "global_clustering")
    } finally {
      // async release: the returned frame is a driver-literal toDF with
      // no lineage into these caches, so nothing can observe the blocks
      // after this point — the three blocking waits were pure latency
      e.unpersist(blocking = false)
      deg.unpersist(blocking = false)
      raw.unpersist(blocking = false)
      ()
    }
  }

  /** Weighted PageRank by power iteration, in EXACT scaled-integer
    * arithmetic so the result is bit-identical on any engine and any
    * partitioning: ranks live as `BIGINT` multiples of `1/scale`, and
    * every step uses only `+`, `*`, and integer division (floor on the
    * all-positive domain), never a float.
    *
    *   r_0(i)    = scale div N
    *   r_{k+1}(i) = ((100-d)·scale) div (100·N)
    *              + (d · Σ_{j→i} (r_k(j)·w_ji) div outw_j) div 100
    *
    * Dangling mass (nodes with no out-edges) is dropped — the standard
    * "lost mass" variant — identically on both engines.
    *
    * Scale shape (the Pregel formulation): `edges` is augmented with its
    * per-source out-weight once (one shuffle on src) and persisted —
    * iterations never rebuild it. Each iteration is one equi-join of the
    * rank frame against the edge list on `src` plus one aggregation
    * shuffled on `dst`; the rank frame is |V|-sized, never |E|-sized.
    * With a dim-sized node set (here: nations) the rank side broadcasts;
    * at 100 TB both sides hash-partition on the node key and the
    * iteration cost is O(|E|/executors) per round.
    *
    * Overflow headroom: r·w must stay under 2^63 — with scale=1e12 that
    * caps per-edge weight at ~9e6; re-scale `scale` down (or pre-divide
    * weights) for heavier graphs.
    *
    * Convergence contract: `iters` is the CAP. With `tolScaled = 0`
    * (default) exactly `iters` iterations run as one lazy fold — no
    * per-iteration driver action, and the oracle replays the same fixed
    * count, so the cap keeps the gate deterministic. With
    * `tolScaled > 0` the iteration stops early once the exact integer
    * L1 residual Σ|r_{k+1} − r_k| (in scaled units) drops to
    * ≤ tolScaled; each iteration then materializes its |V|-sized rank
    * frame (eager localCheckpoint — also truncates lineage for long
    * runs) and spends one 1-row driver action on the residual. The
    * residual is pure integer arithmetic, hence portable.
    *
    * The returned frame is materialized and the cached edge list is
    * released before returning (the [[graft.operators.Dedup.selfCleaning]]
    * discipline) — callers never own a leaked persist.
    *
    * @param edges (src, dst, w: BIGINT) — positive integer weights
    * @param nodes single column `node` — the full vertex set
    * @param tolScaled early-stop L1 residual threshold in scaled units;
    *                  0 disables the residual check (fixed `iters`)
    * @return (node, rank_scaled: BIGINT) — rank ≈ rank_scaled / scale
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int,
               scale: Long = 1000000000000L, dampingPct: Int = 85,
               tolScaled: Long = 0L): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    require(dampingPct > 0 && dampingPct < 100, s"dampingPct in (0,100)")
    require(tolScaled >= 0L, s"tolScaled ($tolScaled) must be >= 0")
    val ow = edges.groupBy("src").agg(sum("w").as("ow"))
    val e = edges.join(ow, "src").select("src", "dst", "w", "ow")
      .persist() // iterations reuse the augmented edge list as-is
    try {
      val nn = nodes.agg(count(lit(1)).as("n"))
      val r0 = nodes.crossJoin(broadcast(nn))
        .select(col("node"), call_function("div", lit(scale), col("n")).as("r"))
      def step(rank: DataFrame): DataFrame = {
        val contrib = e
          .join(rank.select(col("node").as("src"), col("r")), "src")
          .groupBy("dst")
          .agg(sum(call_function("div", col("r") * col("w"), col("ow"))).as("s"))
        nodes.crossJoin(broadcast(nn))
          .join(contrib.select(col("dst").as("node"), col("s")), Seq("node"), "left")
          .select(col("node"),
            (call_function("div",
                lit((100L - dampingPct) * scale), lit(100L) * col("n"))
              + call_function("div",
                  lit(dampingPct.toLong) * coalesce(col("s"), lit(0L)), lit(100L)))
              .as("r"))
      }
      val rFinal =
        if (tolScaled == 0L) (1 to iters).foldLeft(r0)((rank, _) => step(rank))
        else {
          var rank = r0.localCheckpoint(eager = true)
          var it = 0
          var converged = false
          while (it < iters && !converged) {
            val next = step(rank).localCheckpoint(eager = true)
            val delta = rank.select(col("node"), col("r").as("r_prev"))
              .join(next.select(col("node"), col("r").as("r_next")), "node")
              .agg(sum(abs(col("r_next") - col("r_prev"))).as("d"))
              .first().getLong(0)
            releaseCheckpoint(rank) // dead: residual action consumed it
            rank = next
            it += 1
            if (delta <= tolScaled) converged = true
          }
          rank
        }
      val out = rFinal.select(col("node"), col("r").as("rank_scaled"))
        .localCheckpoint(eager = true)
      if (tolScaled != 0L) releaseCheckpoint(rFinal)
      out
    } finally { e.unpersist(blocking = false); () }
  }

  /** Oracle for [[pageRank]]: replays the identical integer iterations
    * as a chained-CTE DuckDB query. `edgesSql` must yield
    * (src, dst, w), `nodesSql` a single `node` column.
    */
  def pageRankOracle(edgesSql: String, nodesSql: String, iters: Int,
                     scale: Long = 1000000000000L,
                     dampingPct: Int = 85): String = {
    val baseNum = (100L - dampingPct) * scale
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT nodes.node,
         |    CAST(($baseNum // (100 * nn.n))
         |      + ($dampingPct * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst, SUM((r${k - 1}.r * e.w) // e.ow) AS s
         |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
         |    GROUP BY e.dst) s ON nodes.node = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesSql),
       |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, e0.w, ow.ow
       |      FROM e0 JOIN ow ON e0.src = ow.src),
       |nodes AS ($nodesSql),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, CAST($scale // n AS BIGINT) AS r
       |       FROM nodes CROSS JOIN nn),
       |$iterCtes
       |SELECT node, r AS rank_scaled FROM r$iters ORDER BY node""".stripMargin
  }

  /** HITS hubs-and-authorities by power iteration, in EXACT
    * scaled-integer arithmetic (the [[pageRank]] discipline): scores
    * live as BIGINT multiples of `1/scale`, every step is `+`, `*`,
    * and integer division on the all-positive domain — never a float,
    * so the result is bit-identical on any engine and partitioning.
    * Per iteration k (unweighted; parallel edges collapse):
    *
    *   rawA(v) = Σ_{u→v} h_k(u);   a_{k+1}(v) = rawA(v) div q_A
    *   rawH(u) = Σ_{u→v} a_{k+1}(v); h_{k+1}(u) = rawH(u) div q_H
    *
    * with q = max(Σraw div scale, 1) — L1 normalization back to ~scale
    * total mass by one integer division (HITS normalization only fixes
    * the vector's magnitude, so any norm gives the same ranking; L1 in
    * integers is the portable choice). Nodes with no in-edges hold
    * authority 0, no out-edges hub 0.
    *
    * Scale shape: the deduped edge list is persisted once; each
    * half-iteration is one equi-join of a |V|-sized score frame
    * against the edges on its key plus one aggregation shuffled on the
    * other key — O(|E|/executors) per round. Each raw frame is
    * eagerly localCheckpoint-ed before normalization (it is referenced
    * twice — by the total and by the quotient — and the truncation
    * also stops the 4×-per-round lazy-plan growth). Overflow headroom:
    * Σ_deg a ≤ |E|·scale must fit int64 — |E| ≤ 9·10¹² at the default
    * scale 10⁶.
    *
    * @param edges (src, dst) directed; parallel edges are collapsed
    * @param nodes single column `node` — the full vertex set
    * @return (node, auth_scaled, hub_scaled) — score ≈ x / scale
    */
  def hits(edges: DataFrame, nodes: DataFrame, iters: Int,
           scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    require(scale >= 1L, s"scale ($scale) must be >= 1")
    val e = edges.select("src", "dst").distinct().persist()
    // per-half-iteration gather checkpoints: the last TWO stay live
    // (the held a/h frames are lazy normalizations over them, and the
    // final pair feeds the returned join), anything older is dead once
    // a newer gather has materialized
    val gatherCkpts = scala.collection.mutable.Queue.empty[DataFrame]
    try {
      def gather(score: DataFrame, joinKey: String,
                 outKey: String): DataFrame = {
        val s = e
          .join(score.select(col("node").as(joinKey), col("x")), joinKey)
          .groupBy(outKey).agg(sum("x").as("s"))
        val c = nodes
          .join(s.select(col(outKey).as("node"), col("s")), Seq("node"), "left")
          .select(col("node"), coalesce(col("s"), lit(0L)).as("x"))
          .localCheckpoint(eager = true)
        gatherCkpts.enqueue(c)
        while (gatherCkpts.size > 3) releaseCheckpoint(gatherCkpts.dequeue())
        c
      }
      def normalize(raw: DataFrame): DataFrame = {
        val q = raw.agg(
          greatest(call_function("div", sum("x"), lit(scale)), lit(1L))
            .as("q"))
        raw.crossJoin(broadcast(q))
          .select(col("node"), call_function("div", col("x"), col("q")).as("x"))
      }
      val h0 = nodes.select(col("node"), lit(scale).as("x"))
      val (aK, hK) = (1 to iters).foldLeft((h0, h0)) { case ((_, h), _) =>
        val a = normalize(gather(h, "src", "dst"))
        (a, normalize(gather(a, "dst", "src")))
      }
      val out = aK.select(col("node"), col("x").as("auth_scaled"))
        .join(hK.select(col("node"), col("x").as("hub_scaled")), "node")
        .localCheckpoint(eager = true)
      gatherCkpts.foreach(releaseCheckpoint)
      out
    } finally { e.unpersist(blocking = false); () }
  }

  /** Oracle for [[hits]]: replays the identical integer iterations as
    * chained CTEs. `edgesSql` must yield (src, dst), `nodesSql` a
    * single `node` column.
    */
  def hitsOracle(edgesSql: String, nodesSql: String, iters: Int,
                 scale: Long = 1000000L): String = {
    val iterCtes = (1 to iters).map { k =>
      val prevH = if (k == 1) "h0" else s"h${k - 1}"
      s"""rawa$k AS MATERIALIZED (
         |  SELECT nodes.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS x
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, SUM($prevH.x) AS s
         |    FROM e JOIN $prevH ON e.src = $prevH.node
         |    GROUP BY e.dst) s ON nodes.node = s.node),
         |qa$k AS MATERIALIZED (SELECT GREATEST(CAST(SUM(x) AS BIGINT) // $scale, 1) AS q
         |         FROM rawa$k),
         |a$k AS MATERIALIZED (SELECT node, x // q AS x FROM rawa$k CROSS JOIN qa$k),
         |rawh$k AS MATERIALIZED (
         |  SELECT nodes.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS x
         |  FROM nodes LEFT JOIN (
         |    SELECT e.src AS node, SUM(a$k.x) AS s
         |    FROM e JOIN a$k ON e.dst = a$k.node
         |    GROUP BY e.src) s ON nodes.node = s.node),
         |qh$k AS MATERIALIZED (SELECT GREATEST(CAST(SUM(x) AS BIGINT) // $scale, 1) AS q
         |         FROM rawh$k),
         |h$k AS MATERIALIZED (SELECT node, x // q AS x FROM rawh$k CROSS JOIN qh$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |nodes AS MATERIALIZED ($nodesSql),
       |h0 AS MATERIALIZED (SELECT node, CAST($scale AS BIGINT) AS x FROM nodes),
       |$iterCtes
       |SELECT a$iters.node, a$iters.x AS auth_scaled,
       |  h$iters.x AS hub_scaled
       |FROM a$iters JOIN h$iters ON a$iters.node = h$iters.node
       |ORDER BY a$iters.node""".stripMargin
  }

  /** Hop-capped single/multi-source shortest paths (Bellmann–Ford
    * rounds) in exact BIGINT arithmetic: after round k, `dist(n)` is
    * the minimum total weight over all paths from any source to `n`
    * using at most k edges — exactly what a recursive-CTE oracle
    * enumerates with `hops <= maxHops` then `MIN(dist)`.
    *
    * Scale shape: each round is one equi-join of the |V|-sized dist
    * frame against the edge list on `src` (both hash-partitionable on
    * the node key) plus one `min` aggregation shuffled on the node —
    * O(|E|/executors) per round, never materializing paths. The edge
    * list is persisted once across rounds and released before
    * returning (selfCleaning discipline). Each round references the
    * previous dist frame twice (relax + union), so an unbroken fold
    * doubles the plan per round; `checkpointEvery` (default 4)
    * truncates lineage with an eager |V|-sized localCheckpoint,
    * bounding the plan at ≤ 2⁴ copies of a materialized base — the
    * same blow-up [[kCore]] checkpoints against every round.
    *
    * Unreachable-within-cap nodes are absent from the output (the
    * recursive-CTE convention), not NULL rows.
    *
    * @param edges   (src, dst, w: BIGINT) — positive integer weights
    * @param sources single column `node` — dist 0 seeds
    * @return (node, dist: BIGINT)
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame, maxHops: Int,
                    checkpointEvery: Int = 4): DataFrame = {
    require(maxHops >= 1, s"maxHops ($maxHops) must be >= 1")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1")
    val e = edges.select("src", "dst", "w").persist()
    try {
      val d0 = sources.select(col("node"), lit(0L).as("dist"))
      // one interim checkpoint is live at a time: each new one (and
      // the final materialization) consumed its predecessor's chain
      var prevCkpt: DataFrame = null
      val dist = (1 to maxHops).foldLeft(d0) { (dist, k) =>
        val relax = e
          .join(dist.select(col("node").as("src"), col("dist")), "src")
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        val next = dist.unionByName(relax)
          .groupBy("node").agg(min("dist").as("dist"))
        if (k % checkpointEvery == 0) {
          val c = next.localCheckpoint(eager = true)
          if (prevCkpt != null) releaseCheckpoint(prevCkpt)
          prevCkpt = c
          c
        } else next
      }
      val out = dist.localCheckpoint(eager = true)
      if (prevCkpt != null) releaseCheckpoint(prevCkpt)
      out
    } finally { e.unpersist(blocking = false); () }
  }

  /** Oracle for [[shortestPaths]]: enumerate every walk of at most
    * `maxHops` edges from the sources with a recursive CTE, then take
    * the per-node minimum. Exponential in the cap — oracle-only; the
    * operator itself is the linear-per-round formulation.
    */
  def shortestPathsOracle(edgesSql: String, sourcesSql: String,
                          maxHops: Int): String =
    s"""WITH RECURSIVE e AS ($edgesSql),
       |src AS ($sourcesSql),
       |walk(node, dist, hops) AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist, 0 AS hops FROM src
       |  UNION ALL
       |  SELECT e.dst, walk.dist + e.w, walk.hops + 1
       |  FROM walk JOIN e ON e.src = walk.node
       |  WHERE walk.hops < $maxHops)
       |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
       |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** k-core extraction by `rounds` rounds of degree peeling over an
    * undirected pair list (doc_a < doc_b, the near-dup convention):
    * each round drops every node whose current degree is below k, then
    * every edge touching a dropped node. At the fixpoint the surviving
    * nodes are exactly the k-core; with insufficient rounds the output
    * is the (well-defined) partially-peeled set — the final
    * degree-≥-k filter keeps the fixed-round semantics identical on
    * both engines, and extra rounds past convergence are no-ops, so
    * `rounds` only needs to dominate the peeling depth (the longest
    * chain hanging off the core), not |V|.
    *
    * Scale shape: per round one degree aggregation (map-side combined,
    * |V|-sized output) and two semi-joins of the edge list against the
    * keep set — all hash-partitioned on node ids, nothing quadratic.
    * The INPUT edge list is materialized once up front (it is typically
    * an expensive pair pipeline, and round 1 references it three times
    * — via the degree aggregate and both semi-joins — so an
    * unmaterialized input would re-run that pipeline three times), and
    * each round's survivor edge list is materialized via eager
    * localCheckpoint: a lazy fold would re-derive round i−1 three
    * times per round — a 3^R plan blow-up — while the checkpoint caps
    * lineage at one round.
    *
    * Round-14 exchange-cut (the [[labelPropagation]] broadcast-round
    * discipline): when the graph is small enough — gated on the
    * MATERIALIZED doubled-edge row count 2|E|, which bounds both |V|
    * and the keep-set broadcast — the peeling runs over a doubled
    * (n, peer) adjacency hash-partitioned on `n` and checkpointed:
    * the degree aggregation then plans COMPLETE above the retained
    * HashPartitioning (zero exchange), the keep set broadcasts into
    * both semi-joins (which preserve the streamed side's
    * partitioning, so every later round inherits the property), and
    * each round is a single map-only checkpoint job instead of a
    * multi-exchange stage chain. Above the gate the rounds keep the
    * shuffled shape exactly — at corpus scale a forced |V|-broadcast
    * would OOM the driver, and the shuffled semi-joins are the right
    * plan there. 2|E| is used rather than |V| because it is free (it
    * rides the input checkpoint's CollectMetrics) and conservative:
    * a graph that fails the gate only falls back to the
    * already-correct shuffled path.
    *
    * Early exit: edge lists only shrink, and a round that removes no
    * edge removed no node (nodes drop exactly when degree < k, which
    * would drop their edges), so equal consecutive edge counts ⟺ the
    * peeling fixpoint — every later round is a no-op. The count probe
    * PIGGYBACKS on the checkpoint job via `observe(count(*))`
    * (round 14): the CollectMetrics accumulator is filled by the same
    * job that materializes the round, so convergence detection costs
    * ZERO extra jobs — previously a separate 1-row count action per
    * round, i.e. one job barrier each on a 32-core local session.
    * `rounds` stays the CAP, so the oracle's fixed-round replay is
    * unchanged (extra oracle rounds past convergence are no-ops).
    *
    * @return (node, deg) — k-core nodes with their core degree
    */
  def kCore(pairs: DataFrame, k: Int, rounds: Int,
            broadcastNodeLimit: Long = 1L << 20): DataFrame =
    kCoreWithRounds(pairs, k, rounds, broadcastNodeLimit)._1

  /** [[kCore]] plus the number of peeling rounds actually executed —
    * the explicit early-exit witness (a converged graph reports fewer
    * rounds than the cap; the spec asserts on this instead of counting
    * global job-start events, which AQE subqueries and async listener
    * delivery make timing-sensitive).
    */
  private[graft] def kCoreWithRounds(pairs: DataFrame, k: Int, rounds: Int,
                                     broadcastNodeLimit: Long = 1L << 20)
      : (DataFrame, Int) = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    // materialize + count in ONE job: the checkpoint action fills the
    // CollectMetrics accumulator as a side effect
    def checkpointCounted(df: DataFrame, metric: String)
        : (DataFrame, Long) = {
      val observed = df.observe(metric, count(lit(1)))
      val ckpt = observed.localCheckpoint(eager = true)
      (ckpt, observed.queryExecution.observedMetrics(metric).getLong(0))
    }
    val (e0, edges0) = checkpointCounted(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b")), "kcore_e0")
    if (2 * edges0 <= broadcastNodeLimit && edges0 > 0) {
      // broadcast path: doubled adjacency, partitioned on n once (one
      // shuffle of an in-memory frame, paid once) — every round and the
      // final degree output are exchange-free above it
      var (adj, prevRows) = checkpointCounted(
        e0.select(col("a").as("n"), col("b").as("peer"))
          .unionAll(e0.select(col("b").as("n"), col("a").as("peer")))
          .repartition(col("n")), "kcore_adj0")
      releaseCheckpoint(e0)
      var r = 0
      var converged = false
      while (r < rounds && !converged) {
        val keep = adj.groupBy("n").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("n")
        val (next, nRows) = checkpointCounted(
          adj.join(broadcast(keep), Seq("n"), "left_semi")
            .join(broadcast(keep.withColumnRenamed("n", "peer")),
              Seq("peer"), "left_semi")
            .select("n", "peer"), s"kcore_adj${r + 1}")
        if (nRows == prevRows) converged = true
        releaseCheckpoint(adj) // superseded: `next` is materialized
        adj = next
        prevRows = nRows
        r += 1
      }
      (adj.groupBy(col("n").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k), r)
    } else {
      var e = e0
      var prevEdges = edges0
      var r = 0
      var converged = prevEdges == 0L
      while (r < rounds && !converged) {
        val keep = e.select(col("a").as("n"))
          .unionAll(e.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("n")
        val (next, n) = checkpointCounted(
          e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
            .select("a", "b"), s"kcore_e${r + 1}")
        if (n == prevEdges) converged = true
        releaseCheckpoint(e) // superseded: `next` is materialized
        e = next
        prevEdges = n
        r += 1
      }
      (e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k), r)
    }
  }

  /** Oracle for [[kCore]]: the identical peeling rounds as chained
    * CTEs. Every CTE is MATERIALIZED — each round references its
    * predecessor three times, and an inlining planner would otherwise
    * re-evaluate the (quadratic) pair-producing `edgesSql` ~3^rounds
    * times (measured: a 4-round inlined chain over the SimHash pair
    * query ran past 10 minutes; materialized it is sub-second — the
    * SQL mirror of the operator's per-round localCheckpoint).
    * `edgesSql` must yield (doc_a, doc_b).
    */
  def kCoreOracle(edgesSql: String, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT doc_a AS n FROM e${i - 1}
         |    UNION ALL SELECT doc_b FROM e${i - 1})
         |  GROUP BY n HAVING COUNT(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.doc_a, e.doc_b FROM e${i - 1} e
         |  JOIN d$i x ON e.doc_a = x.n
         |  JOIN d$i y ON e.doc_b = y.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM ($edgesSql)),
       |$steps
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |  SELECT doc_a AS node FROM e$rounds
       |  UNION ALL SELECT doc_b FROM e$rounds)
       |GROUP BY node HAVING COUNT(*) >= $k
       |ORDER BY node""".stripMargin
  }

  /** Synchronous label propagation over an undirected pair list
    * (doc_a < doc_b, the near-dup convention) — community detection
    * for near-dup cluster splitting / co-occurrence grouping, the
    * lighter-weight alternative to modularity methods at corpus scale.
    *
    * Every node starts labeled with its own id; each round every node
    * adopts the most frequent label among its neighbors, ties broken
    * by the SMALLEST label — a total deterministic update rule, so a
    * fixed round count yields the identical labeling on any engine and
    * any partitioning (synchronous LPA can oscillate on bipartite
    * structure; fixed rounds make even that state well-defined).
    *
    * Scale shape: per round ONE equi-join of the (node, nbr) adjacency
    * against the |V|-sized label frame and ONE (node, label)
    * aggregation — the argmax is `min_by` over a struct, a pure
    * map-side-combinable aggregate, NO per-node window anywhere (a
    * hub's neighbor-label multiset never materializes as a sorted
    * partition). Unlike [[kCore]] (whose per-round count probe IS the
    * early-exit contract), each LPA round references its predecessor
    * exactly ONCE — so the lineage of an unbroken fold grows only
    * LINEARLY, and a localCheckpoint per round buys nothing but a job
    * barrier (~0.3–0.5 s of scheduling each on the measured boxes —
    * the round-13 verdict's named killer for this family).
    * `checkpointEvery` (default 2) batches that: rounds in between
    * stay lazy and fuse into one multi-stage job; the checkpoint still
    * truncates lineage often enough that a long run never carries an
    * unbounded plan. The final round is always materialized (the
    * returned-frame contract callers rely on). The adjacency is
    * materialized once up front (it is typically an expensive pair
    * pipeline referenced every round).
    *
    * Round-14 exchange-cut: the adjacency is hash-partitioned on `n`
    * BEFORE its one-time materialization, and when the measured node
    * count fits `broadcastNodeLimit` the per-round label frame is
    * broadcast into the join — then the join preserves the adjacency's
    * partitioning and BOTH aggregations run complete above it
    * (HashPartitioning(n) satisfies clustering on (n, lbl) and on n),
    * so every round is a map-only pass over the memory-local adjacency
    * with ZERO data exchanges. The gate is a materialized |V| count
    * (the Profiling adaptive-broadcast discipline), NOT a guess: above
    * the limit — a corpus-sized vertex set whose forced broadcast
    * would OOM the driver — the rounds keep the shuffled-join shape.
    * The default (2^20 nodes ≈ ~16 MB of (node,lbl) longs per round's
    * broadcast, `rounds/checkpointEvery` of them live at once inside a
    * checkpoint window) stays far under executor/driver budgets.
    *
    * @return (node, community) — final label per node, both BIGINT
    */
  def labelPropagation(pairs: DataFrame, rounds: Int,
                       checkpointEvery: Int = 2,
                       broadcastNodeLimit: Long = 1L << 20): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1")
    val adjRaw = pairs
      .select(col("doc_a").cast("long").as("n"),
        col("doc_b").cast("long").as("nbr"))
      .unionAll(pairs.select(col("doc_b").cast("long").as("n"),
        col("doc_a").cast("long").as("nbr")))
      .localCheckpoint(eager = true)
    var adj = adjRaw
    try {
      // |V| rides the l0 checkpoint job's CollectMetrics accumulator
      // (the kCore observe trick) — no separate count job for the gate
      val l0Observed = adj.select(col("n").as("node")).distinct()
        .withColumn("lbl", col("node"))
        .observe("lpa_nv", count(lit(1)))
      val l0 = l0Observed.localCheckpoint(eager = true)
      try {
        val nV = l0Observed.queryExecution.observedMetrics("lpa_nv")
          .getLong(0)
        val bcastLabels = nV <= broadcastNodeLimit
        if (bcastLabels) {
          // re-materialize hash-partitioned on n (one 2|E|-row shuffle
          // of a memory-local frame) so every round's aggregations run
          // complete above the broadcast join with no exchange; the
          // shuffled-join fallback skips this — its join re-clusters
          // the adjacency by nbr anyway, and a pre-partition on n
          // would be a pure extra shuffle there
          adj = adjRaw.repartition(col("n")).localCheckpoint(eager = true)
          releaseCheckpoint(adjRaw)
        }
        // interim round checkpoints are dead once the NEXT checkpoint
        // materializes — release each then, or a long run retains one
        // block set per checkpointed round
        var prevCkpt: DataFrame = null
        val last = (1 to rounds).foldLeft(l0) { (labels, k) =>
          val lblSide = labels.select(col("node").as("nbr"), col("lbl"))
          val next = adj
            .join(if (bcastLabels) broadcast(lblSide) else lblSide, "nbr")
            .groupBy(col("n"), col("lbl"))
            .agg(count(lit(1)).as("cnt"))
            // argmax by (cnt desc, lbl asc) as a single aggregate:
            // min of (-cnt, lbl) lexicographically — counts are
            // positive, so -cnt cannot overflow
            .groupBy(col("n").as("node"))
            .agg(min(struct((-col("cnt")).as("neg"), col("lbl")))
              .getField("lbl").as("lbl"))
          if (k % checkpointEvery == 0 || k == rounds) {
            val c = next.localCheckpoint(eager = true)
            if (prevCkpt != null) releaseCheckpoint(prevCkpt)
            prevCkpt = c
            c
          } else next
        }
        last.select(col("node"), col("lbl").as("community"))
      } finally { releaseCheckpoint(l0) }
    } finally { releaseCheckpoint(adj) }
  }

  /** Oracle for [[labelPropagation]]: the identical synchronous rounds
    * as chained MATERIALIZED CTEs (the [[kCoreOracle]] discipline —
    * each round references its predecessor, and an inlining planner
    * would re-evaluate the pair-producing `edgesSql` exponentially).
    * The argmax is a ROW_NUMBER window oracle-side (gate scale only).
    * `edgesSql` must yield (doc_a, doc_b).
    */
  def labelPropagationOracle(edgesSql: String, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT adj.n, l.lbl, COUNT(*) AS cnt
         |  FROM adj JOIN l${i - 1} l ON l.node = adj.nbr
         |  GROUP BY adj.n, l.lbl),
         |l$i AS MATERIALIZED (
         |  SELECT n AS node, lbl FROM (
         |    SELECT n, lbl, ROW_NUMBER() OVER (
         |      PARTITION BY n ORDER BY cnt DESC, lbl) AS rk
         |    FROM c$i)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |adj AS MATERIALIZED (
       |  SELECT CAST(doc_a AS BIGINT) AS n, CAST(doc_b AS BIGINT) AS nbr
       |  FROM e
       |  UNION ALL
       |  SELECT CAST(doc_b AS BIGINT), CAST(doc_a AS BIGINT) FROM e),
       |l0 AS (SELECT DISTINCT n AS node, n AS lbl FROM adj),
       |$steps
       |SELECT node, lbl AS community FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Oracle wrapper: `edgesSql` must yield (doc_a, doc_b) with
    * doc_a < doc_b.
    */
  def triangleStatsOracle(edgesSql: String): String =
    s"""WITH edges AS (SELECT doc_a, doc_b FROM ($edgesSql)),
       |w AS (
       |  SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
       |  FROM edges e1 JOIN edges e2 ON e1.doc_b = e2.doc_a),
       |tri AS (
       |  SELECT 1 FROM w JOIN edges e3
       |    ON w.x = e3.doc_a AND w.z = e3.doc_b),
       |deg AS (
       |  SELECT n, COUNT(*) AS d FROM (
       |    SELECT doc_a AS n FROM edges
       |    UNION ALL SELECT doc_b FROM edges)
       |  GROUP BY n),
       |nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CASE WHEN n_wedges = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(3.0 AS DOUBLE) * n_triangles / n_wedges
       |  END AS global_clustering
       |FROM nn, ne, nt""".stripMargin

  // ------------------------------------------------------------------
  // Bounded-domain driver iteration (round 14). The distributed
  // pageRank / hits / shortestPaths above pay one job barrier per
  // round (localCheckpoint / convergence probe) — the right trade for
  // DATA-sized graphs, but pure scheduling tax for graphs whose vertex
  // domain is schema-bounded (the nation trade graph: ≤ 25 nodes, 625
  // aggregated edges — yet 5 PageRank rounds cost ~15 Spark stages).
  // For those, the PQ codebooks-as-expression-literals precedent
  // applies: the EDGE AGGREGATION (the data-heavy lineitem-scale
  // stage) stays fully distributed; only the |V|-bounded aggregated
  // frame crosses to the driver, the power iteration replays the
  // IDENTICAL exact-integer arithmetic as the distributed operator
  // (all-positive domain, so truncating Long division ≡ floor ≡ both
  // engines' integer div), and the result returns as a literal frame:
  // ZERO jobs per round. The gate is loud ([[takeBounded]]) — an
  // unbounded graph refuses instead of silently collecting the corpus.
  // ------------------------------------------------------------------

  /** Loud bounded-domain gate: take `maxRows + 1` and refuse a frame
    * that exceeds the cap (the [[graft.operators.Profiling]]
    * requireBoundedDomain discipline, specialized to driver collect).
    */
  private def takeBounded(op: String, df: DataFrame, maxRows: Int,
                          what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.take(maxRows + 1)
    if (rows.length > maxRows)
      throw new IllegalArgumentException(
        s"$op: the $what frame holds more than $maxRows rows. This " +
          "variant iterates driver-side and is only for schema-bounded " +
          "vertex domains (dimension graphs); use the distributed " +
          "operator for data-sized graphs, or raise the cap " +
          "deliberately.")
    rows
  }

  /** [[pageRank]] for schema-bounded graphs: identical exact-integer
    * semantics (same oracle), zero jobs per iteration. `edges` and
    * `nodes` are evaluated ONCE (distributed — the edge aggregation is
    * where the data is); the ≤ `maxNodes`-sized collected frames
    * iterate on the driver.
    */
  def pageRankBounded(edges: DataFrame, nodes: DataFrame, iters: Int,
                      scale: Long = 1000000000000L, dampingPct: Int = 85,
                      maxNodes: Int = 256): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    require(dampingPct > 0 && dampingPct < 100, s"dampingPct in (0,100)")
    val spark = edges.sparkSession
    val nodeType = nodes.schema("node").dataType
    val ns = takeBounded("pageRankBounded",
      nodes.select(col("node").cast(LongType)), maxNodes, "node")
      .map(_.getLong(0))
    val es = takeBounded("pageRankBounded",
      edges.select(col("src").cast(LongType), col("dst").cast(LongType),
        col("w").cast(LongType)),
      maxNodes * maxNodes, "edge")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = ns.length.toLong
    require(n >= 1, "pageRankBounded: empty node set")
    val ow = scala.collection.mutable.HashMap.empty[Long, Long]
    es.foreach { case (s, _, w) => ow(s) = ow.getOrElse(s, 0L) + w }
    // r_0 = scale div N; per round: per-edge floor-div contribution
    // summed per dst, then the damped update — term-for-term the
    // distributed plan (sum(div(r*w, ow)) then div by 100).
    var r = ns.map(v => v -> scale / n).toMap
    for (_ <- 1 to iters) {
      val s = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (src, dst, w) =>
        r.get(src).foreach { rs =>
          s(dst) = s.getOrElse(dst, 0L) + (rs * w) / ow(src)
        }
      }
      val base = ((100L - dampingPct) * scale) / (100L * n)
      r = ns.map(v =>
        v -> (base + (dampingPct.toLong * s.getOrElse(v, 0L)) / 100L)).toMap
    }
    spark.createDataFrame(ns.toSeq.map(v => (v, r(v))))
      .toDF("node", "rank_scaled")
      .select(col("node").cast(nodeType), col("rank_scaled"))
  }

  /** [[hits]] for schema-bounded graphs: identical exact-integer
    * semantics (same oracle), zero jobs per iteration. Parallel edges
    * collapse driver-side (same DISTINCT as the distributed operator).
    */
  def hitsBounded(edges: DataFrame, nodes: DataFrame, iters: Int,
                  scale: Long = 1000000L, maxNodes: Int = 256): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    require(scale >= 1L, s"scale ($scale) must be >= 1")
    val spark = edges.sparkSession
    val nodeType = nodes.schema("node").dataType
    val ns = takeBounded("hitsBounded",
      nodes.select(col("node").cast(LongType)), maxNodes, "node")
      .map(_.getLong(0))
    val es = takeBounded("hitsBounded",
      edges.select(col("src").cast(LongType), col("dst").cast(LongType))
        .distinct(),
      maxNodes * maxNodes, "edge")
      .map(r => (r.getLong(0), r.getLong(1)))
    // gather: edges join score on one key, sum on the other, nodes
    // left-join with coalesce(0) — replayed as a score-map fold over
    // the in-domain edge list; normalize: q = max(Σx div scale, 1).
    def gather(score: Map[Long, Long], bySrc: Boolean): Map[Long, Long] = {
      val s = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (src, dst) =>
        val (k, out) = if (bySrc) (src, dst) else (dst, src)
        score.get(k).foreach(x => s(out) = s.getOrElse(out, 0L) + x)
      }
      ns.map(v => v -> s.getOrElse(v, 0L)).toMap
    }
    def normalize(raw: Map[Long, Long]): Map[Long, Long] = {
      val q = math.max(raw.valuesIterator.sum / scale, 1L)
      raw.map { case (k, x) => k -> x / q }
    }
    val h0 = ns.map(v => v -> scale).toMap
    var a = h0; var h = h0
    for (_ <- 1 to iters) {
      a = normalize(gather(h, bySrc = true))
      h = normalize(gather(a, bySrc = false))
    }
    spark.createDataFrame(ns.toSeq.map(v => (v, a(v), h(v))))
      .toDF("node", "auth_scaled", "hub_scaled")
      .select(col("node").cast(nodeType), col("auth_scaled"),
        col("hub_scaled"))
  }

  /** [[shortestPaths]] for schema-bounded graphs: identical
    * hop-capped Bellman–Ford semantics (same oracle), zero jobs per
    * round. Unreachable-within-cap nodes stay absent, like the
    * distributed operator.
    */
  def shortestPathsBounded(edges: DataFrame, sources: DataFrame,
                           maxHops: Int, maxNodes: Int = 256): DataFrame = {
    require(maxHops >= 1, s"maxHops ($maxHops) must be >= 1")
    val spark = edges.sparkSession
    val nodeType = sources.schema("node").dataType
    val srcs = takeBounded("shortestPathsBounded",
      sources.select(col("node").cast(LongType)), maxNodes, "source")
      .map(_.getLong(0))
    val es = takeBounded("shortestPathsBounded",
      edges.select(col("src").cast(LongType), col("dst").cast(LongType),
        col("w").cast(LongType)),
      maxNodes * maxNodes, "edge")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var dist = srcs.map(v => v -> 0L).toMap
    for (_ <- 1 to maxHops) {
      val next = scala.collection.mutable.HashMap.empty[Long, Long] ++= dist
      es.foreach { case (src, dst, w) =>
        dist.get(src).foreach { d =>
          val cand = d + w
          if (!next.contains(dst) || cand < next(dst)) next(dst) = cand
        }
      }
      dist = next.toMap
    }
    spark.createDataFrame(dist.toSeq)
      .toDF("node", "dist")
      .select(col("node").cast(nodeType), col("dist"))
  }
}
