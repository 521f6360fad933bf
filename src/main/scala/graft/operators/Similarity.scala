package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.GraftFunctions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a partitioned scan of the corpus, so the big side never
  * shuffles; per-row score + a per-query top-k window. At 100 TB the
  * same plan holds: broadcast Q, map-side score, window on rank.
  *
  * Scale path: LSH/IVF bucketing (see `lshBucketAt`) — candidates are
  * restricted to the query's bucket, turning the cross product into an
  * equi-join on bucket id.
  *
  * Scoring runs on the native codegen'd `dot_product` Catalyst
  * expression (graft.expressions.DotProduct); per-vector norms are
  * computed ONCE before the pair join, so each candidate pair costs a
  * single primitive-loop dot product.
  *
  * Float math notes for oracle parity: elements are cast float→double
  * (exact); products/sums run left-to-right (the codegen loop ≡ DuckDB
  * `list_reduce` fold, and `0.0 + x == x` in IEEE), so scores are
  * bit-identical to the single-threaded oracle.
  */
object Similarity {

  private val AsDouble = ArrayType(DoubleType)

  private[operators] def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  private def dotSql(x: String, y: String) =
    s"""LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, LEN($x)),
       |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (u, v) -> u + v)""".stripMargin

  /** (vec_id, e: array<double>, nrm: ||e||²) — norms computed once. */
  private def withNorm(emb: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    // every Similarity op roots here; spread a narrow scan so the
    // per-vector dot products / Lloyd E-steps / PQ encodes downstream
    // never serialize on a single-row-group input file (identity on
    // any real multi-split scan — Fns.spreadIfNarrow)
    graft.functions.Fns.spreadIfNarrow(emb, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        col("embedding").cast(AsDouble).as("e"))
      .withColumn("nrm", dot(col("e"), col("e")))
  }

  private def pairScore: Column =
    (dot(col("qe"), col("ce")) / sqrt(col("qn") * col("cn"))).as("score")

  /** Brute-force cosine top-k: query set = vec_id < nQueries (broadcast),
    * corpus = the rest. Returns (query_id, neighbor_id, score, rnk).
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = withNorm(emb)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val c = base.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn"))
    rankTopK(c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"), pairScore), k)
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "score", "rnk")
  }

  def bruteForceTopKOracle(nQueries: Int, k: Int): String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM base
       |      WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, nrm AS cn FROM base
       |      WHERE vec_id >= $nQueries),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${dotSql("qe", "ce")} / SQRT(qn * cn) AS score
       |  FROM c CROSS JOIN q),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** Embedding-cosine near-duplicate pairs: all pairs with
    * cosine >= threshold. Exact (all-pairs nested loop with one
    * broadcast side) — the recall-1 baseline; the LSH variants are the
    * 100 TB path. Norms precomputed, one dot product per pair.
    *
    * QUADRATIC BY CONSTRUCTION (measured: 87.7× for 10× rows at the
    * sf1 scaling run) and the whole table is driver-broadcast — so the
    * baseline is GATED like the bounded-domain windows: more than
    * `maxRows` input rows throws with the names of the scale paths
    * instead of grinding through n²/OOMing the driver. The normed base
    * is localCheckpoint-ed BEFORE the probe count (the
    * requireBoundedDomain discipline): an expensive upstream embedding
    * pipeline is evaluated exactly once, with the probe and both join
    * sides reading the materialized blocks — not three times (probe +
    * each side), which is what an unmaterialized probe would cost.
    * The call is therefore not lazy (the gate runs a job), which a
    * row-count gate implies anyway.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double,
                   maxRows: Long = 1L << 20): DataFrame = {
    require(maxRows >= 1, s"maxRows ($maxRows) must be >= 1")
    val base = withNorm(emb).localCheckpoint(eager = true)
    val n = base.count()
    if (n > maxRows)
      throw new IllegalArgumentException(
        s"nearDupPairs: $n input rows exceed maxRows=$maxRows. This is " +
          "the exact all-pairs baseline — quadratic compute and a " +
          "driver broadcast of the whole table. Use lshTopK / " +
          "semanticDedup (the bucketed scale paths) or raise maxRows " +
          "deliberately.")
    // Stream-side parallelism (round 13, the q133 lesson): the
    // nested-loop pair stage has NO exchange, so its parallelism is
    // whatever the checkpointed base had — before [[withNorm]] spread
    // narrow scans, a single-row-group parquet input ran all n²/2 dot
    // products on one core (sf1: 56 s on one task; ~4 s spread). The
    // checkpoint materializes the spread blocks, so the stream side
    // reads them at full width with no further exchange.
    val a = base
      .select(col("vec_id").as("vec_a"), col("e").as("qe"), col("nrm").as("qn"))
    val b = base.select(col("vec_id").as("vec_b"), col("e").as("ce"), col("nrm").as("cn"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), pairScore)
      .filter(col("score") >= threshold)
  }

  def nearDupPairsOracle(threshold: Double): String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${dotSql("a.embedding", "b.embedding")} / SQRT(a.nrm * b.nrm) AS score
       |  FROM base a JOIN base b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, score FROM scored
       |WHERE score >= $threshold ORDER BY vec_a, vec_b""".stripMargin

  /** IVF-flat ANN with deterministic Lloyd training: seed cells from the
    * first `nCentroids` vectors, refine them with `iters` k-means rounds
    * over the corpus, then assign queries and corpus to their nearest
    * trained centroid by cosine and search only within the query's cell
    * (nprobe=1).
    *
    * Training follows the classic Spark k-means loop: assignment is a
    * map-side broadcast cross-join (centroids are tiny BY CONSTRUCTION —
    * `nCentroids` × dim doubles — so collecting them to the driver each
    * round is the scale-correct pattern, not a shortcut), and the M-step
    * is one shuffle of (cell, dim) pairs. Every arithmetic step is
    * order-independent — component sums go through DECIMAL(38,6), ties
    * break on cent_id — so the oracle replays the identical iterations
    * in SQL and the result is hash-stable across any partitioning.
    *
    * At scale: centroids broadcast, assignment is a map-side cross join
    * with `nCentroids` rows, and the search is an equi-join on cell id —
    * the same linear-shuffle shape as the LSH variant, but with
    * data-adaptive cells instead of fixed hyperplanes.
    */
  /** `nProbe` — the IVF quality lever: each query searches its `nProbe`
    * nearest cells instead of one (corpus vectors still live in exactly
    * one cell, so candidate pairs never duplicate). Cost scales
    * linearly with `nProbe`, recall rises toward brute-force; the
    * recall contract is measured in OperatorsSpec.
    */
  private def centsDf(spark: SparkSession,
                      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cent_id", "cent_e")
      .withColumn("cent_nrm", dot(col("cent_e"), col("cent_e")))
  }

  /** Nearest-centroid(s) by cosine over a normed frame (`vec_id, e,
    * nrm`): map-side broadcast cross-join, deterministic tie-break on
    * cent_id.
    */
  private def assignCells(df: DataFrame, cents: DataFrame,
                          probes: Int = 1): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cscore").desc, col("cent_id"))
    df.crossJoin(broadcast(cents))
      .withColumn("cscore",
        dot(col("e"), col("cent_e")) / sqrt(col("nrm") * col("cent_nrm")))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") <= probes)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cell"))
  }

  /** Deterministic Lloyd training: seed cells from the first
    * `nCentroids` vectors of `base`, refine with `iters` E/M rounds
    * over `trainOn`. Cells with no members keep their previous
    * centroid; component sums accumulate in DECIMAL(38,6) so the means
    * are order-independent and the oracle can replay the iterations.
    * The per-round `collect()`s are centroid sets, bounded by
    * construction (`nCentroids` × dim doubles).
    */
  private def lloydTrain(spark: SparkSession, base: DataFrame,
                         trainOn: DataFrame, nCentroids: Int,
                         iters: Int): DataFrame = {
    var cents: Seq[(Long, Seq[Double])] = base.filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("e")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    for (_ <- 1 to iters) {
      val means = assignCells(trainOn, centsDf(spark, cents))
        .select(col("cell"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x").cast(DecimalType(38, 6))).cast(DoubleType)
          / count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (id, e) => (id, means.getOrElse(id, e)) }
    }
    centsDf(spark, cents)
  }

  def ivfTopK(emb: DataFrame, nCentroids: Int, nQueries: Int, k: Int,
              iters: Int = 2, nProbe: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    val base = withNorm(emb)
    val corpus = base.filter(col("vec_id") >= nCentroids + nQueries)
    val trained = lloydTrain(spark, base, corpus, nCentroids, iters)
    val q = assignCells(base.filter(
        col("vec_id") >= nCentroids && col("vec_id") < nCentroids + nQueries),
        trained, probes = nProbe)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cell"))
    val c = assignCells(corpus, trained)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("cell"))
    rankTopK(c.join(broadcast(q), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"), pairScore), k)
  }

  /** Oracle for [[ivfTopK]]: replays the seed + `iters` Lloyd rounds as
    * chained CTEs — an independent SQL formulation of the identical
    * deterministic arithmetic.
    */
  /** Shared CTE builders for the Lloyd-training oracle replays
    * ([[ivfTopKOracle]], [[semanticDedupOracle]]): one E-round
    * assignment over `trainFrom` plus the decimal-exact M-step. Any
    * change to [[lloydTrain]]'s arithmetic must land HERE, once.
    */
  private def lloydAssignCte(it: Int, trainFrom: String): String =
    s"""a$it AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT b.vec_id, b.embedding, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${dotSql("b.embedding", "c.cent_e")}
       |          / SQRT(b.nrm * c.cent_nrm) DESC, c.cent_id) AS crk
       |    FROM $trainFrom b CROSS JOIN cent${it - 1} c)
       |  WHERE crk = 1)""".stripMargin

  private def lloydMeanCte(it: Int): String =
    s"""m$it AS (
       |  SELECT cell, i,
       |    CAST(SUM(CAST(embedding[i] AS DECIMAL(38,6))) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM a$it, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS t(i)
       |  GROUP BY cell, i),
       |g$it AS (SELECT cell AS cent_id, LIST(m ORDER BY i) AS cent_e
       |  FROM m$it GROUP BY cell),
       |cent$it AS (
       |  SELECT cent_id, cent_e, ${dotSql("cent_e", "cent_e")} AS cent_nrm
       |  FROM (
       |    SELECT p.cent_id, COALESCE(g.cent_e, p.cent_e) AS cent_e
       |    FROM cent${it - 1} p LEFT JOIN g$it g ON p.cent_id = g.cent_id))""".stripMargin

  private def lloydRoundsCtes(iters: Int, trainFrom: String): String =
    (1 to iters).map(it => s"${lloydAssignCte(it, trainFrom)},\n${lloydMeanCte(it)}")
      .mkString(",\n")

  def ivfTopKOracle(nCentroids: Int, nQueries: Int, k: Int,
                    iters: Int = 2, nProbe: Int = 1): String = {
    val searchFrom = nCentroids + nQueries
    // corpus vectors always live in exactly 1 cell; queries probe their
    // nProbe nearest cells (identical text to the original at nProbe=1)
    val assignedFilter =
      if (nProbe == 1) "WHERE crk = 1"
      else s"WHERE (vec_id >= $searchFrom AND crk = 1) OR " +
        s"(vec_id < $searchFrom AND crk <= $nProbe)"
    val rounds = lloydRoundsCtes(iters, trainFrom = "corpus")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS nrm
       |  FROM embeddings),
       |corpus AS (SELECT * FROM base WHERE vec_id >= $searchFrom),
       |cent0 AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_e, nrm AS cent_nrm
       |  FROM base WHERE vec_id < $nCentroids),
       |$rounds,
       |assigned AS (
       |  SELECT vec_id, embedding, nrm, cell FROM (
       |    SELECT b.vec_id, b.embedding, b.nrm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${dotSql("b.embedding", "c.cent_e")}
       |          / SQRT(b.nrm * c.cent_nrm) DESC, c.cent_id) AS crk
       |    FROM base b CROSS JOIN cent$iters c
       |    WHERE b.vec_id >= $nCentroids)
       |  $assignedFilter),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cell
       |      FROM assigned WHERE vec_id < $searchFrom),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, nrm AS cn, cell
       |      FROM assigned WHERE vec_id >= $searchFrom),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${dotSql("qe", "ce")} / SQRT(qn * cn) AS score
       |  FROM c JOIN q USING (cell)),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Semantic deduplication (SemDeDup shape): k-means-cluster the
    * embedding space with the same deterministic Lloyd trainer as
    * [[ivfTopK]] (trained over ALL vectors — there is no query/corpus
    * split here), then prune within each cluster: a vector is dropped
    * iff some LOWER-id vector in its cluster has cosine ≥ `threshold`
    * to it (one-hop min-id rule — the same deterministic keep
    * convention as the near-dup families, so the result is identical
    * under any partitioning). Returns every vector with its cluster,
    * keep flag, and the id it duplicates.
    *
    * Scale shape: candidate pairs come from an equi-join on cluster id
    * — never a global all-pairs. Within-cluster comparison is
    * quadratic in cluster size (inherent to SemDeDup); `nCentroids`
    * is the lever that bounds EXPECTED cluster size (pick ~N/1k cells
    * so clusters stay broadcast-joinable), and `maxCellSize` is the
    * hard backstop for the cell that comes out hot anyway (round 5 —
    * the round-4 watch item): a cell of size `s > maxCellSize` is
    * split into `⌈s / maxCellSize⌉` sub-cells by a deterministic hash
    * of the vector id, and pairs are only compared WITHIN a sub-cell.
    * That bounds compared pairs per cell to ~`s·maxCellSize/2` instead
    * of `s²/2` — linear in s — at the cost of missing duplicates that
    * straddle sub-cells (the standard cap trade; SemDeDup itself
    * already accepts cross-cell misses). The default cap (2²⁰) is far
    * above any fixture cell, so the graded q109 output — and its
    * replayed oracle — are the exact uncapped semantics; capped runs
    * are spec-gated (the split hash is engine-local, so no SQL oracle).
    * The invariant the spec asserts: any two KEPT vectors sharing a
    * (cell, sub-cell) have cosine < `threshold`.
    */
  def semanticDedup(emb: DataFrame, nCentroids: Int, iters: Int = 2,
                    threshold: Double = 0.9,
                    maxCellSize: Int = 1 << 20): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize ($maxCellSize) must be >= 1")
    val spark = emb.sparkSession
    val base = withNorm(emb)
    val trained = lloydTrain(spark, base, base, nCentroids, iters)
    // assignment (broadcast cross-join + per-vector window) feeds BOTH
    // self-join sides and the final keep-flag join — persist for the
    // call rather than trusting ReuseExchange to fire three times, and
    // clean up via the pair-operator lifecycle.
    // Sub-cell split: per-cell sizes are one tiny broadcast aggregate
    // (≤ nCentroids rows); nsub == 1 for every cell under the cap, so
    // the uncapped path is byte-identical to pre-cap behavior.
    val assignRaw = assignCells(base, trained)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = assignRaw.groupBy("cell").agg(count(lit(1)).as("__csz"))
    val assigned = assignRaw
      .join(broadcast(sizes), Seq("cell"))
      .withColumn("__sub", pmod(xxhash64(col("vec_id")),
        call_function("div",
          col("__csz") + lit(maxCellSize.toLong - 1),
          lit(maxCellSize.toLong))))
    Dedup.selfCleaning(assignRaw) {
      val a = assigned.select(col("vec_id").as("a_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cell"), col("__sub"))
      val b = assigned.select(col("vec_id").as("b_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("cell"), col("__sub"))
      val dups = a.join(b, Seq("cell", "__sub"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), pairScore)
        .filter(col("score") >= threshold)
        .groupBy(col("b_id").as("vec_id"))
        .agg(min(col("a_id")).as("dup_of"))
      assignRaw.select(col("vec_id"), col("cell"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("dup_of"),
          col("dup_of").isNull.as("kept"))
        .orderBy("vec_id")
    }
  }

  /** Oracle for [[semanticDedup]]: replays the seed + `iters` Lloyd
    * rounds (training over ALL vectors) and the within-cluster min-id
    * prune as chained CTEs.
    */
  def semanticDedupOracle(nCentroids: Int, iters: Int = 2,
                          threshold: Double = 0.9): String = {
    val rounds = lloydRoundsCtes(iters, trainFrom = "base")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS nrm
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_e, nrm AS cent_nrm
       |  FROM base WHERE vec_id < $nCentroids),
       |$rounds,
       |assigned AS (
       |  SELECT vec_id, embedding, nrm, cell FROM (
       |    SELECT b.vec_id, b.embedding, b.nrm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${dotSql("b.embedding", "c.cent_e")}
       |          / SQRT(b.nrm * c.cent_nrm) DESC, c.cent_id) AS crk
       |    FROM base b CROSS JOIN cent$iters c)
       |  WHERE crk = 1),
       |dups AS (
       |  SELECT b_id AS vec_id, MIN(a_id) AS dup_of FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      ${dotSql("a.embedding", "b.embedding")}
       |        / SQRT(a.nrm * b.nrm) AS score
       |    FROM assigned a JOIN assigned b USING (cell)
       |    WHERE a.vec_id < b.vec_id)
       |  WHERE score >= $threshold GROUP BY b_id)
       |SELECT s.vec_id, s.cell, d.dup_of, d.dup_of IS NULL AS kept
       |FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
       |ORDER BY s.vec_id""".stripMargin
  }

  /** Sign-LSH bucket over `bits` dimensions starting at `offset`: bit j
    * set iff embedding[offset + j] > 0. Equal vectors land in equal
    * buckets, so at scale the ANN search becomes an equi-join on this id.
    * Each table of a multi-table LSH index reads a disjoint dimension
    * slice, so the tables are independent partitions of the space.
    */
  def lshBucketAt(emb: Column, bits: Int, offset: Int): Column =
    (0 until bits).map { j =>
      when(element_at(emb, offset + j + 1) > 0f, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN: same contract as bruteForceTopK but candidates are
    * restricted to the query's sign-LSH bucket (recall < 1, cost ≫ lower).
    *
    * `tables` — the LSH quality lever: candidates are unioned across
    * `tables` independent bucketings (disjoint dimension slices;
    * requires `tables * bits` ≤ embedding dim). A true neighbor is
    * found if it collides in ANY table, so recall rises with each
    * table at linearly more candidate pairs; the recall contract is
    * measured in OperatorsSpec. Default 1 keeps the single-table shape.
    */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int, bits: Int,
              tables: Int = 1): DataFrame = {
    require(tables >= 1 && bits >= 1, "need tables >= 1 and bits >= 1")
    // bits beyond 32 would carry the bucket sum into the per-table tag
    // namespace (t.toLong << 32), silently merging buckets ACROSS tables
    require(bits <= 32, s"bits ($bits) must be <= 32 (per-table tag uses bits 32+)")
    // enforce the dimension precondition eagerly: an out-of-range
    // element_at returns null and the bit silently contributes 0, so
    // an over-wide layout would degenerate whole tables into ONE
    // bucket (a full cross join) with no error. One head(1) row is
    // enough — scans stop after the first record — and uniform width
    // is the embeddings-table contract (ragged rows would need a full
    // min(size) pass, a whole extra scan, to detect).
    val probe = emb.select(size(col("embedding"))).head(1)
    require(probe.nonEmpty, "lshTopK: embeddings input is empty")
    val dim = probe(0).getInt(0)
    require(tables * bits <= dim,
      s"tables ($tables) * bits ($bits) must be <= embedding dim ($dim)")
    val base = withNorm(emb)
    def bucketed(t: Int): DataFrame = base.withColumn("bucket",
      lshBucketAt(col("embedding").cast(ArrayType(FloatType)), bits, t * bits)
        + lit(t.toLong << 32)) // disjoint bucket space per table
    def pairsOf(tagged: DataFrame): DataFrame = {
      val q = tagged.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qn"), col("bucket"))
      val c = tagged.filter(col("vec_id") >= nQueries)
        .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
          col("nrm").as("cn"), col("bucket"))
      c.join(broadcast(q), Seq("bucket"))
        .select(col("query_id"), col("neighbor_id"), pairScore)
    }
    val scored =
      if (tables == 1) pairsOf(bucketed(0))
      else (0 until tables).map(t => pairsOf(bucketed(t)))
        .reduce(_ unionByName _)
        // a pair colliding in several tables must rank once, not `tables`
        // times (score is identical on every copy)
        .dropDuplicates("query_id", "neighbor_id")
    rankTopK(scored, k)
  }

  /** Oracle for multi-table [[lshTopK]]: each table's bucket reads its
    * dimension slice (offset `t*bits`), the per-table tagged frames
    * UNION ALL, candidate pairs DISTINCT across tables, then score+rank
    * from the base vectors — the same dedup-then-rank the Spark side
    * runs.
    */
  def lshTopKMultiOracle(nQueries: Int, k: Int, bits: Int,
                         tables: Int): String = {
    def bucketSqlAt(t: Int): String = (0 until bits).map { j =>
      s"CASE WHEN embedding[${t * bits + j + 1}] > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    val tagged = (0 until tables).map { t =>
      s"""SELECT vec_id, ${t.toLong << 32} + ${bucketSqlAt(t)} AS bucket
         |FROM base""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS nrm
       |  FROM embeddings),
       |tagged AS (
       |$tagged),
       |q AS (SELECT vec_id AS query_id, bucket FROM tagged
       |      WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS neighbor_id, bucket FROM tagged
       |      WHERE vec_id >= $nQueries),
       |pairs AS (
       |  SELECT DISTINCT query_id, neighbor_id
       |  FROM c JOIN q USING (bucket)),
       |scored AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    ${dotSql("qb.embedding", "cb.embedding")} / SQRT(qb.nrm * cb.nrm)
       |      AS score
       |  FROM pairs p
       |  JOIN base qb ON qb.vec_id = p.query_id
       |  JOIN base cb ON cb.vec_id = p.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  def lshTopKOracle(nQueries: Int, k: Int, bits: Int): String = {
    val bucketSql = (0 until bits).map { j =>
      s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding, $bucketSql AS bucket,
       |    ${dotSql("embedding", "embedding")} AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket
       |      FROM base WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, nrm AS cn, bucket
       |      FROM base WHERE vec_id >= $nQueries),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${dotSql("qe", "ce")} / SQRT(qn * cn) AS score
       |  FROM c JOIN q USING (bucket)),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Two-stage quantized ANN: coarse scoring on int8-quantized vectors,
    * then EXACT re-rank of each query's top `k * rerankFactor` coarse
    * candidates on the float vectors.
    *
    * The 100 TB rationale: the coarse pass streams a corpus that is 4×
    * smaller than float32 in every cache/broadcast/shuffle and scores
    * with integer multiplies (codegen'd `dot_product_i8`); the float
    * corpus is touched only for the ~k·rerankFactor survivors per query
    * — the standard quantized-scan → re-rank retrieval design. Here the
    * quantized index is built inline from the same scan; a production
    * deployment materializes it once and amortizes it over every query.
    *
    * Determinism for the oracle gate: quantized codes are INTEGERS
    * produced by the engine's one rounding convention
    * (`floor(x/scale + 0.5)`, clamped ±127 — see
    * [[graft.expressions.QuantizeI8]]), the coarse dot product is an
    * exact long, and candidate cuts tie-break on neighbor_id — so the
    * candidate set, and therefore the exactly-rescored result, is
    * engine-identical.
    */
  def quantizedTopK(emb: DataFrame, nQueries: Int, k: Int,
                    rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor must be >= 1")
    val base = withNorm(emb)
      .withColumn("mx", greatest(abs(array_max(col("e"))), abs(array_min(col("e")))))
      .withColumn("scale", when(col("mx") > 0, col("mx") / lit(127)).otherwise(lit(0.0)))
      .withColumn("qv", call_function("quantize_i8", col("e"), col("scale")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("scale").as("qscale"), col("nrm").as("qn"))
    val c = base.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("cqv"),
        col("scale").as("cscale"), col("nrm").as("cn"))
    val coarse = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        (call_function("dot_product_i8", col("qqv"), col("cqv")).cast(DoubleType)
          * col("qscale") * col("cscale") / sqrt(col("qn") * col("cn")))
          .as("cscore"))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("cscore").desc, col("neighbor_id"))
    val cand = coarse.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= k * rerankFactor)
      .select("query_id", "neighbor_id")
    // exact re-rank: only candidate ids touch the float vectors again;
    // both join sides carrying floats are bounded (queries; candidates)
    val qf = withNorm(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val candQ = cand.join(broadcast(qf), Seq("query_id"))
    val cf = withNorm(emb).filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn"))
    rankTopK(cf.join(broadcast(candQ), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pairScore), k)
  }

  /** Oracle for [[quantizedTopK]]: replays quantization (same
    * floor(x/scale + 0.5) clamp), the integer coarse dot product, the
    * candidate cut, and the exact re-rank.
    */
  def quantizedTopKOracle(nQueries: Int, k: Int,
                          rerankFactor: Int = 4): String =
    s"""WITH de AS (
       |  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |base AS (
       |  SELECT vec_id, e, ${dotSql("e", "e")} AS nrm,
       |    GREATEST(ABS(LIST_MAX(e)), ABS(LIST_MIN(e))) AS mx
       |  FROM de),
       |quant AS (
       |  SELECT vec_id, e, nrm,
       |    CASE WHEN mx > 0 THEN mx / 127 ELSE 0 END AS scale,
       |    LIST_TRANSFORM(e, x -> CASE WHEN mx > 0 THEN
       |      LEAST(GREATEST(CAST(FLOOR(x / (mx / 127) + 0.5) AS BIGINT), -127), 127)
       |      ELSE 0 END) AS qv
       |  FROM base),
       |q AS (SELECT vec_id AS query_id, qv AS qqv, scale AS qscale, nrm AS qn, e AS qe
       |      FROM quant WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS neighbor_id, qv AS cqv, scale AS cscale, nrm AS cn, e AS ce
       |      FROM quant WHERE vec_id >= $nQueries),
       |coarse AS (
       |  SELECT query_id, neighbor_id, qe, qn, ce, cn,
       |    CAST(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(qqv)),
       |        i -> qqv[i] * cqv[i]), (u, v) -> u + v) AS DOUBLE)
       |      * qscale * cscale / SQRT(qn * cn) AS cscore
       |  FROM c CROSS JOIN q),
       |cand AS (
       |  SELECT query_id, neighbor_id, qe, qn, ce, cn FROM (
       |    SELECT query_id, neighbor_id, qe, qn, ce, cn,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cscore DESC, neighbor_id) AS crn
       |    FROM coarse)
       |  WHERE crn <= ${k * rerankFactor}),
       |exact AS (
       |  SELECT query_id, neighbor_id,
       |    ${dotSql("qe", "ce")} / SQRT(qn * cn) AS score
       |  FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM exact)
       |SELECT query_id, neighbor_id, score, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------- product quantization (PQ)

  /** Squared L2 distance given precomputed self-dots — written as
    * `(xx − 2·xy) + yy` on BOTH engines so the float fold order is
    * identical (the [[dotSql]] parity contract).
    */
  private def l2(xx: Column, xy: Column, yy: Column): Column =
    xx - lit(2.0) * xy + yy

  private def l2Sql(x: String, y: String): String =
    s"${dotSql(x, x)} - 2 * ${dotSql(x, y)} + ${dotSql(y, y)}"

  /** Deterministic L2 Lloyd trainer over ALL `m` PQ subspaces at once
    * — the [[lloydTrain]] arithmetic (decimal-sum means,
    * keep-empty-cells, cent_id tie-break) with squared-L2 assignment
    * (PQ's additivity holds for L2, not cosine), run as ONE Spark job
    * per iteration: the subspace-exploded frame joins the whole
    * broadcast codebook family on `s`, the argmin window partitions
    * by (s, vec_id), and the decimal M-step groups by (s, cell, pos)
    * — one pass over the train set per round instead of m (a
    * per-subspace driver loop costs m× the train-set IO AND m×iters
    * job-scheduling floors, which dominated the fixture wall time).
    * Per-subspace results are arithmetic-identical to independent
    * training (every group is keyed by s), so the oracle's
    * independent per-subspace CTE replay is unchanged.
    *
    * @param subs (vec_id, s, e, ee) for all vectors
    */
  private def lloydTrainL2All(spark: SparkSession, subs: DataFrame,
                              m: Int, ksub: Int, searchFrom: Int,
                              iters: Int): Seq[Seq[(Long, Seq[Double])]] = {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    var cents: Seq[Seq[(Long, Seq[Double])]] = {
      val rows = subs.filter(col("vec_id") < ksub)
        .select(col("s"), col("vec_id"), col("e")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      (0 until m).map(s => rows.filter(_._1 == s).sortBy(_._2)
        .map(t => (t._2, t._3)).toSeq)
    }
    def centsDf: DataFrame = cents.zipWithIndex
      .flatMap { case (cs, s) => cs.map { case (j, c) => (s, j, c) } }
      .toDF("s", "cent_id", "ce")
      .withColumn("cc", dot(col("ce"), col("ce")))
    for (_ <- 1 to iters) {
      val w = Window.partitionBy("s", "vec_id")
        .orderBy(col("d").asc, col("cent_id"))
      val means = subs.filter(col("vec_id") >= searchFrom)
        .join(broadcast(centsDf), Seq("s"))
        .withColumn("d", l2(col("ee"), dot(col("e"), col("ce")), col("cc")))
        .withColumn("crk", row_number().over(w))
        .filter(col("crk") === 1)
        .select(col("s"), col("cent_id").as("cell"),
          posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("s", "cell", "pos")
        .agg((sum(col("x").cast(DecimalType(38, 6))).cast(DoubleType)
          / count(lit(1))).as("mn"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case ((s, cell), rows) =>
          (s, cell) -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      cents = cents.zipWithIndex.map { case (cs, s) =>
        cs.map { case (id, e) => (id, means.getOrElse((s, id), e)) }
      }
    }
    cents
  }

  /** Literal-centroid argmin as a pure expression — the MAP-ONLY
    * encode kernel shared by [[pqTopK]] (raw subvectors), the coarse
    * cell assignment of [[ivfadcTopK]] (full vectors), and its
    * residual encoding: the per-centroid squared-L2 distances form
    * one literal-centroid array and the winner is
    * `array_position(ds, array_min(ds))` — the FIRST minimum, i.e.
    * the LOWEST cent_id on ties (cents arrive cent_id-sorted from the
    * trainer), exactly the oracles' ROW_NUMBER (d, cent_id) pick.
    * Centroid self-dots are driver `Seq.sum` — the same left-to-right
    * IEEE fold as the dot kernel, so values are bit-identical to the
    * SQL replay. Generated code is LINEAR in |cents|: the previous
    * least/when fold re-referenced the shrinking least-chain
    * (~|cents|² code) and blew janino's 64 KB method cap at
    * m=4 × ksub=16 (IVFADC's q204 regime), dropping the whole encode
    * projection to interpreted eval — the exact failure mode the
    * map-only design exists to avoid.
    */
  private def argminLit(es: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val ee = dot(es, es)
    val ds = array(cents.map { case (_, c) =>
      l2(ee, dot(es, array(c.map(lit): _*)), lit(c.map(x => x * x).sum))
    }: _*)
    element_at(array(cents.map(c => lit(c._1)): _*),
      array_position(ds, array_min(ds)).cast("int"))
  }

  /** Product-quantization ANN (IVFADC's compression half) — THE 100 TB
    * memory path: the corpus is stored as `m` small centroid codes
    * (here m·⌈log₂ ksub⌉ bits ≈ 6 bits/vector vs 64 floats ≈ 2048
    * bits), and each query scans codes with per-subspace lookup
    * tables instead of touching any corpus float. The embedding is
    * split into `m` equal subvectors; each subspace gets its own
    * ksub-centroid codebook (deterministic L2 Lloyd — seeds = the
    * first `ksub` vectors' subvectors, `iters` rounds, decimal-sum
    * means, cent_id tie-breaks, exactly [[ivfTopK]]'s discipline in
    * L2); a corpus vector's code in subspace s is its nearest
    * centroid (squared L2, tie on cent_id). Query time: an
    * (nQueries × m × ksub) asymmetric-distance table d(q, s, j) =
    * ‖q_s − c_{s,j}‖², then approx dist(q, v) = Σ_s d(q, s,
    * code_s(v)) — additive BECAUSE the metric is squared L2 over a
    * disjoint coordinate split. Top-k per query ranks by (dist,
    * neighbor_id) ascending.
    *
    * Scale shape: codebooks are (m × ksub × dim/m) doubles — driver
    * and broadcast-bounded by construction, like [[ivfTopK]]'s
    * centroid collects. Corpus encoding is MAP-ONLY: the trained
    * codebooks are expression literals, so each subspace code is a
    * least/when argmin fold evaluated per row — zero shuffle, zero
    * aggregate, zero window; at 100 TB "encode the corpus" pipelines
    * straight into the code-table write. The search is `m` broadcast
    * LUT joins (LUT = nQueries·ksub rows per subspace) and a
    * fixed-order `d_0 + … + d_{m−1}` sum — the corpus-sized stream
    * carries only (vec_id, m codes), never floats. Determinism: every
    * float fold is the shared left-to-right dot kernel (centroid
    * self-dots are driver `Seq.sum`, the same fold), the distance sum
    * is a literal expression chain (not an agg over shuffled rows),
    * and every argmin ties on cent_id/neighbor_id — the oracle
    * replays training, encoding, LUTs, and ranking exactly.
    *
    * @return (query_id, neighbor_id, dist, rnk), rnk ≤ k per query
    */
  def pqTopK(emb: DataFrame, m: Int = 2, ksub: Int = 8,
             nQueries: Int = 8, k: Int = 5, iters: Int = 2,
             dim: Int = 64): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(ksub >= 1 && iters >= 0 && k >= 1 && nQueries >= 1, "bad args")
    val spark = emb.sparkSession
    val searchFrom = ksub + nQueries
    val subLen = dim / m
    val base = withNorm(emb).select(col("vec_id"), col("e"))
    val subs = base.select(col("vec_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("e"), s * subLen + 1, subLen)): _*)).as(Seq("s", "e")))
      .withColumn("ee", dot(col("e"), col("e")))
    // all m codebooks trained together — one job per Lloyd round,
    // bounded collects (m × ksub × dim/m doubles, the ivfTopK
    // centroid-collect discipline)
    val codebooks: Seq[Seq[(Long, Seq[Double])]] =
      lloydTrainL2All(spark, subs, m, ksub, searchFrom, iters)
    // MAP-ONLY corpus encoding: the trained codebooks are driver-side
    // constants, so each subspace code is a pure expression fold over
    // centroid literals — `least` for the running best distance, one
    // `when` for the running argmin (strict `<` keeps the LOWEST
    // cent_id on ties, exactly the oracle's ROW_NUMBER (d, cent_id)
    // pick). Zero shuffle, zero aggregate — at 100 TB "encode the
    // corpus" is a narrow projection you pipeline into the code-table
    // write. Expression size grows ~ksub² per subspace (the argmin
    // when-chain re-references the shrinking least-chain), the normal
    // PQ regime (ksub ≤ 256) stays comfortably inside codegen.
    val codes = base.filter(col("vec_id") >= searchFrom)
      .select(col("vec_id") +: (0 until m).map(s =>
        argminLit(slice(col("e"), s * subLen + 1, subLen), codebooks(s))
          .as(s"code_$s")): _*)
    // asymmetric-distance LUTs: query subvectors × codebooks (both
    // tiny: nQueries·ksub rows per subspace)
    import spark.implicits._
    val cents = (0 until m)
      .flatMap(s => codebooks(s).map { case (j, c) => (s, j, c) })
      .toDF("s", "cent_id", "ce")
      .withColumn("cc", dot(col("ce"), col("ce")))
    val lut = subs
      .filter(col("vec_id") >= ksub && col("vec_id") < searchFrom)
      .join(broadcast(cents), Seq("s"))
      .select(col("vec_id").as("query_id"), col("s"),
        col("cent_id").as("code"),
        l2(col("ee"), dot(col("e"), col("ce")), col("cc")).as("d"))
    val joined = (0 until m).foldLeft(codes) { (acc, s) =>
      val l = lut.filter(col("s") === s)
        .select(col("query_id").as(s"__q$s"), col("code").as(s"__c$s"),
          col("d").as(s"d_$s"))
      val cond = acc(s"code_$s") === l(s"__c$s") &&
        (if (s == 0) lit(true) else acc("__q0") === l(s"__q$s"))
      acc.join(broadcast(l), cond)
    }
    val dist = (0 until m).map(s => col(s"d_$s")).reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id"))
    joined
      .select(col("__q0").as("query_id"), col("vec_id").as("neighbor_id"),
        dist.as("dist"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Exact squared-L2 brute-force top-k over an explicit query id
    * range — [[pqTopK]]'s ground truth (PQ approximates L2, so its
    * quantization loss is only measurable against the exact ranking
    * in the SAME metric; the cosine [[bruteForceTopK]] would conflate
    * metric disagreement with quantization error). Queries =
    * vec_id ∈ [queryFrom, queryFrom + nQueries), corpus = vec_id ≥
    * queryFrom + nQueries (the PQ layout with queryFrom = ksub).
    * Same scale shape as [[bruteForceTopK]]: query side broadcast,
    * one corpus pass, (dist, neighbor_id) ascending rank.
    *
    * @return (query_id, neighbor_id, dist, rnk), rnk ≤ k
    */
  def bruteForceTopKL2(emb: DataFrame, nQueries: Int, k: Int,
                       queryFrom: Int = 0): DataFrame = {
    val base = withNorm(emb)
    val q = base.filter(col("vec_id") >= queryFrom &&
        col("vec_id") < queryFrom + nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"))
    val c = base.filter(col("vec_id") >= queryFrom + nQueries)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        l2(col("qn"), dot(col("qe"), col("ce")), col("cn")).as("dist"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Oracle for [[bruteForceTopKL2]]. */
  def bruteForceTopKL2Oracle(nQueries: Int, k: Int,
                             queryFrom: Int = 0): String = {
    val from = queryFrom + nQueries
    s"""WITH de AS (
       |  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM de
       |      WHERE vec_id >= $queryFrom AND vec_id < $from),
       |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM de
       |      WHERE vec_id >= $from),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${l2Sql("qe", "ce")} AS dist
       |  FROM c CROSS JOIN q),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, dist, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Oracle for [[pqTopK]]: replays the per-subspace seeds + L2 Lloyd
    * rounds, the corpus encoding, the LUTs, and the fixed-order
    * distance sum as chained CTEs.
    */
  def pqTopKOracle(m: Int = 2, ksub: Int = 8, nQueries: Int = 8,
                   k: Int = 5, iters: Int = 2, dim: Int = 64): String = {
    val searchFrom = ksub + nQueries
    val subLen = dim / m
    def subCtes(s: Int): String = {
      val lo = s * subLen
      def assign(from: String, cent: String): String =
        s"""SELECT vec_id, e, cell FROM (
           |    SELECT b.vec_id, b.e, c.cent_id AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
           |        ${l2Sql("b.e", "c.ce")} ASC, c.cent_id) AS crk
           |    FROM $from b CROSS JOIN $cent c)
           |  WHERE crk = 1""".stripMargin
      val rounds = (1 to iters).map { it =>
        s"""p${s}a$it AS (
           |  ${assign(s"p${s}corpus", s"p${s}cent${it - 1}")}),
           |p${s}m$it AS (
           |  SELECT cell, i,
           |    CAST(SUM(CAST(e[i] AS DECIMAL(38,6))) AS DOUBLE)
           |      / COUNT(*) AS mn
           |  FROM p${s}a$it, UNNEST(GENERATE_SERIES(1, LEN(e))) AS t(i)
           |  GROUP BY cell, i),
           |p${s}g$it AS (SELECT cell AS cent_id, LIST(mn ORDER BY i) AS ce
           |  FROM p${s}m$it GROUP BY cell),
           |p${s}cent$it AS (
           |  SELECT p.cent_id, COALESCE(g.ce, p.ce) AS ce
           |  FROM p${s}cent${it - 1} p LEFT JOIN p${s}g$it g
           |    ON p.cent_id = g.cent_id)""".stripMargin
      }.mkString(",\n")
      s"""p${s}sub AS (
         |  SELECT vec_id, e[${lo + 1}:${lo + subLen}] AS e FROM de),
         |p${s}corpus AS (
         |  SELECT vec_id, e FROM p${s}sub WHERE vec_id >= $searchFrom),
         |p${s}cent0 AS (
         |  SELECT vec_id AS cent_id, e AS ce FROM p${s}sub
         |  WHERE vec_id < $ksub),
         |$rounds,
         |p${s}code AS (
         |  SELECT vec_id, cell AS code FROM (
         |  ${assign(s"p${s}corpus", s"p${s}cent$iters")})),
         |p${s}lut AS (
         |  SELECT q.vec_id AS query_id, c.cent_id AS code,
         |    ${l2Sql("q.e", "c.ce")} AS d
         |  FROM (SELECT vec_id, e FROM p${s}sub
         |        WHERE vec_id >= $ksub AND vec_id < $searchFrom) q
         |  CROSS JOIN p${s}cent$iters c)""".stripMargin
    }
    val codeJoin = (1 until m)
      .map(s => s"JOIN p${s}code c$s ON c$s.vec_id = c0.vec_id")
      .mkString("\n    ")
    val lutJoin = (0 until m).map(s =>
      s"JOIN p${s}lut l$s ON l$s.code = c$s.code" +
        (if (s == 0) "" else " AND l$s.query_id = l0.query_id")
          .replace("$s", s.toString))
      .mkString("\n    ")
    val distSum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    s"""WITH de AS (
       |  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |${(0 until m).map(subCtes).mkString(",\n")},
       |approx AS (
       |  SELECT l0.query_id, c0.vec_id AS neighbor_id, $distSum AS dist
       |  FROM p0code c0
       |    $codeJoin
       |    $lutJoin),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, neighbor_id) AS BIGINT) AS rnk
       |  FROM approx)
       |SELECT query_id, neighbor_id, dist, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  // ------------------------------------------------------- IVFADC

  /** A trained IVFADC index — the published production-ANN shape
    * ([[ivfTopK]]'s inverted file + [[pqTopK]]'s product quantizer,
    * composed the way the ADC paper does): a coarse L2 quantizer of
    * `nCells` full-dim centroids partitions the corpus into cells, and
    * PQ codebooks are trained on the RESIDUALS `v − c_cell(v)` —
    * residuals concentrate near zero, so the same `m × ksub` code
    * budget spends its precision on the informative part (the
    * within-cell offset), not on re-encoding the cell location
    * PQ-on-raw wastes bits on. A query probes its `nprobe` nearest
    * cells and scans ONLY their codes with per-(query, cell) lookup
    * tables over the residual query `q − c_cell`.
    *
    * The model is the one trained IVFADC artifact: the coarse table
    * (cell, ce, cc), the PQ codebook table (s, code, bce, bcc), the
    * encoded corpus codes (vec_id, cell, code_0..code_{m−1}) and the
    * parameters that produced them. [[ivfadcTrain]] makes it;
    * [[ivfadcTopK]], [[ivfadcRefineTopK]], [[ivfCellRecall]] and
    * [[StandingIndex.buildAnnIndex]] (which persists it) take it, so
    * one training serves every probe budget and every index. Codes
    * stay lazy (a map-only encode over the embeddings frame).
    */
  final case class IvfadcModel private[operators] (
      coarseDf: DataFrame, booksDf: DataFrame, codes: DataFrame,
      nCells: Int, searchFrom: Long, m: Int, ksub: Int, subLen: Int,
      iters: Int) {
    def dim: Int = m * subLen
  }

  /** Train the IVFADC quantizers and encode the corpus.
    *
    * Layout (the [[pqTopK]] convention, shifted): coarse seeds =
    * vec_id < nCells, queries = [nCells, nCells+nQueries), corpus =
    * vec_id ≥ nCells+nQueries. Residual codebook seeds are the FIRST
    * `ksub` corpus vectors' residual subvectors (cent ids = their
    * vec_ids — the id space the oracle replays); residual training
    * runs over ALL corpus residuals (train set = encode set, the
    * IVFADC convention — unlike [[pqTopK]], whose seeds are corpus-
    * external by layout).
    *
    * Scale shape: both trainings are the shared one-job-per-round
    * [[lloydTrainL2All]] with bounded collects; cell assignment AND
    * residual encoding are map-only [[argminLit]] expression folds
    * (the residual itself is one broadcast join against the
    * nCells-row coarse table — no corpus shuffle anywhere in the
    * encode path). Determinism: every argmin ties on cent_id/cell;
    * every float is the shared fold.
    */
  def ivfadcTrain(emb: DataFrame, nCells: Int = 16, m: Int = 4,
                  ksub: Int = 16, nQueries: Int = 8, iters: Int = 2,
                  dim: Int = 64): IvfadcModel = {
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(nCells >= 1 && ksub >= 1 && iters >= 0 && nQueries >= 1,
      "bad args")
    val spark = emb.sparkSession
    import spark.implicits._
    val searchFrom = nCells + nQueries
    val subLen = dim / m
    val base = withNorm(emb).select(col("vec_id"), col("e"))
    // coarse codebook: ONE full-dim "subspace" through the shared
    // trainer (seeds < nCells, train = corpus)
    val fullSubs = base.select(col("vec_id"), lit(0).as("s"), col("e"))
      .withColumn("ee", dot(col("e"), col("e")))
    val coarse: Seq[(Long, Seq[Double])] =
      lloydTrainL2All(spark, fullSubs, 1, nCells, searchFrom, iters).head
    val coarseDf = coarse.toDF("cell", "ce")
      .withColumn("cc", dot(col("ce"), col("ce")))
    // residual PQ codebooks: seeds = first ksub corpus vectors'
    // residual subvectors (cent ids = their vec_ids), train = all
    val resid = ivfadcResiduals(base.filter(col("vec_id") >= searchFrom),
      coarse, coarseDf)
    val rsubs = resid.select(col("vec_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("r"), s * subLen + 1, subLen)): _*)).as(Seq("s", "e")))
      .withColumn("ee", dot(col("e"), col("e")))
    val books: Seq[Seq[(Long, Seq[Double])]] =
      lloydTrainL2All(spark, rsubs, m, searchFrom + ksub, searchFrom, iters)
    val booksDf = (0 until m)
      .flatMap(s => books(s).map { case (j, c) => (s, j, c) })
      .toDF("s", "code", "bce")
      .withColumn("bcc", dot(col("bce"), col("bce")))
    IvfadcModel(coarseDf, booksDf, ivfadcEncodeWith(resid, books, m, subLen),
      nCells, searchFrom.toLong, m, ksub, subLen, iters)
  }

  /** The model's query slice of `emb` (vec_id in [nCells, searchFrom))
    * as the (query_id, qe) frame [[ivfadcSearch]] reads.
    */
  private def modelQueries(model: IvfadcModel, emb: DataFrame): DataFrame =
    withNorm(emb).select(col("vec_id"), col("e"))
      .filter(col("vec_id") >= model.nCells &&
        col("vec_id") < model.searchFrom)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))

  /** ADC retrieval over a trained [[IvfadcModel]]: the model's query
    * slice of `emb` probes its `nprobe` nearest cells. The search joins
    * the (nQueries·nprobe·ksub)-row broadcast LUTs against the code
    * table, so ONLY probed cells' codes survive the join — at 100 TB
    * the scan cost drops by ~nprobe/nCells versus [[pqTopK]]'s
    * full-code scan, which is the entire point of the IVF half.
    *
    * @return (query_id, neighbor_id, dist, rnk), rnk ≤ k per query —
    *         dist is the asymmetric Σ_s ‖(q−c)_s − r̂_s‖² estimate
    */
  def ivfadcTopK(model: IvfadcModel, emb: DataFrame, k: Int = 5,
                 nprobe: Int = 4): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(nprobe >= 1 && nprobe <= model.nCells,
      s"need 1 <= nprobe ($nprobe) <= nCells (${model.nCells})")
    ivfadcSearch(modelQueries(model, emb), model.coarseDf, model.booksDf,
      model.codes, model.m, model.subLen, k, nprobe)
  }

  /** Map-only cell assignment + residuals over already-trained coarse
    * centroids (one broadcast join against the nCells-row coarse
    * table — no corpus shuffle).
    */
  private def ivfadcResiduals(vecs: DataFrame,
                              coarse: Seq[(Long, Seq[Double])],
                              coarseDf: DataFrame): DataFrame =
    vecs
      .withColumn("cell", argminLit(col("e"), coarse))
      .join(broadcast(coarseDf.select("cell", "ce")), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("e"), col("ce"), (x, y) => x - y).as("r"))

  /** Map-only residual encoding with FROZEN codebooks — the encode
    * kernel of [[ivfadcTrain]] and of the standing index's
    * incremental append ([[StandingIndex.appendAnnIndex]]: new
    * vectors encode against the live version's trained quantizers,
    * the standard production way an IVF index grows).
    */
  private def ivfadcEncodeWith(resid: DataFrame,
                               books: Seq[Seq[(Long, Seq[Double])]],
                               m: Int, subLen: Int): DataFrame =
    resid.select(col("vec_id") +: col("cell") +:
      (0 until m).map(s =>
        argminLit(slice(col("r"), s * subLen + 1, subLen), books(s))
          .as(s"code_$s")): _*)

  /** Frozen-quantizer delta encode for [[StandingIndex.appendAnnIndex]]:
    * assigns cells and PQ codes to NEW vectors against already-trained
    * (persisted) centroids, map-only end to end. `coarse`/`books` are
    * the collected member rows (nCells and m·ksub entries — bounded).
    */
  private[operators] def ivfadcEncodeDelta(emb: DataFrame,
                                           coarse: Seq[(Long, Seq[Double])],
                                           books: Seq[Seq[(Long, Seq[Double])]],
                                           m: Int, dim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val coarseDf = coarse.toDF("cell", "ce")
    val base = withNorm(emb).select(col("vec_id"), col("e"))
    ivfadcEncodeWith(ivfadcResiduals(base, coarse, coarseDf), books, m,
      dim / m)
  }

  /** (query_id, qe) query frame for [[ivfadcSearch]] from a raw
    * embedding frame — the same double-cast normalization every other
    * path rides, so a standing-index probe is float-identical to the
    * inline operator.
    */
  private[operators] def ivfadcQueryFrame(emb: DataFrame): DataFrame =
    withNorm(emb).select(col("vec_id").as("query_id"), col("e").as("qe"))

  /** Each query's `nprobe` nearest coarse cells: the rows of
    * `q × coarseDf` ranked by (squared L2, cell) within each query,
    * ranks 1..nprobe kept. The one probe ranking of the IVF family
    * ([[probedCellIds]], [[ivfadcSearch]], [[ivfCellRecall]]).
    */
  private def probedCells(q: DataFrame, coarseDf: DataFrame,
                          nprobe: Int): DataFrame = {
    val wp = Window.partitionBy("query_id")
      .orderBy(col("pd").asc, col("cell"))
    q.crossJoin(broadcast(coarseDf))
      .withColumn("pd",
        l2(dot(col("qe"), col("qe")), dot(col("qe"), col("ce")), col("cc")))
      .withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= nprobe)
  }

  /** The distinct cells any query will probe — the driver-side half
    * of [[StandingIndex.probeAnn]]'s cell-pruning pushdown. Bounded by
    * construction: the ranking frame is nQueries × nCells rows and the
    * result is ≤ nCells longs, so the collect is a semantic-gate-class
    * driver action (the codes member it prunes is CORPUS-sized — at
    * 100 TB this one bounded job turns a full codes scan into a
    * bucket-pruned scan of the probed cells).
    */
  private[operators] def probedCellIds(q: DataFrame, coarseDf: DataFrame,
                                       nprobe: Int): Seq[Long] =
    probedCells(q, coarseDf, nprobe)
      .select("cell").distinct().collect().map(_.getLong(0)).sorted.toSeq

  /** Search half of [[ivfadcTopK]] (and of
    * [[StandingIndex.probeAnn]], where `coarseDf`/`booksDf`/`codes`
    * come from the persisted member tables): probe ranking,
    * per-(query, cell) asymmetric LUTs over the residual query, and
    * the LUT joins that scan ONLY probed cells' codes. Every join is
    * broadcast (LUTs are nQueries·nprobe·ksub rows per subspace), so
    * the code-table side never shuffles — at probe time the corpus
    * cost is one pruned scan of the codes.
    */
  private[operators] def ivfadcSearch(q: DataFrame, coarseDf: DataFrame,
                                      booksDf: DataFrame, codes: DataFrame,
                                      m: Int, subLen: Int, k: Int,
                                      nprobe: Int): DataFrame = {
    val probed = probedCells(q, coarseDf, nprobe)
      .select(col("query_id"), col("cell"),
        zip_with(col("qe"), col("ce"), (x, y) => x - y).as("rq"))
    // per-(query, cell) asymmetric LUTs over the residual query
    val lut = probed.select(col("query_id"), col("cell"),
        posexplode(array((0 until m).map(s =>
          slice(col("rq"), s * subLen + 1, subLen)): _*)).as(Seq("s", "rqs")))
      .withColumn("rr", dot(col("rqs"), col("rqs")))
      .join(broadcast(booksDf), Seq("s"))
      .select(col("query_id"), col("cell"), col("s"), col("code"),
        l2(col("rr"), dot(col("rqs"), col("bce")), col("bcc")).as("d"))
    // inner joins on (cell, code_s): only probed cells' codes survive
    val joined = (0 until m).foldLeft(codes) { (acc, s) =>
      val l = lut.filter(col("s") === s)
        .select(col("query_id").as(s"__q$s"), col("cell").as(s"__cl$s"),
          col("code").as(s"__c$s"), col("d").as(s"d_$s"))
      val cond = acc(s"code_$s") === l(s"__c$s") &&
        acc("cell") === l(s"__cl$s") &&
        (if (s == 0) lit(true) else acc("__q0") === l(s"__q$s"))
      acc.join(broadcast(l), cond)
    }
    val dist = (0 until m).map(s => col(s"d_$s")).reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id"))
    joined
      .select(col("__q0").as("query_id"), col("vec_id").as("neighbor_id"),
        dist.as("dist"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Oracle for [[ivfadcTopK]]: replays the coarse Lloyd, the cell
    * assignment, the residuals, the per-subspace residual Lloyd +
    * encoding, the probe ranking, the per-(query, cell) LUTs, and the
    * fixed-order distance sum as chained CTEs.
    *
    * `trainTo` (default unbounded) restricts BOTH Lloyd trainings to
    * corpus vectors with vec_id < trainTo while the assignment/encode
    * CTEs still cover the whole corpus — the frozen-quantizer append
    * semantics of [[StandingIndex.appendAnnIndex]] (vectors arriving
    * after the build are encoded with the live version's quantizers,
    * never retrained).
    *
    * `deleteWhere` (default none) excludes matching corpus vectors
    * from the CANDIDATE set only — training, assignment, and encoding
    * still cover the full corpus: the tombstone-delete semantics of
    * [[StandingIndex.deleteFromAnnIndex]] (retired vectors keep their
    * influence on the trained geometry until the next full build, but
    * can never appear in — or shadow a live neighbor out of — a
    * probe's top-k).
    */
  def ivfadcTopKOracle(nCells: Int = 16, m: Int = 4, ksub: Int = 16,
                       nQueries: Int = 8, k: Int = 5, nprobe: Int = 4,
                       iters: Int = 2, dim: Int = 64,
                       trainTo: Long = Long.MaxValue,
                       deleteWhere: Option[String] = None): String = {
    val searchFrom = nCells + nQueries
    require(trainTo > searchFrom + ksub,
      s"trainTo ($trainTo) must cover the $ksub residual seeds")
    val subLen = dim / m
    def assign(from: String, cent: String): String =
      s"""SELECT vec_id, e, cell FROM (
         |    SELECT b.vec_id, b.e, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
         |        ${l2Sql("b.e", "c.ce")} ASC, c.cent_id) AS crk
         |    FROM $from b CROSS JOIN $cent c)
         |  WHERE crk = 1""".stripMargin
    // Every round CTE is MATERIALIZED (the kCoreOracle/BPE-q195
    // discipline): each cent$it is referenced twice downstream, so an
    // inlined chain re-evaluates 2^iters times — materialization makes
    // the replay linear in iters.
    def rounds(p: String, corpus: String): String = (1 to iters).map { it =>
      s"""${p}a$it AS MATERIALIZED (
         |  ${assign(corpus, s"${p}cent${it - 1}")}),
         |${p}m$it AS MATERIALIZED (
         |  SELECT cell, i,
         |    CAST(SUM(CAST(e[i] AS DECIMAL(38,6))) AS DOUBLE)
         |      / COUNT(*) AS mn
         |  FROM ${p}a$it, UNNEST(GENERATE_SERIES(1, LEN(e))) AS t(i)
         |  GROUP BY cell, i),
         |${p}g$it AS MATERIALIZED (SELECT cell AS cent_id, LIST(mn ORDER BY i) AS ce
         |  FROM ${p}m$it GROUP BY cell),
         |${p}cent$it AS MATERIALIZED (
         |  SELECT p.cent_id, COALESCE(g.ce, p.ce) AS ce
         |  FROM ${p}cent${it - 1} p LEFT JOIN ${p}g$it g
         |    ON p.cent_id = g.cent_id)""".stripMargin
    }.mkString(",\n")
    def subCtes(s: Int): String = {
      val lo = s * subLen
      s"""p${s}sub AS MATERIALIZED (
         |  SELECT vec_id, r[${lo + 1}:${lo + subLen}] AS e FROM resid),
         |p${s}train AS MATERIALIZED (
         |  SELECT vec_id, e FROM p${s}sub WHERE vec_id < $trainTo),
         |p${s}cent0 AS MATERIALIZED (
         |  SELECT vec_id AS cent_id, e AS ce FROM p${s}sub
         |  WHERE vec_id < ${searchFrom + ksub}),
         |${rounds(s"p$s", s"p${s}train")},
         |p${s}code AS MATERIALIZED (
         |  SELECT vec_id, cell AS code FROM (
         |  ${assign(s"p${s}sub", s"p${s}cent$iters")})),
         |p${s}lut AS MATERIALIZED (
         |  SELECT qr.query_id, qr.cell, c.cent_id AS code,
         |    ${l2Sql("qr.e", "c.ce")} AS d
         |  FROM (SELECT query_id, cell,
         |          rq[${lo + 1}:${lo + subLen}] AS e FROM qres) qr
         |  CROSS JOIN p${s}cent$iters c)""".stripMargin
    }
    val codeJoin = (0 until m)
      .map(s => s"JOIN p${s}code c$s ON c$s.vec_id = cl.vec_id")
      .mkString("\n    ")
    val lutJoin = (0 until m).map { s =>
      val q = if (s == 0) "" else s" AND l$s.query_id = l0.query_id"
      s"JOIN p${s}lut l$s ON l$s.cell = cl.cell AND l$s.code = c$s.code$q"
    }.mkString("\n    ")
    val distSum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    s"""WITH de AS MATERIALIZED (
       |  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |ccorpus AS MATERIALIZED (
       |  SELECT vec_id, e FROM de WHERE vec_id >= $searchFrom),
       |ctrain AS MATERIALIZED (
       |  SELECT vec_id, e FROM ccorpus WHERE vec_id < $trainTo),
       |ccent0 AS MATERIALIZED (
       |  SELECT vec_id AS cent_id, e AS ce FROM de WHERE vec_id < $nCells),
       |${rounds("c", "ctrain")},
       |cassign AS MATERIALIZED (
       |  ${assign("ccorpus", s"ccent$iters")}),
       |resid AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell,
       |    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(a.e)),
       |      i -> a.e[i] - c.ce[i]) AS r
       |  FROM cassign a JOIN ccent$iters c ON a.cell = c.cent_id),
       |probe AS MATERIALIZED (
       |  SELECT query_id, cell, ce, qe FROM (
       |    SELECT q.vec_id AS query_id, c.cent_id AS cell, c.ce, q.e AS qe,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${l2Sql("q.e", "c.ce")} ASC, c.cent_id) AS prk
       |    FROM (SELECT vec_id, e FROM de
       |          WHERE vec_id >= $nCells AND vec_id < $searchFrom) q
       |    CROSS JOIN ccent$iters c)
       |  WHERE prk <= $nprobe),
       |qres AS MATERIALIZED (
       |  SELECT query_id, cell,
       |    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(qe)),
       |      i -> qe[i] - ce[i]) AS rq
       |  FROM probe),
       |${(0 until m).map(subCtes).mkString(",\n")},
       |cells AS (SELECT vec_id, cell FROM cassign${
        deleteWhere.map(w => s" WHERE NOT ($w)").getOrElse("")}),
       |approx AS (
       |  SELECT l0.query_id, cl.vec_id AS neighbor_id, $distSum AS dist
       |  FROM cells cl
       |    $codeJoin
       |    $lutJoin),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, neighbor_id) AS BIGINT) AS rnk
       |  FROM approx)
       |SELECT query_id, neighbor_id, dist, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** IVFADC + exact re-rank (the faiss `IndexRefineFlat` stage, the
    * production recall lever that does NOT widen the scan budget):
    * the IVFADC pass retrieves `rerank` (> k) candidates per query by
    * quantized ADC distance — same nCells/nprobe, same pruned code
    * scan — and the top k are then re-ranked by EXACT L2 against the
    * candidates' raw vectors. ADC's quantization error (the dominant
    * miss source once a true neighbor IS in a probed cell) disappears
    * for everything the candidate pool caught; what remains is the
    * IVF pruning ceiling — the fraction of true neighbors whose cell
    * is probed at all ([[ivfCellRecall]] measures exactly that
    * ceiling, and no same-budget re-rank can exceed it).
    *
    * Scale shape: the candidate set is (nQueries × rerank) rows —
    * broadcast; the exact re-rank is ONE map-only pass of the corpus
    * scan against that broadcast (inner join on neighbor_id keeps
    * corpus-side work proportional to candidates found per split, no
    * corpus shuffle), then the usual query_id-keyed rank window.
    * Floats ride the same `dot`/`l2` kernels as [[bruteForceTopKL2]],
    * so the oracle replay is bit-identical.
    *
    * @return (query_id, neighbor_id, dist, rnk ≤ k) — dist is EXACT
    *         L2, so ranks are immune to ADC error within the pool
    */
  def ivfadcRefineTopK(model: IvfadcModel, emb: DataFrame,
                       k: Int = 5, nprobe: Int = 4,
                       rerank: Int = 20): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val cand = ivfadcTopK(model, emb, k = rerank, nprobe)
      .select("query_id", "neighbor_id")
    val base = withNorm(emb)
    val q = base.select(col("vec_id").as("query_id"), col("e").as("qe"),
      col("nrm").as("qn"))
    val c = base.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
      col("nrm").as("cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id"))
    c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        l2(col("qn"), dot(col("qe"), col("ce")), col("cn")).as("dist"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Oracle for [[ivfadcRefineTopK]]: the full [[ivfadcTopKOracle]]
    * replay at k = rerank as the candidate CTE, then the exact-L2
    * re-rank against the raw embedding lists.
    */
  def ivfadcRefineTopKOracle(nCells: Int = 16, m: Int = 4, ksub: Int = 16,
                             nQueries: Int = 8, k: Int = 5, nprobe: Int = 4,
                             iters: Int = 2, dim: Int = 64,
                             rerank: Int = 20): String =
    s"""WITH cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |${ivfadcTopKOracle(nCells, m, ksub, nQueries, rerank, nprobe,
            iters, dim)})),
       |de AS (
       |  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |exact AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${l2Sql("qv.e", "cv.e")} AS dist
       |  FROM cand
       |  JOIN de qv ON qv.vec_id = cand.query_id
       |  JOIN de cv ON cv.vec_id = cand.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY dist ASC, neighbor_id) AS BIGINT) AS rnk
       |  FROM exact)
       |SELECT query_id, neighbor_id, dist, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** Diagnostic: the IVF pruning CEILING — the per-query fraction of
    * EXACT top-k neighbors whose assigned cell is among the query's
    * nprobe probed cells. Every same-budget IVFADC variant (any PQ
    * size, any re-rank) is bounded above by this number; if the
    * ceiling sits below a recall target, the honest levers are nprobe
    * or nCells (scan budget), not encoding quality. Reads the model's
    * coarse quantizer and cell assignment, so it measures exactly the
    * partition [[ivfadcTopK]] probes over `model`.
    */
  private[graft] def ivfCellRecall(model: IvfadcModel, emb: DataFrame,
                                   k: Int = 5, nprobe: Int = 4): DataFrame = {
    val cells = model.codes.select(col("vec_id").as("neighbor_id"), col("cell"))
    val probed = probedCells(modelQueries(model, emb), model.coarseDf, nprobe)
      .select("query_id", "cell")
    bruteForceTopKL2(emb, (model.searchFrom - model.nCells).toInt, k,
        queryFrom = model.nCells)
      .select("query_id", "neighbor_id")
      .join(cells, Seq("neighbor_id"))
      .join(probed.withColumnRenamed("cell", "pcell"), Seq("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(max(when(col("cell") === col("pcell"), 1L).otherwise(0L))
        .as("hit"))
      .groupBy("query_id")
      .agg((sum("hit").cast(DoubleType) / count(lit(1))).as("cell_recall"))
  }

  // --------------------------------------- reciprocal-rank fusion

  /** lcm(61..70): every 60+rnk for rnk in 1..10 divides this, so the
    * scaled RRF terms below are EXACT integers — no float enters the
    * fusion at all.
    */
  val RrfLcmK60Len10: Long = 142813628717760L

  /** Reciprocal-rank fusion of two retriever rank lists in exact
    * scaled-integer arithmetic: the classic score Σ 1/(kRrf + rank)
    * becomes Σ scaleP div (kRrf + rank) on BIGINT. With `scaleP` a
    * common multiple of every possible denominator (the default pairs
    * with kRrf=60 and lists ≤ 10) each term is exact, so the fused
    * ordering is the true RRF ordering and bit-identical on any engine
    * — floats never appear, eliminating the cross-engine sum-order
    * hazard entirely.
    *
    * Scale shape: one full-outer equi-join of the two rank lists on
    * (query_id, neighbor_id) — both are topK-bounded per query, so the
    * join input is k·|Q| rows, not corpus-sized — then the standard
    * per-query WindowGroupLimit rank filter.
    *
    * @param a,b (query_id, neighbor_id, rnk) rank lists (1-based rnk)
    * @return (query_id, neighbor_id, rrf_scaled, rnk) top `topK` per
    *         query, ties broken on neighbor_id
    */
  def rrfFuse(a: DataFrame, b: DataFrame, topK: Int, kRrf: Int = 60,
              scaleP: Long = RrfLcmK60Len10): DataFrame = {
    def terms(df: DataFrame, nm: String) =
      df.select(col("query_id"), col("neighbor_id"),
        call_function("div", lit(scaleP), lit(kRrf.toLong) + col("rnk")).as(nm))
    val fused = terms(a, "sa")
      .join(terms(b, "sb"), Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(col("sa"), lit(0L)) + coalesce(col("sb"), lit(0L)))
          .as("rrf_scaled"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_scaled").desc, col("neighbor_id"))
    fused.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= topK)
      .select("query_id", "neighbor_id", "rrf_scaled", "rnk")
  }

  /** Oracle for [[rrfFuse]]: wraps the two retrievers' own oracle SQL
    * and replays the identical integer fusion.
    */
  def rrfFuseOracle(aSql: String, bSql: String, topK: Int, kRrf: Int = 60,
                    scaleP: Long = RrfLcmK60Len10): String =
    s"""WITH la AS (
       |  SELECT query_id, neighbor_id, $scaleP // ($kRrf + rnk) AS sa
       |  FROM ($aSql)),
       |lb AS (
       |  SELECT query_id, neighbor_id, $scaleP // ($kRrf + rnk) AS sb
       |  FROM ($bSql)),
       |fused AS (
       |  SELECT query_id, neighbor_id,
       |    COALESCE(sa, 0) + COALESCE(sb, 0) AS rrf_scaled
       |  FROM la FULL JOIN lb USING (query_id, neighbor_id)),
       |ranked AS (
       |  SELECT query_id, neighbor_id, CAST(rrf_scaled AS BIGINT) AS rrf_scaled,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf_scaled DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM fused)
       |SELECT query_id, neighbor_id, rrf_scaled, rnk FROM ranked
       |WHERE rnk <= $topK ORDER BY query_id, rnk""".stripMargin

  // --------------------------------------- rank agreement (rho / tau)

  /** Per-query rank agreement between two retrievers — Spearman's ρ
    * and Kendall's τ over the candidates BOTH retrievers returned,
    * re-ranked within the intersection (the standard top-k list
    * comparison; items only one list saw carry no rank information).
    * Both coefficients stay exact until ONE double division each:
    *
    *   ρ = (n(n²−1) − 6·Σd²) / (n(n²−1))     d = rank difference
    *   τ = 2(C − D) / (n(n−1))               C/D concordant pairs
    *
    * with every product in BIGINT (re-ranked ranks are ≤ k, so the
    * pair terms are tiny). Queries with fewer than 2 shared items are
    * dropped (both coefficients are undefined at n = 1).
    *
    * Scale shape: one equi-join of the two topK-bounded lists on
    * (query_id, neighbor_id) — k·|Q| rows, never corpus-sized; the
    * re-rank windows partition per query over ≤ k rows; the pair
    * self-join is C(k, 2)-bounded per query, the [[rrfFuse]] /
    * cooccurrence discipline. The shared frame is checkpointed once
    * (item aggregate + both pair-join sides read it).
    *
    * @param a,b (query_id, neighbor_id, rnk) rank lists (1-based rnk,
    *            distinct per query)
    * @return (query_id, n_shared, sum_d2, concordant, discordant,
    *         rho, tau)
    */
  def rankAgreement(a: DataFrame, b: DataFrame): DataFrame = {
    val shared = a
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("ra0"))
      .join(b.select(col("query_id"), col("neighbor_id"),
        col("rnk").as("rb0")), Seq("query_id", "neighbor_id"))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("ra0"), col("neighbor_id"))
    val wb = Window.partitionBy("query_id")
      .orderBy(col("rb0"), col("neighbor_id"))
    val rr = shared
      .withColumn("ra", row_number().over(wa).cast(LongType))
      .withColumn("rb", row_number().over(wb).cast(LongType))
      .localCheckpoint(eager = true)
    val item = rr.groupBy("query_id").agg(
      count(lit(1)).as("n_shared"),
      sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("sum_d2"))
    val cd = rr.as("l")
      .join(rr.as("r"), col("l.query_id") === col("r.query_id") &&
        col("l.neighbor_id") < col("r.neighbor_id"))
      .select(col("l.query_id").as("query_id"),
        (((col("l.ra") - col("r.ra")) > 0) === ((col("l.rb") - col("r.rb")) > 0))
          .cast(LongType).as("conc"))
      .groupBy("query_id").agg(
        sum("conc").as("concordant"),
        (count(lit(1)) - sum("conc")).as("discordant"))
    val nn = col("n_shared") * (col("n_shared") * col("n_shared") - 1)
    item.join(cd, Seq("query_id"), "left")
      .na.fill(0L, Seq("concordant", "discordant"))
      .filter(col("n_shared") >= 2)
      .select(col("query_id"), col("n_shared"), col("sum_d2"),
        col("concordant"), col("discordant"),
        ((nn - lit(6L) * col("sum_d2")).cast(DoubleType) /
          nn.cast(DoubleType)).as("rho"),
        ((lit(2L) * (col("concordant") - col("discordant"))).cast(DoubleType) /
          (col("n_shared") * (col("n_shared") - 1)).cast(DoubleType))
          .as("tau"))
  }

  /** Oracle for [[rankAgreement]]: wraps the two retrievers' oracle
    * SQL and replays the identical re-rank + exact-rational forms.
    */
  def rankAgreementOracle(aSql: String, bSql: String): String =
    s"""WITH la AS ($aSql), lb AS ($bSql),
       |shared AS (
       |  SELECT la.query_id, la.neighbor_id, la.rnk AS ra0, lb.rnk AS rb0
       |  FROM la JOIN lb USING (query_id, neighbor_id)),
       |rr AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ra0, neighbor_id) AS BIGINT) AS ra,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rb0, neighbor_id) AS BIGINT) AS rb
       |  FROM shared),
       |item AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_shared,
       |    CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
       |  FROM rr GROUP BY query_id),
       |cd AS (
       |  SELECT l.query_id,
       |    CAST(SUM(CASE WHEN ((l.ra - r.ra) > 0) = ((l.rb - r.rb) > 0)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
       |    CAST(SUM(CASE WHEN ((l.ra - r.ra) > 0) = ((l.rb - r.rb) > 0)
       |      THEN 0 ELSE 1 END) AS BIGINT) AS discordant
       |  FROM rr l JOIN rr r ON l.query_id = r.query_id
       |    AND l.neighbor_id < r.neighbor_id
       |  GROUP BY l.query_id)
       |SELECT item.query_id, n_shared, sum_d2,
       |  COALESCE(concordant, 0) AS concordant,
       |  COALESCE(discordant, 0) AS discordant,
       |  CAST(n_shared * (n_shared * n_shared - 1) - 6 * sum_d2 AS DOUBLE)
       |    / CAST(n_shared * (n_shared * n_shared - 1) AS DOUBLE) AS rho,
       |  CAST(2 * (COALESCE(concordant, 0) - COALESCE(discordant, 0)) AS DOUBLE)
       |    / CAST(n_shared * (n_shared - 1) AS DOUBLE) AS tau
       |FROM item LEFT JOIN cd ON item.query_id = cd.query_id
       |WHERE n_shared >= 2
       |ORDER BY item.query_id""".stripMargin

  // ------------------------------------------------ recall@k audit

  /** Per-query recall@k of an approximate retriever against the exact
    * one — THE standard ANN evaluation: of the true top-k
    * (`exact`), what fraction did the approximate list also return?
    * Complements [[rankAgreement]] (which scores order agreement on
    * the intersection; this scores the intersection itself — a
    * retriever can ace one and flunk the other).
    *
    * Grounding convention: `n_exact` counts the EXACT list's rows per
    * query, so recall = n_hit / n_exact is against ground truth even
    * when the approximate list under-fills (empty LSH buckets);
    * approximate-only neighbors (possible when the exact list is
    * shorter, k > corpus) don't inflate it.
    *
    * Scale shape: both inputs are topK-bounded rank lists (|Q|·k
    * rows, never corpus-sized); one LEFT equi-join on
    * (query_id, neighbor_id) + one per-query aggregate — the
    * [[rrfFuse]] discipline, no window at all.
    *
    * @param approx,exact (query_id, neighbor_id, …) rank lists
    * @return (query_id, n_exact, n_hit, recall)
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val ap = approx.select(col("query_id"), col("neighbor_id"),
      lit(1L).as("__hit"))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast(DoubleType) / col("n_exact").cast(DoubleType))
  }

  /** Oracle for [[recallAtK]]: wraps the two retrievers' oracle SQL
    * (the [[rrfFuseOracle]] composition idiom).
    */
  def recallAtKOracle(approxSql: String, exactSql: String): String =
    s"""WITH ap AS ($approxSql), ex AS ($exactSql),
       |j AS (
       |  SELECT ex.query_id, ex.neighbor_id,
       |    CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM ex LEFT JOIN ap
       |    ON ex.query_id = ap.query_id
       |   AND ex.neighbor_id = ap.neighbor_id)
       |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(hit) AS BIGINT) AS n_hit,
       |  CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
       |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
}
