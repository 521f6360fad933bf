package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import graft.operators.{Dedup, StandingIndex, TextAnalysis}
import graft.pipeline.Lakehouse
import graft.tables.Tables

/** Laws for the standing probe indexes: probe ≡ the ad-hoc incremental
  * operator (all three families), the zero-corpus-exchange plan shape,
  * and the manifest-versioned exactly-once lifecycle.
  */
class StandingIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val db = "graft_idx_spec"

  private def docs = Tables.documents(spark, dir)
  private def corpus = docs.filter(col("doc_id") % 10 =!= 0)
  private def batch = docs.filter(col("doc_id") % 10 === 0)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("probeMatches ≡ incrementalMaximalMatches (and respects built min_len)") {
    StandingIndex.buildMatchIndex(spark, corpus, col("text"), col("doc_id"),
      minLen = 12, nBuckets = 4, db = db, name = "m_eq")
    val probe = StandingIndex.probeMatches(spark, batch, col("text"),
      col("doc_id"), db = db, name = "m_eq")
    val direct = Dedup.incrementalMaximalMatches(corpus, batch,
      col("text"), col("doc_id"), minLen = 12)
    assert(rows(probe) === rows(direct))
    assert(probe.count() > 0, "fixture must exercise the probe")
  }

  test("probeChunks ≡ chunkDedupIncremental") {
    StandingIndex.buildChunkIndex(spark, corpus, col("text"), col("doc_id"),
      chunkTokens = 8, nBuckets = 4, db = db, name = "c_eq")
    val probe = StandingIndex.probeChunks(spark, batch, col("text"),
      col("doc_id"), db = db, name = "c_eq")
    val direct = TextAnalysis.chunkDedupIncremental(corpus, batch,
      col("text"), col("doc_id"), chunkTokens = 8)
    assert(rows(probe) === rows(direct))
  }

  test("probeNearDups ≡ incrementalNearDups") {
    StandingIndex.buildNearDupIndex(spark, corpus, col("text"), col("doc_id"),
      n = 3, k = 8, bands = 4, nBuckets = 4, db = db, name = "n_eq")
    val probe = StandingIndex.probeNearDups(spark, batch, col("text"),
      col("doc_id"), threshold = 0.5, db = db, name = "n_eq")
    val direct = Dedup.incrementalNearDups(corpus, batch, col("text"),
      col("doc_id"), threshold = 0.5)
    assert(rows(probe) === rows(direct))
  }

  test("match probe: zero Exchange and zero Sort on the index side of every join") {
    StandingIndex.buildMatchIndex(spark, corpus, col("text"), col("doc_id"),
      minLen = 12, nBuckets = 4, db = db, name = "m_plan")
    // pin the 100 TB regime: no broadcast (a TB-scale index never
    // broadcasts) and no AQE stage wrapping (assert on the static
    // plan tree, where subtree walks see through to the scans)
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val probe = StandingIndex.probeMatches(spark, batch, col("text"),
        col("doc_id"), db = db, name = "m_plan")
      val plan = probe.queryExecution.executedPlan

      def idxScans(p: SparkPlan): Seq[FileSourceScanExec] =
        p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(t =>
            t.database.contains(db) && t.table.startsWith("m_plan__v")) => f }

      // the data-sized index members (anchors, toks) come in through
      // BUCKETED scans — the partitioning the joins then reuse; hot is
      // deliberately plain (it broadcasts)
      val scans = idxScans(plan)
      assert(scans.nonEmpty, s"probe must read the index tables:\n$plan")
      val bucketedMembers = scans.filter(_.tableIdentifier.exists(t =>
        t.table.endsWith("__anchors") || t.table.endsWith("__toks")))
      assert(bucketedMembers.size >= 2,
        s"probe must read anchors and toks:\n$plan")
      assert(bucketedMembers.forall(_.bucketedScan),
        s"anchors/toks scans must be bucketed:\n$plan")

      // the q90 assertion, single-side form: no ShuffleExchange and no
      // data-sized Sort may sit between an index scan and its join —
      // i.e. no such node's PRE-JOIN subtree contains an index scan.
      // (Exchanges/sorts above a join — candidate DISTINCTs, the probe
      // side, final orderBys — are batch-bounded and allowed.)
      def preJoin(p: SparkPlan): Boolean =
        p.collect { case j: BaseJoinExec => j }.isEmpty &&
          idxScans(p).nonEmpty
      val badEx = plan.collect {
        case s: ShuffleExchangeExec if preJoin(s.child) => s }
      assert(badEx.isEmpty,
        s"corpus-side shuffle before a join:\n${badEx.headOption}\n$plan")
      val badSort = plan.collect {
        case s: SortExec if preJoin(s.child) => s }
      assert(badSort.isEmpty,
        s"corpus-side sort before a join (bucket sort metadata lost):\n" +
          s"${badSort.headOption}\n$plan")

      // and the plan still answers correctly under the pinned regime
      assert(rows(probe) === rows(Dedup.incrementalMaximalMatches(corpus,
        batch, col("text"), col("doc_id"), minLen = 12)))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("manifest lifecycle: atomic flip, previous version retained, older GC'd") {
    def liveVersion = StandingIndex.manifest(spark, db, "m_life")
      .map(_.getAs[Int]("version"))
    def memberTables = spark.catalog.listTables(db).collect()
      .map(_.name).filter(_.startsWith("m_life__v")).toSet

    StandingIndex.buildChunkIndex(spark, corpus, col("text"), col("doc_id"),
      nBuckets = 2, db = db, name = "m_life")
    assert(liveVersion === Some(0))
    StandingIndex.buildChunkIndex(spark, corpus, col("text"), col("doc_id"),
      nBuckets = 2, db = db, name = "m_life")
    assert(liveVersion === Some(1))
    assert(memberTables === Set("m_life__v0__fps", "m_life__v0__fpdocs",
      "m_life__v1__fps", "m_life__v1__fpdocs"),
      "previous version must survive one publish cycle")
    StandingIndex.buildChunkIndex(spark, corpus, col("text"), col("doc_id"),
      nBuckets = 2, db = db, name = "m_life")
    assert(liveVersion === Some(2))
    assert(memberTables === Set("m_life__v1__fps", "m_life__v1__fpdocs",
      "m_life__v2__fps", "m_life__v2__fpdocs"),
      "versions older than the superseded one must be GC'd")
    // probes resolve through the manifest — still consistent post-GC
    assert(rows(StandingIndex.probeChunks(spark, batch, col("text"),
      col("doc_id"), db = db, name = "m_life")) ===
      rows(TextAnalysis.chunkDedupIncremental(corpus, batch, col("text"),
        col("doc_id"))))
  }

  test("a steady-state index commit runs a pinned number of SQL executions") {
    def build(): Int = StandingIndex.buildChunkIndex(spark, corpus, col("text"),
      col("doc_id"), nBuckets = 2, db = db, name = "m_budget")
    build(); build()
    val started = sqlExecutionsStartedBy(build())
    // tables and indexes share one versioned commit, so the table-level
    // reads see an index's versions and its manifest's live pointer
    assert(Lakehouse.listVersions(spark, s"$db.m_budget") === Seq(1, 2))
    assert(Lakehouse.liveVersion(spark, s"$db.m_budget") === Some(2))
    // two member writes (3 each: save, CTAS, the write's plan), the
    // manifest publish and one GC drop per v0 member. The database
    // check is a catalog lookup, and the kept versions come from the
    // meta the commit wrote and the superseded view's catalog text, so
    // neither a CREATE DATABASE nor a read of either manifest runs.
    assert(started.size === 9, started.mkString("\n"))
  }

  test("a manifest reader never misses the view across repeated refreshes") {
    def build(): Int = StandingIndex.buildChunkIndex(spark, corpus, col("text"),
      col("doc_id"), nBuckets = 2, db = db, name = "m_conc")
    build()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      // resolving the name is enough to hit a missing view, and a
      // resolve-only loop looks far more often than a scan would
      try while (!stop.get()) spark.table(s"$db.m_conc")
      catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    val last = try (1 to 6).map(_ => build()).last
      finally { stop.set(true); reader.join(30000) }
    assert(failure.get() == null, s"manifest reader failed: ${failure.get()}")
    assert(StandingIndex.manifest(spark, db, "m_conc").map(_.getAs[Int]("version")) ===
      Some(last))
  }

  test("probing a missing or wrong-kind index fails loudly") {
    val e1 = intercept[IllegalArgumentException] {
      StandingIndex.probeMatches(spark, batch, col("text"), col("doc_id"),
        db = db, name = "nope")
    }
    assert(e1.getMessage.contains("no standing index"))
    StandingIndex.buildChunkIndex(spark, corpus, col("text"), col("doc_id"),
      nBuckets = 2, db = db, name = "kinded")
    val e2 = intercept[IllegalArgumentException] {
      StandingIndex.probeMatches(spark, batch, col("text"), col("doc_id"),
        db = db, name = "kinded")
    }
    assert(e2.getMessage.contains("chunk index"))
  }

  test("append-publish ≡ full rebuild, member for member (all three kinds)") {
    val base = docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 5)
    val delta = docs.filter(col("doc_id") % 10 >= 6)
    // match: hot-list recount + sub reassignment must be bit-identical
    // (cap 1 makes EVERY anchor hot, so nsub/sub derivation is live)
    StandingIndex.buildMatchIndex(spark, base, col("text"), col("doc_id"),
      minLen = 12, maxAnchorOccurrences = 1, nBuckets = 4, db = db,
      name = "m_app")
    StandingIndex.appendMatchIndex(spark, delta, col("text"), col("doc_id"),
      db = db, name = "m_app")
    StandingIndex.buildMatchIndex(spark, corpus, col("text"), col("doc_id"),
      minLen = 12, maxAnchorOccurrences = 1, nBuckets = 4, db = db,
      name = "m_full")
    for (suffix <- Seq("anchors", "toks", "hot")) {
      val v = StandingIndex.manifest(spark, db, "m_app").get.getAs[Int]("version")
      val vf = StandingIndex.manifest(spark, db, "m_full").get.getAs[Int]("version")
      assert(rows(spark.table(s"$db.m_app__v${v}__$suffix")) ===
        rows(spark.table(s"$db.m_full__v${vf}__$suffix")),
        s"member $suffix must match the full rebuild")
    }
    assert(rows(StandingIndex.probeMatches(spark, batch, col("text"),
        col("doc_id"), db = db, name = "m_app")) ===
      rows(StandingIndex.probeMatches(spark, batch, col("text"),
        col("doc_id"), db = db, name = "m_full")))
    // chunk + near-dup: probe equality (members are per-doc/set unions)
    StandingIndex.buildChunkIndex(spark, base, col("text"), col("doc_id"),
      chunkTokens = 8, nBuckets = 4, db = db, name = "c_app")
    StandingIndex.appendChunkIndex(spark, delta, col("text"), col("doc_id"),
      db = db, name = "c_app")
    StandingIndex.buildChunkIndex(spark, corpus, col("text"), col("doc_id"),
      chunkTokens = 8, nBuckets = 4, db = db, name = "c_full")
    assert(rows(StandingIndex.probeChunks(spark, batch, col("text"),
        col("doc_id"), db = db, name = "c_app")) ===
      rows(StandingIndex.probeChunks(spark, batch, col("text"),
        col("doc_id"), db = db, name = "c_full")))
    StandingIndex.buildNearDupIndex(spark, base, col("text"), col("doc_id"),
      n = 3, k = 8, bands = 4, nBuckets = 4, db = db, name = "n_app")
    StandingIndex.appendNearDupIndex(spark, delta, col("text"), col("doc_id"),
      db = db, name = "n_app")
    StandingIndex.buildNearDupIndex(spark, corpus, col("text"), col("doc_id"),
      n = 3, k = 8, bands = 4, nBuckets = 4, db = db, name = "n_full")
    assert(rows(StandingIndex.probeNearDups(spark, batch, col("text"),
        col("doc_id"), threshold = 0.5, db = db, name = "n_app")) ===
      rows(StandingIndex.probeNearDups(spark, batch, col("text"),
        col("doc_id"), threshold = 0.5, db = db, name = "n_full")))
  }

  test("leveled chunk appends: delta-only levels, GC keeps carried tables, compaction collapses") {
    val slices = (1 to 4).map(i => docs.filter(col("doc_id") % 10 === i))
    StandingIndex.buildChunkIndex(spark, slices(0), col("text"),
      col("doc_id"), chunkTokens = 8, nBuckets = 4, db = db, name = "c_lvl")
    // two leveled appends: each publishes ONLY its delta level; the
    // prior levels carry over by reference and must survive the GC
    StandingIndex.appendChunkIndex(spark, slices(1), col("text"),
      col("doc_id"), db = db, name = "c_lvl")
    StandingIndex.appendChunkIndex(spark, slices(2), col("text"),
      col("doc_id"), db = db, name = "c_lvl")
    val m2 = StandingIndex.manifest(spark, db, "c_lvl").get
    val lvls = m2.getAs[String]("levels").split(",").toSeq
    assert(lvls === Seq(s"$db.c_lvl__v0__fps", s"$db.c_lvl__v1__fps_l1",
      s"$db.c_lvl__v2__fps_l2"))
    lvls.foreach(t => assert(spark.catalog.tableExists(t),
      s"carried level $t must survive version GC"))
    // levels are globally distinct: the delta anti-joins every live
    // level at publish time
    val all = lvls.map(spark.table).reduce(_.unionByName(_))
    assert(all.count() === all.distinct().count())
    // probe over levels ≡ probe of a monolithic rebuild over the union
    StandingIndex.buildChunkIndex(spark,
      slices.take(3).reduce(_.unionByName(_)), col("text"), col("doc_id"),
      chunkTokens = 8, nBuckets = 4, db = db, name = "c_lvl_full")
    assert(rows(StandingIndex.probeChunks(spark, batch, col("text"),
        col("doc_id"), db = db, name = "c_lvl")) ===
      rows(StandingIndex.probeChunks(spark, batch, col("text"),
        col("doc_id"), db = db, name = "c_lvl_full")))
    // maxLevels reached → the next append COMPACTS to one level whose
    // content is the full union, and the probe is unchanged
    StandingIndex.appendChunkIndex(spark, slices(3), col("text"),
      col("doc_id"), db = db, name = "c_lvl", maxLevels = 3)
    val m3 = StandingIndex.manifest(spark, db, "c_lvl").get
    assert(m3.getAs[String]("levels") === s"$db.c_lvl__v3__fps")
    StandingIndex.buildChunkIndex(spark,
      slices.reduce(_.unionByName(_)), col("text"), col("doc_id"),
      chunkTokens = 8, nBuckets = 4, db = db, name = "c_lvl_full4")
    assert(rows(StandingIndex.probeChunks(spark, batch, col("text"),
        col("doc_id"), db = db, name = "c_lvl")) ===
      rows(StandingIndex.probeChunks(spark, batch, col("text"),
        col("doc_id"), db = db, name = "c_lvl_full4")))
  }

  test("neardup default maxLevels = 4 (round-15 sweep): default appends " +
       "compact at the 4th level; probe unchanged across the collapse") {
    // The near-dup probe pays per-level work (bucket collision +
    // Jaccard verify each level) and its appends id-gate against every
    // live level, so its default compaction trigger is 4 — NOT the
    // chunk/match families' 8 (IdxPublishBench sweep, PLANS round 15).
    // Pin the constant and the default-path behavior together: a
    // default that silently drifts back to 8 fails here.
    assert(StandingIndex.NearDupMaxLevels === 4)
    val slices = (0 to 4).map(i => docs.filter(col("doc_id") % 10 === i))
    StandingIndex.buildNearDupIndex(spark, slices(0), col("text"),
      col("doc_id"), n = 3, k = 8, bands = 4, nBuckets = 4, db = db,
      name = "n_ml")
    // three DEFAULT appends: levels grow 1 → 4, no compaction yet
    (1 to 3).foreach(i => StandingIndex.appendNearDupIndex(spark,
      slices(i), col("text"), col("doc_id"), db = db, name = "n_ml"))
    val grown = StandingIndex.manifest(spark, db, "n_ml").get
    assert(grown.getAs[String]("levels_banded").split(",").length === 4)
    val beforeCompact = rows(StandingIndex.probeNearDups(spark, batch,
      col("text"), col("doc_id"), threshold = 0.5, db = db, name = "n_ml"))
    // the 4th DEFAULT append hits the trigger and collapses to 1 level
    StandingIndex.appendNearDupIndex(spark, slices(4), col("text"),
      col("doc_id"), db = db, name = "n_ml")
    val compacted = StandingIndex.manifest(spark, db, "n_ml").get
    assert(compacted.getAs[String]("levels_banded").split(",").length === 1)
    assert(compacted.getAs[String]("levels_base").split(",").length === 1)
    // compaction is layout-only: the pre-compaction batch's pairs are
    // a subset of the post-compaction probe (which now also sees
    // slice 4's docs); re-probing against a monolithic rebuild of all
    // five slices must agree exactly
    StandingIndex.buildNearDupIndex(spark,
      slices.reduce(_.unionByName(_)), col("text"), col("doc_id"),
      n = 3, k = 8, bands = 4, nBuckets = 4, db = db, name = "n_ml_full")
    val afterCompact = rows(StandingIndex.probeNearDups(spark, batch,
      col("text"), col("doc_id"), threshold = 0.5, db = db, name = "n_ml"))
    assert(afterCompact ===
      rows(StandingIndex.probeNearDups(spark, batch, col("text"),
        col("doc_id"), threshold = 0.5, db = db, name = "n_ml_full")))
    assert(beforeCompact.toSet.subsetOf(afterCompact.toSet),
      "compaction must preserve every pre-compaction probe pair")
  }

  test("one leveled lifecycle: every commit carries the build parameters, " +
       "every fold clears the tombstones (all three kinds)") {
    // one row per kind: its build, its append of slice i (maxLevels 2),
    // its delete, the build parameters every manifest must carry, the
    // field listing its levels and the tombstone fields a fold clears
    case class Lifecycle(name: String, build: () => Int, append: Int => Int,
                         delete: () => Int, params: Map[String, Int],
                         levels: String, tombs: Seq[String])
    def slice(i: Int) = docs.filter(col("doc_id") % 10 === i)
    def embSlice(i: Int) = emb.filter(col("vec_id") >= 200 + 50 * i &&
      col("vec_id") < 250 + 50 * i)
    val table = Seq(
      Lifecycle("c_life",
        () => StandingIndex.buildChunkIndex(spark, slice(1), col("text"),
          col("doc_id"), chunkTokens = 6, nBuckets = 3, db = db, name = "c_life"),
        i => StandingIndex.appendChunkIndex(spark, slice(i + 1), col("text"),
          col("doc_id"), db = db, name = "c_life", maxLevels = 2),
        () => StandingIndex.deleteFromChunkIndex(spark,
          slice(1).filter(col("doc_id") % 20 === 1).select("doc_id"),
          db = db, name = "c_life"),
        Map("chunk_tokens" -> 6, "n_buckets" -> 3), "levels",
        Seq("tomb_tab", "fp_tomb_tab")),
      Lifecycle("n_life",
        () => StandingIndex.buildNearDupIndex(spark, slice(1), col("text"),
          col("doc_id"), n = 2, k = 6, bands = 3, nBuckets = 3, db = db,
          name = "n_life"),
        i => StandingIndex.appendNearDupIndex(spark, slice(i + 1),
          col("text"), col("doc_id"), db = db, name = "n_life", maxLevels = 2),
        () => StandingIndex.deleteFromNearDupIndex(spark,
          slice(1).filter(col("doc_id") % 20 === 1).select("doc_id"),
          db = db, name = "n_life"),
        Map("n" -> 2, "k" -> 6, "bands" -> 3, "n_buckets" -> 3),
        "levels_banded", Seq("tomb_tab")),
      Lifecycle("a_life",
        () => StandingIndex.buildAnnIndex(spark, emb.filter(col("vec_id") < 200),
          nCells = 8, m = 2, ksub = 8, corpusFrom = 24, iters = 1, nBuckets = 3,
          db = db, name = "a_life"),
        i => StandingIndex.appendAnnIndex(spark, embSlice(i), db = db,
          name = "a_life", maxLevels = 2),
        () => StandingIndex.deleteFromAnnIndex(spark,
          emb.filter(col("vec_id") >= 24 && col("vec_id") < 200 &&
            col("vec_id") % 7 === 3).select("vec_id"),
          db = db, name = "a_life"),
        Map("n_cells" -> 8, "m" -> 2, "ksub" -> 8, "iters" -> 1, "dim" -> 64,
          "n_buckets" -> 3), "levels_codes", Seq("tomb_tab")))
    for (r <- table) {
      def live = StandingIndex.manifest(spark, db, r.name).get
      def levelCount = live.getAs[String](r.levels).split(",").length
      def committed(v: Int): Unit = {
        val m = live
        assert(m.getAs[Int]("version") === v, r.name)
        for ((f, want) <- r.params)
          assert(m.getAs[Int](f) === want, s"${r.name} v$v: $f")
      }
      def folded(v: Int): Unit = {
        committed(v)
        assert(levelCount === 1, s"${r.name} v$v: a fold writes one level")
        for (t <- r.tombs)
          assert(!live.schema.fieldNames.contains(t), s"${r.name} v$v: $t")
      }
      committed(r.build())
      committed(r.append(1))
      assert(levelCount === 2, r.name)
      val deleted = r.delete()
      committed(deleted)
      assert(live.getAs[String]("tomb_tab").nonEmpty, r.name)
      // two levels live and maxLevels = 2: this append folds
      folded(r.append(2))
      committed(r.append(3))
      assert(levelCount === 2, r.name)
      folded(StandingIndex.compactIndex(spark, db, r.name))
    }
    // the ANN quantizers are carried by reference across every commit
    val a = StandingIndex.manifest(spark, db, "a_life").get
    assert(a.getAs[String]("coarse_tab") === s"$db.a_life__v0__coarse")
    assert(a.getAs[String]("books_tab") === s"$db.a_life__v0__books")
  }

  test("append-publish rejects ids already in the index, loudly") {
    val base = docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 5)
    StandingIndex.buildMatchIndex(spark, base, col("text"), col("doc_id"),
      minLen = 12, nBuckets = 4, db = db, name = "m_gate")
    val e = intercept[IllegalArgumentException] {
      StandingIndex.appendMatchIndex(spark, base.limit(5), col("text"),
        col("doc_id"), db = db, name = "m_gate")
    }
    assert(e.getMessage.contains("append-only"))
    StandingIndex.buildNearDupIndex(spark, base, col("text"), col("doc_id"),
      n = 3, k = 8, bands = 4, nBuckets = 4, db = db, name = "n_gate")
    val e2 = intercept[IllegalArgumentException] {
      StandingIndex.appendNearDupIndex(spark, base.limit(5), col("text"),
        col("doc_id"), db = db, name = "n_gate")
    }
    assert(e2.getMessage.contains("append-only"))
    // a failed append must leave the live version untouched
    assert(StandingIndex.manifest(spark, db, "m_gate")
      .map(_.getAs[Int]("version")) === Some(0))
  }

  test("hot-anchor cap: capped build probes exactly like the uncapped one") {
    // cap 1 forces every corpus anchor gh into per-doc sub-buckets and
    // the batch side to fan out across ALL of them — the exactness law
    // (q188's spec contract) must survive persistence
    StandingIndex.buildMatchIndex(spark, corpus, col("text"), col("doc_id"),
      minLen = 12, maxAnchorOccurrences = 1, nBuckets = 4, db = db,
      name = "m_cap")
    StandingIndex.buildMatchIndex(spark, corpus, col("text"), col("doc_id"),
      minLen = 12, nBuckets = 4, db = db, name = "m_nocap")
    assert(rows(StandingIndex.probeMatches(spark, batch, col("text"),
        col("doc_id"), db = db, name = "m_cap")) ===
      rows(StandingIndex.probeMatches(spark, batch, col("text"),
        col("doc_id"), db = db, name = "m_nocap")))
  }

  // ------------------------------------------------------ ANN (IVFADC)

  private def emb = Tables.embeddings(spark, dir)
  private def annQueries =
    emb.filter(col("vec_id") >= 16 && col("vec_id") < 24)

  test("probeAnn ≡ inline ivfadcTopK (training and encode persisted)") {
    StandingIndex.buildAnnIndex(spark, emb, nCells = 16, m = 4, ksub = 16,
      corpusFrom = 24, iters = 2, nBuckets = 4, db = db, name = "a_eq")
    val probe = StandingIndex.probeAnn(spark, annQueries, k = 5,
      nprobe = 3, db = db, name = "a_eq")
    val direct = graft.operators.Similarity.ivfadcTopK(emb, nCells = 16,
      m = 4, ksub = 16, nQueries = 8, k = 5, nprobe = 3, iters = 2)
    assert(rows(probe) === rows(direct))
    assert(probe.count() === 8L * 5)
  }

  test("appendAnnIndex: frozen quantizers, delta-only encode, loud id gate") {
    val baseSlice = emb.filter(col("vec_id") < 300)
    val deltaSlice = emb.filter(col("vec_id") >= 300)
    StandingIndex.buildAnnIndex(spark, baseSlice, nCells = 16, m = 4,
      ksub = 16, corpusFrom = 24, iters = 2, nBuckets = 4, db = db,
      name = "a_app")
    val v0 = StandingIndex.manifest(spark, db, "a_app").get.getAs[Int]("version")
    StandingIndex.appendAnnIndex(spark, deltaSlice, db = db, name = "a_app")
    val v1 = StandingIndex.manifest(spark, db, "a_app").get.getAs[Int]("version")
    assert(v1 === v0 + 1)
    // frozen-quantizer contract, r14 leveled form: the quantizer
    // tables are not copied — the new manifest REFERENCES v0's
    // physical tables verbatim (and the GC must have kept them)
    val m1 = StandingIndex.manifest(spark, db, "a_app").get
    for ((field, suffix) <- Seq("coarse_tab" -> "coarse",
        "books_tab" -> "books"))
      assert(m1.getAs[String](field) === s"$db.a_app__v${v0}__$suffix",
        s"append must carry the v$v0 $suffix table by reference")
    // leveled codes: v1 publishes ONLY the delta level; the level list
    // is the old member plus the new one, and their union holds one
    // row per vector
    val lvls = m1.getAs[String]("levels_codes").split(",").toSeq
    assert(lvls === Seq(s"$db.a_app__v${v0}__codes",
      s"$db.a_app__v${v1}__codes_l1"))
    val oldN = spark.table(s"$db.a_app__v${v0}__codes").count()
    assert(spark.table(lvls(1)).count() === deltaSlice.count())
    val newCodes = lvls.map(spark.table).reduce(_.unionByName(_))
    assert(newCodes.count() === oldN + deltaSlice.count())
    // delta codes use the live codebooks: every code within [0, seeds)
    // id space and every delta vec present exactly once
    val deltaIds = deltaSlice.select("vec_id").collect().map(_.getLong(0)).toSet
    val encodedDelta = newCodes.filter(col("vec_id") >= 300)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(encodedDelta === deltaIds)
    // probe sees neighbors from BOTH slices (the fixture's NN structure
    // spans the id range)
    val probed = StandingIndex.probeAnn(spark, annQueries, k = 5,
      nprobe = 16, db = db, name = "a_app")
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(probed.exists(_ < 300) && probed.exists(_ >= 300),
      s"probe after append must retrieve across slices: ${probed.toSeq}")
    // loud append-only gate; failed append leaves the live version
    val e = intercept[IllegalArgumentException] {
      StandingIndex.appendAnnIndex(spark, deltaSlice.limit(3), db = db,
        name = "a_app")
    }
    assert(e.getMessage.contains("append-only"))
    assert(StandingIndex.manifest(spark, db, "a_app")
      .map(_.getAs[Int]("version")) === Some(v1))
  }

  test("deleteFromNearDupIndex: probe ≡ rebuild-without, gates, fold") {
    val slice03 = docs.filter(col("doc_id") % 10 < 4)
    StandingIndex.buildNearDupIndex(spark, slice03, col("text"),
      col("doc_id"), n = 3, k = 8, bands = 4, nBuckets = 4, db = db,
      name = "n_del")
    val delIds = slice03.filter(col("doc_id") % 20 === 1).select("doc_id")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    assert(delSet.nonEmpty)
    StandingIndex.deleteFromNearDupIndex(spark, delIds, db = db,
      name = "n_del")
    // pairs are independent (no ranking) → probe-after-delete must be
    // EXACTLY the probe of an index built without the retired docs
    StandingIndex.buildNearDupIndex(spark,
      slice03.filter(!(col("doc_id") % 20 === 1)), col("text"),
      col("doc_id"), n = 3, k = 8, bands = 4, nBuckets = 4, db = db,
      name = "n_del_truth")
    def probe(name: String) = rows(StandingIndex.probeNearDups(spark,
      batch, col("text"), col("doc_id"), threshold = 0.5, db = db,
      name = name))
    val got = probe("n_del")
    assert(got === probe("n_del_truth"))
    assert(got.nonEmpty, "fixture must exercise the deleted probe")
    // loud gates: unknown id, double delete
    import spark.implicits._
    val eU = intercept[IllegalArgumentException] {
      StandingIndex.deleteFromNearDupIndex(spark,
        Seq(999999L).toDF("doc_id"), db = db, name = "n_del")
    }
    assert(eU.getMessage.contains("not live"))
    val eD = intercept[IllegalArgumentException] {
      StandingIndex.deleteFromNearDupIndex(spark, delIds.limit(1), db = db,
        name = "n_del")
    }
    assert(eD.getMessage.contains("not live"))
    // compaction (append past maxLevels) folds the tombstones out of
    // BOTH members and clears the list; the probe still sees the
    // retired docs as gone and the new delta as present
    val delta = docs.filter(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8)
    StandingIndex.appendNearDupIndex(spark, delta, col("text"),
      col("doc_id"), db = db, name = "n_del", maxLevels = 1)
    val mC = StandingIndex.manifest(spark, db, "n_del").get
    assert(!mC.schema.fieldNames.contains("tomb_tab"))
    for (field <- Seq("levels_banded", "levels_base")) {
      val lvls = mC.getAs[String](field).split(",").toSeq
      assert(lvls.size === 1)
      val ids = spark.table(lvls.head).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.intersect(delSet).isEmpty,
        s"$field must physically drop every tombstoned doc")
    }
    StandingIndex.buildNearDupIndex(spark,
      slice03.filter(!(col("doc_id") % 20 === 1)).unionByName(delta),
      col("text"), col("doc_id"), n = 3, k = 8, bands = 4, nBuckets = 4,
      db = db, name = "n_del_truth2")
    assert(probe("n_del") === probe("n_del_truth2"))
  }

  test("deleteFromAnnIndex: anti-join before rank, loud gates, compaction folds") {
    val baseSlice = emb.filter(col("vec_id") < 400)
    StandingIndex.buildAnnIndex(spark, baseSlice, nCells = 16, m = 4,
      ksub = 16, corpusFrom = 24, iters = 2, nBuckets = 4, db = db,
      name = "a_del")
    val delIds = emb.filter(col("vec_id") >= 24 && col("vec_id") < 400 &&
      col("vec_id") % 5 === 2).select("vec_id")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    assert(delSet.nonEmpty)
    // truth = probe the UNDELETED index with k >= corpus (every
    // candidate), drop the tombstoned ids, re-rank top 5: the delete's
    // anti-join must sit BEFORE the top-k rank, so the two agree
    // exactly (same LUT arithmetic → exact double equality)
    val deep = StandingIndex.probeAnn(spark, annQueries, k = 500,
        nprobe = 3, db = db, name = "a_del")
      .select("query_id", "neighbor_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = deep.filterNot(t => delSet(t._2)).groupBy(_._1)
      .toSeq.flatMap { case (_, rs) =>
        rs.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
          .map { case ((q, n, dd), i) => (q, n, dd, (i + 1).toLong) }
      }.toSet
    StandingIndex.deleteFromAnnIndex(spark, delIds, db = db, name = "a_del")
    val got = StandingIndex.probeAnn(spark, annQueries, k = 5, nprobe = 3,
        db = db, name = "a_del")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got === want)
    assert(got.size === 8 * 5)
    // loud gates: unknown id, then double delete
    import spark.implicits._
    val eUnknown = intercept[IllegalArgumentException] {
      StandingIndex.deleteFromAnnIndex(spark,
        Seq(999999L).toDF("vec_id"), db = db, name = "a_del")
    }
    assert(eUnknown.getMessage.contains("not live"))
    val eDouble = intercept[IllegalArgumentException] {
      StandingIndex.deleteFromAnnIndex(spark, delIds.limit(2), db = db,
        name = "a_del")
    }
    assert(eDouble.getMessage.contains("not live"))
    val mDel = StandingIndex.manifest(spark, db, "a_del").get
    assert(mDel.getAs[String]("tomb_tab").nonEmpty)
    // an append past maxLevels COMPACTS and folds the tombstones: the
    // manifest clears the list and the rewritten single code level
    // physically drops every retired vector
    val deltaSlice = emb.filter(col("vec_id") >= 400)
    StandingIndex.appendAnnIndex(spark, deltaSlice, db = db, name = "a_del",
      maxLevels = 1)
    val mC = StandingIndex.manifest(spark, db, "a_del").get
    assert(!mC.schema.fieldNames.contains("tomb_tab"),
      "compaction must clear the folded tombstone list")
    val lvls = mC.getAs[String]("levels_codes").split(",").toSeq
    assert(lvls.size === 1, "compaction must rewrite to a single level")
    val codeIds = spark.table(lvls.head).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(codeIds.intersect(delSet).isEmpty,
      "folded codes must not contain any tombstoned vector")
    assert(codeIds.size === (376 - delSet.size) + 100)
    // probes after the fold: still no deleted id, full result shape
    val after = StandingIndex.probeAnn(spark, annQueries, k = 5,
        nprobe = 3, db = db, name = "a_del")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.length === 8 * 5)
    assert(after.forall(t => !delSet(t._2)))
  }

  test("generation-stamped upsert: delete → re-append is a first-class " +
       "UPDATE (both families)") {
    // --- ANN: delete a slice, re-append the SAME vectors — the stamp
    // kills only the older generation, re-encoding against the same
    // frozen quantizers reproduces the codes exactly, so the probe
    // must be bit-identical to the never-deleted index (net identity)
    StandingIndex.buildAnnIndex(spark, emb, nCells = 16, m = 4, ksub = 16,
      corpusFrom = 24, iters = 2, nBuckets = 4, db = db, name = "a_ups")
    def annProbe() = rows(StandingIndex.probeAnn(spark, annQueries, k = 5,
      nprobe = 3, db = db, name = "a_ups"))
    val annBefore = annProbe()
    val annD = emb.filter(col("vec_id") >= 24 && col("vec_id") % 11 === 7)
    val annDSet = annD.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(annDSet.nonEmpty)
    StandingIndex.deleteFromAnnIndex(spark, annD.select("vec_id"), db = db,
      name = "a_ups")
    StandingIndex.appendAnnIndex(spark, annD, db = db, name = "a_ups")
    assert(annProbe() === annBefore,
      "delete + same-value re-append must net to identity")
    // the re-inserted generation is itself deletable (stamps are
    // monotone: the new stamp covers the newer level too)
    StandingIndex.deleteFromAnnIndex(spark, annD.select("vec_id"), db = db,
      name = "a_ups")
    val afterRedelete = StandingIndex.probeAnn(spark, annQueries, k = 5,
        nprobe = 3, db = db, name = "a_ups")
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(afterRedelete.forall(n => !annDSet(n)))
    // and the fold clears it all while keeping the re-delete visible
    StandingIndex.compactIndex(spark, db = db, name = "a_ups")
    val mU = StandingIndex.manifest(spark, db, "a_ups").get
    assert(!mU.schema.fieldNames.contains("tomb_tab"))
    assert(spark.table(mU.getAs[String]("levels_codes")).select("vec_id")
      .collect().map(_.getLong(0)).toSet.intersect(annDSet).isEmpty)
    // --- near-dup twin: same round trip on doc_id
    val slice03 = docs.filter(col("doc_id") % 10 < 4)
    StandingIndex.buildNearDupIndex(spark, slice03, col("text"),
      col("doc_id"), n = 3, k = 8, bands = 4, nBuckets = 4, db = db,
      name = "n_ups")
    def ndProbe() = rows(StandingIndex.probeNearDups(spark, batch,
      col("text"), col("doc_id"), threshold = 0.5, db = db, name = "n_ups"))
    val ndBefore = ndProbe()
    val ndD = slice03.filter(col("doc_id") % 20 === 3)
    assert(ndD.count() > 0)
    StandingIndex.deleteFromNearDupIndex(spark, ndD.select("doc_id"),
      db = db, name = "n_ups")
    StandingIndex.appendNearDupIndex(spark, ndD, col("text"),
      col("doc_id"), db = db, name = "n_ups")
    assert(ndProbe() === ndBefore,
      "near-dup delete + same-doc re-append must net to identity")
  }

  test("explicit compaction folds tombstones without an append (both families)") {
    // the pure-delete maintenance motion: no delta arrives, the fold
    // must still be schedulable — and it is layout-only, so probes
    // are value-identical before and after
    // --- ANN
    StandingIndex.buildAnnIndex(spark, emb, nCells = 16, m = 4, ksub = 16,
      corpusFrom = 24, iters = 2, nBuckets = 4, db = db, name = "a_cmp")
    val annDel = emb.filter(col("vec_id") >= 24 && col("vec_id") % 9 === 4)
      .select("vec_id")
    val annDelSet = annDel.collect().map(_.getLong(0)).toSet
    StandingIndex.deleteFromAnnIndex(spark, annDel, db = db, name = "a_cmp")
    def annProbe() = rows(StandingIndex.probeAnn(spark, annQueries, k = 5,
      nprobe = 3, db = db, name = "a_cmp"))
    val annBefore = annProbe()
    StandingIndex.compactIndex(spark, db = db, name = "a_cmp")
    val mA = StandingIndex.manifest(spark, db, "a_cmp").get
    assert(!mA.schema.fieldNames.contains("tomb_tab"))
    val codeIds = spark.table(mA.getAs[String]("levels_codes"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(codeIds.intersect(annDelSet).isEmpty)
    assert(annProbe() === annBefore)
    // --- near-dup (plus idempotence: a second compact is a no-op
    // relayout)
    val slice03 = docs.filter(col("doc_id") % 10 < 4)
    StandingIndex.buildNearDupIndex(spark, slice03, col("text"),
      col("doc_id"), n = 3, k = 8, bands = 4, nBuckets = 4, db = db,
      name = "n_cmp")
    val ndDel = slice03.filter(col("doc_id") % 20 === 1).select("doc_id")
    val ndDelSet = ndDel.collect().map(_.getLong(0)).toSet
    StandingIndex.deleteFromNearDupIndex(spark, ndDel, db = db,
      name = "n_cmp")
    def ndProbe() = rows(StandingIndex.probeNearDups(spark, batch,
      col("text"), col("doc_id"), threshold = 0.5, db = db, name = "n_cmp"))
    val ndBefore = ndProbe()
    StandingIndex.compactIndex(spark, db = db, name = "n_cmp")
    val mN = StandingIndex.manifest(spark, db, "n_cmp").get
    assert(!mN.schema.fieldNames.contains("tomb_tab"))
    for (field <- Seq("levels_banded", "levels_base")) {
      val ids = spark.table(mN.getAs[String](field)).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.intersect(ndDelSet).isEmpty)
    }
    assert(ndProbe() === ndBefore)
    StandingIndex.compactIndex(spark, db = db, name = "n_cmp")
    assert(ndProbe() === ndBefore)
    // --- chunk: level collapse without new data (no tombstones in
    // this family — digests are shared across docs)
    StandingIndex.buildChunkIndex(spark, slice03, col("text"),
      col("doc_id"), chunkTokens = 8, nBuckets = 4, db = db, name = "c_cmp")
    StandingIndex.appendChunkIndex(spark,
      docs.filter(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8),
      col("text"), col("doc_id"), db = db, name = "c_cmp")
    def cProbe() = rows(StandingIndex.probeChunks(spark, batch,
      col("text"), col("doc_id"), db = db, name = "c_cmp"))
    val cBefore = cProbe()
    assert(StandingIndex.manifest(spark, db, "c_cmp").get
      .getAs[String]("levels").split(",").length === 2)
    StandingIndex.compactIndex(spark, db = db, name = "c_cmp")
    assert(StandingIndex.manifest(spark, db, "c_cmp").get
      .getAs[String]("levels").split(",").length === 1)
    assert(cProbe() === cBefore)
  }

  test("deleteFromChunkIndex: refcount law, rebuild-equivalence, " +
       "O(tombstones) publish, gates, upsert revival, folds") {
    val corp = corpus // %10 != 0 — disjoint from the probe batch
    StandingIndex.buildChunkIndex(spark, corp, col("text"),
      col("doc_id"), chunkTokens = 8, nBuckets = 4, db = db, name = "c_del")
    val m0 = StandingIndex.manifest(spark, db, "c_del").get
    def cProbe(name: String) = rows(StandingIndex.probeChunks(spark,
      batch, col("text"), col("doc_id"), db = db, name = name))
    val cNever = cProbe("c_del")
    val delIds = corp.filter(col("doc_id") % 20 === 1).select("doc_id")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    assert(delSet.nonEmpty)
    StandingIndex.deleteFromChunkIndex(spark, delIds, db = db,
      name = "c_del")
    val mD = StandingIndex.manifest(spark, db, "c_del").get
    // O(tombstones) publish: the corpus-sized members carry over by
    // reference — identical FQ names before and after the delete
    assert(mD.getAs[String]("levels") === m0.getAs[String]("levels"))
    assert(mD.getAs[String]("levels_fpdocs") ===
      m0.getAs[String]("levels_fpdocs"))
    // the refcount LAW, recomputed by an independent formulation
    // (groupBy over the sidecar vs the operator's join chain): the
    // dead list is EXACTLY the digests whose referencing docs all
    // retired; any digest a surviving doc shares stays live
    val side = mD.getAs[String]("levels_fpdocs").split(",").toSeq
      .map(spark.table).reduce(_.unionByName(_))
    val perFp = side.groupBy("fp").agg(
      max(when(col("doc_id").isInCollection(delSet), 1).otherwise(0))
        .as("hasDel"),
      max(when(!col("doc_id").isInCollection(delSet), 1).otherwise(0))
        .as("hasLive"))
    val tombFps = spark.table(mD.getAs[String]("fp_tomb_tab"))
      .collect().map(_.getString(0)).toSet
    val onlyDel = perFp.filter(col("hasDel") === 1 && col("hasLive") === 0)
      .select("fp").collect().map(_.getString(0)).toSet
    val shared = perFp.filter(col("hasDel") === 1 && col("hasLive") === 1)
      .select("fp").collect().map(_.getString(0)).toSet
    assert(onlyDel === tombFps,
      "dead list must be exactly the zero-live-reference digests")
    assert(shared.nonEmpty, "fixture must exercise shared digests")
    assert(tombFps.nonEmpty, "fixture must kill at least one digest")
    // probe-after-delete ≡ probe of an index rebuilt without the
    // retired docs (the q218 gate, locally)
    StandingIndex.buildChunkIndex(spark,
      corp.filter(!(col("doc_id") % 20 === 1)), col("text"),
      col("doc_id"), chunkTokens = 8, nBuckets = 4, db = db,
      name = "c_del_truth")
    val truthProbe = cProbe("c_del_truth")
    assert(cProbe("c_del") === truthProbe)
    assert(cNever !== truthProbe,
      "fixture must make the delete observable at probe time")
    // loud gates: unknown id, double delete, and append of a live id
    import spark.implicits._
    val eU = intercept[IllegalArgumentException] {
      StandingIndex.deleteFromChunkIndex(spark,
        Seq(999999L).toDF("doc_id"), db = db, name = "c_del")
    }
    assert(eU.getMessage.contains("not live"))
    val eD = intercept[IllegalArgumentException] {
      StandingIndex.deleteFromChunkIndex(spark, delIds.limit(1), db = db,
        name = "c_del")
    }
    assert(eD.getMessage.contains("not live"))
    val eA = intercept[IllegalArgumentException] {
      StandingIndex.appendChunkIndex(spark,
        corp.filter(col("doc_id") % 20 === 2), col("text"),
        col("doc_id"), db = db, name = "c_del")
    }
    assert(eA.getMessage.contains("already in the"))
    // UPSERT: re-append the SAME docs — generation stamps exempt the
    // new level, every dead digest is re-referenced and must REVIVE
    // (fp-tomb clears), and the probe nets to the never-deleted truth
    val delDocs = corp.filter(col("doc_id") % 20 === 1)
    StandingIndex.appendChunkIndex(spark, delDocs, col("text"),
      col("doc_id"), db = db, name = "c_del")
    val mU = StandingIndex.manifest(spark, db, "c_del").get
    assert(!mU.schema.fieldNames.contains("fp_tomb_tab"),
      "full re-reference must revive every dead digest")
    assert(mU.schema.fieldNames.contains("tomb_tab"),
      "doc tombstones stay until the next fold (generation stamps)")
    assert(cProbe("c_del") === cNever,
      "delete + same-doc re-append must net to identity")
    // the re-inserted generation is itself deletable (monotone stamps)
    StandingIndex.deleteFromChunkIndex(spark, delIds, db = db,
      name = "c_del")
    assert(cProbe("c_del") === cProbe("c_del_truth"))
    // explicit compaction (pure-delete maintenance): members rewrite
    // to the live sets, both tomb lists clear, probe value-identical
    StandingIndex.compactIndex(spark, db = db, name = "c_del")
    val mC = StandingIndex.manifest(spark, db, "c_del").get
    assert(!mC.schema.fieldNames.contains("tomb_tab"))
    assert(!mC.schema.fieldNames.contains("fp_tomb_tab"))
    val foldedIds = spark.table(mC.getAs[String]("levels_fpdocs"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(foldedIds.intersect(delSet).isEmpty,
      "folded sidecar must physically drop every retired doc")
    val foldedFps = spark.table(mC.getAs[String]("levels"))
      .select("fp").collect().map(_.getString(0)).toSet
    assert(foldedFps.intersect(onlyDel).isEmpty,
      "folded digest member must physically drop every dead digest")
    assert(cProbe("c_del") === cProbe("c_del_truth"))
    // append-triggered fold (maxLevels crossed): same clearing
    StandingIndex.deleteFromChunkIndex(spark,
      corp.filter(col("doc_id") % 20 === 11).select("doc_id"),
      db = db, name = "c_del")
    StandingIndex.appendChunkIndex(spark, delDocs, col("text"),
      col("doc_id"), db = db, name = "c_del", maxLevels = 1)
    val mF = StandingIndex.manifest(spark, db, "c_del").get
    assert(!mF.schema.fieldNames.contains("tomb_tab"))
    assert(!mF.schema.fieldNames.contains("fp_tomb_tab"))
    assert(mF.getAs[String]("levels").split(",").length === 1)
    StandingIndex.buildChunkIndex(spark,
      corp.filter(!(col("doc_id") % 20 === 11)), col("text"),
      col("doc_id"), chunkTokens = 8, nBuckets = 4, db = db,
      name = "c_del_truth2")
    assert(cProbe("c_del") === cProbe("c_del_truth2"))
  }

  test("match-index delete descope PROVEN: the hot-cap counterexample — " +
       "carried-by-reference members cannot be rebuild-equivalent") {
    // The Scaladoc claim (deleteFromNearDupIndex): the match index has
    // no O(tombstones) delete because its hot-cap/sub splits are
    // functions of GLOBAL occurrence counts. This test constructs the
    // counterexample: a gram capped BECAUSE OF the deleted docs'
    // occurrences. After the delete, a rebuild un-caps it and
    // reassigns every SURVIVING row's sub (pmod by a different nsub) —
    // so the anchors member's bytes must change for rows the delete
    // never touched, and no carry-by-reference + tombstone publish
    // (the ANN/near-dup/chunk shape) can satisfy the bit-identical-
    // to-rebuild contract (q201's gate). Probe VALUES agree either
    // way (the sub split is layout, spec'd at "hot-anchor cap"), which
    // is exactly why the contract is bit-level and the documented
    // delete is a rebuild.
    import spark.implicits._
    // 6 docs sharing one 4-token phrase; every other window unique
    val docs6 = (1L to 6L).map(i =>
        (i, s"alpha beta gamma delta u${i}a u${i}b")).toDF("doc_id", "text")
    StandingIndex.buildMatchIndex(spark, docs6, col("text"), col("doc_id"),
      minLen = 4, maxAnchorOccurrences = 4, nBuckets = 2, db = db,
      name = "m_imp_full")
    def member(name: String, suffix: String) = {
      val v = StandingIndex.manifest(spark, db, name).get.getAs[Int]("version")
      spark.table(s"$db.${name}__v${v}__$suffix")
    }
    assert(member("m_imp_full", "hot").count() > 0,
      "the cap must bind on the 6-occurrence phrase (6 > 4)")
    // pick 3 survivors including one whose corpus-id hash is odd: its
    // sub under the capped layout (nsub = 2) is 1, but a rebuild
    // without the deleted docs (3 ≤ cap) has nsub = 1 ⇒ sub = 0
    val subs = spark.range(1, 7)
      .select(col("id"), pmod(xxhash64(col("id")), lit(2L)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oddIds = (1L to 6L).filter(i => subs(i) == 1L)
    assert(oddIds.nonEmpty && oddIds.size < 6, s"hash split: $subs")
    val survivors = (oddIds.take(1) ++
      (1L to 6L).filterNot(oddIds.take(1).contains)).take(3)
    StandingIndex.buildMatchIndex(spark,
      docs6.filter(col("doc_id").isInCollection(survivors)),
      col("text"), col("doc_id"), minLen = 4, maxAnchorOccurrences = 4,
      nBuckets = 2, db = db, name = "m_imp_rebuild")
    assert(member("m_imp_rebuild", "hot").count() === 0,
      "the rebuild must un-cap (3 ≤ 4)")
    // the surviving rows' BYTES differ: same (gh, corpus_id, pos_c),
    // different sub — a carried-by-reference anchors member is wrong
    val fullSurvivorRows = member("m_imp_full", "anchors")
      .filter(col("corpus_id").isInCollection(survivors))
      .collect().map(_.toString).toSet
    val rebuildRows = member("m_imp_rebuild", "anchors")
      .collect().map(_.toString).toSet
    assert(fullSurvivorRows !== rebuildRows,
      "surviving rows must need a sub reassignment when the cap unbinds")
    // ... while probe VALUES agree (the split is layout): the bit-level
    // publish contract, not probe semantics, is what forces the rebuild
    val probeDoc = Seq((100L, "alpha beta gamma delta tail1 tail2"))
      .toDF("doc_id", "text")
    def probeSurvivors(name: String) = rows(StandingIndex.probeMatches(
        spark, probeDoc, col("text"), col("doc_id"), db = db, name = name)
      .filter(col("corpus_id").isInCollection(survivors))
      .select("batch_id", "pos_b", "corpus_id", "pos_c", "match_len"))
    val viaRebuild = probeSurvivors("m_imp_rebuild")
    assert(viaRebuild.nonEmpty)
    assert(probeSurvivors("m_imp_full") === viaRebuild,
      "per-survivor probe values agree across the two layouts")
  }

  test("independent plain-Scala recompute: near-dup index lifecycle " +
       "build → append → delete → upsert → compact, probe row-for-row") {
    // The q87 defense applied to the subtlest code in the repo (the
    // generation-stamp shadow algebra): every probe along a full
    // lifecycle is recomputed from FIRST PRINCIPLES in plain
    // collections — strings → md5 → universal-hash minhash → band
    // hashes → exact Jaccard — with no Spark SQL and no DuckDB, so a
    // correlated engine/oracle blind spot cannot hide here. The plain
    // model is FLAT (no levels, no tombstones): it probes the live
    // document set each time, which is exactly the identity the
    // leveled+stamped engine claims to implement.
    val (n, k, bands, thr) = (3, 8, 4, 0.5)
    val r = k / bands
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingleSet(text: String): Array[String] = {
      val toks = text.split("\\s+", -1) // Spark split keeps trailing empties
      if (toks.length < n) Array.empty
      else {
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        for (i <- 0 to toks.length - n) seen += toks.slice(i, i + n).mkString(" ")
        seen.toArray
      }
    }
    val P = 2147483647L
    def bandHashes(sh: Array[String]): Seq[String] = {
      val shh = sh.map(s => java.lang.Long.parseLong(
        md5hex(s).substring(0, 8), 16))
      val sig = (0 until k).map(i =>
        shh.map(h => ((2L * i + 1) * h + 1000003L * (i + 1)) % P).min)
      (0 until bands).map(b =>
        md5hex((0 until r).map(j => sig(b * r + j).toString).mkString("|")))
    }
    val allTexts = docs.select("doc_id", "text").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    val batchIds = allTexts.keySet.filter(_ % 10 == 0)
    def plainProbe(liveIds: Set[Long]): Set[(Long, Long, Double)] = {
      def prepared(ids: Set[Long]) = ids.toSeq.sorted
        .map(i => (i, shingleSet(allTexts(i)))).filter(_._2.nonEmpty)
        .map { case (i, sh) => (i, sh.toSet, bandHashes(sh)) }
      val corpusP = prepared(liveIds)
      (for {
        (bId, bSh, bBands) <- prepared(batchIds)
        (cId, cSh, cBands) <- corpusP
        // candidate iff SOME band index agrees on its band hash
        if (0 until bands).exists(b => bBands(b) == cBands(b))
        inter = (bSh & cSh).size
        jac = inter.toDouble / (bSh.size + cSh.size - inter)
        if jac >= thr
      } yield (bId, cId, jac)).toSet
    }
    def engineProbe(): Set[(Long, Long, Double)] =
      StandingIndex.probeNearDups(spark, batch, col("text"), col("doc_id"),
        threshold = thr, db = db, name = "n_plain")
        .collect().map(row =>
          (row.getLong(0), row.getLong(1), row.getDouble(2))).toSet
    val sliceA = docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 4)
    val sliceB = docs.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 <= 7)
    val idsA = allTexts.keySet.filter(i => i % 10 >= 1 && i % 10 <= 4)
    val idsB = allTexts.keySet.filter(i => i % 10 >= 5 && i % 10 <= 7)
    // delete slice spans BOTH levels (%7 hits ids in A and in B)
    val idsD = (idsA ++ idsB).filter(_ % 7 == 5)
    assert(idsD.exists(idsA) && idsD.exists(idsB))
    StandingIndex.buildNearDupIndex(spark, sliceA, col("text"),
      col("doc_id"), n = n, k = k, bands = bands, nBuckets = 4, db = db,
      name = "n_plain")
    assert(engineProbe() === plainProbe(idsA))
    StandingIndex.appendNearDupIndex(spark, sliceB, col("text"),
      col("doc_id"), db = db, name = "n_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB))
    val delDf = docs.filter((col("doc_id") % 10 >= 1) &&
      (col("doc_id") % 10 <= 7) && (col("doc_id") % 7 === 5))
    StandingIndex.deleteFromNearDupIndex(spark, delDf.select("doc_id"),
      db = db, name = "n_plain")
    val afterDelete = engineProbe()
    assert(afterDelete === plainProbe(idsA ++ idsB -- idsD))
    assert(afterDelete !== plainProbe(idsA ++ idsB),
      "fixture must make the delete probe-visible")
    // upsert: re-append the SAME docs — net identity vs the flat model
    StandingIndex.appendNearDupIndex(spark, delDf, col("text"),
      col("doc_id"), db = db, name = "n_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB))
    // re-delete the re-inserted generation, then compact: the fold is
    // layout-only, so both probes must equal the flat minus-D model
    StandingIndex.deleteFromNearDupIndex(spark, delDf.select("doc_id"),
      db = db, name = "n_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB -- idsD))
    StandingIndex.compactIndex(spark, db = db, name = "n_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB -- idsD))
  }

  test("independent plain-Scala recompute: chunk index lifecycle " +
       "build → append → delete → upsert → compact, probe row-for-row") {
    // The near-dup recompute's defense extended to the round-17
    // refcount algebra (dead digests = zero live referencing docs,
    // fp-tomb revival, the probe's un-kill branch): every probe along
    // a full chunk-index lifecycle is recomputed from FIRST PRINCIPLES
    // in plain collections — tokens → fixed windows → md5 digests →
    // a flat live-digest set — with no Spark SQL and no DuckDB. The
    // plain model has no levels, no sidecar, no tombstones of either
    // kind: it re-derives the live corpus digest set each time, which
    // is exactly the identity the leveled+stamped+refcounted engine
    // claims to implement.
    val ct = 8
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunksOf(text: String): Vector[(Long, String)] = {
      val toks = text.split("\\s+", -1) // Spark split keeps empties
      val n = toks.length
      val nc = 1 + (math.max(n - ct, 0) + ct - 1) / ct
      (0 until nc).map(i =>
        (i.toLong, toks.slice(i * ct, math.min(n, i * ct + ct))
          .mkString(" "))).toVector
    }
    val allTexts = docs.select("doc_id", "text").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    val batchIds = allTexts.keySet.filter(_ % 10 == 0)
    def plainProbe(liveIds: Set[Long]): Set[(Long, Long, Long, String)] = {
      val liveFps = liveIds.flatMap(i =>
        chunksOf(allTexts(i)).map(c => md5hex(c._2)))
      val batchChunks = batchIds.toSeq.sorted.flatMap(d =>
        chunksOf(allTexts(d)).map { case (cid, txt) =>
          (d, cid, txt, md5hex(txt)) })
      val survivors = batchChunks.filterNot(c => liveFps(c._4))
      // global first occurrence among survivors, by (doc_id, chunk_id)
      val kept = survivors.groupBy(_._4)
        .map { case (_, cs) => cs.minBy(c => (c._1, c._2)) }.toSet
      batchIds.map { d =>
        val mine = kept.filter(_._1 == d).toSeq.sortBy(_._2)
        (d, chunksOf(allTexts(d)).size.toLong, mine.size.toLong,
          mine.map(_._3).mkString(" "))
      }
    }
    def engineProbe(): Set[(Long, Long, Long, String)] =
      StandingIndex.probeChunks(spark, batch, col("text"), col("doc_id"),
        db = db, name = "c_plain")
        .collect().map(row => (row.getLong(0), row.getLong(1),
          row.getLong(2), row.getString(3))).toSet
    val sliceA = docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 4)
    val sliceB = docs.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 <= 7)
    val idsA = allTexts.keySet.filter(i => i % 10 >= 1 && i % 10 <= 4)
    val idsB = allTexts.keySet.filter(i => i % 10 >= 5 && i % 10 <= 7)
    // delete slice spans BOTH levels (%7 hits ids in A and in B)
    val idsD = (idsA ++ idsB).filter(_ % 7 == 5)
    assert(idsD.exists(idsA) && idsD.exists(idsB))
    StandingIndex.buildChunkIndex(spark, sliceA, col("text"),
      col("doc_id"), chunkTokens = ct, nBuckets = 4, db = db,
      name = "c_plain")
    assert(engineProbe() === plainProbe(idsA))
    StandingIndex.appendChunkIndex(spark, sliceB, col("text"),
      col("doc_id"), db = db, name = "c_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB))
    val delDf = docs.filter((col("doc_id") % 10 >= 1) &&
      (col("doc_id") % 10 <= 7) && (col("doc_id") % 7 === 5))
    StandingIndex.deleteFromChunkIndex(spark, delDf.select("doc_id"),
      db = db, name = "c_plain")
    val afterDelete = engineProbe()
    assert(afterDelete === plainProbe(idsA ++ idsB -- idsD))
    assert(afterDelete !== plainProbe(idsA ++ idsB),
      "fixture must make the delete probe-visible (a batch chunk " +
        "digest must die with the retired docs)")
    // upsert: re-append the SAME docs — net identity vs the flat model
    StandingIndex.appendChunkIndex(spark, delDf, col("text"),
      col("doc_id"), db = db, name = "c_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB))
    // re-delete the re-inserted generation, then compact: the fold is
    // layout-only, so both probes must equal the flat minus-D model
    StandingIndex.deleteFromChunkIndex(spark, delDf.select("doc_id"),
      db = db, name = "c_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB -- idsD))
    StandingIndex.compactIndex(spark, db = db, name = "c_plain")
    assert(engineProbe() === plainProbe(idsA ++ idsB -- idsD))
  }

  test("independent plain-Scala recompute: ANN index lifecycle " +
       "build → append → delete → upsert → compact, probe row-for-row") {
    // The third (and subtlest) member of the recompute-defense family:
    // the FULL IVFADC quantizer math — deterministic L2 Lloyd with
    // decimal-exact means, residual PQ books seeded from the first
    // ksub corpus vectors, frozen-quantizer encode, asymmetric-LUT
    // probe with fixed-order distance sums — re-derived from FIRST
    // PRINCIPLES in plain collections, with no Spark SQL and no
    // DuckDB. The plain model is FLAT: no levels, no tombstone
    // stamps, no sidecar — it encodes the live id set against the
    // build-time quantizers and ranks candidates directly, which is
    // exactly the identity the leveled + generation-stamped engine
    // index claims to implement (probe doubles compared EXACTLY —
    // every arithmetic step mirrors the engine's IEEE fold order).
    val nCells = 16; val mSub = 4; val ksub = 16; val corpusFrom = 24L
    val iters = 2; val dim = 64; val subLen = dim / mSub
    type Vec = Array[Double]
    // dot_product expression: left-to-right acc += a(i)*b(i)
    def dotP(a: Vec, b: Vec): Double = {
      var acc = 0.0; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }; acc
    }
    // l2 kernel: (xx − 2·xy) + yy, both engines' fold order
    def l2d(xx: Double, xy: Double, yy: Double): Double = xx - 2.0 * xy + yy
    // the M-step mean: per-value cast to DECIMAL(38,6) (HALF_UP, off
    // the double's shortest decimal form — Spark's Decimal(BigDecimal
    // (d))), exact decimal sum, cast to double, / count
    def decMean(xs: Seq[Double]): Double =
      xs.map(x => java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_)).doubleValue() / xs.size
    val allVecs: Map[Long, Vec] = emb.select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    // deterministic Lloyd (the lloydTrainL2All algebra): argmin by
    // (squared-L2, cent_id), decimal means, empty cells keep their
    // previous centroid
    def lloyd(seeds: Seq[(Long, Vec)], train: Seq[Vec]): Seq[(Long, Vec)] = {
      var cents = seeds
      for (_ <- 1 to iters) {
        val byCell = train.map { v =>
          val vv = dotP(v, v)
          cents.map { case (id, c) =>
            (l2d(vv, dotP(v, c), dotP(c, c)), id) }.min._2 -> v
        }.groupBy(_._1)
        cents = cents.map { case (id, c) =>
          id -> byCell.get(id).fold(c)(ms => Array.tabulate(c.length)(p =>
            decMean(ms.map(_._2(p)))))
        }
      }
      cents
    }
    // argminLit: FIRST minimum over cent_id-sorted centroids = min by
    // (d, cent_id)
    def argmin(v: Vec, cents: Seq[(Long, Vec)]): Long = {
      val vv = dotP(v, v)
      cents.map { case (id, c) => (l2d(vv, dotP(v, c), dotP(c, c)), id) }
        .min._2
    }
    val idsA = allVecs.keySet.filter(_ < 300)
    val idsB = allVecs.keySet.filter(_ >= 300)
    val corpusA = idsA.filter(_ >= corpusFrom).toSeq.sorted
    // coarse codebook: seeds = vec_id < nCells of slice A, train =
    // slice A's corpus (ids ≥ corpusFrom)
    val coarse = lloyd(
      (0L until nCells.toLong).map(i => i -> allVecs(i)),
      corpusA.map(allVecs))
    def residOf(id: Long): (Long, Vec) = {
      val e = allVecs(id)
      val cell = argmin(e, coarse)
      val ce = coarse.find(_._1 == cell).get._2
      cell -> Array.tabulate(dim)(i => e(i) - ce(i))
    }
    def subOf(r: Vec, s: Int): Vec = r.slice(s * subLen, s * subLen + subLen)
    // residual PQ books: per subspace, seeds = the first ksub corpus
    // vectors' residual subvectors (cent ids = their vec_ids), train =
    // all of slice A's residuals
    val residA: Map[Long, (Long, Vec)] = corpusA.map(i => i -> residOf(i)).toMap
    val books: Seq[Seq[(Long, Vec)]] = (0 until mSub).map { s =>
      lloyd(
        corpusA.take(ksub).map(i => i -> subOf(residA(i)._2, s)),
        corpusA.map(i => subOf(residA(i)._2, s)))
    }
    // frozen-quantizer encode — identical for build, append and upsert
    def encode(id: Long): (Long, Seq[Long]) = {
      val (cell, r) = residOf(id)
      (cell, (0 until mSub).map(s => argmin(subOf(r, s), books(s))))
    }
    val queryIds = (16L until 24L).toSeq
    val k = 5; val nprobe = 3
    def plainProbe(liveIds: Set[Long]): Set[(Long, Long, Double, Long)] = {
      val cand = liveIds.toSeq.sorted.map(i => (i, encode(i)))
      queryIds.flatMap { q =>
        val qe = allVecs(q); val qq = dotP(qe, qe)
        val probed = coarse.map { case (cell, ce) =>
          (l2d(qq, dotP(qe, ce), dotP(ce, ce)), cell) }.sorted.take(nprobe)
        val scored = probed.flatMap { case (_, cell) =>
          val ce = coarse.find(_._1 == cell).get._2
          val rq = Array.tabulate(dim)(i => qe(i) - ce(i))
          // per-(query, cell) LUT over the residual query, then the
          // fixed-order subspace sum d_0 + d_1 + … (foldLeft, exactly
          // the engine's reduce(_ + _))
          val lut: Seq[Map[Long, Double]] = (0 until mSub).map { s =>
            val rqs = subOf(rq, s); val rr = dotP(rqs, rqs)
            books(s).map { case (code, bce) =>
              code -> l2d(rr, dotP(rqs, bce), dotP(bce, bce)) }.toMap
          }
          cand.filter(_._2._1 == cell).map { case (id, (_, codes)) =>
            (id, codes.zipWithIndex
              .map { case (c, s) => lut(s)(c) }.reduceLeft(_ + _))
          }
        }
        scored.sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex
          .map { case ((id, d), i) => (q, id, d, (i + 1).toLong) }
      }.toSet
    }
    def engineProbe(): Set[(Long, Long, Double, Long)] =
      StandingIndex.probeAnn(spark, annQueries, k = k, nprobe = nprobe,
        db = db, name = "a_plain")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    StandingIndex.buildAnnIndex(spark, emb.filter(col("vec_id") < 300),
      nCells = nCells, m = mSub, ksub = ksub, corpusFrom = corpusFrom,
      iters = iters, nBuckets = 4, db = db, name = "a_plain")
    // quantizer-level witness first (localizes a Lloyd/decimal drift
    // before it smears into every probe row): the persisted coarse
    // member must equal the plain model's centroids bit-for-bit
    val mf = StandingIndex.manifest(spark, db, "a_plain").get
    val coarseGot = spark.table(mf.getAs[String]("coarse_tab"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(coarseGot === coarse.map { case (id, c) => id -> c.toSeq }.toMap)
    assert(engineProbe() === plainProbe(idsA.filter(_ >= corpusFrom)))
    // frozen-quantizer append: slice B encodes against A's quantizers
    StandingIndex.appendAnnIndex(spark, emb.filter(col("vec_id") >= 300),
      db = db, name = "a_plain")
    val live1 = idsA.filter(_ >= corpusFrom) ++ idsB
    val probe1 = plainProbe(live1)
    assert(engineProbe() === probe1)
    // cross-level delete, guaranteed probe-visible: a rank-1 neighbor
    // plus the %11 stripe (ids on both sides of the level split)
    val topNbr = probe1.filter(_._4 == 1L).map(_._2).min
    val idsD = live1.filter(_ % 11 == 7) + topNbr
    assert(idsD.exists(_ < 300) && idsD.exists(_ >= 300))
    import spark.implicits._
    StandingIndex.deleteFromAnnIndex(spark, idsD.toSeq.sorted.toDF("vec_id"),
      db = db, name = "a_plain")
    val afterDelete = engineProbe()
    assert(afterDelete === plainProbe(live1 -- idsD))
    assert(afterDelete !== probe1, "fixture must make the delete probe-visible")
    // upsert: re-append the SAME vectors — frozen encode reproduces the
    // codes exactly, so the flat model sees net identity
    StandingIndex.appendAnnIndex(spark,
      emb.filter(col("vec_id").isin(idsD.toSeq: _*)), db = db,
      name = "a_plain")
    assert(engineProbe() === probe1)
    // re-delete the re-inserted generation, then compact: the fold is
    // layout-only, so both probes must equal the flat minus-D model
    StandingIndex.deleteFromAnnIndex(spark, idsD.toSeq.sorted.toDF("vec_id"),
      db = db, name = "a_plain")
    assert(engineProbe() === plainProbe(live1 -- idsD))
    StandingIndex.compactIndex(spark, db = db, name = "a_plain")
    assert(engineProbe() === plainProbe(live1 -- idsD))
  }

  test("ANN probe plan: no shuffle between the codes member scan and its joins") {
    StandingIndex.buildAnnIndex(spark, emb, nCells = 16, m = 4, ksub = 16,
      corpusFrom = 24, iters = 2, nBuckets = 4, db = db, name = "a_plan")
    // assert on the static plan tree (AQE stage wrapping hides join
    // nodes from subtree walks — the match-probe test's discipline);
    // broadcasts stay ON here: the LUT broadcast IS the design
    val conf = spark.conf
    val savedAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val probe = StandingIndex.probeAnn(spark, annQueries, k = 5,
      nprobe = 2, db = db, name = "a_plan")
    val plan = probe.queryExecution.executedPlan
    def codesScans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec
        if f.tableIdentifier.exists(t => t.database.contains(db) &&
          t.table.startsWith("a_plan__v") && t.table.endsWith("__codes")) => f }
    assert(codesScans(plan).nonEmpty, s"probe must read the codes member:\n$plan")
    // the LUT joins broadcast, so the codes side must stream straight
    // from its scan — any ShuffleExchange whose pre-join subtree holds
    // the codes scan would mean the corpus shuffles at probe time
    def preJoin(p: SparkPlan): Boolean =
      p.collect { case j: BaseJoinExec => j }.isEmpty && codesScans(p).nonEmpty
    val bad = plan.collect {
      case s: ShuffleExchangeExec if preJoin(s.child) => s }
    assert(bad.isEmpty, s"codes-side shuffle before a join:\n$plan")
    // cell-pruning pushdown: the probed-cell IN filter must reach the
    // codes scan (it is what turns the corpus-sized member read into a
    // bucket-pruned one at scale)
    val codesScan = codesScans(plan).head
    assert(codesScan.dataFilters.exists(f =>
        f.references.exists(_.name == "cell") &&
          f.toString.toLowerCase.contains("in")),
      s"probed-cell IN filter must push to the codes scan:\n$codesScan")
    } finally savedAqe match {
      case Some(v) => conf.set("spark.sql.adaptive.enabled", v)
      case None => conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
