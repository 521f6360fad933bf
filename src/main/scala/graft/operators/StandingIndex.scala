package graft.operators

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.pipeline.Lakehouse

/** Standing probe indexes — the PERSISTED form of the incremental
  * dedup operators' corpus side. The ad-hoc incremental operators
  * (`Dedup.incrementalMaximalMatches` q188,
  * `TextAnalysis.chunkDedupIncremental` q116,
  * `Dedup.incrementalNearDups` q106) recompute the corpus half of
  * their pipeline on every call: tokenize, shingle/hash, aggregate —
  * a full corpus pass per daily batch. At 100 TB that pass IS the
  * cost; a standing index pays it once per corpus publish and lets
  * every probe read the prepared, pre-bucketed tables instead:
  *
  *   - **match index** ([[buildMatchIndex]]/[[probeMatches]]): the
  *     anchor table (gh, sub, corpus_id, pos_c) bucketed+sorted on
  *     gh, the token-array table (corpus_id, tc) bucketed on
  *     corpus_id, and the (usually empty) hot-anchor sub-split table
  *     — `Dedup.matchIndexFrames`, shared with q188 so the persisted
  *     and inline derivations are structurally identical;
  *   - **chunk index** ([[buildChunkIndex]]/[[probeChunks]]): the
  *     distinct chunk-digest table (fp) bucketed on fp —
  *     `TextAnalysis.corpusChunkFps` — plus (round 17) the
  *     (fp, doc_id) reference sidecar that makes the shared-digest
  *     family delete-capable ([[deleteFromChunkIndex]]); probes never
  *     read the sidecar;
  *   - **near-dup index** ([[buildNearDupIndex]]/[[probeNearDups]]):
  *     the MinHash-LSH band table (doc_id, band, bucket) bucketed on
  *     bucket and the shingle-set table (doc_id, sh) bucketed on
  *     doc_id — `Dedup.minhashBase`/`minhashBanded`, the
  *     materialization `Dedup.MinHashIndex` documents as "the
  *     caller's lifecycle".
  *
  * Zero-corpus-exchange probes: every corpus-side table is bucketed
  * on exactly the key its probe join needs, so the scan's
  * HashPartitioning satisfies the join's required distribution and
  * EnsureRequirements shuffles ONLY the (small) batch side —
  * StandingIndexSpec asserts no ShuffleExchange feeds off an index
  * scan pre-join. The anchor/toks tables are additionally
  * repartitioned to one file per bucket before the write (the
  * `Skew.bucketed` rule) and sorted on the join keys, so sort-merge
  * probes read the buckets as-is.
  *
  * Versioned exactly-once commit: all member tables of a build are
  * written under `<name>__v<N>__<member>` names first; the COMMIT
  * POINT is one atomic repoint of the manifest view `<db>.<name>`
  * (`Lakehouse.swapView`, the publish's own catalog swap, so the name
  * never goes missing) — a constant one-row view carrying the live version
  * number and the build parameters. A crash anywhere before the flip
  * leaves the manifest on the last complete version with every one of
  * its member tables intact (a later rebuild overwrites the orphaned
  * `__v<N>` members); probes resolve the version through the manifest
  * and can never observe a half-built index. After the flip the
  * previous version's members are retained for one publish cycle
  * (concurrent probes planned against them drain; the ctasSwap
  * retention argument, `Lakehouse.ctasSwap`), older ones are dropped.
  *
  * Refresh semantics: a rebuild is a full re-derivation from the
  * corpus frame passed in; probes between publishes see the old
  * version (stale by exactly the not-yet-published delta), probes
  * after the flip see the new one. Incremental APPEND publishes
  * (round 13) derive only the delta; since round 14 the chunk,
  * near-dup and ANN appends are LEVELED — the delta's derived frames
  * publish as new immutable level tables, the live levels carry over
  * by manifest reference (`levels*` meta fields, FQ table names), and
  * probes run per level (chained anti-joins / unioned pair results /
  * unioned cell-pruned scans — each level keeps its own bucket
  * layout, so the zero-corpus-exchange probe contract survives where
  * a UNION of bucketed scans would not), with an LSM-style compaction
  * once `maxLevels` is reached. Publish cost is therefore ∝ delta,
  * not ∝ index. The MATCH index append alone still rewrites its
  * members: the hot-anchor cap and sub assignments are functions of
  * GLOBAL occurrence counts across base ∪ delta, so existing anchor
  * rows can change on append and the bit-identical-to-rebuild
  * contract (q201) rules leveling out — documented trade: that index
  * pays an index-sized (but text-derivation-free) publish.
  */
object StandingIndex {

  /** Default compaction trigger for the NEAR-DUP index — 4, not the
    * chunk/match families' 8, from the round-15 IdxPublishBench
    * maxLevels sweep (sf1, interleaved probe MINs): the near-dup
    * probe pays ~0.5 s PER LEVEL (bucket collision + Jaccard verify
    * each level: 1.20 s at 2 levels, 2.33 at 4, 4.20 at 8) and its
    * appends also grow with the live-level count (the delta id-gates
    * against every level: totals 14.6 / 16.0 / 22.9 s over 7 appends
    * at maxLevels 2/4/8), while the chunk probe is level-FLAT
    * (0.42–0.57 s anywhere on the curve, appends flat 4→8). 4 halves
    * the probe tax vs 8 and keeps the corpus-rewrite amortization 4×
    * better than 2; see PLANS round 15 for the full table.
    */
  val NearDupMaxLevels: Int = 4

  /** One persisted member table of an index build. `bucketKeys` empty
    * = plain small table (the hot list).
    */
  private final case class Member(suffix: String, df: DataFrame,
                                  bucketKeys: Seq[String] = Nil,
                                  nBuckets: Int = 0,
                                  sortKeys: Seq[String] = Nil)

  private def fq(db: String, name: String, v: Int, suffix: String) =
    s"$db.${name}__v${v}__$suffix"

  /** Member tables of every version, as (version, table name), read
    * from the session catalog directly (no SQL command).
    */
  private def versionTables(spark: SparkSession, db: String,
                            name: String): Seq[(Int, String)] = {
    val re = (Pattern.quote(name) + "__v(\\d+)__.+").r
    if (!spark.catalog.databaseExists(db)) Nil
    else spark.sessionState.catalog.listTables(db, s"${name}__v*")
      .map(_.table).collect { case t @ re(v) => (v.toInt, t) }
  }

  /** Version numbers with at least one member table present. */
  private def versions(spark: SparkSession, db: String,
                       name: String): Seq[Int] =
    versionTables(spark, db, name).map(_._1).distinct.sorted

  /** The live manifest row (version + build parameters), or None if
    * the index has never been committed.
    */
  def manifest(spark: SparkSession, db: String,
               name: String): Option[Row] =
    if (!spark.catalog.databaseExists(db) ||
        !spark.catalog.tableExists(s"$db.$name")) None
    else Some(spark.table(s"$db.$name").collect().head)

  private def manifestOrThrow(spark: SparkSession, db: String, name: String,
                              expectKind: String): Row = {
    val m = manifest(spark, db, name).getOrElse(throw new
      IllegalArgumentException(s"no standing index at $db.$name — run " +
        s"the matching build$expectKind first"))
    val kind = m.getAs[String]("kind")
    require(kind == expectKind,
      s"$db.$name is a $kind index, not a $expectKind index")
    m
  }

  /** Resolve a member table of the LIVE version through the manifest. */
  private def member(spark: SparkSession, db: String, name: String,
                     m: Row, suffix: String): DataFrame =
    spark.table(fq(db, name, m.getAs[Int]("version"), suffix))

  /** Versions whose member tables a manifest row still REFERENCES by
    * fully-qualified name in any of its string fields — the leveled
    * appends (chunk/neardup/ann) carry older versions' level tables
    * forward instead of rewriting them, and the GC must treat those
    * as live. Scanning every string meta field for the
    * `name__v<N>__` pattern keeps the contract generic: any future
    * cross-version reference is GC-safe by construction.
    */
  private def referencedVersions(name: String, m: Row): Set[Int] = {
    val re = (Pattern.quote(name) + "__v(\\d+)__").r
    (0 until m.length).flatMap(i => m.get(i) match {
      case s: String => re.findAllMatchIn(s).map(_.group(1).toInt).toSeq
      case _ => Nil
    }).toSet
  }

  /** Comma-joined FQ level-table list from a `levels`-style manifest
    * field; empty when the field is absent (pre-leveled manifests).
    */
  private def levelTables(m: Row, field: String): Seq[String] =
    metaString(m, field)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  private def commit(spark: SparkSession, db: String, name: String,
                     kind: String, members: Seq[Member],
                     metaSql: Seq[String]): Int =
    commitVersioned(spark, db, name, kind, members, _ => metaSql)

  /** Write every member at version N, flip the manifest view (THE
    * commit), GC versions that are neither live, superseded-but-
    * draining, nor referenced by the live or superseded manifest
    * (leveled appends reference older versions' tables by FQ name in
    * their meta). `metaSql` sees the version number so level lists
    * can name the tables being committed.
    */
  private def commitVersioned(spark: SparkSession, db: String, name: String,
                              kind: String, members: Seq[Member],
                              metaSql: Int => Seq[String]): Int = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val prevManifest = manifest(spark, db, name)
    val prev = prevManifest.map(_.getAs[Int]("version"))
    val next = versions(spark, db, name).maxOption.getOrElse(-1) + 1
    members.foreach { mm =>
      val frame =
        if (mm.bucketKeys.isEmpty) mm.df
        // one file per bucket, or Spark re-sorts every bucket at read
        // time and the no-Sort half of the co-located probe is lost
        else mm.df.repartition(mm.nBuckets, mm.bucketKeys.map(col): _*)
      val base = frame.write.mode("overwrite")
      val w =
        if (mm.bucketKeys.isEmpty) base
        else {
          val sk = if (mm.sortKeys.nonEmpty) mm.sortKeys else mm.bucketKeys
          base.bucketBy(mm.nBuckets, mm.bucketKeys.head,
              mm.bucketKeys.tail: _*)
            .sortBy(sk.head, sk.tail: _*)
        }
      w.saveAsTable(fq(db, name, next, mm.suffix))
    }
    val meta = (Seq(s"$next AS version", s"'$kind' AS kind")
      ++ metaSql(next)).mkString(", ")
    Lakehouse.swapView(spark, db, name, s"AS SELECT $meta")
    // retain the superseded version for in-flight probes, plus every
    // version either manifest still references; GC the rest
    val keep = Set(next) ++ prev ++
      prevManifest.map(referencedVersions(name, _)).getOrElse(Set.empty) ++
      referencedVersions(name, spark.table(s"$db.$name").collect().head)
    versionTables(spark, db, name).filterNot { case (v, _) => keep(v) }
      .foreach { case (_, t) => spark.sql(s"DROP TABLE IF EXISTS $db.$t") }
    next
  }

  // ------------------------------------------------- maximal matches

  /** Build/refresh the standing anchor index for
    * [[Dedup.incrementalMaximalMatches]]-style screening. Returns the
    * committed version.
    */
  def buildMatchIndex(spark: SparkSession, corpus: DataFrame,
                      content: Column, id: Column, minLen: Int = 20,
                      maxAnchorOccurrences: Int = 1 << 20,
                      nBuckets: Int = 64, db: String = "graft_idx",
                      name: String = "match_idx"): Int = {
    val (anchors, hot, toks) = Dedup.matchIndexFrames(corpus, content, id,
      minLen, maxAnchorOccurrences)
    commit(spark, db, name, "match", Seq(
      // bucketed on BOTH probe-join keys: bucket keys must equal the
      // join keys for EnsureRequirements to accept the bucket layout
      // as the join's partitioning (a gh-only bucketing is merely a
      // subset and Spark re-shuffles both sides); (gh, sub) also
      // spreads a capped hot gh's rows across buckets
      Member("anchors", anchors, Seq("gh", "sub"), nBuckets),
      Member("toks", toks, Seq("corpus_id"), nBuckets),
      Member("hot", hot)),
      Seq(s"$minLen AS min_len",
        s"$maxAnchorOccurrences AS max_anchor_occurrences",
        s"$nBuckets AS n_buckets"))
  }

  /** Loud append-contract gate: the delta of an incremental publish
    * must hold only NEW document ids — an id already in the index
    * would duplicate its derived rows (the union carries both copies)
    * and silently corrupt every future probe. One bucket-side-cheap
    * membership join (the indexed side reads its buckets, the small
    * delta id set broadcasts); fails with remediation text, the house
    * bounded-gate style.
    */
  private def requireNewIds(indexed: DataFrame, deltaIds: DataFrame,
                            key: String, what: String): Unit = {
    val overlap = indexed.select(key).join(deltaIds, Seq(key)).limit(1).count()
    require(overlap == 0,
      s"append on $what: the delta contains document ids already in the " +
        "live index. Publish is append-only over LIVE ids; deletes go " +
        "through deleteFromNearDupIndex/deleteFromAnnIndex/" +
        "deleteFromChunkIndex (generation-stamped tombstones), and an " +
        "UPDATE is delete followed by append of the corrected rows — " +
        "the stamp kills only the older generation, so the re-insert " +
        "survives probes.")
  }

  // --------------------------------------------- incremental publish

  /** Incremental publish of the live match index (round 13, the
    * VERDICT-r12 #4 item): version N+1 is built from the CURRENT
    * member tables ∪ the delta batch's derived frames — the indexed
    * corpus is never re-read, re-tokenized, or re-shingled. Only the
    * delta pays text-side derivation; the union then pays the
    * occurrence recount (over derived anchor rows, not text) and the
    * bucket rewrite the one-file-per-bucket sort contract requires.
    * The hot list and every sub assignment are pure functions of the
    * occurrence frame ([[Dedup.matchIndexFromOccurrences]] — the ONE
    * construction shared with the full build), so the committed
    * members are bit-identical to a full rebuild over base ∪ delta:
    * probes cannot tell which publish path produced the version
    * (q201's oracle gates exactly that). Same atomic manifest-flip
    * commit; a crash mid-append leaves the old version live.
    */
  def appendMatchIndex(spark: SparkSession, delta: DataFrame,
                       content: Column, id: Column,
                       db: String = "graft_idx",
                       name: String = "match_idx"): Int = {
    val m = manifestOrThrow(spark, db, name, "match")
    val minLen = m.getAs[Int]("min_len")
    val cap = m.getAs[Int]("max_anchor_occurrences")
    val nBuckets = m.getAs[Int]("n_buckets")
    val oldAnchors = member(spark, db, name, m, "anchors")
    val oldToks = member(spark, db, name, m, "toks")
    val toksD = Dedup.splitToksMin(delta, content, id, minLen)
    requireNewIds(oldToks, toksD.select(col("doc_id").as("corpus_id")),
      "corpus_id", s"$db.$name")
    val aU = oldAnchors.select("gh", "corpus_id", "pos_c")
      .unionByName(Dedup.anchorGrams(toksD, minLen)
        .select(col("gh"), col("doc_id").as("corpus_id"),
          col("pos").as("pos_c")))
    val (anchors, hot) = Dedup.matchIndexFromOccurrences(aU, cap)
    commit(spark, db, name, "match", Seq(
      Member("anchors", anchors, Seq("gh", "sub"), nBuckets),
      Member("toks", oldToks.unionByName(toksD.select(
        col("doc_id").as("corpus_id"), col("toks").as("tc"))),
        Seq("corpus_id"), nBuckets),
      Member("hot", hot)),
      Seq(s"$minLen AS min_len", s"$cap AS max_anchor_occurrences",
        s"$nBuckets AS n_buckets"))
  }

  /** FQ level tables of a leveled index, falling back to the single
    * same-version member for manifests written before levels existed.
    */
  private def levelsOrMember(db: String, name: String, m: Row,
                             field: String, suffix: String): Seq[String] =
    levelTables(m, field) match {
      case Nil => Seq(fq(db, name, m.getAs[Int]("version"), suffix))
      case l   => l
    }

  /** Incremental publish of the live chunk index — LEVELED (round 14,
    * the verdict-r13 append-economics item): the former append
    * unioned the delta into the full digest member and REWROTE every
    * bucket, so publish cost grew with INDEX size, not delta size —
    * at 100 TB that re-pays a corpus-scale write per day. Now the
    * delta's digests (anti-joined against every live level, so the
    * level set stays globally distinct — each anti-join streams the
    * bucketed level and shuffles only the delta) are written as ONE
    * NEW LEVEL table; the live levels carry over by reference in the
    * manifest's `levels` list, untouched on disk. Probes chain one
    * anti-join per level ([[probeChunks]]) — still zero corpus-side
    * exchange, the batch side pays |levels| joins instead of 1.
    * When the list would exceed `maxLevels`, the publish COMPACTS:
    * all levels ∪ delta rewrite as a single level (cost ∝ index, paid
    * once per maxLevels publishes — the standard LSM amortization).
    * Same atomic manifest flip; the GC keeps every version a live or
    * draining manifest references.
    */
  def appendChunkIndex(spark: SparkSession, delta: DataFrame,
                       content: Column, id: Column,
                       db: String = "graft_idx",
                       name: String = "chunk_idx",
                       maxLevels: Int = 8): Int = {
    require(maxLevels >= 1, s"maxLevels ($maxLevels) must be >= 1")
    val m = manifestOrThrow(spark, db, name, "chunk")
    val ct = m.getAs[Int]("chunk_tokens")
    val nBuckets = m.getAs[Int]("n_buckets")
    val old = levelsOrMember(db, name, m, "levels", "fps")
    val oldFpdocs = chunkSidecarLevels(db, name, m)
    // append-only gate over the LIVE id set (the match/neardup/ANN
    // discipline, enabled for chunks by the round-17 sidecar): a
    // fully-shadowed (tombstoned) id is re-insertable — delete →
    // append is the first-class UPDATE.
    requireNewIds(liveChunkSidecar(spark, m, oldFpdocs).select("doc_id"),
      delta.select(id.as("doc_id")).distinct(), "doc_id", s"$db.$name")
    val deltaFpdocs = TextAnalysis.corpusChunkFpDocs(delta, content, id, ct)
    val deltaFpsAll = deltaFpdocs.select("fp").distinct()
    val deltaFps = old.foldLeft(deltaFpsAll)(
      (acc, t) => acc.join(spark.table(t), Seq("fp"), "left_anti"))
    val metaBase = Seq(s"$ct AS chunk_tokens", s"$nBuckets AS n_buckets")
    if (old.size >= maxLevels) {
      // compaction FOLDS: live sidecar rows (generation-shadowed docs
      // dropped) ∪ the delta's; the fps member is their distinct fp
      // set — which also folds the dead-fp list out (a dead fp has no
      // live referencing row by the fp-tomb invariant). Tombs clear.
      val foldedFpdocs = liveChunkSidecar(spark, m, oldFpdocs)
        .drop("__lvl").unionByName(deltaFpdocs)
      commitVersioned(spark, db, name, "chunk", Seq(
        Member("fps", foldedFpdocs.select("fp").distinct(),
          Seq("fp"), nBuckets),
        Member("fpdocs", foldedFpdocs, Seq("fp"), nBuckets)),
        v => metaBase ++ Seq(
          s"'${fq(db, name, v, "fps")}' AS levels",
          s"'${fq(db, name, v, "fpdocs")}' AS levels_fpdocs"))
    } else {
      val lvlF = s"fps_l${old.size}"
      val lvlD = s"fpdocs_l${old.size}"
      // fp-tomb REVIVAL: a delta that re-references a dead digest
      // makes it live again — it must leave the dead list (its
      // physical copy in an older level resumes serving probes; the
      // level anti-join above keeps the new level globally distinct
      // either way). The doc tombstones carry over untouched: their
      // generation stamps already exempt the new level.
      val fpTomb = metaString(m, "fp_tomb_tab").flatMap { t =>
        val kept = spark.table(t)
          .join(deltaFpsAll, Seq("fp"), "left_anti")
        if (kept.limit(1).count() == 0) None else Some(kept)
      }
      commitVersioned(spark, db, name, "chunk",
        Seq(
          Member(lvlF, deltaFps, Seq("fp"), nBuckets),
          Member(lvlD, deltaFpdocs, Seq("fp"), nBuckets)) ++
          fpTomb.map(Member("fptomb", _)),
        v => metaBase ++
          metaString(m, "tomb_tab").map(t => s"'$t' AS tomb_tab") ++
          fpTomb.map(_ => s"'${fq(db, name, v, "fptomb")}' AS fp_tomb_tab") ++
          Seq(
            s"'${(old :+ fq(db, name, v, lvlF)).mkString(",")}' AS levels",
            s"'${(oldFpdocs :+ fq(db, name, v, lvlD)).mkString(",")}' AS levels_fpdocs"))
    }
  }

  /** The sidecar level tables of a delete-capable chunk index —
    * loud-fails on a pre-round-17 layout (distinct digests only, no
    * reference pairs): rebuild with [[buildChunkIndex]] to gain the
    * delete/upsert lifecycle.
    */
  private def chunkSidecarLevels(db: String, name: String, m: Row): Seq[String] = {
    val l = levelTables(m, "levels_fpdocs")
    require(l.nonEmpty,
      s"$db.$name was built before the (fp, doc_id) reference sidecar " +
        "existed — its digest member cannot attribute digests to " +
        "documents, so append gates and deletes are undefined on it. " +
        "Rebuild with buildChunkIndex to get the delete-capable layout.")
    l
  }

  /** Live (unshadowed) sidecar rows of a chunk index: (fp, doc_id,
    * __lvl) minus the generations the doc tombstones kill.
    */
  private def liveChunkSidecar(spark: SparkSession, m: Row,
                               sidecarLevels: Seq[String]): DataFrame = {
    val all = unionWithOrdinal(spark, sidecarLevels)
      .select("fp", "doc_id", "__lvl")
    tombTable(m).fold(all)(t => dropShadowed(all, spark.table(t), "doc_id"))
  }

  /** Retire documents from the live chunk index — the refcount-style
    * DELETE the shared-digest layout needs (r16 verdict item 4;
    * the Scaladoc that used to declare this impossible described the
    * pre-sidecar layout): a digest is live while ≥ 1 LIVE document
    * references it, so deleting ids kills exactly the digests whose
    * referencing docs are now all retired. The publish is
    * O(deleted docs' digests), never O(index): the corpus-sized fps
    * and fpdocs levels carry over by manifest reference; the delete
    * writes (a) the merged generation-stamped doc tombstones (the
    * [[deleteFromAnnIndex]] shadow algebra on doc_id — so delete →
    * re-append is a first-class UPDATE here too) and (b) the DEAD-FP
    * list: digests of the deleted docs' live generations minus those
    * any surviving live row still references — candidates broadcast
    * against the fp-bucketed sidecar scans, so nothing corpus-sized
    * shuffles. Probes treat dead digests as absent
    * ([[TextAnalysis.chunkDedupAgainstFpLevels]]'s un-kill branch),
    * making probe-after-delete EXACTLY the probe of an index rebuilt
    * over corpus-minus-deleted (q218's oracle replays that full
    * pipeline). The next compaction folds both lists out.
    *
    * Invariant maintained everywhere: fp_tomb = digests physically
    * present in some level with ZERO live referencing sidecar rows.
    * Appends that re-reference a dead digest revive it (remove it
    * from the list); compactions rewrite members to the live set and
    * clear both lists.
    */
  def deleteFromChunkIndex(spark: SparkSession, ids: DataFrame,
                           db: String = "graft_idx",
                           name: String = "chunk_idx"): Int = {
    val m = manifestOrThrow(spark, db, name, "chunk")
    val del = ids.select(col("doc_id").cast(LongType).as("doc_id")).distinct()
    val fpsLevels = levelsOrMember(db, name, m, "levels", "fps")
    val sidecar = chunkSidecarLevels(db, name, m)
    requireLiveIds(spark, m, del,
      unionWithOrdinal(spark, sidecar).select("doc_id", "__lvl"),
      "doc_id", s"$db.$name")
    val live = liveChunkSidecar(spark, m, sidecar)
    // digests the retired docs reference (their live generation only)
    val candidates = live.join(broadcast(del), Seq("doc_id"), "left_semi")
      .select("fp").distinct()
    // ... minus digests any SURVIVING live row still references: the
    // candidate list broadcasts into the fp-bucketed sidecar scans
    // (map-only), the delete set broadcasts into the doc filter
    val surviving = live.join(broadcast(candidates), Seq("fp"), "left_semi")
      .join(broadcast(del), Seq("doc_id"), "left_anti")
      .select("fp").distinct()
    val dead = candidates.join(surviving, Seq("fp"), "left_anti")
    val newFpTomb = metaString(m, "fp_tomb_tab")
      .map(t => spark.table(t).unionByName(dead).distinct())
      .getOrElse(dead)
    val newDocTomb = mergedTomb(spark, m, del, "doc_id", fpsLevels.size)
    commitVersioned(spark, db, name, "chunk",
      Seq(Member("doctomb", newDocTomb), Member("fptomb", newFpTomb)),
      v => Seq(s"${m.getAs[Int]("chunk_tokens")} AS chunk_tokens",
        s"${m.getAs[Int]("n_buckets")} AS n_buckets",
        s"'${fpsLevels.mkString(",")}' AS levels",
        s"'${sidecar.mkString(",")}' AS levels_fpdocs",
        s"'${fq(db, name, v, "doctomb")}' AS tomb_tab",
        s"'${fq(db, name, v, "fptomb")}' AS fp_tomb_tab"))
  }

  /** Explicit level-collapse of the live chunk index — the
    * [[compactNearDupIndex]] maintenance motion: a probe pays one
    * anti-join PER LEVEL (plus, after deletes, the dead-fp un-kill
    * branch), so an index grown by many small appends that stopped
    * arriving never amortizes its level tax without this. The live
    * sidecar (generation-shadowed rows dropped) is the compacted
    * reference state; its distinct fp set is the compacted digest
    * member — which excludes every dead digest, so both tombstone
    * lists clear. Idempotent.
    */
  def compactChunkIndex(spark: SparkSession, db: String = "graft_idx",
                        name: String = "chunk_idx"): Int = {
    val m = manifestOrThrow(spark, db, name, "chunk")
    val nBuckets = m.getAs[Int]("n_buckets")
    // the live sidecar IS the compacted state: generation-shadowed
    // rows drop, and the rewritten fps member (its distinct fp set)
    // therefore drops every dead digest too — both tomb lists clear
    val foldedFpdocs = liveChunkSidecar(spark, m,
      chunkSidecarLevels(db, name, m)).drop("__lvl")
    commitVersioned(spark, db, name, "chunk", Seq(
      Member("fps", foldedFpdocs.select("fp").distinct(),
        Seq("fp"), nBuckets),
      Member("fpdocs", foldedFpdocs, Seq("fp"), nBuckets)),
      v => Seq(s"${m.getAs[Int]("chunk_tokens")} AS chunk_tokens",
        s"$nBuckets AS n_buckets",
        s"'${fq(db, name, v, "fps")}' AS levels",
        s"'${fq(db, name, v, "fpdocs")}' AS levels_fpdocs"))
  }

  /** Incremental publish of the live near-dup index — LEVELED (round
    * 14, like [[appendChunkIndex]]): both members are per-document
    * maps (band rows, shingle sets), disjoint from the live index by
    * the id gate, so the delta's derivations publish as one new
    * (banded, base) LEVEL PAIR and the live levels carry over by
    * manifest reference — nothing corpus-sized rewrites, publish cost
    * ∝ delta. The probe runs per level and unions the (small) pair
    * results ([[probeNearDups]]) — exact, because a candidate pair's
    * corpus document lives in exactly one level, so both the bucket
    * collision and the Jaccard verify of that pair are contained in
    * its level's probe. Past `maxLevels` the publish compacts (the
    * LSM amortization).
    */
  def appendNearDupIndex(spark: SparkSession, delta: DataFrame,
                         content: Column, id: Column,
                         db: String = "graft_idx",
                         name: String = "neardup_idx",
                         maxLevels: Int = NearDupMaxLevels): Int = {
    require(maxLevels >= 1, s"maxLevels ($maxLevels) must be >= 1")
    val m = manifestOrThrow(spark, db, name, "neardup")
    val (n, k, bands) = (m.getAs[Int]("n"), m.getAs[Int]("k"),
      m.getAs[Int]("bands"))
    val nBuckets = m.getAs[Int]("n_buckets")
    val oldBanded = levelsOrMember(db, name, m, "levels_banded", "banded")
    val oldBase = levelsOrMember(db, name, m, "levels_base", "base")
    // append-only gate over the LIVE id set (fully-shadowed ids are
    // re-insertable — the generation-stamp upsert, see the ANN twin)
    val liveIds = {
      val all = unionWithOrdinal(spark, oldBase).select("doc_id", "__lvl")
      tombTable(m).fold(all)(t => dropShadowed(all, spark.table(t),
        "doc_id"))
    }
    requireNewIds(liveIds,
      delta.select(id.as("doc_id")).distinct(), "doc_id", s"$db.$name")
    val baseD = Dedup.minhashBase(delta, content, id, n)
    val metaBase = Seq(s"$n AS n", s"$k AS k", s"$bands AS bands",
      s"$nBuckets AS n_buckets")
    val tomb = tombTable(m)
    if (oldBanded.size >= maxLevels) {
      // compaction FOLDS the tombstones out of BOTH rewritten members
      // and clears the list — level-aware, so a re-inserted doc's
      // newer generation survives (the ANN-delete discipline)
      def fold(levels: Seq[String], deltaPart: DataFrame): DataFrame = {
        val unioned = unionWithOrdinal(spark, levels)
          .unionByName(deltaPart.withColumn("__lvl", lit(levels.size)))
        tomb.fold(unioned)(t =>
          dropShadowed(unioned, spark.table(t), "doc_id")).drop("__lvl")
      }
      commitVersioned(spark, db, name, "neardup", Seq(
        Member("banded",
          fold(oldBanded, Dedup.minhashBanded(baseD, k, bands)),
          Seq("bucket"), nBuckets),
        Member("base",
          fold(oldBase, baseD.select(col("doc_id"), col("sh"))),
          Seq("doc_id"), nBuckets)),
        v => metaBase ++ Seq(
          s"'${fq(db, name, v, "banded")}' AS levels_banded",
          s"'${fq(db, name, v, "base")}' AS levels_base"))
    } else {
      val i = oldBanded.size
      commitVersioned(spark, db, name, "neardup", Seq(
        Member(s"banded_l$i", Dedup.minhashBanded(baseD, k, bands),
          Seq("bucket"), nBuckets),
        Member(s"base_l$i", baseD.select(col("doc_id"), col("sh")),
          Seq("doc_id"), nBuckets)),
        v => metaBase ++ tomb.map(t => s"'$t' AS tomb_tab") ++ Seq(
          s"'${(oldBanded :+ fq(db, name, v, s"banded_l$i")).mkString(",")}' AS levels_banded",
          s"'${(oldBase :+ fq(db, name, v, s"base_l$i")).mkString(",")}' AS levels_base"))
    }
  }

  /** Probe a batch against the live match index: every maximal
    * cross-side verbatim match ≥ min_len tokens — (batch_id, pos_b,
    * corpus_id, pos_c, match_len), `Dedup.incrementalMaximalMatches`'s
    * exact output, with the corpus side read from the bucketed tables
    * (no corpus tokenize/shingle/shuffle at probe time).
    */
  def probeMatches(spark: SparkSession, batch: DataFrame, content: Column,
                   id: Column, db: String = "graft_idx",
                   name: String = "match_idx"): DataFrame = {
    val m = manifestOrThrow(spark, db, name, "match")
    Dedup.probeMatchFrames(
      member(spark, db, name, m, "anchors"),
      member(spark, db, name, m, "hot"),
      member(spark, db, name, m, "toks"),
      batch, content, id, m.getAs[Int]("min_len"))
  }

  // ------------------------------------------------------ chunk dedup

  /** Build/refresh the standing distinct chunk-digest index for
    * [[TextAnalysis.chunkDedupIncremental]]-style screening.
    */
  def buildChunkIndex(spark: SparkSession, corpus: DataFrame,
                      content: Column, id: Column, chunkTokens: Int = 8,
                      nBuckets: Int = 64, db: String = "graft_idx",
                      name: String = "chunk_idx"): Int = {
    // the (fp, doc_id) sidecar (round 17) is what makes the family
    // delete-capable: digests are SHARED across documents, so
    // retire-by-id needs reference attribution — see
    // [[deleteFromChunkIndex]]. Probes never read it; it is bucketed
    // on fp so delete-time liveness checks broadcast into its buckets.
    val fpdocs = TextAnalysis.corpusChunkFpDocs(corpus, content, id,
      chunkTokens)
    commitVersioned(spark, db, name, "chunk", Seq(
      Member("fps", fpdocs.select("fp").distinct(), Seq("fp"), nBuckets),
      Member("fpdocs", fpdocs, Seq("fp"), nBuckets)),
      v => Seq(s"$chunkTokens AS chunk_tokens", s"$nBuckets AS n_buckets",
        s"'${fq(db, name, v, "fps")}' AS levels",
        s"'${fq(db, name, v, "fpdocs")}' AS levels_fpdocs"))
  }

  /** Probe a batch against the live chunk index —
    * `TextAnalysis.chunkDedupIncremental`'s exact output (per batch
    * doc: chunk counts and the reassembled dedup_text), corpus side =
    * one anti-join against the bucketed digest table.
    */
  def probeChunks(spark: SparkSession, batch: DataFrame, content: Column,
                  id: Column, db: String = "graft_idx",
                  name: String = "chunk_idx"): DataFrame = {
    val m = manifestOrThrow(spark, db, name, "chunk")
    TextAnalysis.chunkDedupAgainstFpLevels(
      levelsOrMember(db, name, m, "levels", "fps").map(spark.table),
      batch, content, id, m.getAs[Int]("chunk_tokens"),
      // dead digests (zero live referencing docs, awaiting the next
      // compaction fold) must not count as corpus hits — see
      // [[deleteFromChunkIndex]]
      deadFps = metaString(m, "fp_tomb_tab").map(spark.table))
  }

  // -------------------------------------------------- near-dup (LSH)

  /** Build/refresh the standing MinHash-LSH index for
    * [[Dedup.incrementalNearDups]]-style screening: the band table
    * (candidate generation) and the shingle-set table (exact Jaccard
    * verification).
    */
  def buildNearDupIndex(spark: SparkSession, corpus: DataFrame,
                        content: Column, id: Column, n: Int = 3,
                        k: Int = 8, bands: Int = 4, nBuckets: Int = 64,
                        db: String = "graft_idx",
                        name: String = "neardup_idx"): Int = {
    require(k % bands == 0, "k must divide into bands")
    val base = Dedup.minhashBase(corpus, content, id, n)
    commitVersioned(spark, db, name, "neardup", Seq(
      Member("banded", Dedup.minhashBanded(base, k, bands),
        Seq("bucket"), nBuckets),
      Member("base", base.select(col("doc_id"), col("sh")),
        Seq("doc_id"), nBuckets)),
      v => Seq(s"$n AS n", s"$k AS k", s"$bands AS bands",
        s"$nBuckets AS n_buckets",
        s"'${fq(db, name, v, "banded")}' AS levels_banded",
        s"'${fq(db, name, v, "base")}' AS levels_base"))
  }

  /** Probe a batch against the live near-dup index —
    * `Dedup.incrementalNearDups`'s exact output (new_id, dup_of,
    * jaccard ≥ threshold); the batch's band table broadcasts, the
    * corpus tables stream from their buckets. Leveled indexes probe
    * each (banded, base) level pair independently and union the
    * (small) pair results — a candidate's corpus document lives in
    * exactly one level, so per-level results are disjoint and their
    * union equals the single-table probe; the batch side re-derives
    * per level, bounded by maxLevels and batch-sized.
    */
  def probeNearDups(spark: SparkSession, batch: DataFrame, content: Column,
                    id: Column, threshold: Double = 0.8,
                    db: String = "graft_idx",
                    name: String = "neardup_idx"): DataFrame = {
    val m = manifestOrThrow(spark, db, name, "neardup")
    val banded = levelsOrMember(db, name, m, "levels_banded", "banded")
    val base = levelsOrMember(db, name, m, "levels_base", "base")
    // tombstoned corpus docs (retired generations awaiting the next
    // compaction fold) drop out of each LEVEL's pair results: every
    // (new_id, dup_of) pair is independent — no ranking — so the
    // level-aware filter (a tombstone kills only pairs whose corpus
    // doc lives in a level below its stamp; a re-inserted doc's newer
    // level survives) is EXACTLY the probe of a rebuilt index without
    // the retired generations (q216's gate). The filter sits on the
    // batch-bounded per-level output; until the fold, retired docs
    // still pay candidate generation — the documented tombstone trade.
    val tombDf = tombTable(m).map(t => spark.table(t))
    banded.zip(base).zipWithIndex.map { case ((bt, st), i) =>
      val p = Dedup.lookupNearDups(
        Dedup.MinHashIndex(
          spark.table(st), spark.table(bt),
          m.getAs[Int]("n"), m.getAs[Int]("k"), m.getAs[Int]("bands")),
        batch, content, id, threshold)
      // project BOTH branches to p's own schema (r16 ADVICE): the
      // anti-join can reorder columns, and a future lookupNearDups
      // column must not make the probe schema tombstone-dependent
      tombDf.fold(p)(t =>
          p.join(broadcast(t),
            p("dup_of") === t("doc_id") && lit(i) < t("dead_below"),
            "left_anti"))
        .select(p.columns.toSeq.map(col): _*)
    }.reduce(_.unionByName(_))
  }

  /** Retire documents from the live near-dup index — the DELETE half
    * of its LSM lifecycle, [[deleteFromAnnIndex]]'s twin on doc_id:
    * ids land in a tombstone member (O(tombstones) publish; the band
    * and shingle levels carry over by manifest reference), probes
    * anti-join the list on the corpus side of every pair, and the
    * next compaction ([[appendNearDupIndex]] past `maxLevels`) folds
    * the tombstones out of both rewritten members and clears the
    * list. Unlike ANN's rank semantics, near-dup pairs are
    * independent, so probe-after-delete is EXACTLY the probe of a
    * full rebuild without the retired docs — the strongest possible
    * oracle, and q216 gates it against the full SQL replay over
    * corpus-minus-deleted.
    *
    * The chunk index gained its delete in round 17 via the
    * (fp, doc_id) reference sidecar ([[deleteFromChunkIndex]]). The
    * MATCH index remains the one family without retire-by-id: its
    * hot-cap/sub splits are functions of GLOBAL occurrence counts, so
    * a retire that merely removed the deleted docs' rows would drift
    * from rebuild semantics whenever the cap binds (a gh capped
    * because of the deleted docs' occurrences would stay split/capped
    * after the delete where a rebuild would uncap it) — documented
    * rebuild-instead semantics.
    */
  /** Explicit compaction of the live near-dup index — the maintenance
    * motion a pure-delete workload needs: without it, tombstones only
    * fold when an APPEND happens to cross `maxLevels`, so a corpus
    * that shrinks (GDPR erasure, licence withdrawal) would pay the
    * probe-side anti-join and the retired docs' candidate generation
    * forever. Rewrites all levels as one (minus tombstones) and
    * clears the list — the same fold the append-triggered compaction
    * runs, callable on its own schedule. Idempotent: compacting a
    * 1-level tombstone-free index recommits an identical layout.
    */
  def compactNearDupIndex(spark: SparkSession, db: String = "graft_idx",
                          name: String = "neardup_idx"): Int = {
    val m = manifestOrThrow(spark, db, name, "neardup")
    def folded(field: String, suffix: String): DataFrame = {
      val unioned = unionWithOrdinal(spark,
        levelsOrMember(db, name, m, field, suffix))
      tombTable(m).fold(unioned)(t =>
        dropShadowed(unioned, spark.table(t), "doc_id")).drop("__lvl")
    }
    val nBuckets = m.getAs[Int]("n_buckets")
    commitVersioned(spark, db, name, "neardup", Seq(
      Member("banded", folded("levels_banded", "banded"),
        Seq("bucket"), nBuckets),
      Member("base", folded("levels_base", "base"),
        Seq("doc_id"), nBuckets)),
      v => Seq(s"${m.getAs[Int]("n")} AS n", s"${m.getAs[Int]("k")} AS k",
        s"${m.getAs[Int]("bands")} AS bands", s"$nBuckets AS n_buckets",
        s"'${fq(db, name, v, "banded")}' AS levels_banded",
        s"'${fq(db, name, v, "base")}' AS levels_base"))
  }

  def deleteFromNearDupIndex(spark: SparkSession, ids: DataFrame,
                             db: String = "graft_idx",
                             name: String = "neardup_idx"): Int = {
    val m = manifestOrThrow(spark, db, name, "neardup")
    val del = ids.select(col("doc_id").cast(LongType).as("doc_id")).distinct()
    val baseLevels = levelsOrMember(db, name, m, "levels_base", "base")
    requireLiveIds(spark, m, del,
      unionWithOrdinal(spark, baseLevels).select("doc_id", "__lvl"),
      "doc_id", s"$db.$name")
    val newTomb = mergedTomb(spark, m, del, "doc_id", baseLevels.size)
    val metaBase = Seq(s"${m.getAs[Int]("n")} AS n",
      s"${m.getAs[Int]("k")} AS k", s"${m.getAs[Int]("bands")} AS bands",
      s"${m.getAs[Int]("n_buckets")} AS n_buckets")
    commitVersioned(spark, db, name, "neardup",
      Seq(Member("tomb", newTomb)),
      v => metaBase ++ Seq(
        s"'${levelsOrMember(db, name, m, "levels_banded", "banded")
          .mkString(",")}' AS levels_banded",
        s"'${levelsOrMember(db, name, m, "levels_base", "base")
          .mkString(",")}' AS levels_base",
        s"'${fq(db, name, v, "tomb")}' AS tomb_tab"))
  }

  // ----------------------------------------------------- ANN (IVFADC)

  /** Build/refresh the standing IVFADC retrieval index
    * ([[Similarity.ivfadcTopK]]'s train+encode half, persisted): the
    * coarse centroids (nCells rows), the residual PQ codebooks
    * (m·ksub rows), and the encoded corpus — one (cell, code_0..m−1)
    * row per vector, bucketed on `cell` so future cell-pruned scans
    * read only probed buckets. At 100 TB the two Lloyd trainings and
    * the corpus encode pass ARE the ANN cost; a standing index pays
    * them once per corpus publish, and every probe is then
    * batch-bounded: rank cells against the tiny persisted coarse
    * table, build LUTs against the tiny persisted books, broadcast
    * both into one scan of the codes member ([[probeAnn]]).
    *
    * `emb` carries the coarse seeds (vec_id < nCells) and the corpus
    * (vec_id ≥ corpusFrom) — [[Similarity.ivfadcTopK]]'s layout, so a
    * probe over the same split is row-identical to the inline
    * operator (q206's gate).
    */
  def buildAnnIndex(spark: SparkSession, emb: DataFrame, nCells: Int = 16,
                    m: Int = 4, ksub: Int = 16, corpusFrom: Long = 24,
                    iters: Int = 2, dim: Int = 64, nBuckets: Int = 16,
                    db: String = "graft_idx",
                    name: String = "ann_idx"): Int = {
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    val base = Similarity.ivfadcQueryFrame(emb)
      .select(col("query_id").as("vec_id"), col("qe").as("e"))
    val (coarseDf, booksDf, codes) =
      Similarity.ivfadcEncode(base, nCells, m, ksub, corpusFrom, iters, dim)
    commitVersioned(spark, db, name, "ann", Seq(
      Member("codes", codes, Seq("cell"), nBuckets,
        sortKeys = Seq("cell", "vec_id")),
      // centroid self-dots (cc/bcc) are derived at probe time by the
      // same dot kernel — persisting floats twice buys nothing
      Member("coarse", coarseDf.select("cell", "ce")),
      Member("books", booksDf.select("s", "code", "bce"))),
      v => Seq(s"$nCells AS n_cells", s"$m AS m", s"$ksub AS ksub",
        s"$iters AS iters", s"$dim AS dim", s"$nBuckets AS n_buckets",
        s"'${fq(db, name, v, "codes")}' AS levels_codes",
        s"'${fq(db, name, v, "coarse")}' AS coarse_tab",
        s"'${fq(db, name, v, "books")}' AS books_tab"))
  }

  /** FQ tombstone table of a live index version, if any — manifests
    * written before deletes existed, or whose tombstones were folded
    * by the last compaction, carry an empty/absent field. Shared by
    * the ANN (vec_id) and near-dup (doc_id) delete paths.
    */
  private def tombTable(m: Row): Option[String] =
    metaString(m, "tomb_tab")

  /** A string meta field that may be absent OR NULL: `Try(...).toOption`
    * alone yields `Some(null)` for a present-but-NULL field (r16
    * ADVICE) — flatMap through `Option(_)` so both degrade to None.
    */
  private def metaString(m: Row, field: String): Option[String] =
    scala.util.Try(m.getAs[String](field)).toOption.flatMap(Option(_))
      .map(_.trim).filter(_.nonEmpty)

  /** Union a leveled member's tables with every row stamped by its
    * LEVEL ORDINAL (position in the manifest's level list = append
    * order) as `__lvl` — the generation axis the tombstone shadow
    * semantics run on.
    */
  private def unionWithOrdinal(spark: SparkSession,
                               tables: Seq[String]): DataFrame =
    tables.zipWithIndex.map { case (t, i) =>
      spark.table(t).withColumn("__lvl", lit(i))
    }.reduce(_.unionByName(_))

  /** Generation-stamped shadow semantics (the upsert enabler): a
    * tombstone row (key, dead_below) kills exactly the rows of `key`
    * living in levels BELOW the stamp — levels published after the
    * delete (a re-insert) are untouched, so delete → append of the
    * same id is a first-class UPDATE instead of a rebuild. `df` must
    * carry `__lvl` ([[unionWithOrdinal]]); the tombstone list
    * broadcasts (≪ corpus, or you'd compact), keeping the anti-join
    * map-only.
    */
  private def dropShadowed(df: DataFrame, tomb: DataFrame,
                           key: String): DataFrame =
    df.join(broadcast(tomb),
      df(key) === tomb(key) && df("__lvl") < tomb("dead_below"),
      "left_anti")

  /** The loud liveness gate both delete paths share: every id being
    * retired must currently be LIVE (published, and not fully
    * shadowed by an earlier tombstone) — deleting an unknown id or
    * double-deleting is an upstream id-bookkeeping bug surfaced
    * immediately, never a silent no-op. `published` must carry
    * `__lvl`.
    */
  private def requireLiveIds(spark: SparkSession, m: Row, del: DataFrame,
                             published: DataFrame, key: String,
                             what: String): Unit = {
    val live = tombTable(m).fold(published)(t =>
      dropShadowed(published, spark.table(t), key)).select(key)
    val dead = del.join(live, Seq(key), "left_anti").limit(1).count()
    require(dead == 0,
      s"delete on $what: some ids are not live in the index (never " +
        "published, or already tombstoned). Deletes must name live " +
        "ids — a mismatch here is an upstream id-bookkeeping bug.")
  }

  /** Merge a delete batch into the live tombstone list: the new rows
    * stamp `dead_below = levels` (kill everything currently
    * published); a re-deleted id keeps its HIGHEST stamp, which
    * covers every older one.
    */
  private def mergedTomb(spark: SparkSession, m: Row, del: DataFrame,
                         key: String, levels: Int): DataFrame = {
    val stamped = del.withColumn("dead_below", lit(levels))
    tombTable(m).map(t => spark.table(t)).fold(stamped)(
        _.unionByName(stamped))
      .groupBy(key).agg(max("dead_below").as("dead_below"))
  }

  /** The build-parameter meta fields every ANN commit carries. */
  private def annMetaBase(m: Row, coarseTab: String,
                          booksTab: String): Seq[String] =
    Seq(s"${m.getAs[Int]("n_cells")} AS n_cells", s"${m.getAs[Int]("m")} AS m",
      s"${m.getAs[Int]("ksub")} AS ksub", s"${m.getAs[Int]("iters")} AS iters",
      s"${m.getAs[Int]("dim")} AS dim",
      s"${m.getAs[Int]("n_buckets")} AS n_buckets",
      s"'$coarseTab' AS coarse_tab", s"'$booksTab' AS books_tab")

  /** Retire vectors from the live ANN index — the DELETE half of the
    * LSM motion ([[appendAnnIndex]] is the INSERT half): the ids land
    * in a TOMBSTONE member; the corpus-sized code levels and the
    * quantizer tables carry over by manifest reference, untouched on
    * disk, so a delete costs O(tombstones), never O(index). Probes
    * anti-join the tombstones BEFORE ranking ([[probeAnn]]), so top-k
    * is computed over the surviving corpus — a tombstoned vector can
    * never shadow a live neighbor out of the result. The next
    * compaction ([[appendAnnIndex]] past `maxLevels`) folds the
    * tombstones into the rewritten code level and clears the list —
    * the standard LSM delete amortization. Quantizers are NOT
    * retrained (production delete semantics: the trained cell/code
    * geometry keeps the deleted vectors' influence until the next
    * full build — q215's oracle replays exactly that).
    *
    * Loud gates, house style: every id must be LIVE in the index —
    * deleting an unknown id or double-deleting is a pipeline bug
    * surfaced immediately, not a silent no-op.
    */
  /** Explicit compaction of the live ANN index —
    * [[compactNearDupIndex]]'s twin: all code levels rewrite as one,
    * minus tombstones; quantizer tables carry over by reference
    * (frozen, never rewritten). See the near-dup twin for why a
    * pure-delete workload needs this as its own motion.
    */
  def compactAnnIndex(spark: SparkSession, db: String = "graft_idx",
                      name: String = "ann_idx"): Int = {
    val m = manifestOrThrow(spark, db, name, "ann")
    val unioned = unionWithOrdinal(spark,
      levelsOrMember(db, name, m, "levels_codes", "codes"))
    val folded = tombTable(m).fold(unioned)(t =>
      dropShadowed(unioned, spark.table(t), "vec_id")).drop("__lvl")
    val coarseTab = levelsOrMember(db, name, m, "coarse_tab", "coarse").head
    val booksTab = levelsOrMember(db, name, m, "books_tab", "books").head
    val nBuckets = m.getAs[Int]("n_buckets")
    commitVersioned(spark, db, name, "ann", Seq(
      Member("codes", folded, Seq("cell"), nBuckets,
        sortKeys = Seq("cell", "vec_id"))),
      v => annMetaBase(m, coarseTab, booksTab) :+
        s"'${fq(db, name, v, "codes")}' AS levels_codes")
  }

  def deleteFromAnnIndex(spark: SparkSession, ids: DataFrame,
                         db: String = "graft_idx",
                         name: String = "ann_idx"): Int = {
    val m = manifestOrThrow(spark, db, name, "ann")
    val del = ids.select(col("vec_id").cast(LongType).as("vec_id")).distinct()
    val levels = levelsOrMember(db, name, m, "levels_codes", "codes")
    requireLiveIds(spark, m, del,
      unionWithOrdinal(spark, levels).select("vec_id", "__lvl"),
      "vec_id", s"$db.$name")
    val coarseTab = levelsOrMember(db, name, m, "coarse_tab", "coarse").head
    val booksTab = levelsOrMember(db, name, m, "books_tab", "books").head
    commitVersioned(spark, db, name, "ann",
      Seq(Member("tomb", mergedTomb(spark, m, del, "vec_id", levels.size))),
      v => annMetaBase(m, coarseTab, booksTab) ++ Seq(
        s"'${levels.mkString(",")}' AS levels_codes",
        s"'${fq(db, name, v, "tomb")}' AS tomb_tab"))
  }

  /** The live coarse/books quantizer tables: named by the manifest
    * (leveled manifests carry them by reference across appends —
    * frozen quantizers are never rewritten), falling back to the
    * same-version member for pre-leveled manifests.
    */
  private def annQuantizers(spark: SparkSession, db: String, name: String,
                            m: Row): (DataFrame, DataFrame) = {
    def one(field: String, suffix: String) =
      levelsOrMember(db, name, m, field, suffix) match {
        case Seq(t) => spark.table(t)
        case l => throw new IllegalStateException(
          s"$db.$name: expected exactly one $suffix table, got $l")
      }
    (one("coarse_tab", "coarse"), one("books_tab", "books"))
  }

  /** Incremental publish of the live ANN index — the FROZEN-QUANTIZER
    * append every production IVF system uses: new vectors are
    * assigned cells and PQ codes against the live version's trained
    * centroids (map-only, [[Similarity.ivfadcEncodeDelta]]). LEVELED
    * (round 14): the delta's codes publish as a new level table and
    * the live code levels AND the quantizer tables carry over by
    * manifest reference — the former append rewrote every code bucket
    * plus verbatim copies of coarse/books, so publish cost grew with
    * INDEX size; now it is ∝ delta, with the LSM compaction past
    * `maxLevels`. Probes union the cell-pruned level scans (map-only
    * against broadcast LUTs — no corpus-side exchange to lose).
    * Unlike the dedup appends this is NOT bit-identical to a full
    * rebuild (a rebuild would retrain on base ∪ delta) — it is the
    * documented approximation production trades for O(delta) publish
    * cost, and q207 gates it against an oracle that replays exactly
    * these semantics (train on the base slice, encode everything).
    */
  def appendAnnIndex(spark: SparkSession, delta: DataFrame,
                     db: String = "graft_idx",
                     name: String = "ann_idx",
                     maxLevels: Int = 8): Int = {
    require(maxLevels >= 1, s"maxLevels ($maxLevels) must be >= 1")
    val m = manifestOrThrow(spark, db, name, "ann")
    val (nCells, pqM, ksub, iters, dim, nBuckets) =
      (m.getAs[Int]("n_cells"), m.getAs[Int]("m"), m.getAs[Int]("ksub"),
        m.getAs[Int]("iters"), m.getAs[Int]("dim"), m.getAs[Int]("n_buckets"))
    val oldCodes = levelsOrMember(db, name, m, "levels_codes", "codes")
    // append-only gate over the LIVE id set: a fully-shadowed
    // (tombstoned) id is re-insertable — delete → append is the
    // first-class UPDATE the generation stamps exist for
    val liveIds = {
      val all = unionWithOrdinal(spark, oldCodes).select("vec_id", "__lvl")
      tombTable(m).fold(all)(t => dropShadowed(all, spark.table(t),
        "vec_id"))
    }
    requireNewIds(liveIds,
      delta.select(col("vec_id")).distinct(), "vec_id", s"$db.$name")
    val (coarseDf, booksDf) = annQuantizers(spark, db, name, m)
    val coarse = coarseDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val booksRows = booksDf.collect()
    val books = (0 until pqM).map(s => booksRows.filter(_.getInt(0) == s)
      .map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1).toSeq)
    val deltaCodes =
      Similarity.ivfadcEncodeDelta(delta, coarse, books, pqM, dim)
    // re-derive the quantizer FQ names once so the new manifest keeps
    // referencing the tables where they physically live
    val coarseTab = levelsOrMember(db, name, m, "coarse_tab", "coarse").head
    val booksTab = levelsOrMember(db, name, m, "books_tab", "books").head
    val metaBase = annMetaBase(m, coarseTab, booksTab)
    val tomb = tombTable(m)
    if (oldCodes.size >= maxLevels) {
      // compaction FOLDS the tombstones (level-aware — a re-inserted
      // id's newer generation survives): the rewritten single level
      // drops every retired generation and the manifest clears the
      // list — probes stop paying the anti-join until the next delete
      val unioned = unionWithOrdinal(spark, oldCodes)
        .unionByName(deltaCodes.withColumn("__lvl", lit(oldCodes.size)))
      val folded = tomb.fold(unioned)(t =>
        dropShadowed(unioned, spark.table(t), "vec_id")).drop("__lvl")
      commitVersioned(spark, db, name, "ann", Seq(
        Member("codes", folded, Seq("cell"), nBuckets,
          sortKeys = Seq("cell", "vec_id"))),
        v => metaBase :+ s"'${fq(db, name, v, "codes")}' AS levels_codes")
    } else {
      val lvl = s"codes_l${oldCodes.size}"
      commitVersioned(spark, db, name, "ann", Seq(
        Member(lvl, deltaCodes, Seq("cell"), nBuckets,
          sortKeys = Seq("cell", "vec_id"))),
        v => metaBase ++ tomb.map(t => s"'$t' AS tomb_tab") :+
          s"'${(oldCodes :+ fq(db, name, v, lvl)).mkString(",")}' AS levels_codes")
    }
  }

  /** Probe queries against the live ANN index —
    * [[Similarity.ivfadcTopK]]'s exact output over the indexed
    * corpus: (query_id, neighbor_id, dist, rnk ≤ k). No training, no
    * corpus encode, no corpus-side shuffle at probe time: the coarse
    * and book tables broadcast into the LUT build, the LUTs broadcast
    * into one scan of the bucketed codes member — and that scan is
    * CELL-PRUNED first: the probed cell set (≤ nCells longs, one
    * bounded driver job over the tiny coarse table) pushes down as an
    * IN filter on the bucket column, so Spark prunes code buckets at
    * plan time instead of reading the whole corpus-sized member and
    * discarding non-probed cells in the join (the semantics are
    * identical — the LUT equi-join already keeps only probed cells).
    */
  def probeAnn(spark: SparkSession, queries: DataFrame, k: Int = 5,
               nprobe: Int = 4, db: String = "graft_idx",
               name: String = "ann_idx"): DataFrame = {
    val m = manifestOrThrow(spark, db, name, "ann")
    val (pqM, dim) = (m.getAs[Int]("m"), m.getAs[Int]("dim"))
    val (coarseRaw, booksRaw) = annQuantizers(spark, db, name, m)
    val coarseDf = coarseRaw
      .withColumn("cc", Similarity.dot(col("ce"), col("ce")))
    val booksDf = booksRaw
      .withColumn("bcc", Similarity.dot(col("bce"), col("bce")))
    val q = Similarity.ivfadcQueryFrame(queries)
    val cells = Similarity.probedCellIds(q, coarseDf, nprobe)
    // leveled code members: each level scan cell-prunes independently
    // (the IN pushdown reaches every level's buckets), and the union
    // is map-only work against the broadcast LUTs — the distance rank
    // exchanges on query_id either way, so levels cost no extra
    // corpus-side shuffle
    val codes = levelsOrMember(db, name, m, "levels_codes", "codes")
      .zipWithIndex
      .map { case (t, i) => spark.table(t)
        .filter(col("cell").isin(cells: _*)).withColumn("__lvl", lit(i)) }
      .reduce(_.unionByName(_))
    // tombstones (retired generations awaiting the next compaction
    // fold) drop out BEFORE the top-k rank — level-aware: a tombstone
    // kills only rows BELOW its stamp, so a re-inserted id's newer
    // level survives. The id list is tiny by construction (≪ corpus,
    // or you'd compact): the anti-join broadcasts, the scan stays
    // map-only
    val live = tombTable(m).fold(codes)(t =>
      dropShadowed(codes, spark.table(t), "vec_id")).drop("__lvl")
    Similarity.ivfadcSearch(q, coarseDf, booksDf, live, pqM, dim / pqM, k,
      nprobe)
  }
}
