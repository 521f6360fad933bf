package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogDatabase
import org.apache.spark.sql.catalyst.expressions.Literal
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
  *     `TextAnalysis.corpusChunkFps` — plus the (fp, doc_id)
  *     reference sidecar that makes the shared-digest family
  *     delete-capable ([[deleteFromChunkIndex]]); probes never read
  *     the sidecar;
  *   - **near-dup index** ([[buildNearDupIndex]]/[[probeNearDups]]):
  *     the MinHash-LSH band table (doc_id, band, bucket) bucketed on
  *     bucket and the shingle-set table (doc_id, sh) bucketed on
  *     doc_id — `Dedup.minhashBase`/`minhashBanded`;
  *   - **ANN index** ([[buildAnnIndex]]/[[probeAnn]]): the IVFADC codes
  *     bucketed on cell, plus the frozen coarse and PQ quantizer tables.
  *
  * Zero-corpus-exchange probes: every corpus-side table is bucketed
  * on exactly the key its probe join needs, so the scan's
  * HashPartitioning satisfies the join's required distribution and
  * EnsureRequirements shuffles ONLY the (small) batch side —
  * StandingIndexSpec asserts no ShuffleExchange feeds off an index
  * scan pre-join. Bucketed members are repartitioned to one file per
  * bucket before the write and sorted on the join keys, so sort-merge
  * probes read the buckets as-is.
  *
  * Versioned exactly-once commit: an index publishes through the same
  * versioned commit as a table (`Lakehouse.commitVersion`). All member
  * tables of a commit are written under `<name>__v<N>__<member>` names
  * first; the COMMIT POINT is one atomic repoint of the manifest view
  * `<db>.<name>` — a constant one-row view carrying the live version,
  * the kind, the build parameters and the FQ names of the tables the
  * version serves. A crash before the flip leaves the manifest on the
  * last complete version; probes resolve every table through the
  * manifest and never observe a half-built index. The commit keeps the
  * new version, the one it superseded and every version either
  * manifest names; it drops the rest.
  *
  * One leveled lifecycle: the chunk, near-dup and ANN indexes are
  * LSM-style. Each member is a list of immutable LEVEL tables (manifest
  * fields `levels*`, oldest first) and every commit after the build is
  * one of three motions, each written once for all three kinds:
  *
  *   - **append**: the delta must hold only ids that are not live; its
  *     derived frames publish as one new level per member while the
  *     live levels carry over by reference — publish cost ∝ delta.
  *     Once `maxLevels` levels are live, the append folds instead;
  *   - **fold** ([[compactIndex]], or an append past `maxLevels`): the
  *     live rows of every level (plus the delta's) rewrite as one level
  *     and the tombstone lists clear — cost ∝ index, paid once per
  *     `maxLevels` publishes;
  *   - **delete**: the ids must be live; they land in a
  *     generation-stamped tombstone table (`tomb_tab`) that kills their
  *     rows in the levels published so far, so a later re-append of the
  *     same id (an UPDATE) survives — cost ∝ tombstones.
  *
  * A commit's manifest is the live manifest with only the fields it
  * changes replaced or removed. The kind-specific parts are how a delta
  * derives its member frames, the chunk index's derived digest member
  * and dead-digest list (`fp_tomb_tab`), and the ANN index's frozen
  * quantizer tables, which every commit carries by reference. Probes
  * run per level (chained anti-joins / unioned pair results / unioned
  * cell-pruned scans), so each level keeps its own bucket layout.
  *
  * The MATCH index is not leveled: its hot-anchor cap and sub
  * assignments are functions of GLOBAL occurrence counts across base ∪
  * delta, so an append rewrites its members (bit-identical to a rebuild,
  * q201's contract) and it has no retire-by-id.
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
    * = plain small table (the hot list, a tombstone list).
    */
  private final case class Member(suffix: String, df: DataFrame,
                                  bucketKeys: Seq[String] = Nil,
                                  nBuckets: Int = 0,
                                  sortKeys: Seq[String] = Nil)

  /** One leveled member of an index kind. A build or a fold writes it
    * as the table `<suffix>`, an append adds the level `<suffix>_l<i>`,
    * and the manifest field `field` lists the live level tables. A
    * `derive`d member has no id column: a fold recomputes it from the
    * folded id member.
    */
  private final case class Level(field: String, suffix: String,
      bucketKeys: Seq[String], sortKeys: Seq[String] = Nil,
      derive: Option[DataFrame => DataFrame] = None) {
    def member(suffix: String, df: DataFrame, nBuckets: Int): Member =
      Member(suffix, df, bucketKeys, nBuckets, sortKeys)
  }

  /** A leveled index kind: its members, the id column `key` that
    * appends gate on, deletes tombstone and folds drop, and the
    * tombstone fields a fold clears. The last member is the id member:
    * its rows carry every published id.
    */
  private final case class Leveled(kind: String, key: String,
      levels: Seq[Level], tombs: Seq[String] = Seq("tomb_tab")) {
    def ids: Level = levels.last
  }

  private val Chunk = Leveled("chunk", "doc_id", Seq(
    Level("levels", "fps", Seq("fp"),
      derive = Some((fpdocs: DataFrame) => fpdocs.select("fp").distinct())),
    // the (fp, doc_id) sidecar, bucketed on fp so delete-time liveness
    // checks broadcast into its buckets
    Level("levels_fpdocs", "fpdocs", Seq("fp"))),
    tombs = Seq("tomb_tab", "fp_tomb_tab"))

  private val NearDup = Leveled("neardup", "doc_id", Seq(
    Level("levels_banded", "banded", Seq("bucket")),
    Level("levels_base", "base", Seq("doc_id"))))

  private val Ann = Leveled("ann", "vec_id", Seq(
    Level("levels_codes", "codes", Seq("cell"), Seq("cell", "vec_id"))))

  private def fq(db: String, name: String, v: Int, suffix: String) =
    s"$db.${name}__v${v}__$suffix"

  /** The live manifest row (version, kind, build parameters, table
    * names), or None if the index has never been committed.
    */
  def manifest(spark: SparkSession, db: String,
               name: String): Option[Row] =
    if (!spark.catalog.databaseExists(db) ||
        !spark.catalog.tableExists(s"$db.$name")) None
    else Some(spark.table(s"$db.$name").collect().head)

  private def liveManifest(spark: SparkSession, db: String, name: String): Row =
    manifest(spark, db, name).getOrElse(throw new IllegalArgumentException(
      s"no standing index at $db.$name — run the matching build first"))

  private def manifestOrThrow(spark: SparkSession, db: String, name: String,
                              expectKind: String): Row = {
    val m = liveManifest(spark, db, name)
    val kind = m.getAs[String]("kind")
    require(kind == expectKind,
      s"$db.$name is a $kind index, not a $expectKind index")
    m
  }

  /** Resolve a member table of the LIVE version through the manifest. */
  private def member(spark: SparkSession, db: String, name: String,
                     m: Row, suffix: String): DataFrame =
    spark.table(fq(db, name, m.getAs[Int]("version"), suffix))

  /** The comma-joined FQ tables of manifest field `field` (a level
    * list, or one quantizer table). Every commit of a leveled kind
    * names its kind's fields, so a missing one is a broken manifest and
    * fails naming the field.
    */
  private def levelTables(m: Row, field: String): Seq[String] =
    metaString(m, field)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalStateException(
        s"${m.getAs[String]("kind")} index manifest v${m.getAs[Int]("version")} " +
          s"has no `$field` tables"))

  /** Write every member at version N and flip the manifest view to the
    * one-row SELECT of `version` and `meta(N)`: THE commit, the same one
    * tables publish through ([[Lakehouse.commitVersion]]). `meta` sees
    * the version number so it can name the tables being committed.
    */
  private def commitVersioned(spark: SparkSession, db: String, name: String,
      members: Seq[Member])(meta: Int => Seq[(String, Any)]): Int = {
    val catalog = spark.sessionState.catalog
    if (!catalog.databaseExists(db))
      catalog.createDatabase(CatalogDatabase(db, "",
        catalog.getDefaultDBPath(db), Map.empty), ignoreIfExists = true)
    Lakehouse.commitVersion(spark, db, name) { next =>
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
      (("version" -> next) +: meta(next))
        .map { case (f, x) => s"${Literal(x).sql} AS $f" }
        .mkString("SELECT ", ", ", "")
    }
  }

  /** Commit `members` on top of the live manifest `m`: the new manifest
    * is `m` with the fields `set(N)` names replaced (None removes one).
    * Every other field — kind, build parameters, carried tables —
    * carries over as it is, read off the row's schema.
    */
  private def commitOn(spark: SparkSession, db: String, name: String, m: Row,
      members: Seq[Member])(set: Int => Seq[(String, Option[String])]): Int =
    commitVersioned(spark, db, name, members) { v =>
      val changed = set(v)
      m.schema.fieldNames.toSeq
        .filterNot(f => f == "version" || changed.exists(_._1 == f))
        .map(f => f -> m.getAs[Any](f)).filter(_._2 != null) ++
        changed.collect { case (f, Some(x)) => f -> x }
    }

  /** The members of a one-level layout: `frames` (one per member of
    * `k`) under their base suffixes — what a build and a fold write.
    */
  private def oneLevel(k: Leveled, frames: Seq[DataFrame],
                       nBuckets: Int): Seq[Member] =
    k.levels.zip(frames).map { case (l, df) => l.member(l.suffix, df, nBuckets) }

  private def oneLevelFields(db: String, name: String, k: Leveled,
                             v: Int): Seq[(String, String)] =
    k.levels.map(l => l.field -> fq(db, name, v, l.suffix))

  // ---------------------------------------------- the leveled lifecycle

  /** The rows of `field`'s levels that no tombstone shadows, each
    * stamped with its LEVEL ORDINAL (position in the level list =
    * append order) as `__lvl`, the generation axis tombstones run on.
    * The one live-set computation: appends gate on it, deletes check
    * and attribute against it, folds write it.
    */
  private def liveRows(spark: SparkSession, m: Row, field: String,
                       key: String): DataFrame = {
    val all = levelTables(m, field).zipWithIndex.map { case (t, i) =>
      spark.table(t).withColumn("__lvl", lit(i))
    }.reduce(_.unionByName(_))
    tombTable(m).fold(all)(t => dropShadowed(all, spark.table(t), key))
  }

  /** Append: gate `deltaIds` against the live ids, then publish `delta`
    * (frames by member suffix) as one new level per member, carrying the
    * live levels by reference — or, once `maxLevels` levels are live,
    * [[fold]] it in. `tombUpdates` are the tombstone tables the new
    * level changes (a None table removes the field); the others carry
    * over, their generation stamps already exempting the new level.
    * `delta` and `tombUpdates` are evaluated after the gate.
    */
  private def appendLeveled(spark: SparkSession, db: String, name: String,
      k: Leveled, m: Row, maxLevels: Int, deltaIds: DataFrame,
      delta: => Map[String, DataFrame],
      tombUpdates: => Seq[(String, Option[Member])] = Nil): Int = {
    require(maxLevels >= 1, s"maxLevels ($maxLevels) must be >= 1")
    requireNewIds(liveRows(spark, m, k.ids.field, k.key).select(k.key),
      deltaIds, k.key, s"$db.$name")
    val frames = delta
    val n = levelTables(m, k.ids.field).size
    if (n >= maxLevels) fold(spark, db, name, k, m, frames)
    else {
      val t = tombUpdates
      def lvl(l: Level) = s"${l.suffix}_l$n"
      commitOn(spark, db, name, m,
        k.levels.map(l => l.member(lvl(l), frames(l.suffix),
          m.getAs[Int]("n_buckets"))) ++ t.flatMap(_._2)) { v =>
        k.levels.map(l => l.field ->
          Some((levelTables(m, l.field) :+ fq(db, name, v, lvl(l))).mkString(","))) ++
          t.map { case (f, mm) => f -> mm.map(x => fq(db, name, v, x.suffix)) }
      }
    }
  }

  /** The compaction fold: every member's live rows, plus `delta`'s for
    * an append past `maxLevels`, rewrite as one level; derived members
    * recompute from the folded id member, and the tombstone fields
    * clear (the rewrite holds no shadowed row).
    */
  private def fold(spark: SparkSession, db: String, name: String, k: Leveled,
                   m: Row, delta: Map[String, DataFrame] = Map.empty): Int = {
    val kept = k.levels.filter(_.derive.isEmpty).map { l =>
      val live = liveRows(spark, m, l.field, k.key).drop("__lvl")
      l.suffix -> delta.get(l.suffix).fold(live)(live.unionByName(_))
    }.toMap
    val frames = k.levels.map(l =>
      l.derive.fold(kept(l.suffix))(_(kept(k.ids.suffix))))
    commitOn(spark, db, name, m,
        oneLevel(k, frames, m.getAs[Int]("n_buckets"))) { v =>
      oneLevelFields(db, name, k, v).map { case (f, t) => f -> Some(t) } ++
        k.tombs.map(_ -> None)
    }
  }

  /** Tombstone delete: every id must be live; the ids merge into the
    * generation-stamped tombstone list and the levels carry over by
    * reference. `extra` adds kind-specific tables written with it, by
    * manifest field, from the live id-member rows and the delete set.
    */
  private def deleteLeveled(spark: SparkSession, db: String, name: String,
      k: Leveled, ids: DataFrame,
      extra: (Row, DataFrame, DataFrame) => Seq[(String, Member)] =
        (_, _, _) => Nil): Int = {
    val m = manifestOrThrow(spark, db, name, k.kind)
    val del = ids.select(col(k.key).cast(LongType).as(k.key)).distinct()
    val live = liveRows(spark, m, k.ids.field, k.key)
    requireLiveIds(del, live.select(k.key), k.key, s"$db.$name")
    val written = ("tomb_tab" -> Member("tomb", mergedTomb(spark, m, del,
      k.key, levelTables(m, k.ids.field).size))) +: extra(m, live, del)
    commitOn(spark, db, name, m, written.map(_._2)) { v =>
      written.map { case (f, mm) => f -> Some(fq(db, name, v, mm.suffix)) }
    }
  }

  /** Explicit compaction of a live leveled index (chunk, near-dup or
    * ANN; the kind comes from the manifest): all levels rewrite as one,
    * minus every tombstoned row, and the tombstone lists clear. The
    * maintenance motion a pure-delete workload needs — without it,
    * tombstones fold only when an append crosses `maxLevels`, so a
    * corpus that shrinks (GDPR erasure, licence withdrawal) would pay
    * the probe-side anti-join and the retired rows' scan forever, and
    * an index that stopped growing would keep its per-level probe tax.
    * Idempotent: compacting a one-level tombstone-free index recommits
    * an identical layout.
    */
  def compactIndex(spark: SparkSession, db: String, name: String): Int = {
    val m = liveManifest(spark, db, name)
    val kind = m.getAs[String]("kind")
    val k = Seq(Chunk, NearDup, Ann).find(_.kind == kind).getOrElse(throw new
      IllegalArgumentException(s"$db.$name is a $kind index, which is not leveled"))
    fold(spark, db, name, k, m)
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
    commitVersioned(spark, db, name, Seq(
      // bucketed on BOTH probe-join keys: bucket keys must equal the
      // join keys for EnsureRequirements to accept the bucket layout
      // as the join's partitioning (a gh-only bucketing is merely a
      // subset and Spark re-shuffles both sides); (gh, sub) also
      // spreads a capped hot gh's rows across buckets
      Member("anchors", anchors, Seq("gh", "sub"), nBuckets),
      Member("toks", toks, Seq("corpus_id"), nBuckets),
      Member("hot", hot))) { _ =>
      Seq("kind" -> "match", "min_len" -> minLen,
        "max_anchor_occurrences" -> maxAnchorOccurrences,
        "n_buckets" -> nBuckets)
    }
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

  /** Incremental publish of the live match index: version N+1 is built
    * from the CURRENT member tables ∪ the delta batch's derived frames —
    * the indexed corpus is never re-read, re-tokenized, or re-shingled.
    * Only the delta pays text-side derivation; the union then pays the
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
    val (anchors, hot) = Dedup.matchIndexFromOccurrences(aU,
      m.getAs[Int]("max_anchor_occurrences"))
    commitOn(spark, db, name, m, Seq(
      Member("anchors", anchors, Seq("gh", "sub"), nBuckets),
      Member("toks", oldToks.unionByName(toksD.select(
        col("doc_id").as("corpus_id"), col("toks").as("tc"))),
        Seq("corpus_id"), nBuckets),
      Member("hot", hot)))(_ => Nil)
  }

  /** Incremental publish of the live chunk index — LEVELED: the delta's
    * digests, anti-joined against every live level so the level set
    * stays globally distinct (each anti-join streams the bucketed level
    * and shuffles only the delta), publish as ONE NEW LEVEL with the
    * delta's sidecar rows; the live levels carry over by reference.
    * Probes chain one anti-join per level ([[probeChunks]]) — still zero
    * corpus-side exchange, the batch side pays |levels| joins instead
    * of 1. Past `maxLevels` the append folds (see the header).
    */
  def appendChunkIndex(spark: SparkSession, delta: DataFrame,
                       content: Column, id: Column,
                       db: String = "graft_idx",
                       name: String = "chunk_idx",
                       maxLevels: Int = 8): Int = {
    val m = manifestOrThrow(spark, db, name, "chunk")
    lazy val fpdocs = TextAnalysis.corpusChunkFpDocs(delta, content, id,
      m.getAs[Int]("chunk_tokens"))
    lazy val fps = fpdocs.select("fp").distinct()
    appendLeveled(spark, db, name, Chunk, m, maxLevels,
      delta.select(id.as("doc_id")).distinct(),
      Map("fps" -> levelTables(m, "levels").foldLeft(fps)(
          (acc, t) => acc.join(spark.table(t), Seq("fp"), "left_anti")),
        "fpdocs" -> fpdocs),
      // fp-tomb REVIVAL: a delta that re-references a dead digest makes
      // it live again, so it leaves the dead list (its physical copy in
      // an older level resumes serving probes)
      metaString(m, "fp_tomb_tab").toSeq.map { t =>
        val kept = spark.table(t).join(fps, Seq("fp"), "left_anti")
        "fp_tomb_tab" ->
          Option.when(kept.limit(1).count() > 0)(Member("fptomb", kept))
      })
  }

  /** Retire documents from the live chunk index — the refcount-style
    * DELETE the shared-digest layout needs: a digest is live while ≥ 1
    * LIVE document references it, so deleting ids kills exactly the
    * digests whose referencing docs are now all retired. Besides the
    * doc tombstones of the shared delete, it writes the DEAD-FP list:
    * digests of the deleted docs' live generations minus those any
    * surviving live row still references — candidates broadcast
    * against the fp-bucketed sidecar scans, so nothing corpus-sized
    * shuffles. Probes treat dead digests as absent
    * ([[TextAnalysis.chunkDedupAgainstFpLevels]]'s un-kill branch),
    * making probe-after-delete EXACTLY the probe of an index rebuilt
    * over corpus-minus-deleted (q218's oracle replays that full
    * pipeline).
    *
    * Invariant maintained everywhere: fp_tomb = digests physically
    * present in some level with ZERO live referencing sidecar rows.
    * Appends that re-reference a dead digest revive it (remove it
    * from the list); folds rewrite members to the live set and clear
    * both lists.
    */
  def deleteFromChunkIndex(spark: SparkSession, ids: DataFrame,
                           db: String = "graft_idx",
                           name: String = "chunk_idx"): Int =
    deleteLeveled(spark, db, name, Chunk, ids, (m, live, del) => {
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
      Seq("fp_tomb_tab" -> Member("fptomb", metaString(m, "fp_tomb_tab")
        .map(t => spark.table(t).unionByName(dead).distinct())
        .getOrElse(dead)))
    })

  /** Incremental publish of the live near-dup index — LEVELED: both
    * members are per-document maps (band rows, shingle sets), disjoint
    * from the live index by the id gate, so the delta's derivations
    * publish as one new (banded, base) LEVEL PAIR — nothing
    * corpus-sized rewrites, publish cost ∝ delta. The probe runs per
    * level and unions the (small) pair results ([[probeNearDups]]) —
    * exact, because a candidate pair's corpus document lives in exactly
    * one level, so both the bucket collision and the Jaccard verify of
    * that pair are contained in its level's probe.
    */
  def appendNearDupIndex(spark: SparkSession, delta: DataFrame,
                         content: Column, id: Column,
                         db: String = "graft_idx",
                         name: String = "neardup_idx",
                         maxLevels: Int = NearDupMaxLevels): Int = {
    val m = manifestOrThrow(spark, db, name, "neardup")
    appendLeveled(spark, db, name, NearDup, m, maxLevels,
      delta.select(id.as("doc_id")).distinct(), {
        val base = Dedup.minhashBase(delta, content, id, m.getAs[Int]("n"))
        Map("banded" -> Dedup.minhashBanded(base, m.getAs[Int]("k"),
            m.getAs[Int]("bands")),
          "base" -> base.select(col("doc_id"), col("sh")))
      })
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
    val fpdocs = TextAnalysis.corpusChunkFpDocs(corpus, content, id,
      chunkTokens)
    commitVersioned(spark, db, name,
        oneLevel(Chunk, Seq(fpdocs.select("fp").distinct(), fpdocs), nBuckets)) { v =>
      Seq("kind" -> "chunk", "chunk_tokens" -> chunkTokens,
        "n_buckets" -> nBuckets) ++ oneLevelFields(db, name, Chunk, v)
    }
  }

  /** Probe a batch against the live chunk index —
    * `TextAnalysis.chunkDedupIncremental`'s exact output (per batch
    * doc: chunk counts and the reassembled dedup_text), corpus side =
    * one anti-join per bucketed digest level.
    */
  def probeChunks(spark: SparkSession, batch: DataFrame, content: Column,
                  id: Column, db: String = "graft_idx",
                  name: String = "chunk_idx"): DataFrame = {
    val m = manifestOrThrow(spark, db, name, "chunk")
    TextAnalysis.chunkDedupAgainstFpLevels(
      levelTables(m, "levels").map(spark.table),
      batch, content, id, m.getAs[Int]("chunk_tokens"),
      // dead digests (zero live referencing docs, awaiting the next
      // fold) must not count as corpus hits — see
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
    commitVersioned(spark, db, name, oneLevel(NearDup, Seq(
        Dedup.minhashBanded(base, k, bands), base.select(col("doc_id"), col("sh"))),
        nBuckets)) { v =>
      Seq("kind" -> "neardup", "n" -> n, "k" -> k, "bands" -> bands,
        "n_buckets" -> nBuckets) ++ oneLevelFields(db, name, NearDup, v)
    }
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
    val banded = levelTables(m, "levels_banded")
    val base = levelTables(m, "levels_base")
    // tombstoned corpus docs (retired generations awaiting the next
    // fold) drop out of each LEVEL's pair results: every (new_id,
    // dup_of) pair is independent — no ranking — so the level-aware
    // filter (a tombstone kills only pairs whose corpus doc lives in a
    // level below its stamp; a re-inserted doc's newer level survives)
    // is EXACTLY the probe of a rebuilt index without the retired
    // generations (q216's gate). The filter sits on the batch-bounded
    // per-level output; until the fold, retired docs still pay
    // candidate generation — the documented tombstone trade.
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

  /** Retire documents from the live near-dup index (the shared delete on
    * doc_id). Unlike ANN's rank semantics, near-dup pairs are
    * independent, so probe-after-delete is EXACTLY the probe of a full
    * rebuild without the retired docs — q216 gates it against the full
    * SQL replay over corpus-minus-deleted.
    *
    * The MATCH index has no retire-by-id: its hot-cap/sub splits are
    * functions of GLOBAL occurrence counts, so a retire that merely
    * removed the deleted docs' rows would drift from rebuild semantics
    * whenever the cap binds (a gh capped because of the deleted docs'
    * occurrences would stay split/capped after the delete where a
    * rebuild would uncap it) — documented rebuild-instead semantics.
    */
  def deleteFromNearDupIndex(spark: SparkSession, ids: DataFrame,
                             db: String = "graft_idx",
                             name: String = "neardup_idx"): Int =
    deleteLeveled(spark, db, name, NearDup, ids)

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
    commitVersioned(spark, db, name, oneLevel(Ann, Seq(codes), nBuckets) ++ Seq(
      // centroid self-dots (cc/bcc) are derived at probe time by the
      // same dot kernel — persisting floats twice buys nothing
      Member("coarse", coarseDf.select("cell", "ce")),
      Member("books", booksDf.select("s", "code", "bce")))) { v =>
      Seq("kind" -> "ann", "n_cells" -> nCells, "m" -> m, "ksub" -> ksub,
        "iters" -> iters, "dim" -> dim, "n_buckets" -> nBuckets) ++
        oneLevelFields(db, name, Ann, v) ++
        Seq("coarse_tab" -> fq(db, name, v, "coarse"),
          "books_tab" -> fq(db, name, v, "books"))
    }
  }

  /** FQ tombstone table of a live index version, if any — a manifest
    * with no delete since its last build or fold carries no such field.
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

  /** Generation-stamped shadow semantics (the upsert enabler): a
    * tombstone row (key, dead_below) kills exactly the rows of `key`
    * living in levels BELOW the stamp — levels published after the
    * delete (a re-insert) are untouched, so delete → append of the
    * same id is a first-class UPDATE instead of a rebuild. `df` must
    * carry `__lvl`; the tombstone list broadcasts (≪ corpus, or you'd
    * compact), keeping the anti-join map-only.
    */
  private def dropShadowed(df: DataFrame, tomb: DataFrame,
                           key: String): DataFrame =
    df.join(broadcast(tomb),
      df(key) === tomb(key) && df("__lvl") < tomb("dead_below"),
      "left_anti")

  /** The loud liveness gate of the delete: every id being retired must
    * currently be LIVE (published, and not fully shadowed by an
    * earlier tombstone) — deleting an unknown id or double-deleting is
    * an upstream id-bookkeeping bug surfaced immediately, never a
    * silent no-op.
    */
  private def requireLiveIds(del: DataFrame, live: DataFrame, key: String,
                             what: String): Unit = {
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

  /** Retire vectors from the live ANN index (the shared delete on
    * vec_id). Probes anti-join the tombstones BEFORE ranking
    * ([[probeAnn]]), so top-k is computed over the surviving corpus — a
    * tombstoned vector can never shadow a live neighbor out of the
    * result. Quantizers are NOT retrained (production delete semantics:
    * the trained cell/code geometry keeps the deleted vectors'
    * influence until the next full build — q215's oracle replays
    * exactly that).
    */
  def deleteFromAnnIndex(spark: SparkSession, ids: DataFrame,
                         db: String = "graft_idx",
                         name: String = "ann_idx"): Int =
    deleteLeveled(spark, db, name, Ann, ids)

  /** The live coarse/books quantizer tables, named by the manifest
    * (every commit after the build carries them by reference — frozen
    * quantizers are never rewritten).
    */
  private def annQuantizers(spark: SparkSession, db: String, name: String,
                            m: Row): (DataFrame, DataFrame) = {
    def one(field: String) = levelTables(m, field) match {
      case Seq(t) => spark.table(t)
      case l => throw new IllegalStateException(
        s"$db.$name: expected exactly one `$field` table, got $l")
    }
    (one("coarse_tab"), one("books_tab"))
  }

  /** Incremental publish of the live ANN index — the FROZEN-QUANTIZER
    * append every production IVF system uses: new vectors are
    * assigned cells and PQ codes against the live version's trained
    * centroids (map-only, [[Similarity.ivfadcEncodeDelta]]) and publish
    * as a new code level. Probes union the cell-pruned level scans
    * (map-only against broadcast LUTs — no corpus-side exchange to
    * lose). Unlike the dedup appends this is NOT bit-identical to a
    * full rebuild (a rebuild would retrain on base ∪ delta) — it is the
    * documented approximation production trades for O(delta) publish
    * cost, and q207 gates it against an oracle that replays exactly
    * these semantics (train on the base slice, encode everything).
    */
  def appendAnnIndex(spark: SparkSession, delta: DataFrame,
                     db: String = "graft_idx",
                     name: String = "ann_idx",
                     maxLevels: Int = 8): Int = {
    val m = manifestOrThrow(spark, db, name, "ann")
    appendLeveled(spark, db, name, Ann, m, maxLevels,
      delta.select(col("vec_id")).distinct(), {
        val pqM = m.getAs[Int]("m")
        val (coarseDf, booksDf) = annQuantizers(spark, db, name, m)
        val coarse = coarseDf.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
        val booksRows = booksDf.collect()
        val books = (0 until pqM).map(s => booksRows.filter(_.getInt(0) == s)
          .map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1).toSeq)
        Map("codes" ->
          Similarity.ivfadcEncodeDelta(delta, coarse, books, pqM, m.getAs[Int]("dim")))
      })
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
    val codes = levelTables(m, "levels_codes")
      .zipWithIndex
      .map { case (t, i) => spark.table(t)
        .filter(col("cell").isin(cells: _*)).withColumn("__lvl", lit(i)) }
      .reduce(_.unionByName(_))
    // tombstones (retired generations awaiting the next fold) drop out
    // BEFORE the top-k rank — level-aware: a tombstone kills only rows
    // BELOW its stamp, so a re-inserted id's newer level survives. The
    // id list is tiny by construction (≪ corpus, or you'd compact):
    // the anti-join broadcasts, the scan stays map-only
    val live = tombTable(m).fold(codes)(t =>
      dropShadowed(codes, spark.table(t), "vec_id")).drop("__lvl")
    Similarity.ivfadcSearch(q, coarseDf, booksDf, live, pqM, dim / pqM, k,
      nprobe)
  }
}
