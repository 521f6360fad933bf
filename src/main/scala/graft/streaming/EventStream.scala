package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table shape.
  *
  * BEYOND REFERENCE PARITY: the reference has zero streaming surface
  * (SURVEY §2 Streaming — "None"). This module is the extension path
  * for the driver testdata's ts-keyed `events` table: file-source
  * streams, watermarked tumbling windows, and custom session state via
  * flatMapGroupsWithState.
  *
  * All transforms are identical for batch and stream inputs (same
  * Catalyst plans), so correctness is testable in batch and the
  * streaming path only adds watermark/trigger mechanics.
  */
object EventStream {

  /** The engine-internal events shape: the declared `events` fixture
    * schema ([[graft.tables.Tables.schemas]]) with ts as int64 epoch ns
    * (SURVEY §1.2). Driver-shaped parquet (ts TIMESTAMP — the round-7
    * testdata physical type) must be normalized to this shape before
    * streaming — [[graft.tables.Tables.normalizeEventsTs]] is the
    * batch-side conversion; file-source streams need one declared
    * schema, so mixed physical types in one directory cannot work.
    */
  val eventsSchema: StructType = StructType(
    graft.tables.Tables.schemas("events").map {
      case f if f.name == "ts" => f.copy(dataType = LongType)
      case f => f
    })

  /** File-source stream over a directory of internal-shape events
    * parquet.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** ns-long epoch → µs timestamp (exact integer div; SURVEY §1.2). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))

  /** Watermarked tumbling-window rollup: count + sum(value) per
    * (1-hour window, event_type). Late data beyond 2 hours is dropped.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Watermarked windowed approximate-distinct users per event type —
    * the streaming twin of the batch HLL query: sketches merge
    * incrementally in the window state, so distinct-user dashboards run
    * at stream scale with bounded memory and no global dedup shuffle.
    */
  def hourlyUniqueUsers(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("approx_users"))

  /** Watermarked windowed blocklist monitor (13th stream≡batch twin):
    * per (1-hour window, category), the total blocklist term hits in
    * the events' payload line (`event_type ⧺ ' ' ⧺ props`) — the live
    * "flagged content rate" dashboard feed in front of the batch
    * screen ([[graft.operators.Blocklist.hits]]). One broadcast
    * Aho–Corasick automaton ([[graft.expressions.BlocklistHits]])
    * scans each event once on the MAP side; the per-category explode
    * is |categories|-sized and the windowed aggregation partially
    * combines before state — the same incremental-merge shape as
    * [[hourlyRollup]], automaton cost O(payload) per event whatever
    * the list size. Identical code path runs on a batch frame, which
    * is the twin law the spec asserts.
    */
  def hourlyBlocklistHits(events: DataFrame,
                          terms: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge._
    val ac = graft.expressions.AhoCorasick.build(terms)
    val bc = events.sparkSession.sparkContext.broadcast(ac)
    val cats = ac.categories.toSeq
    withEventTime(events)
      .withWatermark("ts_utc", "2 hours")
      .select(col("ts_utc"),
        column(graft.expressions.BlocklistHits(
          expression(concat_ws(" ", col("event_type"), col("props"))),
          bc)).as("h"))
      // constant-length generate with h as pass-through (the q183
      // plan-audit rule: posexplode(h) would re-evaluate the scan)
      .select(col("ts_utc"), col("h"),
        explode(sequence(lit(0), lit(cats.size - 1))).as("i"))
      .select(col("ts_utc"),
        element_at(typedlit(cats), col("i") + 1).as("category"),
        element_at(col("h"), col("i") + 1).as("hits"))
      .groupBy(window(col("ts_utc"), "1 hour"), col("category"))
      .agg(sum("hits").as("hits"))
      .select(col("window.start").as("window_start"), col("category"),
        col("hits"))
  }

  /** Watermarked windowed count-min sketch per event type — the
    * streaming twin of the batch heavy-hitters query (q104): counter
    * merges are exact long additions, so the sketch a window emits is
    * BYTE-IDENTICAL to the batch sketch over the same rows (asserted in
    * spec), and any key's frequency can be probed downstream with
    * `cms_estimate` under the same never-undercount / eps·N contract.
    * State per (window, type) is one fixed-size sketch — bounded
    * regardless of key cardinality, the reason to sketch at all.
    */
  def hourlyHeavyHitterSketches(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(expr("count_min_sketch(user_id, 0.001d, 0.999d, 42)").as("sketch"),
        count(lit(1)).as("n"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("sketch"), col("n"))

  /** Streaming exact dedup: drop re-deliveries of the same event id,
    * with a watermark bounding how long ids are held in state (the
    * streaming twin of `Dedup.exact` — at-least-once upstreams become
    * effectively-once downstream, and state stays bounded).
    */
  def dedupStream(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("ts_utc", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click paired with the same
    * user's purchases from the preceding `windowMinutes`. Both sides
    * carry watermarks so the join state is bounded (purchases older
    * than the interval + watermark are evicted). The identical plan
    * runs in batch mode — used as the correctness reference in tests.
    */
  def clickPurchaseJoin(events: DataFrame, windowMinutes: Int): DataFrame =
    intervalJoin(events, windowMinutes, "inner")

  private def intervalJoin(events: DataFrame, windowMinutes: Int,
                           joinType: String): DataFrame = {
    val base = withEventTime(events)
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_utc").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"), col("ts_utc").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("purchase_ts") <= col("click_ts"),
      joinType)
      .select("click_id", "user_id", "click_ts", "purchase_id",
        "purchase_value", "purchase_ts")
  }

  /** Stream-stream LEFT OUTER interval join: like
    * [[clickPurchaseJoin]], but clicks with NO purchase in the interval
    * are still emitted (null purchase columns) once the watermark
    * proves no match can arrive — the outer-join state semantics only a
    * watermark makes safe in streaming.
    */
  def clickPurchaseLeftJoin(events: DataFrame, windowMinutes: Int): DataFrame =
    intervalJoin(events, windowMinutes, "leftOuter")

  /** Stream-static enrichment: join the event stream to a static
    * dimension frame (the standard "decorate facts with dims as they
    * arrive" pattern). The static side is broadcast — no streaming
    * state at all, unlike a stream-stream join — and the identical plan
    * runs in batch mode. `dim` must carry `user_id` plus the decoration
    * columns.
    */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    withEventTime(events).join(broadcast(dim), Seq("user_id"), "left")

  /** Streaming MERGE sink: each micro-batch upserts into a catalog
    * table on `keys` via [[graft.operators.Merge.upsert]] and the
    * transactional swap ([[graft.pipeline.Lakehouse.ctasSwap]]) — the
    * incremental-maintenance pattern a Delta `MERGE INTO` streaming
    * sink provides, on plain parquet. Re-delivered rows (at-least-once
    * sources, micro-batch replays after failure) collapse onto their
    * key instead of duplicating, so the sink is effectively idempotent;
    * a crash mid-batch leaves the previous table version intact.
    * Returns the started query; callers own awaitTermination/stop.
    *
    * `retainVersions` (default 1) keeps that many superseded version
    * tables behind the view pointer: a continuous writer is exactly the
    * case where a serving query may still be SCANNING the previous
    * version when the next micro-batch publishes — retaining one
    * version gives readers a full swap interval to finish. Raise it if
    * serving queries can outlive a micro-batch interval.
    */
  def mergeSink(stream: DataFrame, fqTable: String, keys: Seq[String],
                checkpointDir: String, orderCol: Option[String] = None,
                retainVersions: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // re-deliveries can land in the SAME micro-batch — collapse the
        // batch on its keys first (the precondition SQL MERGE puts on
        // its source: at most one update row per target row). With
        // `orderCol` the largest value wins (latest-wins, deterministic
        // under replay); without it the survivor is arbitrary — only
        // safe when re-deliveries are byte-identical.
        val deduped = orderCol match {
          case Some(oc) =>
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy(keys.map(col): _*).orderBy(col(oc).desc)
            batch.toDF().withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
          case None => batch.toDF().dropDuplicates(keys)
        }
        // a dropped view with surviving versions is republished BEFORE
        // the exists check, or this batch would restart the table from
        // its own delta
        graft.pipeline.Lakehouse.recoverSwap(spark, fqTable)
        val merged =
          if (spark.catalog.tableExists(fqTable))
            graft.operators.Merge.upsert(spark.table(fqTable), deduped, keys)
          else deduped
        graft.pipeline.Lakehouse.ctasSwap(spark, merged, fqTable,
          retainVersions = retainVersions)
      }
      .start()

  /** Start `stream` with every micro-batch passed through `probe` and
    * appended as parquet to `outDir` — the one sink body the batch-probe
    * twins share, so each stream reuses its batch operator verbatim.
    */
  private def appendEachBatch(stream: DataFrame, outDir: String,
      checkpointDir: String)(probe: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        probe(batch.toDF()).write.mode("append").parquet(outDir)
        ()
      }
      .start()

  /** Online near-duplicate screening: a document stream looked up per
    * micro-batch against a STANDING MinHash-LSH corpus index
    * ([[graft.operators.Dedup.minHashIndex]] — persist its frames
    * before starting the query; the corpus must not recompute per
    * batch). Emits (new_id, dup_of, jaccard) rows append-only; a batch
    * with no near-dups appends nothing. foreachBatch reuses the BATCH
    * lookup operator verbatim, so stream output ≡ the batch operator
    * over the same files (StreamingSpec asserts it) — the standard way
    * to keep one tested implementation across both execution modes.
    * Returns the started query; callers own awaitTermination/stop.
    */
  def nearDupSink(docsStream: DataFrame,
                  index: graft.operators.Dedup.MinHashIndex,
                  content: String, id: String, outDir: String,
                  checkpointDir: String, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    appendEachBatch(docsStream, outDir, checkpointDir) { batch =>
      graft.operators.Dedup.lookupNearDups(index, batch, col(content),
        col(id), threshold)
    }

  /** Online near-duplicate screening against the PERSISTED standing
    * index ([[graft.operators.StandingIndex]]) — [[nearDupSink]]'s
    * production form: the corpus side is the manifest-versioned
    * bucketed table family, and the manifest view is re-resolved at
    * EVERY micro-batch, so a `buildNearDupIndex` rebuild-and-flip
    * while the stream is running atomically moves the NEXT batch to
    * the new corpus version — no stream restart, and no batch can
    * observe a half-built index (the StandingIndex commit contract:
    * the one-statement view flip is the only commit point, and the
    * superseded version's members are retained one publish cycle for
    * exactly this in-flight-reader case). foreachBatch reuses the
    * batch probe operator verbatim (stream ≡ batch, spec-asserted),
    * emitting (new_id, dup_of, jaccard) append-only.
    * Returns the started query; callers own awaitTermination/stop.
    */
  def standingNearDupSink(docsStream: DataFrame, content: String,
                          id: String, outDir: String, checkpointDir: String,
                          threshold: Double = 0.8,
                          db: String = "graft_idx",
                          name: String = "neardup_idx")
      : org.apache.spark.sql.streaming.StreamingQuery =
    appendEachBatch(docsStream, outDir, checkpointDir) { batch =>
      graft.operators.StandingIndex.probeNearDups(batch.sparkSession,
        batch, col(content), col(id), threshold, db, name)
    }

  /** Online ANN retrieval against the PERSISTED standing IVFADC index
    * (16th stream≡batch twin) — the serving half of
    * [[graft.operators.StandingIndex.buildAnnIndex]]: arriving query
    * vectors are top-k-searched per micro-batch by the batch
    * [[graft.operators.StandingIndex.probeAnn]] operator verbatim
    * (stream ≡ batch, spec-asserted — the search is per-query
    * independent, so output over any chunking equals one batch call
    * over the union). The manifest re-resolves at EVERY micro-batch —
    * a `buildAnnIndex` rebuild or `appendAnnIndex` frozen-quantizer
    * publish mid-stream atomically moves the NEXT batch to the new
    * version ([[standingNearDupSink]]'s flip contract), which is how
    * a live retrieval endpoint picks up a growing corpus without a
    * restart. Emits (query_id, neighbor_id, dist, rnk) append-only.
    * Returns the started query; callers own awaitTermination/stop.
    */
  def annProbeSink(queriesStream: DataFrame, outDir: String,
                   checkpointDir: String, k: Int = 5, nprobe: Int = 4,
                   db: String = "graft_idx", name: String = "ann_idx")
      : org.apache.spark.sql.streaming.StreamingQuery =
    appendEachBatch(queriesStream, outDir, checkpointDir) { batch =>
      graft.operators.StandingIndex.probeAnn(batch.sparkSession, batch, k,
        nprobe, db, name)
    }

  /** Standing chunk-screening endpoint (the 18th stream≡batch twin):
    * each arriving micro-batch of documents is screened against the
    * LIVE chunk index by the batch
    * [[graft.operators.StandingIndex.probeChunks]] operator verbatim —
    * per-document rows (doc_id, n_chunks, n_kept, dedup_text), so
    * stream output equals the batch probe of each micro-batch slice
    * at its then-live index generation. NOT chunking-independent by
    * design: the within-batch first-occurrence vote is part of the
    * probe contract, so the micro-batch IS the dedup scope — the same
    * statement as calling the batch operator once per crawl shard.
    * The manifest re-resolves at EVERY micro-batch: a rebuild, a
    * leveled append, a refcount tombstone DELETE
    * ([[graft.operators.StandingIndex.deleteFromChunkIndex]]) or a
    * generation-stamped upsert published mid-stream atomically moves
    * the NEXT batch to the new generation — an erasure request stops
    * shadowing its digests (they revive for arriving shards) one
    * micro-batch after the tombstone lands, with no endpoint restart
    * (spec: the delete/upsert flip twin). Emits append-only. Returns
    * the started query; callers own awaitTermination/stop.
    */
  def chunkProbeSink(docsStream: DataFrame, content: String, id: String,
                     outDir: String, checkpointDir: String,
                     db: String = "graft_idx", name: String = "chunk_idx")
      : org.apache.spark.sql.streaming.StreamingQuery =
    appendEachBatch(docsStream, outDir, checkpointDir) { batch =>
      graft.operators.StandingIndex.probeChunks(batch.sparkSession, batch,
        col(content), col(id), db, name)
    }

  /** Online contamination monitor (15th stream≡batch twin): every
    * micro-batch of an arriving document stream is screened against
    * the STATIC eval-set grams by the batch
    * [[graft.operators.Curate.decontaminateAgainst]] probe — the
    * live-crawl guard that catches benchmark leakage the day it
    * enters the feed, not at the next full-corpus sweep. The eval
    * side is derived ONCE before the query starts and persisted
    * (eagerly, so batch 0 doesn't pay the derivation either): the
    * naive per-batch `decontaminate` call re-tokenized, re-shingled
    * and re-hashed the whole static eval set on every micro-batch
    * forever (the r12 ADVICE finding) — now each batch pays only its
    * own grams plus a broadcast of the cached pairs. Per-doc rows
    * (n_grams, n_hit, n_eval_docs, contaminated) append-only;
    * because the report is per-doc independent, stream output over
    * any chunking ≡ the batch operator over the union (spec-pinned).
    * Returns the started query; callers own awaitTermination/stop —
    * and the persisted pairs are unpersisted when the query
    * terminates (listener-scoped, never mid-flight).
    */
  def contaminationSink(docsStream: DataFrame, evalSet: DataFrame,
                        content: String, id: String, outDir: String,
                        checkpointDir: String, n: Int = 8,
                        minHits: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docsStream.sparkSession
    val evPairs = graft.operators.Curate
      .evalGramPairs(evalSet, col(content), col(id), n)
      .persist()
    evPairs.count() // materialize before batch 0
    startWithCleanup(spark,
      () => appendEachBatch(docsStream, outDir, checkpointDir) { batch =>
        graft.operators.Curate.decontaminateAgainst(batch, evPairs,
          col(content), col(id), n, minHits)
      },
      () => { evPairs.unpersist(); () })
  }

  /** Start a streaming query with a terminate-scoped cleanup that
    * cannot leak: the listener goes on the bus BEFORE `start()` (a
    * query that dies instantly still finds it registered — the
    * round-14 ADVICE hazard of add-after-start), `start()` throwing
    * runs the cleanup inline, and a latch closes the tiny window
    * between the first termination event and the query id becoming
    * known (the bus is async; an event arriving before `start()`
    * returns parks until the id is set, then matches or passes).
    */
  private def startWithCleanup(spark: SparkSession,
      start: () => org.apache.spark.sql.streaming.StreamingQuery,
      cleanup: () => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val qid =
      new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = {
        latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
        if (e.id == qid.get) {
          cleanup()
          spark.streams.removeListener(this)
        }
      }
    }
    spark.streams.addListener(listener)
    val q =
      try start()
      catch {
        case t: Throwable =>
          spark.streams.removeListener(listener)
          cleanup()
          throw t
      }
    qid.set(q.id)
    latch.countDown()
    q
  }

  /** Classifier-at-ingest — the 17th stream twin, the serving half of
    * q208's learned filter: a [[graft.operators.Classify.CentroidModel]]
    * is fitted ONCE on the static labeled train frame and persisted
    * (materialized eagerly so batch 0 doesn't pay the training
    * derivation — the contaminationSink discipline), then every
    * arriving micro-batch is scored against the frozen model with the
    * SAME `scoreTokens` code the batch operator runs, so stream
    * output over any chunking ≡ the batch operator over the union by
    * construction (per-doc independent scoring; spec-pinned). To keep
    * that equivalence EXACT, the sink also drops label-null rows
    * before scoring — the batch twin filters
    * `content.isNotNull && label.isNotNull`, while bare
    * `scoreWithModel` keeps label-null docs for inference (the
    * round-14 ADVICE divergence: those rows would stream out with
    * null actual/hit and no batch counterpart). Per-doc rows
    * (doc_id, n_toks, actual, predicted, score, hit) append-only;
    * the model frames are unpersisted when the query terminates, and
    * the cleanup is registered BEFORE start and runs inline if start
    * throws ([[startWithCleanup]]).
    */
  def classifierSink(docsStream: DataFrame, train: DataFrame,
                     content: String, id: String, label: String,
                     outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docsStream.sparkSession
    val model = graft.operators.Classify
      .fitCentroidModel(train, col(content), col(id), col(label))
      .materialized()
    startWithCleanup(spark,
      () => appendEachBatch(docsStream, outDir, checkpointDir) { batch =>
        graft.operators.Classify.scoreWithModel(
          batch.filter(col(label).isNotNull),
          col(content), col(id), col(label), model)
      },
      () => { model.unpersist(); () })
  }

  /** Incrementally-maintained target-encoding state over the live
    * stream — the 10th stream twin, sink-based like [[nearDupSink]]:
    * each micro-batch aggregates to a per-category (k, cnt, sum_v)
    * delta and folds it into the stored state with
    * [[graft.operators.Merge.mergeAggState]] (ONE outer join on the
    * key — the q143 incremental-view step; the base state is never
    * re-aggregated, and at 100 TB only the delta is ever read twice).
    * The smoothed encoding is derived from the state on read via
    * [[graft.operators.Profiling.encodeFromState]] — the exact same
    * arithmetic as the batch operator, so after ANY stream prefix
    * `encodeFromState(state) == targetEncoding(events so far)`,
    * spec-asserted across micro-batch boundaries.
    *
    * Exactly-once state fold (round 7): foreachBatch is at-least-once —
    * on a failure after the state write but before the streaming
    * checkpoint commits, the SAME batchId is replayed. A naive
    * read-modify-overwrite of one directory would fold that delta in
    * twice, permanently breaking the encodeFromState==targetEncoding
    * invariant. Instead the state is batchId-VERSIONED: each applied
    * batch writes a fresh `batch=<id>` leaf (an explicit
    * [[CommitMarker]] file marks the version committed — parquet's
    * `_SUCCESS` is configuration-dependent), a replayed batchId that
    * is already committed is skipped, and superseded versions are
    * pruned only after the new version lands, always retaining the
    * immediately-previous version so a lazy concurrent reader of the
    * prior latest never loses its files mid-action. Read-after-write of the same path
    * never happens, so no defensive checkpoint is needed. All
    * filesystem probing goes through the Hadoop FileSystem of the
    * state path — stateDir can live on HDFS/S3A, not just the
    * driver-local disk.
    */
  def targetEncodingSink(stream: DataFrame, category: Column,
                         label: Column, stateDir: String,
                         checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyEncodingBatch(batch.toDF(), batchId, category, label, stateDir,
          streamId = Some(qualifiedPath(batch.sparkSession, checkpointDir)))
      }
      .start()

  /** A filesystem-qualified, canonical form of `dir` — the stable
    * stream identity stored in [[StreamIdMarker]] (raw strings differ
    * across relative/absolute spellings of the same checkpoint).
    */
  private[graft] def qualifiedPath(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** One micro-batch of the [[targetEncodingSink]] fold, exposed so the
    * at-least-once retry path (same batchId re-applied) is directly
    * testable. Idempotent per batchId: a committed version ≥ batchId
    * means the delta is already in the state and the call is a no-op.
    *
    * `streamId` (the owning stream's qualified checkpoint path) is
    * compared against the [[StreamIdMarker]] persisted with the state:
    * a mismatch means the stateDir belongs to a RETIRED checkpoint and
    * the fold fails loudly instead of silently contaminating state —
    * the id-based form of the batch-0 heuristic below, and the only
    * guard that also catches the retired-checkpoint-committed-only-
    * version-0 case (where batch ids alone cannot distinguish stale
    * state from a legitimate batch-0 replay). Absent marker (first
    * batch, or legacy pre-marker state) is claimed, not rejected.
    */
  private[graft] def applyEncodingBatch(batch: DataFrame, batchId: Long,
                                        category: Column, label: Column,
                                        stateDir: String,
                                        streamId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    streamId.foreach { id =>
      val root = new org.apache.hadoop.fs.Path(stateDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val idPath = new org.apache.hadoop.fs.Path(root, StreamIdMarker)
      if (fs.exists(idPath)) {
        val stored = {
          val buf = new Array[Byte](fs.getFileStatus(idPath).getLen.toInt)
          val in = fs.open(idPath)
          try in.readFully(0, buf) finally in.close()
          new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        }
        if (stored != id)
          throw new IllegalStateException(
            s"targetEncodingSink stateDir '$stateDir' is owned by stream " +
              s"checkpoint '$stored' but this stream checkpoints at '$id' — " +
              "the stateDir belongs to a previous checkpoint. Retire " +
              "stateDir and checkpointDir together (or point the restarted " +
              "stream at a fresh stateDir).")
      } else {
        fs.mkdirs(root)
        val out = fs.create(idPath, true)
        try out.write(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    val versions = committedStateVersions(spark, stateDir)
    // A fresh checkpointDir restarts batchIds at 0; committed state
    // versions > 0 can then only mean the stateDir belongs to a RETIRED
    // checkpoint. The replay-skip guard below would silently no-op
    // every batch of the new stream (state frozen, no error) — fail
    // loudly instead: stateDir and checkpointDir must be retired
    // together.
    if (batchId == 0L && versions.exists(_ > 0L))
      throw new IllegalStateException(
        s"targetEncodingSink stateDir '$stateDir' holds committed state " +
          s"versions up to ${versions.max} but the stream is starting at " +
          "batch 0 — the stateDir belongs to a previous checkpoint. " +
          "Retire stateDir and checkpointDir together (or point the " +
          "restarted stream at a fresh stateDir).")
    if (!versions.exists(_ >= batchId)) {
      val delta = graft.operators.Merge.aggState(
        batch, category, label.cast("long"))
      val merged = versions.filter(_ < batchId).maxOption
        .map(v => graft.operators.Merge.mergeAggState(
          spark.read.parquet(s"$stateDir/batch=$v"), delta))
        .getOrElse(delta)
      val root = new org.apache.hadoop.fs.Path(stateDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      merged.write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
      // explicit commit marker, not parquet's _SUCCESS: object-store
      // deployments commonly disable mapreduce.fileoutputcommitter
      // .marksuccessfuljobs, which would make every version invisible
      // and silently restart the fold from each batch's own delta
      fs.create(new org.apache.hadoop.fs.Path(
        root, s"batch=$batchId/$CommitMarker"), true).close()
      // prune superseded versions only AFTER the new one is committed —
      // and RETAIN the immediately-previous one: a live reader that
      // resolved `latest = v` lazily must still find v's files after
      // this batch commits v+1 (it is one version stale, never broken).
      // A crash between write and prune leaves extra data but never
      // loses the latest committed state.
      versions.filter(_ < batchId - 1).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"batch=$v"), true)
      }
    }
  }

  /** Commit marker written by [[applyEncodingBatch]] once a version's
    * parquet is fully on disk — deliberately our own file instead of
    * parquet's `_SUCCESS` (whose emission is configuration-dependent).
    */
  private[graft] val CommitMarker = "_GRAFT_COMMIT"

  /** Stream identity marker at the stateDir root: holds the qualified
    * checkpoint path of the stream that owns this state. A restarted
    * stream with a DIFFERENT checkpointDir (fresh batchIds) over the
    * same stateDir is detected by content mismatch and fails loudly at
    * ANY batchId — including the version-0 ambiguity the batch-0
    * heuristic below cannot distinguish from a legitimate replay.
    */
  private[graft] val StreamIdMarker = "_GRAFT_STREAM_ID"

  /** Committed state versions under a [[targetEncodingSink]] stateDir:
    * `batch=<id>` children whose [[CommitMarker]] exists — or, for
    * state committed BEFORE the explicit marker existed, parquet's own
    * `_SUCCESS` (when present it means the job committed; the explicit
    * marker exists because its emission can be config-disabled, not
    * because it is untrustworthy when present). Without the legacy
    * fallback, a stream resuming its checkpoint at batchId N>0 over a
    * pre-marker stateDir would see zero committed versions and
    * silently restart the fold from the bare delta — the exact
    * silent-reset failure the marker change was meant to prevent. A
    * half-written version (crash mid-write) has neither file and is
    * invisible — the retry's overwrite replaces it.
    */
  private[graft] def committedStateVersions(spark: SparkSession,
                                            stateDir: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch=") &&
          (fs.exists(new org.apache.hadoop.fs.Path(st.getPath, CommitMarker)) ||
           fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))))
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption
      else None
    }
  }

  /** Read side of [[targetEncodingSink]]: the latest committed state
    * version, or None before the first batch lands. Pass through
    * [[graft.operators.Profiling.encodeFromState]] for the smoothed
    * encoding. The returned frame is LAZY; the sink's prune retains
    * one superseded version, so an action on it stays readable even
    * if the sink commits the next version concurrently (the reader is
    * then one version stale — re-resolve for the newest).
    */
  def latestEncodingState(spark: SparkSession,
                          stateDir: String): Option[DataFrame] =
    committedStateVersions(spark, stateDir).maxOption
      .map(v => spark.read.parquet(s"$stateDir/batch=$v"))

  /** Streaming drift monitor, write side (11th stream≡batch twin):
    * fold per-value counts of `value` into versioned exactly-once
    * state — the [[targetEncodingSink]] machinery with a constant
    * label, whose `cnt` column IS the per-value count. State is
    * O(value domain), bounded by the same contract
    * [[graft.operators.Profiling.ksDrift]] enforces on read; the
    * stream's history is never re-read.
    */
  def valueCountsSink(stream: DataFrame, value: Column, stateDir: String,
                      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    targetEncodingSink(stream, value, lit(1L), stateDir, checkpointDir)

  /** Read side of [[valueCountsSink]]: the latest committed per-value
    * count frame as (x, c) — feed straight into
    * [[graft.operators.Profiling.ksDriftFromCounts]] against a
    * reference distribution. After any stream prefix,
    * `ksDriftFromCounts(latestValueCounts, counts(ref)) ==
    * ksDrift(events so far, ref)` exactly (spec-asserted).
    */
  def latestValueCounts(spark: SparkSession,
                        stateDir: String): Option[DataFrame] =
    latestEncodingState(spark, stateDir)
      .map(_.select(col("k").as("x"), col("cnt").as("c")))

  /** Streaming weighted-sample maintainer, write side (12th
    * stream≡batch twin): fold the live stream's (id, weight) ledger
    * into versioned exactly-once state — the [[targetEncodingSink]]
    * machinery keyed by the ROW ID, so the state row (k=id, cnt,
    * sum_v=w) is the row's weight-line entry. The ledger is the
    * minimal sufficient statistic for exact systematic PPS: selection
    * depends on every row's position on the global md5-ordered weight
    * line and on the total weight, so ANY exact without-replacement
    * PPS over a stream must retain (id, w) per row — but never the
    * event payload, the history is never re-read, and each
    * micro-batch folds one narrow delta (one outer join on id, the
    * q143 incremental-view step). Caller contract mirrors
    * [[graft.operators.Sampling.systematicSample]]: ids unique across
    * the stream's life (a re-sent id would fold its weight twice —
    * deduplicate upstream with [[dedupStream]]).
    */
  def weightedSampleSink(stream: DataFrame, id: Column, weight: Column,
                         stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    targetEncodingSink(stream, id, weight, stateDir, checkpointDir)

  /** Read side of [[weightedSampleSink]]: the deterministic systematic
    * PPS sample of everything the stream has delivered so far. After
    * ANY stream prefix, `latestWeightedSample(state, k)` equals
    * [[graft.operators.Sampling.systematicSample]] over the same rows
    * exactly (spec-asserted under multi-trigger delivery) — the
    * operator's no-RNG determinism is what makes the maintained
    * sample REPLAYABLE: re-running the batch sampler over the
    * archived corpus reproduces bit-identically the subsample the
    * stream served.
    */
  def latestWeightedSample(spark: SparkSession, stateDir: String,
                           k: Int): Option[DataFrame] =
    latestEncodingState(spark, stateDir).map { st =>
      graft.operators.Sampling.systematicSample(
        st.select(col("k").as("id"), col("sum_v").as("w")),
        col("id"), col("w"), k)
    }

  final case class Ev(event_id: Long, user_id: Long, ts_us: Long,
                      event_type: String, value: Double)
  final case class SessionAgg(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long)
  /** Public: the streaming state encoder codegen needs constructor access. */
  final case class SessState(start: Long, last: Long, n: Long)

  /** True streaming sessionization: watermarked event-time state with
    * timeout-driven session closure. Within a micro-batch a user's
    * events are buffered and sorted; sessions that close INSIDE the
    * batch (a gap between buffered events) emit immediately, the
    * trailing open session parks in state with an event-time timeout at
    * `last + gap`, and when the watermark passes that point the timeout
    * invocation flushes it. State per user is one (start, last, n)
    * triple — bounded regardless of stream length.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int,
                       watermarkDelay: String = "1 hour"): Dataset[SessionAgg] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    withEventTime(events)
      .withWatermark("ts_utc", watermarkDelay)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"), col("ts_utc"))
      .as[(Long, Long, Long, String, Double, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, evs, state) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the parked session is final
            val st = state.get
            state.remove()
            Iterator.single(SessionAgg(userId, st.start, st.last, st.n))
          } else {
            // INTERVAL-MERGE, not a forward fold: events may arrive out
            // of order across micro-batches (late but inside the
            // watermark). A naive `ts - last <= gap` fold merges any
            // late ts (the difference is negative) and rewinds `last`
            // backward — sessions with end < start. Instead: build
            // sessions among the sorted new events, then merge the
            // parked state interval in by start-time with min/max
            // bounds, so time never runs backward.
            val newIntervals = scala.collection.mutable.ArrayBuffer.empty[SessState]
            evs.map(_._3).toSeq.sorted.foreach { ts =>
              newIntervals.lastOption match {
                case Some(st) if ts - st.last <= gapUs =>
                  newIntervals(newIntervals.size - 1) =
                    SessState(st.start, ts, st.n + 1)
                case _ => newIntervals += SessState(ts, ts, 1)
              }
            }
            val merged = scala.collection.mutable.ArrayBuffer.empty[SessState]
            (state.getOption.toSeq ++ newIntervals).sortBy(_.start).foreach { st =>
              merged.lastOption match {
                case Some(p) if st.start - p.last <= gapUs =>
                  merged(merged.size - 1) = SessState(
                    p.start, math.max(p.last, st.last), p.n + st.n)
                case _ => merged += st
              }
            }
            // All but the newest interval close NOW. For intervals that
            // precede the parked one this is eager (a later late event
            // inside the watermark could in principle still have joined
            // them); exact semantics would need per-user multi-interval
            // state. Bounded single-interval state is the standard
            // trade-off, and in-order streams are unaffected.
            val open = merged.last
            state.update(open)
            state.setTimeoutTimestamp((open.last + gapUs) / 1000)  // µs → ms
            merged.init.map(st => SessionAgg(userId, st.start, st.last, st.n))
              .iterator
          }
      }
  }

  /** Gap-based sessionization with custom state: events for a user more
    * than `gapMinutes` apart start a new session. Works in batch mode
    * (per-group sort, emit all sessions) and streaming mode (state +
    * event-time timeout).
    */
  def sessionize(events: Dataset[Ev], gapMinutes: Int): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          // Batch semantics: all of the user's events arrive in one call;
          // sort by event time, split on gaps, emit every closed session.
          val sorted = evs.toSeq.sortBy(_.ts_us)
          val sessions = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
          var cur: Option[SessState] = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(st) if e.ts_us - st.last <= gapUs =>
                cur = Some(st.copy(last = e.ts_us, n = st.n + 1))
              case Some(st) =>
                sessions += SessionAgg(userId, st.start, st.last, st.n)
                cur = Some(SessState(e.ts_us, e.ts_us, 1))
              case None =>
                cur = Some(SessState(e.ts_us, e.ts_us, 1))
            }
          }
          cur.foreach(st => sessions += SessionAgg(userId, st.start, st.last, st.n))
          state.update(cur.getOrElse(SessState(0, 0, 0)))
          sessions.iterator
      }
  }

  // ------------------------------------------------------ per-key quota

  final case class Admitted(user_id: Long, win_start_us: Long,
                            ts_us: Long, event_id: Long)
  final case class QuotaState(keep: Seq[(Long, Long)]) // (ts_us, event_id)

  /** Per-user ingestion quota: admit at most `maxPerWindow` events per
    * user per tumbling `windowHours` window, chosen deterministically as the FIRST by
    * (event time, event_id) — the rate-limiting step in front of a
    * training-data firehose. Admissions are emitted when the watermark
    * closes the window, so late-but-in-watermark events compete fairly
    * and the result equals the batch twin [[quota]] regardless of
    * arrival order.
    *
    * State is BOUNDED BY CONSTRUCTION: per (user, hour) the state
    * holds only the `maxPerWindow` smallest (ts, id) keys seen — a
    * running top-N, never the window's event buffer. At 100 TB the
    * state size is `users·windows·N` keys, independent of event
    * volume, and the event-time timeout GCs each window at watermark.
    */
  def quotaStream(events: DataFrame, maxPerWindow: Int,
                  windowHours: Int = 1,
                  watermarkDelay: String = "1 hour"): Dataset[Admitted] = {
    val spark = events.sparkSession
    import spark.implicits._
    val winUs = windowHours * 3600L * 1000000
    withEventTime(events)
      .withWatermark("ts_utc", watermarkDelay)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("ts_utc"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      // floorDiv, not /: the batch twin floors via pmod, and truncating
      // division would bin pre-epoch (negative) timestamps differently
      .groupByKey(e => (e._2, Math.floorDiv(e._3, winUs)))
      .flatMapGroupsWithState[QuotaState, Admitted](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, win), evs, state) =>
          if (state.hasTimedOut) {
            val keep = state.get.keep
            state.remove()
            keep.iterator.map { case (ts, id) =>
              Admitted(user, win * winUs, ts, id) }
          } else {
            val keep = (state.getOption.map(_.keep).getOrElse(Seq.empty)
              ++ evs.map(e => (e._3, e._1)))
              .sorted.take(maxPerWindow)
            state.update(QuotaState(keep))
            // fires once the watermark passes the window end
            state.setTimeoutTimestamp(((win + 1) * winUs) / 1000)
            Iterator.empty
          }
      }
  }

  /** Batch twin of [[quotaStream]]: rank by (ts, id) within
    * (user, hour), keep the first `maxPerWindow`.
    */
  def quota(events: DataFrame, maxPerWindow: Int,
            windowHours: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val winUs = windowHours * 3600L * 1000000
    val w = Window.partitionBy("user_id", "win_start_us")
      .orderBy("ts_us", "event_id")
    events
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("win_start_us",
        (col("ts_us") - pmod(col("ts_us"), lit(winUs))).cast(LongType))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxPerWindow)
      .select("user_id", "win_start_us", "ts_us", "event_id")
  }

  // ------------------------------------------- last-touch attribution

  final case class Attribution(user_id: Long, event_id: Long, ts_us: Long,
                               prev_type: String, gap_us: java.lang.Long)
  /** last = newest FINALIZED event (context for the next flush);
    * buf = events not yet past the watermark, in arrival order.
    */
  final case class AttrState(lastTs: Long, lastType: String,
                             hasLast: Boolean,
                             buf: Seq[(Long, Long, String)]) // (ts_us, id, type)

  /** Streaming twin of
    * [[graft.operators.ProductAnalytics.lastTouchAttribution]]: for
    * every conversion event, the immediately preceding event of the
    * same user (credit assignment), emitted once the watermark passes
    * the conversion — so late-but-in-watermark predecessors are seen
    * BEFORE credit is assigned and the result equals the batch twin
    * regardless of arrival order.
    *
    * State per user: the un-finalized event buffer (bounded by the
    * watermark delay — events older than the watermark flush every
    * invocation) plus ONE finalized (ts, type) pair as context for the
    * next flush. The retained pair makes state O(users), the same
    * footprint class as any per-user aggregate, and is what gives the
    * batch twin's unbounded lookback (a conversion years after the
    * previous event still credits it).
    */
  def attributionStream(events: DataFrame, conversion: String = "purchase",
                        watermarkDelay: String = "1 hour"): Dataset[Attribution] = {
    val spark = events.sparkSession
    import spark.implicits._
    withEventTime(events)
      .withWatermark("ts_utc", watermarkDelay)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"), col("ts_utc"))
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[AttrState, Attribution](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, evs, state) =>
          val st0 = state.getOption.getOrElse(
            AttrState(0L, null, hasLast = false, Seq.empty))
          val buf = st0.buf ++ evs.map(e => (e._3, e._1, e._4))
          val wmUs = state.getCurrentWatermarkMs() * 1000
          // watermark contract: nothing with event time ≤ wm arrives
          // after this point — those events are FINAL, walk them in
          // the deterministic (ts, id) order and assign credit
          val (done, pending) = buf.sortBy(t => (t._1, t._2))
            .partition(_._1 <= wmUs)
          var lastTs = st0.lastTs
          var lastType = st0.lastType
          var hasLast = st0.hasLast
          val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
          done.foreach { case (ts, id, typ) =>
            if (typ == conversion)
              out += Attribution(userId, id, ts,
                if (hasLast) lastType else null,
                if (hasLast) java.lang.Long.valueOf(ts - lastTs) else null)
            lastTs = ts; lastType = typ; hasLast = true
          }
          state.update(AttrState(lastTs, lastType, hasLast, pending))
          if (pending.nonEmpty)
            // fire once the watermark passes the oldest pending event
            state.setTimeoutTimestamp(
              math.max(pending.map(_._1).min / 1000 + 1, wmUs / 1000 + 1))
          out.iterator
      }
  }

  /** Batch twin on the raw events frame (same shape as the graded
    * q134, kept here for the stream ≡ batch spec).
    */
  def attributionBatch(events: DataFrame,
                       conversion: String = "purchase"): DataFrame =
    graft.operators.ProductAnalytics.lastTouchAttribution(
      events.select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type")),
      conversion)

  // --------------------------------------- rolling distinct actives

  /** Streaming twin of
    * [[graft.operators.ProductAnalytics.rollingActiveUsers]] — rolling
    * `windowDays`-day distinct active users per day, via the same
    * STACKED formulation the batch side uses: each event projects its
    * (user, day+i) contributions for i < windowDays (a stateless
    * explode — generators are fine pre-aggregation in streaming), the
    * watermarked `dropDuplicates` collapses them to one row per
    * (user, contributed day), and a 1-day window count emits each
    * day's total exactly once in append mode.
    *
    * Watermark subtlety: a contribution's event time is the START of
    * the day it contributes to — up to `windowDays − 1` days AFTER its
    * source event, never before, so shifted records are always "early"
    * relative to their source and the derived watermark needs the
    * extra `windowDays` of slack to hold the day open until the LAST
    * possible contributor (a source event late in day D) has cleared
    * the source delay. State = distinct (user, day) pairs inside the
    * watermark horizon plus one count per open day — both bounded.
    *
    * Emitted days include the `windowDays − 1` days after the last
    * activity (a user active on day D is still "active within 7 days"
    * on day D+6); the batch twin restricts to days with actual
    * activity, so the comparing spec applies that same restriction.
    */
  def rollingActiveStream(events: DataFrame, windowDays: Int = 7,
                          watermarkDelayHours: Int = 1): DataFrame = {
    val dayUs = 86400000000L
    val shifted = withEventTime(events)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      .withColumn("day",
        call_function("div",
          col("ts_us") - pmod(col("ts_us"), lit(dayUs)), lit(dayUs)))
      .withColumn("i", explode(sequence(lit(0), lit(windowDays - 1))))
      .select(col("user_id"), (col("day") + col("i")).as("day2"))
      .withColumn("day2_ts",
        timestamp_micros(col("day2") * dayUs))
      .withWatermark("day2_ts",
        s"${windowDays * 24 + watermarkDelayHours} hours")
    // Dedup on the EVENT-TIME column (day2_ts, 1:1 with day2) so the
    // watermark can evict dedup state; a subset without the event-time
    // key would accumulate (user, day) state forever.
    shifted
      .dropDuplicates("user_id", "day2_ts")
      .groupBy(window(col("day2_ts"), "1 day"))
      .agg(count(lit(1)).as(s"active_${windowDays}d"))
      .select(
        call_function("div",
          unix_micros(col("window.start")) - pmod(
            unix_micros(col("window.start")), lit(dayUs)), lit(dayUs))
          .as("day"),
        col(s"active_${windowDays}d"))
  }

  final case class Scd2Open(state: String, validFrom: Long, ver: Long,
                            openTie: Long)
  final case class Scd2Closed(user_id: Long, ver: Long, state: String,
                              valid_from: Long, valid_to: Long)

  /** SCD2 history maintained over the LIVE event stream — the
    * streaming twin of `Scd.scd2FromLog`: a state-change event CLOSES
    * the key's open version (emitted append-mode with `valid_to` = the
    * new version's `valid_from`) and opens the next; equal-state
    * events are absorbed into the open run. Version numbers match the
    * batch operator, so `stream closed rows == batch rows with
    * valid_to IS NOT NULL` is spec-asserted on the same data.
    *
    * State = exactly ONE open version per key, forever bounded by key
    * cardinality — no watermark needed (nothing per-event is parked),
    * which is what makes this the cheapest of the custom-state
    * operators. Out-of-order: events sort within each micro-batch; a
    * cross-batch straggler at-or-before the open version's
    * `(valid_from, event_id)` position — the batch operator's total
    * (ts, tie) order, with the opener's event_id carried in state so
    * an equal-timestamp smaller-tie arrival is recognized as late
    * rather than replayed out of order — cannot retroactively split
    * already-emitted history and is dropped (in-order streams
    * unaffected) — the same bounded-state trade-off documented on
    * [[sessionizeStream]].
    */
  def scd2Stream(events: DataFrame): Dataset[Scd2Closed] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2Open, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, evs, state) =>
          val sorted = evs.toSeq.sortBy(e => (e._2, e._3))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          var cur = state.getOption.orNull
          sorted.foreach { case (_, ts, tie, st) =>
            if (cur == null) cur = Scd2Open(st, ts, 1L, tie)
            else if (ts < cur.validFrom ||
              (ts == cur.validFrom && tie <= cur.openTie)) {
              // straggler at-or-before the open (ts, tie): see Scaladoc
            } else if (st != cur.state) {
              out += Scd2Closed(userId, cur.ver, cur.state, cur.validFrom, ts)
              cur = Scd2Open(st, ts, cur.ver + 1, tie)
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }
}
