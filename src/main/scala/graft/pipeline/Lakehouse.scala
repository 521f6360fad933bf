package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.quality.Checks

/** The full lakehouse build — the engine's equivalent of `dbt build`
  * (SURVEY §3.1): read bronze, promote the three silver entities,
  * build both gold marts, materialize everything as catalog tables
  * (S7 CTAS semantics into the S8 warehouse), and run the not-null
  * contract as the post-build gate.
  *
  * The dbt DAG becomes plain dataflow: silver models are independent
  * (Catalyst/Spark schedule their jobs separately), gold.tes is built
  * FROM gold.dss (the J3 mart-over-mart edge), and the 17-test
  * contract runs one scan per table instead of 17 probe queries.
  */
object Lakehouse {

  final case class BuildResult(
      silverRows: Map[String, Long],
      dssRows: Long, tesRows: Long,
      contract: Seq[Checks.CheckResult])

  private val SilverEntities = Seq("laps", "weather", "results")

  private def dbAndName(spark: SparkSession, fqTable: String): (String, String) =
    fqTable.split('.') match {
      case Array(db, n) => (db, n)
      case _            => (spark.catalog.currentDatabase, fqTable)
    }

  /** Version numbers of the physical tables backing `fqTable`
    * (`<table>__v<N>` naming). Read from the session catalog directly —
    * no data scan and no SQL command.
    */
  private def versions(spark: SparkSession, fqTable: String): Seq[Int] = {
    val (db, name) = dbAndName(spark, fqTable)
    val re = (java.util.regex.Pattern.quote(name) + "__v(\\d+)").r
    if (!spark.catalog.databaseExists(db)) Nil
    else spark.sessionState.catalog.listTables(db, s"${name}__v*")
      .map(_.table).collect { case re(v) => v.toInt }
  }

  /** Retained version numbers of `fqTable`, ascending — what
    * [[readVersion]] accepts. How many exist is governed by
    * `ctasSwap(retainVersions = …)`.
    */
  def listVersions(spark: SparkSession, fqTable: String): Seq[Int] =
    versions(spark, fqTable).sorted

  /** Time travel: read a specific retained version of a
    * versioned-swap table — the escape hatch when a publish has to be
    * audited or rolled back ("what did the mart serve yesterday?").
    * Fails with the available versions listed if `version` has been
    * GC'd (or never existed).
    */
  def readVersion(spark: SparkSession, fqTable: String,
                  version: Int): DataFrame = {
    val have = listVersions(spark, fqTable)
    require(have.contains(version),
      s"$fqTable has no retained version $version (available: " +
        s"${have.mkString(", ")}) — raise ctasSwap(retainVersions) to " +
        "keep more history")
    spark.table(s"${fqTable}__v$version")
  }

  /** Roll the live view pointer back to a retained version — ONE
    * catalog op, same atomicity as a publish. The rolled-back-from
    * version stays retained until the next publish GCs it.
    */
  def rollbackTo(spark: SparkSession, fqTable: String, version: Int): Unit = {
    require(listVersions(spark, fqTable).contains(version),
      s"$fqTable has no retained version $version")
    publish(spark, fqTable, version, liveVersion(spark, fqTable))
  }

  /** Collect table + column statistics for the LIVE version of a
    * versioned-swap table so Catalyst's cost-based features (join
    * reorder, broadcast-by-rowcount rather than file size) see real
    * numbers. One scan; run it after a publish, on the tables that
    * serve ad-hoc joins.
    */
  def analyze(spark: SparkSession, fqTable: String,
              columns: Seq[String] = Nil): Unit = {
    // resolve the version the view actually SERVES (after a rollback
    // the live version is not the numerically-highest one)
    val v = liveVersion(spark, fqTable).getOrElse(
      throw new IllegalArgumentException(s"$fqTable has no versions"))
    val forCols =
      if (columns.isEmpty) ""
      else columns.map(c => s"`$c`").mkString(" FOR COLUMNS ", ", ", "")
    spark.sql(s"ANALYZE TABLE ${fqTable}__v$v COMPUTE STATISTICS$forCols")
  }

  /** Point the `fqTable` view at version `v`, recording `prev` (the
    * version it served until now) as the superseded one. `cols` (when
    * known) pins the view's column order to the producing frame's: a
    * partitioned `saveAsTable` physically moves partition columns to
    * the end of the stored schema, and the view projection is what
    * restores the declared order (silver's keys-first contract) on the
    * read surface.
    */
  private def publish(spark: SparkSession, fqTable: String, v: Int,
                      prev: Option[Int], cols: Seq[String] = Nil): Unit = {
    val projection =
      if (cols.isEmpty) "*" else cols.map(c => s"`$c`").mkString(", ")
    // the view records which version is live and which one it
    // superseded — the same single atomic catalog op carries the
    // metadata, so rollbacks don't desynchronize it. prev is what GC
    // must protect and what versionDrift compares against; after a
    // ROLLBACK the numerically-highest version is NOT the
    // previously-serving one, so "max version" is not derivable.
    val props = (Seq(s"'graft.live_version' = '$v'") ++
      prev.filter(_ != v).map(p => s"'graft.prev_version' = '$p'"))
      .mkString(", ")
    val (db, name) = dbAndName(spark, fqTable)
    swapView(spark, db, name,
      s"TBLPROPERTIES ($props) AS SELECT $projection FROM ${fqTable}__v$v")
  }

  /** Creates the view `db.name` as `body` (what follows the view name in
    * CREATE VIEW), or repoints an existing one, with no moment in which
    * the name is missing. CREATE OR REPLACE VIEW drops the old view
    * before creating the new one, and a reader resolving the name in
    * between finds nothing; so an existing view is repointed by one
    * catalog `alterTable` to a side-built `<name>__publish` view.
    */
  private[graft] def swapView(spark: SparkSession, db: String, name: String,
                              body: String): Unit = {
    val catalog = spark.sessionState.catalog
    val side = TableIdentifier(s"${name}__publish", Some(db))
    if (!catalog.tableExists(TableIdentifier(name, Some(db))))
      spark.sql(s"CREATE VIEW $db.$name $body")
    else {
      spark.sql(s"CREATE OR REPLACE VIEW $db.${side.table} $body")
      val staged = catalog.getTableMetadata(side)
      catalog.alterTable(staged.copy(identifier = staged.identifier.copy(table = name)))
      catalog.dropTable(side, ignoreIfNotExists = true, purge = false)
    }
  }

  private def viewProp(spark: SparkSession, fqTable: String,
                       key: String): Option[Int] =
    if (!spark.catalog.tableExists(fqTable)) None
    else scala.util.Try {
      val (db, name) = dbAndName(spark, fqTable)
      spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(name, Some(db)))
        .properties.get(key).map(_.toInt)
    }.toOption.flatten

  /** The version the live view currently serves; `None` when there is
    * no view.
    */
  def liveVersion(spark: SparkSession, fqTable: String): Option[Int] =
    viewProp(spark, fqTable, "graft.live_version")

  /** The version the live pointer superseded (what was serving before
    * the last publish/rollback) — the comparison base for
    * [[graft.quality.Checks.versionDrift]].
    */
  def prevVersion(spark: SparkSession, fqTable: String): Option[Int] =
    viewProp(spark, fqTable, "graft.prev_version")

  /** Transactional CTAS: materialize `df` as version table
    * `<table>__v<N>` and publish it by repointing the `fqTable` VIEW at
    * it — the engine's equivalent of dbt's `CREATE … __dbt_tmp` + swap
    * (transform/target/run/f1_transform/models/silver/laps.sql:6-20),
    * but with a SINGLE catalog operation as the commit point instead of
    * the reference's rename pair. The repoint is one atomic catalog
    * `alterTable` (see `publish`), so there is NO window in which the live
    * name is missing: readers planning before the publish resolve the
    * old version, readers planning after resolve the new one, and a
    * crash at any point leaves the pointer on the last fully-written
    * version. A failure while writing the new version (bad data,
    * executor loss, contract breach) never touches the pointer at all.
    *
    * Superseded version tables are garbage-collected after the publish,
    * keeping the `retainVersions` most recent ones. The pointer flip is
    * atomic only for queries PLANNED after it — a query still executing
    * against the old version when it is dropped would lose its files
    * mid-scan, so the default is 1: the N-1 version survives until the
    * NEXT publish, giving concurrent readers a full swap interval to
    * drain. Pass 0 only for strictly single-reader builds (tests do,
    * to assert the GC itself); size it larger to cover readers that
    * outlive a whole publish cycle.
    */
  def ctasSwap(spark: SparkSession, df: DataFrame, fqTable: String,
               partitionBy: Seq[String] = Nil, retainVersions: Int = 1): Unit = {
    recoverSwap(spark, fqTable)
    val have = versions(spark, fqTable)
    val live = liveVersion(spark, fqTable)
    val next = have.maxOption.getOrElse(-1) + 1
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .saveAsTable(s"${fqTable}__v$next")
    publish(spark, fqTable, next, live, df.columns.toSeq)    // the commit point
    // GC superseded + stray versions. The retention window protects the
    // PREVIOUSLY-LIVE version first (after a rollback it is not the
    // numerically-highest one, and it is exactly the version concurrent
    // readers may still be scanning), then the most recent others up to
    // retainVersions total.
    val protect = live.toSeq
    val others = have.filter(v => !protect.contains(v)).sorted
    val keepOthers = math.max(0, retainVersions - protect.size)
    (others.dropRight(keepOthers) ++
        (if (retainVersions == 0) protect else Nil))
      .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${fqTable}__v$v"))
  }

  /** Recovery for a lost pointer: when the live view is missing (a crash
    * before the first publish, or a dropped view) but version tables
    * survive, republish the newest with one catalog op. On a healthy
    * layout it is a metadata no-op.
    *
    * A pointer recovered here projects `SELECT *`, so a PARTITIONED
    * version table surfaces its partition columns last until the next
    * `ctasSwap` republishes with the declared order — data is intact,
    * only column order differs in that window. (The producing frame's
    * order isn't recorded anywhere the recovery path can read; the next
    * build restores it.)
    */
  def recoverSwap(spark: SparkSession, fqTable: String): Unit =
    if (!spark.catalog.tableExists(fqTable))
      versions(spark, fqTable).maxOption
        .foreach(v => publish(spark, fqTable, v, None))

  /** Table-managed clustering rewrite — the engine's `OPTIMIZE …
    * ZORDER BY`: rewrite the live version of `fqTable` clustered on
    * `zcols` ([[graft.operators.Layout.zorderFrame]]) and publish it
    * through the SAME transactional view-pointer swap as any rebuild,
    * so readers never observe a half-clustered table and the previous
    * version survives per `retainVersions`. Content is untouched —
    * only file layout changes (min/max pruning on every clustered
    * column); MaintenanceLawsSpec asserts the law.
    */
  def optimize(spark: SparkSession, fqTable: String, zcols: Seq[String],
               files: Int, bins: Int = 256,
               retainVersions: Int = 1): Unit = {
    // self-heal a crashed-swap layout BEFORE reading the live name —
    // zorderFrame touches spark.table(fqTable) eagerly (approxQuantile),
    // ahead of ctasSwap's own recovery call
    recoverSwap(spark, fqTable)
    ctasSwap(spark,
      graft.operators.Layout.zorderFrame(spark.table(fqTable), zcols,
        files, bins),
      fqTable, retainVersions = retainVersions)
  }

  /** Full rebuild, mirroring the reference's `+materialized: table`
    * semantics (no incrementality — SURVEY §4 row "Incrementality").
    * Entities missing from bronze are skipped (the reference's
    * ingestion writes whatever sessions exist). Silver tables are
    * partitioned by `season` so serving predicates prune at the file
    * level (SURVEY §4 row 1 — the reference's DuckDB tables are
    * unpartitioned; at 100 TB a full-table scan per dashboard query is
    * not viable). `countRows = false` skips the per-table count()
    * actions (three extra full scans — at scale take row counts from
    * the write's committed task metrics instead); counts then report -1.
    */
  def build(spark: SparkSession, bronzeRoot: String,
            silverDb: String = "silver", goldDb: String = "gold",
            countRows: Boolean = true): BuildResult = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $silverDb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $goldDb")
    def rows(df: DataFrame): Long = if (countRows) df.count() else -1L

    val silverRows = SilverEntities.flatMap { entity =>
      val exists = new org.apache.hadoop.fs.Path(s"$bronzeRoot/$entity")
      val fs = exists.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(exists)) None
      else {
        Silver.build(Bronze.read(spark, bronzeRoot, entity), s"$silverDb.$entity",
          partitionBySeason = true)
        Some(entity -> rows(spark.table(s"$silverDb.$entity")))
      }
    }.toMap

    val silverLaps = spark.table(s"$silverDb.laps")
    ctasSwap(spark, Gold.driverSessionSummary(silverLaps),
      s"$goldDb.driver_session_summary")
    val dss = spark.table(s"$goldDb.driver_session_summary")
    ctasSwap(spark, Gold.teamEventSummary(dss), s"$goldDb.team_event_summary")
    val tes = spark.table(s"$goldDb.team_event_summary")

    val keyCols = Seq("season", "round", "grand_prix")
    val contract =
      silverRows.keys.toSeq.sorted.map(e =>
        Checks.notNull(spark.table(s"$silverDb.$e"), s"$silverDb.$e", keyCols)) :+
        Checks.notNull(dss, s"$goldDb.driver_session_summary", keyCols :+ "driver") :+
        Checks.notNull(tes, s"$goldDb.team_event_summary", keyCols :+ "team")

    BuildResult(silverRows, rows(dss), rows(tes), contract.flatten)
  }
}
