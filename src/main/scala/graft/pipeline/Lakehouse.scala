package graft.pipeline

import java.util.regex.Pattern

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._
import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{col, count, lit}
import graft.quality.Checks

/** The full lakehouse build — the engine's equivalent of `dbt build`
  * (SURVEY §3.1): read bronze, promote the three silver entities,
  * build both gold marts, materialize everything as catalog tables
  * (S7 CTAS semantics into the S8 warehouse), and report the not-null
  * contract.
  *
  * The dbt DAG becomes plain dataflow: silver models are independent
  * (Catalyst/Spark schedule their jobs separately), gold.tes is built
  * FROM gold.dss (the J3 mart-over-mart edge), and the 17-test
  * contract rides the writes: each table's NULL counts are observed in
  * the job that writes it, instead of 17 probe queries or a rescan per
  * table.
  */
object Lakehouse {

  final case class BuildResult(
      silverRows: Map[String, Long],
      dssRows: Long, tesRows: Long,
      contract: Seq[Checks.CheckResult])

  /** In the order the contract reports them. */
  private val SilverEntities = Seq("laps", "results", "weather")

  /** How long reading a write's observed metrics may wait for them. */
  private val ObservedWait = 60.seconds

  /** What one [[ctasSwap]] counted while it wrote `table`: the row count
    * and dbt's `not_null` result ([[Checks.notNull]]) for each requested
    * column, in column order. Spark delivers a write's observed metrics
    * on its listener bus after the write returns, so the first read
    * waits for them, up to a bound, and fails naming the table rather
    * than hanging when they never arrive.
    */
  final class Published private[pipeline] (val table: String,
      notNull: Seq[String], observation: Observation) {
    private lazy val metrics: Row =
      try Await.result(observation.future, ObservedWait)
      catch { case _: TimeoutException => throw new IllegalStateException(
        s"$table: the write's observed metrics did not arrive within $ObservedWait") }

    def rows: Long = metrics.getAs[Long]("rows")

    def contract: Seq[Checks.CheckResult] = notNull.map(c =>
      Checks.CheckResult(table, c, metrics.getAs[Long](s"null:$c")))
  }

  private def dbAndName(spark: SparkSession, fqTable: String): (String, String) =
    fqTable.split('.') match {
      case Array(db, n) => (db, n)
      case _            => (spark.catalog.currentDatabase, fqTable)
    }

  /** `<name>__v<N>` and `<name>__v<N>__<member>`: the one naming format
    * of a versioned commit's tables (a table's version, a standing
    * index's member). Matched whole against a catalog listing; searched
    * for in a view body or a manifest string for the versions it names.
    */
  private def versionName(name: String): Regex =
    (Pattern.quote(name) + "__v(\\d+)(?:__\\w+)?").r

  /** Every table of every version of `db.name`, as (version, table
    * name). Read from the session catalog directly: no data scan and no
    * SQL command.
    */
  private def versionedTables(spark: SparkSession, db: String,
                              name: String): Seq[(Int, String)] = {
    val re = versionName(name)
    if (!spark.catalog.databaseExists(db)) Nil
    else spark.sessionState.catalog.listTables(db, s"${name}__v*")
      .map(_.table).collect { case t @ re(v) => (v.toInt, t) }
  }

  /** The versions of `name` whose tables `text` names. */
  private def namedVersions(name: String, text: String): Set[Int] =
    versionName(name).findAllMatchIn(text).map(_.group(1).toInt).toSet

  /** Retained version numbers of `fqTable`, ascending — what
    * [[readVersion]] accepts: the live version and the one it
    * superseded ([[commitVersion]]'s retention rule).
    */
  def listVersions(spark: SparkSession, fqTable: String): Seq[Int] = {
    val (db, name) = dbAndName(spark, fqTable)
    versionedTables(spark, db, name).map(_._1).distinct.sorted
  }

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
        s"${have.mkString(", ")}) — a publish keeps only the version it " +
        "makes live and the one it supersedes")
    spark.table(s"${fqTable}__v$version")
  }

  /** Roll the live view pointer back to a retained version — ONE
    * catalog op, same atomicity as a publish. The rolled-back-from
    * version stays retained until the next publish GCs it.
    */
  def rollbackTo(spark: SparkSession, fqTable: String, version: Int): Unit = {
    require(listVersions(spark, fqTable).contains(version),
      s"$fqTable has no retained version $version")
    val (db, name) = dbAndName(spark, fqTable)
    publish(spark, db, name, version, liveVersion(spark, fqTable),
      selectVersion(db, name, version))
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

  /** Point the view `db.name` at version `v` as `select`, recording
    * `prev` (the version it served until now) as the superseded one.
    * The view records which version is live and which one it
    * superseded in its TBLPROPERTIES, so the same single atomic catalog
    * op carries the metadata and rollbacks don't desynchronize it. prev
    * is what the commit's GC must protect and what versionDrift
    * compares against; after a ROLLBACK the numerically-highest version
    * is NOT the previously-serving one, so "max version" is not
    * derivable.
    */
  private def publish(spark: SparkSession, db: String, name: String, v: Int,
                      prev: Option[Int], select: String): Unit = {
    val props = (Seq(s"'graft.live_version' = '$v'") ++
      prev.filter(_ != v).map(p => s"'graft.prev_version' = '$p'"))
      .mkString(", ")
    swapView(spark, db, name, s"TBLPROPERTIES ($props) AS $select")
  }

  /** The SELECT a table's view serves over version `v`. `cols` (when
    * known) pins the view's column order to the producing frame's: a
    * partitioned `saveAsTable` physically moves partition columns to
    * the end of the stored schema, and the view projection is what
    * restores the declared order (silver's keys-first contract) on the
    * read surface.
    */
  private def selectVersion(db: String, name: String, v: Int,
                            cols: Seq[String] = Nil): String = {
    val projection =
      if (cols.isEmpty) "*" else cols.map(c => s"`$c`").mkString(", ")
    s"SELECT $projection FROM $db.${name}__v$v"
  }

  /** The one versioned commit behind a published name, shared by
    * [[ctasSwap]] and the standing indexes' manifests
    * ([[graft.operators.StandingIndex]]). In order: list the version
    * tables of `db.name`; allocate version N = max + 1; run `write(N)`,
    * which writes version N's tables and returns the SELECT the view
    * `db.name` is to serve; repoint the view there ([[publish]], the
    * commit point); drop every version table except those of N, of the
    * version that was live before, and of every version the new or the
    * superseded view's SELECT names. Returns N.
    *
    * That is the whole retention rule. The superseded version survives
    * until the next commit, so a reader that planned against it has a
    * full commit interval to drain. A table's superseded view names only
    * the version it served; a standing index's superseded manifest also
    * names the older level tables it carried, which its readers may
    * still scan.
    */
  private[graft] def commitVersion(spark: SparkSession, db: String,
      name: String)(write: Int => String): Int = {
    val tables = versionedTables(spark, db, name)
    val superseded = view(spark, db, name)
    val live = superseded.flatMap(_.properties.get("graft.live_version")).map(_.toInt)
    val next = tables.map(_._1).maxOption.getOrElse(-1) + 1
    val select = write(next)
    publish(spark, db, name, next, live, select)
    val keep = live.toSet + next ++ namedVersions(name, select) ++
      superseded.flatMap(_.viewText).toSet.flatMap(namedVersions(name, _))
    tables.collect { case (v, t) if !keep(v) => t }
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    next
  }

  /** Creates the view `db.name` as `body` (what follows the view name in
    * CREATE VIEW), or repoints an existing one, with no moment in which
    * the name is missing. CREATE OR REPLACE VIEW drops the old view
    * before creating the new one, and a reader resolving the name in
    * between finds nothing; so an existing view is repointed by one
    * catalog `alterTable` to a side-built `<name>__publish` view.
    */
  private def swapView(spark: SparkSession, db: String, name: String,
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

  /** The catalog entry of the view `db.name`, if there is one. */
  private def view(spark: SparkSession, db: String,
                   name: String): Option[CatalogTable] =
    if (!spark.catalog.tableExists(s"$db.$name")) None
    else scala.util.Try(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name, Some(db)))).toOption

  private def viewProp(spark: SparkSession, fqTable: String,
                       key: String): Option[Int] = {
    val (db, name) = dbAndName(spark, fqTable)
    view(spark, db, name).flatMap(_.properties.get(key)).map(_.toInt)
  }

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
    * `alterTable` (see `swapView`), so there is NO window in which the live
    * name is missing: readers planning before the publish resolve the
    * old version, readers planning after resolve the new one, and a
    * crash at any point leaves the pointer on the last fully-written
    * version. A failure while writing the new version (bad data,
    * executor loss) never touches the pointer at all.
    *
    * The write's one job also yields the table's row count and the
    * NULL count of every `notNull` column (a NULL in a partition column
    * counts too), observed on the rows as they stream into the writer
    * ([[Published]]): the contract rides the write, with no rescan of
    * the table just written. A failing not-null check does not block
    * the publish: like `dbt build`, which materializes a model and then
    * tests it, the table goes live and the caller reads the failures
    * from the result.
    *
    * A partitioned write is rebalanced on its partition columns first,
    * so AQE sizes each partition's files by
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (a small
    * partition lands as one file, a large one is split) instead of one
    * file per write task per partition.
    *
    * The publish is [[commitVersion]]: after the flip it drops every
    * version but the new one and the one it superseded. The flip is
    * atomic only for queries PLANNED after it, and a query still
    * executing against a version when it is dropped loses its files
    * mid-scan; keeping the superseded version until the NEXT publish
    * gives concurrent readers a full swap interval to drain.
    */
  def ctasSwap(spark: SparkSession, df: DataFrame, fqTable: String,
               partitionBy: Seq[String] = Nil,
               notNull: Seq[String] = Nil): Published = {
    recoverSwap(spark, fqTable)
    val (db, name) = dbAndName(spark, fqTable)
    val observation = Observation()
    val observed = df.observe(observation, count(lit(1)).as("rows"),
      notNull.map(c => Checks.nullCount(col(c)).as(s"null:$c")): _*)
    val writer =
      if (partitionBy.isEmpty) observed.write
      else observed.hint("rebalance", partitionBy.map(col): _*).write
        .partitionBy(partitionBy: _*)
    commitVersion(spark, db, name) { v =>
      writer.mode("overwrite").saveAsTable(s"$db.${name}__v$v")
      selectVersion(db, name, v, df.columns.toSeq)
    }
    new Published(fqTable, notNull, observation)
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
    if (!spark.catalog.tableExists(fqTable)) {
      val (db, name) = dbAndName(spark, fqTable)
      versionedTables(spark, db, name).map(_._1).maxOption
        .foreach(v => publish(spark, db, name, v, None, selectVersion(db, name, v)))
    }

  /** Table-managed clustering rewrite — the engine's `OPTIMIZE …
    * ZORDER BY`: rewrite the live version of `fqTable` clustered on
    * `zcols` ([[graft.operators.Layout.zorderFrame]]) and publish it
    * through the SAME transactional view-pointer swap as any rebuild,
    * so readers never observe a half-clustered table and the previous
    * version survives until the next publish. Content is untouched —
    * only file layout changes (min/max pruning on every clustered
    * column); MaintenanceLawsSpec asserts the law.
    */
  def optimize(spark: SparkSession, fqTable: String, zcols: Seq[String],
               files: Int, bins: Int = 256): Unit = {
    // self-heal a crashed-swap layout BEFORE reading the live name —
    // zorderFrame touches spark.table(fqTable) eagerly (approxQuantile),
    // ahead of ctasSwap's own recovery call
    recoverSwap(spark, fqTable)
    ctasSwap(spark,
      graft.operators.Layout.zorderFrame(spark.table(fqTable), zcols,
        files, bins),
      fqTable)
  }

  /** Full rebuild, mirroring the reference's `+materialized: table`
    * semantics (no incrementality — SURVEY §4 row "Incrementality").
    * Entities missing from bronze are skipped (the reference's
    * ingestion writes whatever sessions exist). Silver tables are
    * partitioned by `season` so serving predicates prune at the file
    * level (SURVEY §4 row 1 — the reference's DuckDB tables are
    * unpartitioned; at 100 TB a full-table scan per dashboard query is
    * not viable).
    *
    * The contract is the reference's 17 `not_null` tests, taken from
    * the five writes' observed metrics ([[ctasSwap]]'s `notNull`): one
    * job per table, no rescan. Results come in a fixed order: silver
    * laps, results, weather (those present), then DSS, then TES. A
    * failing check does not stop the build; every table is published
    * and the failures are reported in `contract`, as `dbt build` does.
    * Row counts come from the same observations; `countRows = false`
    * reports them as -1.
    */
  def build(spark: SparkSession, bronzeRoot: String,
            silverDb: String = "silver", goldDb: String = "gold",
            countRows: Boolean = true): BuildResult = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $silverDb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $goldDb")
    val keyCols = Seq("season", "round", "grand_prix")

    val silver = SilverEntities.flatMap { entity =>
      val exists = new org.apache.hadoop.fs.Path(s"$bronzeRoot/$entity")
      val fs = exists.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(exists)) None
      else Some(entity -> Silver.build(Bronze.read(spark, bronzeRoot, entity),
        s"$silverDb.$entity", partitionBySeason = true, notNull = keyCols))
    }

    val dss = ctasSwap(spark, Gold.driverSessionSummary(spark.table(s"$silverDb.laps")),
      s"$goldDb.driver_session_summary", notNull = keyCols :+ "driver")
    val tes = ctasSwap(spark, Gold.teamEventSummary(spark.table(dss.table)),
      s"$goldDb.team_event_summary", notNull = keyCols :+ "team")

    def rows(p: Published): Long = if (countRows) p.rows else -1L
    BuildResult(silver.map { case (e, p) => e -> rows(p) }.toMap, rows(dss), rows(tes),
      (silver.map(_._2) :+ dss :+ tes).flatMap(_.contract))
  }
}
