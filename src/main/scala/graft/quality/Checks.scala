package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality contract runner — dbt's generic tests as scans of a
  * frame. The reference's 17 `not_null` tests
  * (transform/models/silver/schema.yml:5-29,
  * transform/models/gold/schema.yml:5-24; SURVEY §5 item 1, §7 step 8)
  * ride the writes in [[graft.pipeline.Lakehouse.build]], which counts
  * them in the job that writes each table; [[notNull]] is the same
  * count as a scan, for a table already written.
  */
object Checks {

  final case class CheckResult(table: String, column: String, failures: Long) {
    def passed: Boolean = failures == 0L
  }

  /** dbt's `not_null` generic test ([[notNullDf]]), one result per
    * column, in column order.
    */
  def notNull(df: DataFrame, table: String, columns: Seq[String]): Seq[CheckResult] =
    columns.zip(notNullDf(df, table, columns).collect())
      .map { case (c, row) => CheckResult(table, c, row.getLong(1)) }

  /** Reads a one-row `(check_name, failures)` frame of the `…Df`
    * forms below as a scalar result.
    */
  private def scalar(checkDf: DataFrame, table: String, column: String): CheckResult =
    CheckResult(table, column, checkDf.head().getLong(1))

  /** dbt's `unique` generic test ([[uniqueDf]]). */
  def unique(df: DataFrame, table: String, columns: Seq[String]): CheckResult =
    scalar(uniqueDf(df, table, columns), table, columns.mkString("(", ",", ")"))

  /** dbt's `accepted_values` generic test ([[acceptedValuesDf]]). */
  def acceptedValues(df: DataFrame, table: String, column: String,
                     allowed: Seq[String]): CheckResult =
    scalar(acceptedValuesDf(df, table, column, allowed), table, column)

  /** dbt's `relationships` generic test ([[relationshipsDf]]). */
  def relationships(df: DataFrame, table: String, column: String,
                    to: DataFrame, toColumn: String): CheckResult =
    scalar(relationshipsDf(df, table, column, to, toColumn), table, column)

  /** DataFrame-returning check variants: one row per check,
    * `(check_name, failures)` — NO driver collect, so a whole DQ suite
    * composes into one lazily-planned union the engine schedules as
    * independent single-row aggregates (and the t2 oracle can replay).
    * The scalar variants above read these for imperative gate code.
    * not_null: dbt's `count(*) ... where <col> is null` probe for all
    * columns in ONE pass (one scan, one aggregate row), exploded to one row
    * per column in column order.
    */
  def notNullDf(df: DataFrame, table: String, columns: Seq[String]): DataFrame = {
    val wide = df.agg(
      nullCount(col(columns.head)).as(columns.head),
      columns.tail.map(c => nullCount(col(c)).as(c)): _*)
    val rows = columns.map(c => struct(
      lit(s"not_null:$table.$c").as("check_name"),
      col(c).as("failures")))
    wide.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** The aggregate behind dbt's `not_null`: rows where `c` is NULL (0
    * over no rows). [[graft.pipeline.Lakehouse.ctasSwap]] observes the
    * same expression on the frame it writes.
    */
  private[graft] def nullCount(c: Column): Column = count(when(c.isNull, 1))

  /** dbt's `unique`, semantics matched exactly: NULL keys are excluded
    * before grouping (dbt compiles `where field is not null` — two
    * NULL-keyed rows do NOT fail), and failures = the number of
    * DUPLICATED VALUES (one failure row per `group by … having
    * count(*) > 1` result), not the extra-row count.
    */
  def uniqueDf(df: DataFrame, table: String, columns: Seq[String]): DataFrame = {
    val nonNullKeys = columns.map(col(_).isNotNull).reduce(_ && _)
    df.filter(nonNullKeys)
      .groupBy(columns.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .agg(count(lit(1)).as("failures"))
      .select(lit(s"unique:$table.${columns.mkString("(", ",", ")")}")
        .as("check_name"), col("failures"))
  }

  /** dbt's `accepted_values`: rows whose column value is outside the
    * allowed set (NULLs pass, as in dbt — not_null is the separate
    * probe for those).
    */
  def acceptedValuesDf(df: DataFrame, table: String, column: String,
                       allowed: Seq[String]): DataFrame =
    df.filter(col(column).isNotNull && !col(column).isin(allowed: _*))
      .agg(count(lit(1)).as("failures"))
      .select(lit(s"accepted_values:$table.$column").as("check_name"),
        col("failures"))

  /** dbt's `relationships`: every non-NULL foreign-key value in
    * `df.column` must exist in `to.toColumn` (dbt compiles a `left join
    * … where parent is null` probe; the anti-join is the same plan with
    * the child side streamed and the parent key set broadcast when
    * small — the dimension is never shuffled). NULL children pass, as
    * in dbt.
    */
  def relationshipsDf(df: DataFrame, table: String, column: String,
                      to: DataFrame, toColumn: String): DataFrame =
    df.filter(col(column).isNotNull)
      .join(to.select(col(toColumn).as(column)).distinct(),
        Seq(column), "left_anti")
      .agg(count(lit(1)).as("failures"))
      .select(lit(s"relationships:$table.$column").as("check_name"),
        col("failures"))

  def assertAll(results: Seq[CheckResult]): Unit = {
    val failed = results.filterNot(_.passed)
    require(failed.isEmpty,
      s"not_null contract violated: ${failed.map(r => s"${r.table}.${r.column}=${r.failures}").mkString(", ")}")
  }

  /** Publish-gate for versioned-swap tables: the live version's row
    * count must be within `shrinkTolerance` of the previous retained
    * version's (a silently-truncated upstream is the classic way a
    * mart loses most of its rows without any check failing — every row
    * that REMAINS is perfectly valid). GROWTH is never flagged; with
    * fewer than two retained versions there is nothing to compare and
    * the check passes. Two count() scans — run it right after a
    * publish, before the old version is GC'd.
    */
  def versionDrift(spark: org.apache.spark.sql.SparkSession,
                   fqTable: String,
                   shrinkTolerance: Double = 0.5): CheckResult = {
    import graft.pipeline.Lakehouse
    // compare against what was actually SERVING before the last publish
    // (recorded by the publish itself) — after a rollback the
    // numerically-previous version is the rolled-back-FROM bad build,
    // and comparing against it would wave the next shrink through
    val retained = Lakehouse.listVersions(spark, fqTable)
    (Lakehouse.liveVersion(spark, fqTable),
        Lakehouse.prevVersion(spark, fqTable).filter(retained.contains)) match {
      case (Some(live), Some(prev)) if live != prev =>
        val prevN = Lakehouse.readVersion(spark, fqTable, prev).count()
        val liveN = Lakehouse.readVersion(spark, fqTable, live).count()
        val floor = (prevN * (1.0 - shrinkTolerance)).toLong
        CheckResult(fqTable, "__row_count_drift",
          if (liveN >= floor) 0L else floor - liveN)
      case _ => // first publish, or history GC'd: nothing to compare
        CheckResult(fqTable, "__row_count_drift", 0L)
    }
  }

  /** Row-level diff between two dataset snapshots keyed by `id`:
    * `added` (only in the new snapshot), `removed` (only in the old),
    * `changed` (both, content digest differs), `unchanged`. The diff is
    * one full-outer equi-join on the key with md5 digests computed
    * before the join — the content itself never moves through the
    * shuffle, so snapshot auditing stays affordable on wide tables.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   id: org.apache.spark.sql.Column,
                   content: org.apache.spark.sql.Column): DataFrame = {
    // md5(NULL) is NULL, which would make a present row with NULL
    // content indistinguishable from an absent row — sentinel it (the
    // sentinel is not a valid 32-hex digest, so it can't collide)
    val fp = coalesce(md5(content), lit("<null-content>"))
    val o = oldSnap.select(id.as("doc_id"), fp.as("old_fp"))
    val n = newSnap.select(id.as("doc_id"), fp.as("new_fp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")
  }
}
