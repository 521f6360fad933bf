package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Fns

/** Silver layer — typed pass-throughs of bronze. One generic transform
  * shared by laps/weather/results, exactly as the reference's three
  * identical models do (transform/models/silver/laps.sql:4-9; SURVEY §2
  * P2-P4, §7 step 4).
  */
object Silver {

  /** The only fixed contract in the reference's type system
    * (transform/models/silver/schema.yml:5-29): keys first, typed,
    * not-null; everything else passes through untouched in bronze order.
    *
    *   select try_cast(season as integer)  as season,
    *          try_cast(round  as integer)  as round,
    *          cast(grand_prix as varchar)  as grand_prix,
    *          cast(session    as varchar)  as session_code,
    *          * exclude (season, round, grand_prix, session)
    */
  def promoteKeys(bronze: DataFrame): DataFrame = {
    val keyCols = Seq(
      Fns.tryCastInt(col("season")).as("season"),
      Fns.tryCastInt(col("round")).as("round"),
      col("grand_prix").cast(StringType).as("grand_prix"),
      col("session").cast(StringType).as("session_code"))
    val passthrough = bronze.columns
      .filterNot(Bronze.PartitionCols.contains)
      .map(col)
    bronze.select(keyCols ++ passthrough: _*)
  }

  /** S7 — CTAS materialization of one silver model, via the
    * transactional version-write + view swap ([[Lakehouse.ctasSwap]]) so
    * a failed promotion never leaves a half-overwritten table. Partitioning
    * the saved table by season keeps dashboard predicates prunable at
    * scale (an improvement over the reference's unpartitioned DuckDB
    * tables; SURVEY §4 row 1). `notNull` names the columns whose NULLs
    * the write counts: the silver contract rides the write.
    */
  def build(bronze: DataFrame, fqTableName: String,
            partitionBySeason: Boolean = false,
            notNull: Seq[String] = Nil): Lakehouse.Published =
    Lakehouse.ctasSwap(bronze.sparkSession, promoteKeys(bronze), fqTableName,
      partitionBy = if (partitionBySeason) Seq("season") else Nil, notNull = notNull)
}
