package graft.serving

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** The dashboard/notebook query surface as named functions (SURVEY §3.2,
  * §7 step 6). Each takes the relevant silver/gold DataFrame plus the
  * user's filter parameters and returns a small DataFrame — formatting
  * and top-k live in Spark expressions (the engine owns F2/F3), results
  * are collected only at the caller's edge.
  *
  * Reference: dashboard/app.py (cited per function) and the exploration
  * notebook.
  */
object QueryService {

  private def sessionFilter(season: Int, sessionCode: String): Column =
    col("season") === season && col("session_code") === sessionCode

  /** T4 — filter domains (app.py:38-45). */
  def seasonDomain(laps: DataFrame): DataFrame =
    laps.select("season").distinct().orderBy("season")

  def sessionDomain(laps: DataFrame): DataFrame =
    laps.select("session_code").distinct().orderBy("session_code")

  /** A12+F5 — session date scalar (app.py:130-140). */
  def sessionDate(laps: DataFrame, season: Int, sessionCode: String): DataFrame =
    laps.filter(sessionFilter(season, sessionCode))
      .agg(date_format(min("lapstartdate"), "yyyy-MM-dd").as("session_date"))

  /** A2/A3 — KPI triple (app.py:145-158). */
  def kpis(laps: DataFrame, season: Int, sessionCode: String): DataFrame =
    laps.filter(sessionFilter(season, sessionCode))
      .agg(
        count(lit(1)).as("total_laps"),
        count_distinct(col("driver")).as("n_drivers"),
        count_distinct(col("team")).as("n_teams"))

  /** T2/F3/T5 — fastest-laps table (app.py:169-191): mart scan, top-50
    * by the FORMATTED string (quirk preserved — lexicographic ≡ numeric
    * for sub-hour laps, SURVEY §2 T5).
    */
  def fastestLaps(dss: DataFrame, season: Int, sessionCode: String,
                  k: Int = 50): DataFrame =
    dss.filter(sessionFilter(season, sessionCode))
      .filter(col("best_lap_time").isNotNull)
      .select(
        col("driver"), col("team"), col("grand_prix"), col("round"),
        Fns.nsToPretty(col("best_lap_time")).as("best_lap_pretty"),
        Fns.nsToSeconds(col("best_lap_time")).as("best_lap_sec"))
      .orderBy(col("best_lap_pretty"), col("driver"))
      .limit(k)

  /** T1 — team summary table (app.py:196-205). */
  def teamSummary(tes: DataFrame, season: Int, sessionCode: String): DataFrame =
    tes.filter(sessionFilter(season, sessionCode))
      .orderBy("round", "team")

  /** A9 — pace evolution: exact median lap time by lap number
    * (app.py:231-242).
    */
  def paceEvolution(laps: DataFrame, season: Int, sessionCode: String): DataFrame =
    laps.filter(sessionFilter(season, sessionCode) && col("laptime").isNotNull)
      .groupBy("lapnumber")
      .agg(median(col("laptime")).as("median_laptime"))
      .orderBy("lapnumber")

  /** A7/A8 — per-session weather aggregate (notebook weather_agg cell). */
  def weatherAgg(weather: DataFrame): DataFrame =
    weather.groupBy("season", "round", "session_code")
      .agg(
        Fns.exactAvg(col("tracktemp")).as("avg_tracktemp"),
        Fns.exactAvg(col("airtemp")).as("avg_airtemp"),
        Fns.exactAvg(col("windspeed")).as("avg_windspeed"),
        max(Fns.boolToInt(col("rainfall"))).as("had_rain"))

  /** J2 — per-driver race pace × weather (notebook pace_vs_weather). */
  def paceVsWeather(laps: DataFrame, weather: DataFrame): DataFrame = {
    val pace = laps.filter(col("laptime").isNotNull && col("session_code") === "R")
      .groupBy("season", "round", "session_code", "driver")
      .agg(median(col("laptime")).as("median_laptime"))
    pace.join(weatherAgg(weather), Seq("season", "round", "session_code"), "left")
  }

  /** A3/A10 — driver alias consistency probe (notebook driver_aliases). */
  def driverAliases(laps: DataFrame): DataFrame =
    laps.groupBy("driver")
      .agg(
        count_distinct(col("drivernumber")).as("distinct_numbers"),
        count_distinct(col("team")).as("distinct_teams"))
      .filter(col("distinct_numbers") > 1 || col("distinct_teams") > 1)
      .orderBy("driver")

  /** F11 — chart-type heuristic (ai/rag_api/main.py:90-96): numeric
    * second column + small row count → line; medium → bar; else table.
    */
  def chartHint(df: DataFrame, rowCount: Long): String = {
    import org.apache.spark.sql.types.NumericType
    val numericTail = df.schema.fields.drop(1).exists(_.dataType.isInstanceOf[NumericType])
    if (!numericTail || rowCount > 50) "table"
    else if (rowCount <= 20) "line"
    else "bar"
  }

  /** check_gold.sh:19-22 — the 5 latest best laps. */
  def top5BestLaps(dss: DataFrame): DataFrame =
    dss.select("season", "round", "grand_prix", "session_code", "driver",
        "best_lap_time")
      .orderBy(col("season").desc, col("round").desc, col("best_lap_time"))
      .limit(5)
}
