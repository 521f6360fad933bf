package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.pipeline.{Bronze, Gold, Lakehouse, Silver}
import graft.quality.Checks
import graft.serving.QueryService

/** End-to-end F1 pipeline demo: synthesize a tiny bronze layer (the
  * reference's hive layout, FIXTURES.md §A), promote to silver, build
  * both gold marts, run the serving queries, and assert the not-null
  * contract. Run: sbt "runMain graft.F1Demo"
  */
object F1Demo {
  def main(args: Array[String]): Unit = {
    // the catalog and the bronze both live in the per-process warehouse,
    // which Sessions removes at exit
    val spark = Sessions.local("graft-f1demo", "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = Sessions.stagingDir("f1demo-bronze")
    writeBronze(spark, root)

    val silverLaps = Silver.promoteKeys(Bronze.read(spark, root, "laps")).cache()
    val dss = Gold.driverSessionSummary(silverLaps).cache()
    val tes = Gold.teamEventSummary(dss)

    println(s"[f1demo] bronze root: $root")
    println(s"[f1demo] silver.laps rows=${silverLaps.count()} " +
      s"schema=${silverLaps.columns.take(4).mkString(",")},…")
    println("[f1demo] gold.driver_session_summary:")
    dss.orderBy("season", "round", "session_code", "driver").show(20, truncate = false)
    println("[f1demo] gold.team_event_summary:")
    tes.orderBy("season", "round", "session_code", "team").show(20, truncate = false)

    println("[f1demo] serving.kpis(2024, R):")
    QueryService.kpis(silverLaps, 2024, "R").show()
    println("[f1demo] serving.fastestLaps(2024, R):")
    QueryService.fastestLaps(dss, 2024, "R").show(truncate = false)
    println("[f1demo] serving.top5BestLaps:")
    QueryService.top5BestLaps(dss).show(truncate = false)

    val contract = Checks.notNull(silverLaps, "silver.laps",
      Seq("season", "round", "grand_prix")) ++
      Checks.notNull(dss, "gold.dss", Seq("season", "round", "grand_prix", "driver"))
    Checks.assertAll(contract)
    println(s"[f1demo] not_null contract: ${contract.size} checks passed")

    // the dbt-build equivalent: catalog-backed full rebuild + contract
    val built = Lakehouse.build(spark, root)
    println(s"[f1demo] lakehouse build: silver=${built.silverRows}, " +
      s"dss=${built.dssRows}, tes=${built.tesRows}")
    built.contract.foreach(c =>
      println(s"[f1demo]   contract ${c.table}.${c.column}: " +
        (if (c.passed) "pass" else s"${c.failures} null(s)")))
    println("[f1demo] catalog: " +
      spark.catalog.listTables("gold").collect().map(_.name).sorted.mkString(", "))
    spark.stop()
  }

  private def writeBronze(spark: SparkSession, root: String): Unit = {
    val schema = StructType(Seq(
      StructField("driver", StringType), StructField("drivernumber", StringType),
      StructField("team", StringType), StructField("lapnumber", DoubleType),
      StructField("laptime", LongType), StructField("pitintime", LongType),
      StructField("pitouttime", LongType), StructField("lapstartdate", TimestampType),
      StructField("season", StringType), StructField("round", StringType),
      StructField("grand_prix", StringType), StructField("session", StringType)))
    val L = null.asInstanceOf[java.lang.Long]
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      Row("VER", "1", "RBR", 1.0, 90000000000L, L, 5000000000L, ts("2024-03-02 15:00:00"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("VER", "1", "RBR", 2.0, 88000000000L, L, L, ts("2024-03-02 15:01:30"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("", "44", "MER", 1.0, 95000000000L, L, L, ts("2024-03-02 15:00:10"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("HAM", "44", null, 1.0, 99000000000L, L, L, ts("2024-03-02 15:00:20"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("VER", "1", "RBR", 1.0, 85000000000L, L, L, ts("2024-03-01 15:00:00"), "2024", "01", "bahrain-grand-prix", "Q"),
      Row("ALO", "14", "AMR", 1.0, 100000000000L, 98000000000L, L, ts("2023-03-19 17:00:00"), "2023", "02", "saudi-arabian-grand-prix", "S"))
    Bronze.write(
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema),
      root, "laps")
  }
}
