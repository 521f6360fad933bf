package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Bronze, Lakehouse}
import graft.quality.Checks

/** What one `Lakehouse.ctasSwap` produces besides the table: the
  * not-null contract observed in the job that writes it, and the file
  * layout of a partitioned write.
  */
class PublishSpec extends SparkSpec {

  /** The directory of the version the view `fqTable` serves. */
  private def liveDir(fqTable: String): File = {
    val Array(db, name) = fqTable.split('.')
    val v = Lakehouse.liveVersion(spark, fqTable).get
    new File(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(s"${name}__v$v", Some(db))).location)
  }

  private def dataFiles(dir: File): Int =
    dir.listFiles().count(_.getName.endsWith(".parquet"))

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def keyed(fields: StructField*): StructType = StructType(fields ++
    Bronze.PartitionCols.map(StructField(_, StringType)))

  private val L = null.asInstanceOf[java.lang.Long]
  private def ts(s: String) = Timestamp.valueOf(s)

  /** A bronze with a NULL (or un-castable) value in every key column the
    * contract checks: a `season` that fails `try_cast` (its silver rows
    * land in `season=__HIVE_DEFAULT_PARTITION__`), a NULL round, a NULL
    * grand prix, a NULL team and a driver with no name and no number.
    */
  private lazy val bronzeRoot: String = {
    val root = Files.createTempDirectory("graft-contract-bronze").toString
    val laps = keyed(StructField("driver", StringType), StructField("drivernumber", StringType),
      StructField("team", StringType), StructField("lapnumber", DoubleType),
      StructField("laptime", LongType), StructField("pitintime", LongType),
      StructField("pitouttime", LongType), StructField("lapstartdate", TimestampType))
    Bronze.write(frame(laps,
      Row("VER", "1", "RBR", 1.0, 90000000000L, L, L, ts("2024-03-02 15:00:00"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("VER", "1", "RBR", 2.0, 89000000000L, L, L, ts("2024-03-02 15:01:30"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("HAM", "44", null, 1.0, 91000000000L, L, L, ts("2024-03-02 15:00:20"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("", null, "MER", 1.0, 92000000000L, L, L, ts("2024-03-02 15:00:40"), "2024", "01", "bahrain-grand-prix", "R"),
      Row("ALO", "14", "AMR", 1.0, 95000000000L, L, L, ts("2024-03-09 17:00:00"), "20x4", "02", "saudi-arabian-grand-prix", "Q"),
      Row("ALO", "14", "AMR", 2.0, 94000000000L, L, L, ts("2024-03-09 17:01:40"), "20x4", "02", "saudi-arabian-grand-prix", "Q"),
      Row("NOR", "4", "MCL", 1.0, 93000000000L, L, L, ts("2023-04-02 15:00:00"), "2023", null, "australian-grand-prix", "S")),
      root, "laps")
    val results = keyed(StructField("driver", StringType), StructField("position", IntegerType))
    Bronze.write(frame(results,
      Row("VER", 1, "2024", "01", "bahrain-grand-prix", "R"),
      Row("NOR", 2, "2023", "03", null, "R")), root, "results")
    val weather = keyed(StructField("time", LongType), StructField("airtemp", DoubleType))
    Bronze.write(frame(weather,
      Row(0L, 30.0, "2024", "01", "bahrain-grand-prix", "R"),
      Row(0L, 21.0, "season-4", "02", "saudi-arabian-grand-prix", "Q")), root, "weather")
    root
  }

  test("Lakehouse.build's observed contract equals Checks.notNull over the published views") {
    val built = Lakehouse.build(spark, bronzeRoot, silverDb = "c_silver", goldDb = "c_gold")
    val keys = Seq("season", "round", "grand_prix")
    val checked = Seq("laps", "results", "weather").map(e => (s"c_silver.$e", keys)) ++ Seq(
      ("c_gold.driver_session_summary", keys :+ "driver"),
      ("c_gold.team_event_summary", keys :+ "team"))
    val scanned = checked.flatMap { case (t, cols) => Checks.notNull(spark.table(t), t, cols) }
    assert(built.contract === scanned)
    assert(built.contract.size === 17)
    // the bronze puts a NULL in every checked key, so the equality is not
    // one of zeros
    assert(built.contract.filterNot(_.passed).map(c => (c.table, c.column)).toSet === Set(
      "c_silver.laps" -> "season", "c_silver.laps" -> "round",
      "c_silver.results" -> "grand_prix", "c_silver.weather" -> "season",
      "c_gold.driver_session_summary" -> "season", "c_gold.driver_session_summary" -> "round",
      "c_gold.driver_session_summary" -> "driver",
      "c_gold.team_event_summary" -> "season", "c_gold.team_event_summary" -> "round",
      "c_gold.team_event_summary" -> "team"))
    // the un-castable season is a NULL partition value of the live version
    assert(new File(liveDir("c_silver.laps"), "season=__HIVE_DEFAULT_PARTITION__").isDirectory)
    // the row counts come from the same observations
    assert(built.silverRows === Seq("laps", "results", "weather")
      .map(e => e -> spark.table(s"c_silver.$e").count()).toMap)
    assert(built.dssRows === spark.table("c_gold.driver_session_summary").count())
    assert(built.tesRows === spark.table("c_gold.team_event_summary").count())
  }

  private def seasons(rows: Long, slices: Int): DataFrame =
    spark.range(0, rows, 1, slices).select(
      (col("id") % 3 + 2022).cast("int").as("season"), col("id"),
      (col("id") * 7919 % 1000).as("v"))

  test("a partitioned ctasSwap writes each season at fixture scale as one file") {
    spark.sql("CREATE DATABASE IF NOT EXISTS t_layout")
    // 8 producing tasks, each holding rows of every season: written
    // straight through, every season directory would hold 8 files
    val df = seasons(6000, 8)
    Lakehouse.ctasSwap(spark, df, "t_layout.t", partitionBy = Seq("season"))
    val dirs = liveDir("t_layout.t").listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).sorted.toSeq ===
      Seq("season=2022", "season=2023", "season=2024"))
    dirs.foreach(d => assert(dataFiles(d) === 1, d.getName))
    // the view keeps the producing frame's column order (the stored
    // table has the partition column last) and its rows
    val view = spark.table("t_layout.t")
    assert(view.columns.toSeq === df.columns.toSeq)
    assert(view.count() === df.count())
    assert(view.exceptAll(df).isEmpty && df.exceptAll(view).isEmpty)
  }

  test("a partitioned ctasSwap still splits a season larger than the advisory size") {
    spark.sql("CREATE DATABASE IF NOT EXISTS t_layout")
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k") {
      Lakehouse.ctasSwap(spark, seasons(60000, 8), "t_layout.big", partitionBy = Seq("season"))
    }
    val files = liveDir("t_layout.big").listFiles().filter(_.isDirectory).map(dataFiles)
    assert(files.length === 3 && files.forall(_ > 1), files.mkString(", "))
  }
}
