package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Bronze, Gold, Silver}
import graft.quality.Checks
import graft.serving.QueryService

/** End-to-end golden test of the F1 bronze → silver → gold pipeline on a
  * hand-computed fixture (FIXTURES.md §A), covering the SURVEY §7 edge
  * cases: empty-string driver (P8), NULL team through the 7-key join
  * (J1 — COALESCE patch observable), pit-in/out laps (A4), NULL laptimes
  * (P5), laptime ties (W1), zero-padded round partition values (§7.2).
  */
class PipelineSpec extends SparkSpec {

  private val lapsSchema = StructType(Seq(
    StructField("driver", StringType), StructField("drivernumber", StringType),
    StructField("team", StringType), StructField("lapnumber", DoubleType),
    StructField("laptime", LongType), StructField("pitintime", LongType),
    StructField("pitouttime", LongType), StructField("lapstartdate", TimestampType),
    StructField("season", StringType), StructField("round", StringType),
    StructField("grand_prix", StringType), StructField("session", StringType)))

  private def ts(s: String) = Timestamp.valueOf(s)
  private val L = null.asInstanceOf[java.lang.Long]

  // (driver, number, team, lap, laptime_ns, pitin, pitout, start, keys…)
  private val lapRows: Seq[Row] = Seq(
    // 2024 r1 bahrain R — VER: pit-out lap + clean lap + NULL laptime lap
    Row("VER", "1", "RBR", 1.0, 90000000000L, L, 5000000000L, ts("2024-03-02 15:00:00"), "2024", "01", "bahrain-grand-prix", "R"),
    Row("VER", "1", "RBR", 2.0, 88000000000L, L, L, ts("2024-03-02 15:01:30"), "2024", "01", "bahrain-grand-prix", "R"),
    Row("VER", "1", "RBR", 3.0, L, L, L, ts("2024-03-02 15:03:00"), "2024", "01", "bahrain-grand-prix", "R"),
    // empty-string driver → P8 falls back to drivernumber "44"
    Row("", "44", "MER", 1.0, 95000000000L, L, L, ts("2024-03-02 15:00:10"), "2024", "01", "bahrain-grand-prix", "R"),
    // NULL team → J1 null-key: personal_best_laps COALESCEs to 0
    Row("HAM", "44", null, 1.0, 99000000000L, L, L, ts("2024-03-02 15:00:20"), "2024", "01", "bahrain-grand-prix", "R"),
    // Q session — exact laptime tie (W1 determinism: rn=1 exactly once)
    Row("VER", "1", "RBR", 1.0, 85000000000L, L, L, ts("2024-03-01 15:00:00"), "2024", "01", "bahrain-grand-prix", "Q"),
    Row("VER", "1", "RBR", 2.0, 85000000000L, L, L, ts("2024-03-01 15:01:25"), "2024", "01", "bahrain-grand-prix", "Q"),
    // 2023 r2 saudi S — pit-in lap counts as pitstop
    Row("ALO", "14", "AMR", 1.0, 100000000000L, 98000000000L, L, ts("2023-03-19 17:00:00"), "2023", "02", "saudi-arabian-grand-prix", "S"))

  private val weatherSchema = StructType(Seq(
    StructField("time", LongType), StructField("airtemp", DoubleType),
    StructField("tracktemp", DoubleType), StructField("windspeed", DoubleType),
    StructField("rainfall", BooleanType),
    StructField("season", StringType), StructField("round", StringType),
    StructField("grand_prix", StringType), StructField("session", StringType)))

  private val weatherRows: Seq[Row] = Seq(
    Row(0L, 30.0, 40.0, 1.0, false, "2024", "01", "bahrain-grand-prix", "R"),
    Row(60000000000L, 30.0, 42.0, 2.0, true, "2024", "01", "bahrain-grand-prix", "R"))

  private lazy val bronzeRoot: String = {
    val root = Files.createTempDirectory("graft-bronze").toString
    val laps = spark.createDataFrame(
      spark.sparkContext.parallelize(lapRows), lapsSchema)
    Bronze.write(laps, root, "laps")
    val weather = spark.createDataFrame(
      spark.sparkContext.parallelize(weatherRows), weatherSchema)
    Bronze.write(weather, root, "weather")
    root
  }

  private lazy val silverLaps: DataFrame =
    Silver.promoteKeys(Bronze.read(spark, bronzeRoot, "laps")).cache()
  private lazy val silverWeather: DataFrame =
    Silver.promoteKeys(Bronze.read(spark, bronzeRoot, "weather")).cache()
  private lazy val dss: DataFrame = Gold.driverSessionSummary(silverLaps).cache()
  private lazy val tes: DataFrame = Gold.teamEventSummary(dss).cache()

  test("bronze round-trip: zero-padded round stays a string; silver casts it") {
    val bronze = Bronze.read(spark, bronzeRoot, "laps")
    assert(bronze.schema("round").dataType === StringType,
      "partition-type inference must be disabled (SURVEY §7.2)")
    assert(bronze.count() === lapRows.size)
    val s = silverLaps
    assert(s.schema("season").dataType === IntegerType)
    assert(s.schema("round").dataType === IntegerType)
    assert(s.columns.take(4).toSeq === Seq("season", "round", "grand_prix", "session_code"))
    assert(s.filter(col("round") === 1).count() === 7)
    assert(s.filter(col("round") === 2).count() === 1)
  }

  test("gold.driver_session_summary matches the hand-computed golden") {
    val rows = dss.collect().map { r =>
      (r.getAs[Int]("season"), r.getAs[String]("session_code"),
        r.getAs[String]("driver"), r.getAs[String]("team")) ->
        ((r.getAs[Long]("laps_total"), r.getAs[Long]("laps_on_track"),
          r.getAs[Long]("pitstops"), r.getAs[Long]("best_lap_time"),
          r.getAs[Long]("personal_best_laps")))
    }.toMap
    assert(rows.size === 5)
    // VER R: null-laptime lap filtered; pit-out lap counts as pitstop
    assert(rows((2024, "R", "VER", "RBR")) === ((2L, 1L, 1L, 88000000000L, 1L)))
    // empty driver normalized to "44"
    assert(rows((2024, "R", "44", "MER")) === ((1L, 1L, 0L, 95000000000L, 1L)))
    // NULL team: pb join misses → COALESCE(…,0) observable
    assert(rows((2024, "R", "HAM", null)) === ((1L, 1L, 0L, 99000000000L, 0L)))
    // tie in Q: row_number still yields exactly one rn=1
    assert(rows((2024, "Q", "VER", "RBR")) === ((2L, 2L, 0L, 85000000000L, 1L)))
    // pit-in lap
    assert(rows((2023, "S", "ALO", "AMR")) === ((1L, 0L, 1L, 100000000000L, 1L)))
    // quirk preserved: personal_best_laps ≡ 1 for every matched group
    assert(dss.filter(col("team").isNotNull)
      .filter(col("personal_best_laps") =!= 1).count() === 0)
  }

  test("gold.team_event_summary re-aggregates DSS (R/Q/S admitted)") {
    val rows = tes.collect().map { r =>
      (r.getAs[Int]("season"), r.getAs[String]("session_code"), r.getAs[String]("team")) ->
        ((r.getAs[Long]("team_laps_on_track"), r.getAs[Long]("team_pitstops"),
          r.getAs[Long]("team_best_lap_time")))
    }.toMap
    assert(rows.size === 5)
    assert(rows((2024, "R", "RBR")) === ((1L, 1L, 88000000000L)))
    assert(rows((2024, "Q", "RBR")) === ((2L, 0L, 85000000000L)))
    assert(rows((2024, "R", null)) === ((1L, 0L, 99000000000L)))
    assert(rows((2023, "S", "AMR")) === ((0L, 1L, 100000000000L)))
  }

  test("not_null contract (17-test analogue) passes on the fixture") {
    val results = Checks.notNull(silverLaps, "silver.laps",
      Seq("season", "round", "grand_prix")) ++
      Checks.notNull(dss, "gold.dss", Seq("season", "round", "grand_prix", "driver")) ++
      Checks.notNull(tes, "gold.tes", Seq("season", "round", "grand_prix", "team_best_lap_time"))
    Checks.assertAll(results)
  }

  test("QueryService: kpis, session date, fastest laps, pace, weather") {
    val k = QueryService.kpis(silverLaps, 2024, "R").head()
    assert(k.getAs[Long]("total_laps") === 5)
    assert(k.getAs[Long]("n_drivers") === 3)   // VER, "", HAM
    assert(k.getAs[Long]("n_teams") === 2)     // RBR, MER (NULL excluded)

    val date = QueryService.sessionDate(silverLaps, 2024, "R").head().getString(0)
    assert(date === "2024-03-02")

    val fastest = QueryService.fastestLaps(dss, 2024, "R").collect()
    assert(fastest.head.getAs[String]("best_lap_pretty") === "01:28.000")
    assert(fastest.head.getAs[String]("driver") === "VER")

    val pace = QueryService.paceEvolution(silverLaps, 2024, "R").collect()
    // lap 1: median(90e9, 95e9, 99e9) = 95e9
    assert(pace.find(_.getAs[Double]("lapnumber") == 1.0).get
      .getAs[Double]("median_laptime") === 95e9)

    val w = QueryService.weatherAgg(silverWeather).head()
    assert(w.getAs[Double]("avg_tracktemp") === 41.0)
    assert(w.getAs[Int]("had_rain") === 1)

    val top5 = QueryService.top5BestLaps(dss).collect()
    assert(top5.length === 5)
    assert(top5.head.getAs[Int]("season") === 2024)
    assert(top5.head.getAs[Long]("best_lap_time") === 85000000000L)

    val domains = QueryService.seasonDomain(silverLaps).collect().map(_.getInt(0))
    assert(domains.toSeq === Seq(2023, 2024))

    val aliases = QueryService.driverAliases(silverLaps).collect()
    assert(aliases.isEmpty)  // no driver maps to 2 numbers/teams in fixture
  }

  test("QueryService: paceVsWeather joins race pace to weather aggregate") {
    val r = QueryService.paceVsWeather(silverLaps, silverWeather).collect()
    // race-session drivers with non-null laptime: VER, "", HAM (2024 R)
    assert(r.length === 3)
    val ver = r.find(_.getAs[String]("driver") == "VER").get
    assert(ver.getAs[Double]("median_laptime") === 89e9)   // median(90e9, 88e9)
    assert(ver.getAs[Double]("avg_tracktemp") === 41.0)
    assert(ver.getAs[Int]("had_rain") === 1)
  }

  test("QueryService.chartHint mirrors the reference heuristic") {
    val df = spark.range(5).selectExpr("cast(id as string) AS label", "id AS v")
    assert(QueryService.chartHint(df, 5) === "line")
    assert(QueryService.chartHint(df, 30) === "bar")
    assert(QueryService.chartHint(df, 500) === "table")
    val nonNumeric = spark.range(2).selectExpr("'a' AS x", "'b' AS y")
    assert(QueryService.chartHint(nonNumeric, 5) === "table")
  }

  test("SafeSql.resolveSchema probes candidate databases in order") {
    import graft.serving.SafeSql
    assert(SafeSql.resolveSchema(spark, Seq("main_silver", "default")) === Some("default"))
    assert(SafeSql.resolveSchema(spark, Seq("nope", "nada")) === None)
  }

  test("Lakehouse.build materializes catalog tables and runs the contract") {
    import graft.pipeline.Lakehouse
    val result = Lakehouse.build(spark, bronzeRoot,
      silverDb = "t_silver", goldDb = "t_gold")
    assert(result.silverRows === Map("laps" -> 8L, "weather" -> 2L))
    assert(result.dssRows === 5L)
    assert(result.tesRows === 5L)
    // tables really live in the catalog (S7/S8)
    assert(spark.catalog.tableExists("t_silver.laps"))
    assert(spark.catalog.tableExists("t_gold.team_event_summary"))
    assert(spark.table("t_gold.driver_session_summary").columns.length === 12)
    // silver keeps the keys-first contract on the read surface even
    // though the physical table is partitioned (partition columns move
    // to the end of the stored schema; the view projection restores it)
    assert(spark.table("t_silver.laps").columns.take(4).toSeq ===
      Seq("season", "round", "grand_prix", "session_code"))
    // silver is partitioned by season: a season predicate must prune at
    // the partition level (PartitionFilters on the scan), not post-scan
    val pruned = spark.table("t_silver.laps").filter(col("season") === 2024)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      "season#\\d+ = 2024".r.findFirstIn(scan).isDefined,
      s"expected season partition filter on the scan, got:\n$scan")
    assert(pruned.count() === 7)
    // the contract catches the fixture's NULL-team group, everything else passes
    val (bad, good) = result.contract.partition(c =>
      c.table == "t_gold.team_event_summary" && c.column == "team")
    assert(bad.map(_.failures) === Seq(1L))
    assert(good.forall(_.passed))
  }

  test("Lakehouse.build starts a pinned list of Spark jobs") {
    import graft.pipeline.Lakehouse
    def build(): Unit = Lakehouse.build(spark, bronzeRoot, silverDb = "t_jobs_silver",
      goldDb = "t_jobs_gold", countRows = false)
    build()
    val jobs = jobExecutionsStartedBy(build())
    // silver.laps: the bronze schema merge (no SQL execution), then the
    //   write's rebalance shuffle and its write stage (2 jobs of one
    //   execution);
    // silver.weather: the same 3 jobs (no results in this bronze);
    // gold DSS: its shuffle and its write stage (2 jobs of one execution);
    // gold TES: one single-task job over DSS's one file.
    // The not-null contract and the row counts ride the writes and start
    // no job: a rescan of a written table adds a job and an execution.
    assert(jobs.size === 9, jobs.mkString(", "))
    assert(jobs.count(_.isEmpty) === 2, jobs.mkString(", "))
    assert(jobs.flatten.distinct.size === 4, "one SQL execution per written table: " +
      jobs.mkString(", "))
  }

  test("unique and accepted_values generic tests count failures") {
    import spark.implicits._
    import graft.quality.Checks
    val df = Seq(
      (1L, "R"), (1L, "Q"), (1L, "R"),     // key 1 duplicated (one value)
      (2L, "S"), (3L, "X"), (4L, null)     // X not accepted; null passes
    ).toDF("k", "code")
    // dbt semantics: one failure per DUPLICATED VALUE
    assert(Checks.unique(df, "t", Seq("k")).failures === 1L)
    assert(Checks.unique(df, "t", Seq("k", "code")).failures === 1L)
    assert(Checks.unique(df.filter(col("k") > 1), "t", Seq("k")).failures === 0L)
    // dbt excludes NULL keys before grouping: two NULL-code rows pass
    assert(Checks.unique(df.filter(col("code").isNull)
      .unionByName(df.filter(col("code").isNull)), "t", Seq("code")).failures === 0L)
    assert(Checks.acceptedValues(df, "t", "code", Seq("R", "Q", "S")).failures === 1L)
    assert(Checks.acceptedValues(df, "t", "code", Seq("R", "Q", "S", "X")).passed)
    // relationships: child keys must exist in the parent; NULLs pass
    val parent = Seq(1L, 2L, 3L).toDF("id")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("k")
    assert(Checks.relationships(child, "t", "k", parent, "id").failures === 1L)
    assert(Checks.relationships(child.filter(col("k") =!= 9L), "t", "k",
      parent, "id").passed)
  }

  test("ctasSwap: a failed rebuild leaves the previous table intact") {
    import graft.pipeline.Lakehouse
    import org.apache.spark.sql.functions._
    spark.sql("CREATE DATABASE IF NOT EXISTS t_swap")
    val v1 = spark.range(5).select(col("id"), lit("v1").as("tag"))
    Lakehouse.ctasSwap(spark, v1, "t_swap.t")
    assert(spark.table("t_swap.t").count() === 5)
    // no-window layout: the live name is a VIEW pointer; the publish is
    // ONE catalog op, so there is no state in which the name is missing
    assert(spark.catalog.getTable("t_swap.t").tableType === "VIEW")

    // rebuild whose WRITE fails at runtime (raise_error fires per row)
    val poison = spark.range(3).select(
      col("id"), raise_error(lit("boom")).as("tag"))
    intercept[Exception] { Lakehouse.ctasSwap(spark, poison, "t_swap.t") }
    // previous table untouched, no half-written state visible
    val after = spark.table("t_swap.t")
    assert(after.count() === 5)
    assert(after.select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("v1"))

    // a successful rebuild swaps cleanly and drops the scaffolding:
    // exactly the live version and the one it superseded remain
    val v2 = spark.range(7).select(col("id"), lit("v2").as("tag"))
    Lakehouse.ctasSwap(spark, v2, "t_swap.t")
    assert(spark.table("t_swap.t").count() === 7)
    assert(!spark.catalog.tableExists("t_swap.t__tmp"))
    assert(!spark.catalog.tableExists("t_swap.t__backup"))
    // (the failed write registered no table, so v2 is version 1)
    assert(Lakehouse.liveVersion(spark, "t_swap.t") === Some(1))
    assert(Lakehouse.listVersions(spark, "t_swap.t") === Seq(0, 1))

    // recovery: a lost pointer (crash before the first publish, or a
    // dropped view) republishes the newest surviving version — one
    // catalog op, no renames
    spark.sql("DROP VIEW t_swap.t")
    Lakehouse.recoverSwap(spark, "t_swap.t")
    assert(spark.table("t_swap.t").count() === 7)
    assert(spark.catalog.getTable("t_swap.t").tableType === "VIEW")

    // retention window: long-running readers of the previous version
    // keep their files while the pointer serves the new one
    val v3 = spark.range(9).select(col("id"), lit("v3").as("tag"))
    Lakehouse.ctasSwap(spark, v3, "t_swap.t")
    assert(spark.table("t_swap.t").count() === 9)
    assert(Lakehouse.listVersions(spark, "t_swap.t") === Seq(1, 2))
  }

  test("ctasSwap: a steady-state publish runs a pinned number of SQL executions") {
    import graft.pipeline.Lakehouse
    spark.sql("CREATE DATABASE IF NOT EXISTS t_budget")
    def build(tag: String) = spark.range(5).select(col("id"), lit(tag).as("tag"))
    Lakehouse.ctasSwap(spark, build("v0"), "t_budget.t")
    Lakehouse.ctasSwap(spark, build("v1"), "t_budget.t")
    // the third swap with the default retention: write, publish, GC
    val started = sqlExecutionsStartedBy(
      Lakehouse.ctasSwap(spark, build("v2"), "t_budget.t"))
    assert(spark.table("t_budget.t").select("tag").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("v2"))
    assert(Lakehouse.listVersions(spark, "t_budget.t") === Seq(1, 2))
    // the write (3: save, CTAS, insert), the view publish and one GC
    // drop. The version listing and the live-version read go to the
    // session catalog directly; as SHOW TABLES and SHOW TBLPROPERTIES
    // commands (2 executions each: the command and its collect) they
    // cost 4 more. A new catalog round trip fails here.
    val before = 9
    assert(started.size === before - 4, started.mkString("\n"))
  }

  test("idempotent-write guard detects existing leaves") {
    assert(Bronze.leafExists(spark, bronzeRoot, "laps", 2024, 1, "bahrain-grand-prix", "R"))
    assert(!Bronze.leafExists(spark, bronzeRoot, "laps", 2025, 1, "bahrain-grand-prix", "R"))
  }
}
