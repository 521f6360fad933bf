package lakebench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.pipeline.{Bronze, Gold, Lakehouse, Silver}
import graft.quality.Checks
import graft.serving.{QueryService, SafeSql}

/** One client request. `build` is the program's DataFrame-building call
  * (timed as the build layer), `act` the action that materializes or
  * collects it; the op's wall time covers both. `check` judges the
  * value `act` returned and runs after the timed loop.
  */
final case class Op(key: String, fn: String,
                    build: () => AnyRef,
                    act: AnyRef => AnyRef,
                    check: AnyRef => Option[String] = _ => None)

/** A benchmark workload: what set-up prepares, the op list of one pass,
  * and the output check that runs outside the timed loop.
  */
trait Workload {
  def name: String
  /** Generate the fixture (and whatever the workload serves from). */
  def prepare(): Unit
  def warmPasses: Int
  /** Warm-up ops; by default the ops of a pass. */
  def warmPass(i: Int): Seq[Op] = pass(i)
  def pass(i: Int): Seq[Op]
  /** Output check of the current state; `(op key, message)` per failure. */
  def checkOutputs(): Seq[(String, String)]
  def sizes: Map[String, Any]
}

object Workloads {

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map((r: Row) => r.toSeq)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def dataFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  def warehouse(spark: SparkSession): File =
    new File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir").replaceFirst("^(?!file:)", "file:")))

  /** Not-null contract of `Lakehouse.build` must hold: 17 checks, 0 failures. */
  def contractFailure(res: Lakehouse.BuildResult): Option[String] = {
    val bad = res.contract.filterNot(_.passed)
    if (res.contract.size != 17) Some(s"contract ran ${res.contract.size} checks, expected 17")
    else if (bad.nonEmpty)
      Some("contract failed: " + bad.map(c => s"${c.table}.${c.column}=${c.failures}").mkString(", "))
    else None
  }

  /** Silver row counts and both gold marts against the model. */
  def checkMarts(spark: SparkSession, shape: F1Gen.Shape, model: Model,
                 key: String): Seq[(String, String)] = {
    def count(t: String) = spark.table(t).count()
    val counts = Seq(
      "silver.laps" -> shape.lapRows,
      "silver.weather" -> F1Gen.weatherCount(shape),
      "silver.results" -> F1Gen.resultsCount(shape)).flatMap { case (t, want) =>
      val got = count(t)
      if (got == want) None else Some(key -> s"$t has $got rows, expected $want")
    }
    val dss = Model.diffUnordered(rows(spark.table("gold.driver_session_summary")), model.dss)
      .map(m => key -> s"gold.driver_session_summary: $m")
    val tes = Model.diffUnordered(rows(spark.table("gold.team_event_summary")), model.tes)
      .map(m => key -> s"gold.team_event_summary: $m")
    counts ++ dss ++ tes
  }
}

/** The 10 headline queries over a seeded star schema; each op builds
  * the query through `SparkEntry.queries` and materializes it with a
  * noop write. Every pass runs them in the same (sorted) order: the
  * order changes every query's time by up to 40 %, so a seeded order
  * would make runs on different seeds disagree.
  */
final class HeadlineWorkload(spark: SparkSession, work: String, seed: Long,
                             sf: Double) extends Workload {
  val name = "headline"
  val names: Seq[String] = SparkEntry.headlines.sorted
  private val dir = s"$work/star"
  val warmPasses = 2

  def prepare(): Unit = StarGen.write(spark, dir, sf, seed)

  def pass(i: Int): Seq[Op] = names.map { n =>
    Op(n, "query", () => SparkEntry.queries(n)(spark, dir),
      df => { df.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save(); None })
  }

  private def outDir = s"$work/headline_out"

  /** The first warm-up pass writes each result for the output check
    * instead of discarding it.
    */
  override def warmPass(i: Int): Seq[Op] =
    if (i != -1) pass(i)
    else pass(i).map(op => op.copy(act = df => {
      df.asInstanceOf[DataFrame].write.mode("overwrite").parquet(s"$outDir/${op.key}"); None
    }))

  /** Writes the DuckDB oracle SQL next to the results the warm-up wrote;
    * the comparison runs outside the JVM (`lakebench/run.py`).
    */
  def checkOutputs(): Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    Json.write(new File(s"$outDir/oracle.json"),
      Map("star_dir" -> new File(dir).getAbsolutePath,
        "tables" -> StarGen.Tables,
        "queries" -> names.map(n => Map("name" -> n, "sql" -> oracle.getOrElse(n, null)))))
    Nil
  }

  def sizes: Map[String, Any] = StarGen.Tables.map { t =>
    t -> Map("bytes" -> Workloads.dirBytes(new File(s"$dir/$t.parquet")))
  }.toMap ++ Map("sf" -> sf, "rows" -> StarGen.rowCounts(sf))
}

/** `Lakehouse.build(countRows = false)` over a seeded bronze, rebuilt
  * again and again into the same warehouse; the traced run also serves
  * dashboard [[PageViews]] from every build. Warm-up is four builds of
  * the same bronze: the first builds of a JVM run slower until the JIT
  * has compiled the build's code paths.
  */
final class LakehouseWorkload(spark: SparkSession, work: String, seed: Long,
                              val shape: F1Gen.Shape) extends Workload {
  val name = "lakehouse_build"
  private val root = s"$work/bronze"
  val warmPasses = 4

  def prepare(): Unit = F1Gen.writeBronze(spark, root, shape, seed)

  def pass(i: Int): Seq[Op] = Seq(Op("build", "build", () => root,
    r => Lakehouse.build(spark, r.asInstanceOf[String], countRows = false),
    res => Workloads.contractFailure(res.asInstanceOf[Lakehouse.BuildResult])))

  private lazy val model = new Model(F1Gen.laps(shape, seed))

  def checkOutputs(): Seq[(String, String)] =
    Workloads.checkMarts(spark, shape, model, "build")

  /** Dashboard requests served from the marts after a traced build. */
  lazy val pageViews: Seq[Op] = new PageViews(spark, seed,
    for (s <- shape.seasons; c <- F1Gen.SessionCodes) yield (s, c), model, 6).ops

  def bronzeBytes: Long = Workloads.dirBytes(new File(root))

  def sizes: Map[String, Any] = Map(
    "laps" -> shape.lapRows, "weather" -> F1Gen.weatherCount(shape),
    "results" -> F1Gen.resultsCount(shape), "bronze_bytes" -> bronzeBytes,
    "seasons" -> shape.seasons, "rounds" -> shape.rounds)

  /** The build replayed node by node through the public functions,
    * mirroring `Lakehouse.build`: per node its wall time and the layer
    * counts of the work it caused.
    */
  def replay(tracer: Tracer): Seq[(String, Long, LayerAcc)] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(String, Long, LayerAcc)]
    def node[A](name: String)(f: => A): A = {
      tracer.begin()
      val t0 = System.nanoTime()
      val a = f
      val ns = System.nanoTime() - t0
      spans += ((name, ns, tracer.end()))
      a
    }
    node("catalog") {
      spark.sql("CREATE DATABASE IF NOT EXISTS silver")
      spark.sql("CREATE DATABASE IF NOT EXISTS gold")
    }
    for (e <- Seq("laps", "weather", "results")) {
      val bronze = node("bronze_read")(Bronze.read(spark, root, e))
      node("silver")(Silver.build(bronze, s"silver.$e", partitionBySeason = true))
    }
    node("dss")(Lakehouse.ctasSwap(spark,
      Gold.driverSessionSummary(spark.table("silver.laps")), "gold.driver_session_summary"))
    node("tes")(Lakehouse.ctasSwap(spark,
      Gold.teamEventSummary(spark.table("gold.driver_session_summary")),
      "gold.team_event_summary"))
    val keyCols = Seq("season", "round", "grand_prix")
    val contract = Seq("laps", "results", "weather").map(e =>
      (s"silver.$e", keyCols)) ++ Seq(
      ("gold.driver_session_summary", keyCols :+ "driver"),
      ("gold.team_event_summary", keyCols :+ "team"))
    val results = contract.flatMap { case (t, cols) =>
      node("contract")(Checks.notNull(spark.table(t), t, cols))
    }
    require(results.size == 17 && results.forall(_.passed),
      s"replayed contract failed: ${results.filterNot(_.passed)}")
    spans.toSeq
  }

  /** Data files of the live version of every built table. */
  def liveFiles(): Long = {
    val wh = Workloads.warehouse(spark)
    val tables = Seq("silver.laps", "silver.weather", "silver.results",
      "gold.driver_session_summary", "gold.team_event_summary")
    tables.map { t =>
      val Array(db, n) = t.split('.')
      val v = Lakehouse.liveVersion(spark, t).getOrElse(-1)
      val d = new File(wh, s"$db.db/${n}__v$v")
      Workloads.dataFiles(d)
    }.sum
  }
}

/** Dashboard page views (the reference app.py sequence) against the
  * silver and gold tables of the current build; about one view in four
  * also sends a templated copilot query through `SafeSql.run`. Every
  * result is collected and judged against the model.
  */
final class PageViews(spark: SparkSession, seed: Long, slices: Seq[(Int, String)],
                      model: Model, pageViews: Int) {

  private def pick(j: Int, salt: Long, m: Int): Int =
    java.lang.Math.floorMod(F1Gen.mix(seed, j, salt), m.toLong).toInt

  /** The seeded request list, the same every time it is served. */
  lazy val ops: Seq[Op] = (0 until pageViews).flatMap { j =>
    val (s, c) = slices(pick(j, 1, slices.size))
    def laps = spark.table("silver.laps")
    def dss = spark.table("gold.driver_session_summary")
    def tes = spark.table("gold.team_event_summary")
    def op(fn: String, df: => DataFrame, want: Seq[Seq[Any]]) =
      Op(s"$j:$fn", fn, () => df, d => Workloads.rows(d.asInstanceOf[DataFrame]),
        got => Model.diff(got.asInstanceOf[Seq[Seq[Any]]], want))
    val page = Seq(
      op("seasonDomain", QueryService.seasonDomain(laps), model.seasonDomain),
      op("sessionDomain", QueryService.sessionDomain(laps), model.sessionDomain),
      op("sessionDate", QueryService.sessionDate(laps, s, c), model.sessionDate(s, c)),
      op("kpis", QueryService.kpis(laps, s, c), model.kpis(s, c)),
      {
        val candidates = model.fastestLaps(s, c)
        Op(s"$j:fastestLaps", "fastestLaps", () => QueryService.fastestLaps(dss, s, c),
          d => Workloads.rows(d.asInstanceOf[DataFrame]),
          got => Model.diffTopK(got.asInstanceOf[Seq[Seq[Any]]], candidates, 50, Seq(4, 0)))
      },
      op("teamSummary", QueryService.teamSummary(tes, s, c), model.teamSummary(s, c)),
      op("paceEvolution", QueryService.paceEvolution(laps, s, c), model.paceEvolution(s, c)))
    if (pick(j, 2, 4) != 0) page
    else {
      val t = pick(j, 3, Model.CopilotTemplates)
      page :+ op("copilot", SafeSql.run(spark, Model.copilotSql(t, s, c)),
        model.copilot(t, s, c))
    }
  }
}
