package lakebench

import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pipeline.Bronze

/** Seeded F1 bronze generator plus a plain-Scala model of the answers
  * the pipeline must produce from it.
  *
  * Every value is index arithmetic over (season, round, session,
  * driver, lap) plus a seed offset, passed through a stateless integer
  * mix: no RNG state, so any row can be recomputed from its indices and
  * the same seed always gives byte-identical input.
  *
  * Edge cases kept from the reference data model (FIXTURES.md §A):
  *  - empty `driver` (gold coalesces it to the driver number);
  *  - NULL laptimes (gold filters them, the serving KPIs count them);
  *  - pit-in / pit-out laps (not on track);
  *  - exact laptime ties across drivers of one session;
  *  - NULL teams, only in FP1–FP3: TES admits R/Q/S and its `team`
  *    column is under the not-null contract, so a NULL team there would
  *    (correctly) fail the build.
  */
object F1Gen {

  val SessionCodes: Seq[String] = Seq("FP1", "FP2", "FP3", "Q", "S", "R")

  final case class Shape(seasons: Seq[Int], rounds: Int, drivers: Int,
                         laps: Int, weatherRows: Int) {
    def sessions: Int = seasons.size * rounds * SessionCodes.size
    def lapRows: Long = sessions.toLong * drivers * laps
  }

  /** Reference scale: 1 season × 24 rounds × 6 sessions × 20 drivers ×
    * 60 laps = 172,800 laps, ~120 weather and 20 results rows per
    * session.
    */
  val Reference: Shape = Shape(Seq(2024), 24, 20, 60, 120)


  private val Slugs = Seq(
    "bahrain", "saudi-arabian", "australian", "japanese", "chinese",
    "miami", "emilia-romagna", "monaco", "canadian", "spanish",
    "austrian", "british", "hungarian", "belgian", "dutch", "italian",
    "azerbaijan", "singapore", "united-states", "mexico-city",
    "sao-paulo", "las-vegas", "qatar", "abu-dhabi")

  def gp(round: Int): String =
    s"${Slugs((round - 1) % Slugs.size)}-grand-prix"

  /** splitmix64 finalizer over a running combination of the inputs. */
  def mix(xs: Long*): Long = {
    var h = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      h = z ^ (z >>> 31)
    }
    h
  }

  private def pmod(x: Long, m: Long): Long = ((x % m) + m) % m

  final case class Lap(season: Int, round: Int, session: String,
                       driver: String, number: String, team: String,
                       lap: Int, laptime: Option[Long],
                       pitin: Option[Long], pitout: Option[Long],
                       startMicros: Long) {
    def gp: String = F1Gen.gp(round)
    def onTrack: Boolean = pitin.isEmpty && pitout.isEmpty
  }

  private def sessionStart(season: Int, round: Int, k: Int): Long = {
    val day = Seq(0, 0, 1, 1, 1, 2)(k)
    val hour = Seq(11, 15, 11, 15, 10, 14)(k)
    LocalDate.of(season, 3, 1).plusDays(7L * (round - 1) + day)
      .atTime(hour, 30).toEpochSecond(ZoneOffset.UTC) * 1000000L
  }

  /** Laptime of a lap that shares the session-wide tie value. */
  private def tieTime(round: Int): Long = 80000000000L + round * 1000000L

  /** Decodes row index `i` of a table into (season, round, session
    * index, unit) where units are drivers × laps, weather rows, …
    */
  private def decode(shape: Shape, i: Long, units: Int): (Int, Int, Int, Int) = {
    val u = (i % units).toInt
    val q = i / units
    val k = (q % SessionCodes.size).toInt
    val q2 = q / SessionCodes.size
    (shape.seasons((q2 / shape.rounds).toInt), (q2 % shape.rounds).toInt + 1, k, u)
  }

  def lapAt(shape: Shape, seed: Long, i: Long): Lap = {
    val (season, r, k, u) = decode(shape, i, shape.drivers * shape.laps)
    val d = u / shape.laps
    val l = u % shape.laps + 1
    val h = mix(seed, season, r, k, d, l)
    val pitIn = pmod(l + d + seed, 19) == 0
    val pitOut = l > 1 && pmod(l - 1 + d + seed, 19) == 0
    val laptime =
      if (pmod(l + 3L * d + seed, 23) == 0) None
      else if (pmod(l + seed, 31) == 0) Some(tieTime(r))
      else Some(81000000000L + pmod(h, 20000000000L))
    Lap(season, r, SessionCodes(k),
      driver = if (pmod(7L * d + l + seed, 41) == 0) "" else f"D$d%02d",
      number = (d + 1).toString,
      team = if (k < 3 && pmod(d + 2L * l + seed, 37) == 0) null
             else s"T${d / 2}",
      lap = l,
      laptime = laptime,
      pitin = if (pitIn) Some(3600000000000L + l * 95000000000L) else None,
      pitout = if (pitOut) Some(3600000000000L + l * 95000000000L + 21000000000L)
               else None,
      startMicros = sessionStart(season, r, k) +
        (l - 1) * 95000000L + d * 250000L)
  }

  def laps(shape: Shape, seed: Long): Seq[Lap] =
    (0L until shape.lapRows).map(lapAt(shape, seed, _))

  private val LapsSchema = StructType(Seq(
    StructField("driver", StringType), StructField("drivernumber", StringType),
    StructField("team", StringType), StructField("lapnumber", DoubleType),
    StructField("stint", DoubleType), StructField("laptime", LongType),
    StructField("sector1time", LongType), StructField("sector2time", LongType),
    StructField("sector3time", LongType), StructField("pitintime", LongType),
    StructField("pitouttime", LongType), StructField("compound", StringType),
    StructField("tyrelife", DoubleType), StructField("freshtyre", BooleanType),
    StructField("lapstartdate", TimestampType), StructField("position", DoubleType),
    StructField("season", StringType), StructField("round", StringType),
    StructField("grand_prix", StringType), StructField("session", StringType)))

  private val WeatherSchema = StructType(Seq(
    StructField("time", LongType), StructField("airtemp", DoubleType),
    StructField("tracktemp", DoubleType), StructField("humidity", DoubleType),
    StructField("pressure", DoubleType), StructField("windspeed", DoubleType),
    StructField("winddirection", LongType), StructField("rainfall", BooleanType),
    StructField("season", StringType), StructField("round", StringType),
    StructField("grand_prix", StringType), StructField("session", StringType)))

  private val ResultsSchema = StructType(Seq(
    StructField("drivernumber", StringType), StructField("abbreviation", StringType),
    StructField("teamname", StringType), StructField("position", DoubleType),
    StructField("classifiedposition", StringType), StructField("gridposition", DoubleType),
    StructField("q1", LongType), StructField("q2", LongType), StructField("q3", LongType),
    StructField("time", LongType), StructField("status", StringType),
    StructField("points", DoubleType),
    StructField("season", StringType), StructField("round", StringType),
    StructField("grand_prix", StringType), StructField("session", StringType)))

  private def boxL(o: Option[Long]): java.lang.Long = o.map(Long.box).orNull

  private def lapRow(p: Lap): Row = {
    val stint = 1 + (p.lap - 1) / 20
    val sector = (f: Double) => p.laptime.map(t => (t * f).toLong)
    Row(p.driver, p.number, p.team, p.lap.toDouble, stint.toDouble,
      boxL(p.laptime), boxL(sector(0.31)), boxL(sector(0.37)), boxL(sector(0.32)),
      boxL(p.pitin), boxL(p.pitout),
      Seq("SOFT", "MEDIUM", "HARD")(stint % 3), ((p.lap - 1) % 20 + 1).toDouble,
      (p.lap - 1) % 20 == 0,
      Timestamp.from(Instant.EPOCH.plusNanos(p.startMicros * 1000L)),
      (p.number.toInt % 20 + 1).toDouble,
      p.season.toString, Bronze.roundValue(p.round), p.gp, p.session)
  }

  private def keys(season: Int, r: Int, code: String): Seq[String] =
    Seq(season.toString, Bronze.roundValue(r), gp(r), code)

  private def weatherAt(shape: Shape, seed: Long, idx: Long): Row = {
    val (season, r, k, i) = decode(shape, idx, shape.weatherRows)
    val h = mix(seed, season, r, k, i, 7)
    val air = 18.0 + pmod(h, 150) / 10.0
    Row.fromSeq(Seq(
      i * 60000000000L, air, air + 10.0 + pmod(h >>> 8, 100) / 10.0,
      30.0 + pmod(h >>> 16, 60), 1000.5 + pmod(h >>> 24, 30),
      pmod(h >>> 32, 80) / 10.0, pmod(h >>> 40, 360),
      pmod(h >>> 48, 13) == 0) ++ keys(season, r, SessionCodes(k)))
  }

  private def resultAt(shape: Shape, seed: Long, idx: Long): Row = {
    val (season, r, k, d) = decode(shape, idx, shape.drivers)
    val code = SessionCodes(k)
    val h = mix(seed, season, r, k, d, 11)
    val pos = pmod(d + r + seed, shape.drivers) + 1
    val quali = if (code == "Q") Some(79000000000L + pmod(h, 3000000000L)) else None
    val retired = pmod(h >>> 12, 17) == 0
    Row.fromSeq(Seq(
      (d + 1).toString, f"D$d%02d", s"T${d / 2}", pos.toDouble,
      if (retired) "R" else pos.toString, (pmod(h >>> 20, shape.drivers) + 1).toDouble,
      boxL(quali), boxL(quali.map(_ - 400000000L)), boxL(quali.map(_ - 700000000L)),
      boxL(if (retired) None else Some(5400000000000L + pmod(h >>> 4, 90000000000L))),
      if (retired) "Retired" else "Finished",
      math.max(0, 26 - pos).toDouble) ++ keys(season, r, code))
  }

  /** Write laps/weather/results for `shape` into `root` through the
    * public bronze writer (hive layout, one file per leaf). Rows are
    * generated on the executors from their index; [[laps]] regenerates
    * the same laps on the driver for the model.
    */
  def writeBronze(spark: SparkSession, root: String, shape: Shape,
                  seed: Long): Unit = {
    val sc = spark.sparkContext
    // slices hold whole sessions (rows are session-major), so every leaf
    // is written by one task as one file, with no shuffle
    val slices = (1 to math.min(shape.sessions, 4 * sc.defaultParallelism))
      .filter(shape.sessions % _ == 0).max
    def write(table: String, n: Long, schema: StructType, row: Long => Row): Unit =
      Bronze.write(spark.createDataFrame(sc.range(0L, n, 1L, slices).map(row), schema),
        root, table, singleFilePerLeaf = false)
    write("laps", shape.lapRows, LapsSchema, i => lapRow(lapAt(shape, seed, i)))
    write("weather", weatherCount(shape), WeatherSchema, i => weatherAt(shape, seed, i))
    write("results", resultsCount(shape), ResultsSchema, i => resultAt(shape, seed, i))
  }

  def weatherCount(shape: Shape): Long = shape.sessions.toLong * shape.weatherRows
  def resultsCount(shape: Shape): Long = shape.sessions.toLong * shape.drivers
}
