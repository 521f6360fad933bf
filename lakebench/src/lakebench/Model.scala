package lakebench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import lakebench.F1Gen.Lap

/** Plain-Scala expected answers for a generated bronze: the gold marts
  * (DSS, TES) and every dashboard request. Shares no code with the
  * operators under test; the semantics are the reference's, restated.
  * Rows are `Seq[Any]` in the column order the engine returns.
  */
final class Model(val laps: Seq[Lap]) {
  import Model._

  /** driver_session_summary: NULL laptimes dropped, empty driver
    * coalesced to the number, personal_best_laps zeroed for a group
    * with a NULL key (the reference's `=`-join quirk).
    */
  lazy val dss: Seq[Seq[Any]] =
    laps.filter(_.laptime.isDefined)
      .groupBy { p =>
        val drv = if (p.driver.isEmpty) p.number else p.driver
        (p.season, p.round, p.gp, p.session, drv, p.number, p.team)
      }
      .toSeq
      .map { case ((s, r, g, c, drv, num, team), rs) =>
        val onTrack = rs.count(_.onTrack).toLong
        Seq(s, r, g, c, drv, num, team, rs.size.toLong, onTrack,
          rs.size - onTrack, rs.flatMap(_.laptime).min,
          if (team == null) 0L else 1L)
      }

  /** team_event_summary: DSS re-aggregated over R/Q/S sessions. */
  lazy val tes: Seq[Seq[Any]] =
    dss.filter(r => Set[Any]("R", "Q", "S").contains(r(3)))
      .groupBy(r => (r(0), r(1), r(2), r(3), r(6)))
      .toSeq
      .map { case ((s, r, g, c, team), rs) =>
        Seq(s, r, g, c, team, rs.map(_(8).asInstanceOf[Long]).sum,
          rs.map(_(9).asInstanceOf[Long]).sum,
          rs.map(_(10).asInstanceOf[Long]).min)
      }

  private def slice(season: Int, code: String): Seq[Lap] =
    laps.filter(p => p.season == season && p.session == code)

  def seasonDomain: Seq[Seq[Any]] = laps.map(_.season).distinct.sorted.map(Seq(_))

  def sessionDomain: Seq[Seq[Any]] = laps.map(_.session).distinct.sorted.map(Seq(_))

  def sessionDate(season: Int, code: String): Seq[Seq[Any]] = {
    val first = slice(season, code).map(_.startMicros).min
    Seq(Seq(DayFormat.format(Instant.EPOCH.plusNanos(first * 1000L))))
  }

  def kpis(season: Int, code: String): Seq[Seq[Any]] = {
    val s = slice(season, code)
    Seq(Seq(s.size.toLong, s.map(_.driver).distinct.size.toLong,
      s.flatMap(p => Option(p.team)).distinct.size.toLong))
  }

  /** Every DSS-derived fastest-lap row of the slice, in the served
    * order (formatted time, then driver). Rows tied on both sort keys
    * may come back in any order, so [[Model.diffTopK]] compares the sort keys
    * positionally and the rows as members of this list.
    */
  def fastestLaps(season: Int, code: String): Seq[Seq[Any]] =
    dss.filter(r => r(0) == season && r(3) == code)
      .map { r =>
        val ns = r(10).asInstanceOf[Long]
        Seq(r(4), r(6), r(2), r(1), pretty(ns), ns.toDouble / 1e9)
      }
      .sortBy(r => (r(4).asInstanceOf[String], r(0).asInstanceOf[String]))

  def teamSummary(season: Int, code: String): Seq[Seq[Any]] =
    tes.filter(r => r(0) == season && r(3) == code)
      .sortBy(r => (r(1).asInstanceOf[Int], r(4).asInstanceOf[String]))

  /** Exact median by lap number, interpolated the way Spark's
    * percentile(0.5) does for an even count.
    */
  def paceEvolution(season: Int, code: String): Seq[Seq[Any]] =
    slice(season, code).filter(_.laptime.isDefined)
      .groupBy(_.lap).toSeq.sortBy(_._1)
      .map { case (lap, rs) =>
        val ts = rs.flatMap(_.laptime).sorted.toIndexedSeq
        val n = ts.size
        val med =
          if (n % 2 == 1) ts(n / 2).toDouble
          else 0.5 * ts(n / 2 - 1).toDouble + 0.5 * ts(n / 2).toDouble
        Seq(lap.toDouble, med)
      }

  /** Copilot template answers (see [[Model.copilotSql]]). */
  def copilot(template: Int, season: Int, code: String): Seq[Seq[Any]] =
    template match {
      case 0 =>
        slice(season, code).groupBy(_.driver).toSeq
          .map { case (d, rs) => Seq(d, rs.size.toLong) }
          .sortBy(r => (-r(1).asInstanceOf[Long], r(0).asInstanceOf[String]))
          .take(CopilotRowCap)
      case 1 =>
        dss.filter(r => r(0) == season && r(3) == code)
          .groupBy(_(1).asInstanceOf[Int]).toSeq.sortBy(_._1)
          .map { case (r, rs) => Seq(r, rs.map(_(10).asInstanceOf[Long]).min) }
      case _ =>
        tes.filter(r => r(0) == season && r(3) == code)
          .groupBy(_(4).asInstanceOf[String]).toSeq
          .map { case (t, rs) => Seq(t, rs.map(_(6).asInstanceOf[Long]).sum) }
          .sortBy(r => (-r(1).asInstanceOf[Long], r(0).asInstanceOf[String]))
    }
}

object Model {
  val CopilotRowCap = 200
  val CopilotTemplates = 3

  def copilotSql(template: Int, season: Int, code: String): String =
    template match {
      case 0 =>
        s"SELECT driver, COUNT(*) AS laps FROM silver.laps WHERE season = $season " +
          s"AND session_code = '$code' GROUP BY driver ORDER BY laps DESC, driver"
      case 1 =>
        s"SELECT round, MIN(best_lap_time) AS best FROM gold.driver_session_summary " +
          s"WHERE season = $season AND session_code = '$code' GROUP BY round ORDER BY round"
      case _ =>
        s"SELECT team, SUM(team_pitstops) AS stops FROM gold.team_event_summary " +
          s"WHERE season = $season AND session_code = '$code' GROUP BY team " +
          "ORDER BY stops DESC, team"
    }

  private val DayFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)

  /** "mm:ss.mmm" with the same floor arithmetic as the served column. */
  def pretty(ns: Long): String = {
    val mins = math.floor(ns.toDouble / 6e10).toLong
    val secs = math.floor(ns.toDouble / 1e9).toLong % 60
    val ms = math.floor(ns.toDouble / 1e6).toLong % 1000
    f"$mins%02d:$secs%02d.$ms%03d"
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: java.lang.Double, y) => same(x.doubleValue, y)
    case (x, y: java.lang.Double) => same(x, y.doubleValue)
    case _ => a == b
  }

  private def sameRow(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => same(x, y) }

  private def show(r: Seq[Any]): String = r.mkString("(", ", ", ")")

  /** Ordered comparison; `None` when equal, else the first difference. */
  def diff(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got.size != want.size) Some(s"rows ${got.size} != expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if !sameRow(g, w) => s"row $i: ${show(g)} != expected ${show(w)}"
    }

  /** Order-insensitive comparison (rows sorted by their rendering). */
  def diffUnordered(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    def canon(rs: Seq[Seq[Any]]) = rs.sortBy(show)
    diff(canon(got), canon(want))
  }

  /** Top-k check that tolerates any order among rows tied on the sort
    * keys: sort keys must match position by position, and every row
    * must be one of the candidates carrying those keys.
    */
  def diffTopK(got: Seq[Seq[Any]], candidates: Seq[Seq[Any]], k: Int,
               sortKeys: Seq[Int]): Option[String] = {
    val want = candidates.take(k)
    def ks(r: Seq[Any]) = sortKeys.map(r(_))
    if (got.size != want.size) Some(s"rows ${got.size} != expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if ks(g) != ks(w) =>
        s"row $i sort keys ${show(ks(g))} != expected ${show(ks(w))}"
      case ((g, _), i) if !candidates.exists(c => sameRow(c, g)) =>
        s"row $i ${show(g)} is not a fastest-lap row of the slice"
    }
  }
}
