package perfbench

import java.time.LocalDate

import org.apache.spark.sql.Row

/** The fields of one landed reading that the daily rollup reads. */
final case class Reading(
    temp: Double, feelsLike: Double, tempMin: Double, tempMax: Double,
    pressure: Long, humidity: Long, clouds: Long,
    rain1h: Option[Double], rain3h: Option[Double], timeSecs: Int)

/** One hourly landing blob: NDJSON in the raw schema, the reading its
  * line holds when well formed, and whether the line is malformed.
  */
final case class Blob(day: LocalDate, hour: Int, text: String, readings: Seq[Reading], malformed: Int)

/** Seeded generator of the reference pipeline's input in the
  * reference's shape: one blob per simulated hour, holding the single
  * city's one reading of that hour (one API call per hour, one row per
  * call; SURVEY.md §6). The seed sets the share of blobs that land late
  * and the share of blobs whose line is malformed; the same seed always
  * gives the same blobs.
  *
  * The reference has neither late nor malformed input (SURVEY.md §2h);
  * both are the benchmark's own, so the pipeline's late-day re-publish
  * and its malformed-line quarantine are exercised. The seeded ranges
  * are narrow on purpose: every day has at least one late blob and
  * every late blob is [[WeatherGen.LateDays]] late, so each cycle
  * re-publishes exactly one earlier day and every seed asks the
  * pipeline for the same amount of work per cycle.
  */
final class WeatherGen(seed: Long) {
  private def u(parts: Long*): Double =
    (parts.foldLeft(Digest.mix(seed ^ 0x5851f42d4c957f2dL))((h, p) => Digest.mix(h + p)) >>> 11) *
      (1.0 / (1L << 53))
  private def pick(n: Int, parts: Long*): Int = (u(parts: _*) * n).toInt

  val lateShare: Double = 0.02 + 0.06 * u(2)
  val malformedShare: Double = 0.005 + 0.015 * u(4)

  /** Days the blob for (`day`, `hour`) lands after its day: 0 when on time. */
  def lateBy(day: LocalDate, hour: Int): Int = {
    val d = day.toEpochDay
    if (hour == pick(24, d, 5) || u(d, hour, 6) < lateShare) WeatherGen.LateDays else 0
  }

  def blob(day: LocalDate, hour: Int): Blob = {
    val d = day.toEpochDay
    // on some days the last reading is exactly 23:00:00, which the
    // rollup's strict end-of-day test must not report as EOD
    val exactEod = u(d, 7) < 0.3
    def r(k: Int): Double = u(d, hour, k)
    // temperatures are whole hundredths of a kelvin, so the JSON text
    // parses back to exactly the value kept here
    val tc = 25500 + (r(10) * 4000).toInt
    val reading = Reading(
      temp = tc / 100.0,
      feelsLike = (25000 + (r(11) * 4500).toInt) / 100.0,
      tempMin = (tc - (r(12) * 300).toInt) / 100.0,
      tempMax = (tc + (r(13) * 300).toInt) / 100.0,
      pressure = 980 + (r(14) * 60).toLong,
      humidity = (r(15) * 101).toLong,
      clouds = (r(16) * 101).toLong,
      rain1h = if (r(17) < 0.7) None else Some((r(18) * 800).toInt / 100.0),
      rain3h = if (r(17) < 0.7 || r(19) < 0.4) None else Some((r(20) * 2000).toInt / 100.0),
      timeSecs =
        if (hour == 23 && (exactEod || r(21) < 0.2)) 23 * 3600
        else hour * 3600 + (r(22) * 3600).toInt)
    val line = json(day, hour, reading, gust = r(23) >= 0.5, snow = r(24) >= 0.9)
    if (r(25) < malformedShare) Blob(day, hour, line.take(line.length / 2) + "\n", Nil, 1) // cut mid-object
    else Blob(day, hour, line + "\n", Seq(reading), 0)
  }

  private def json(day: LocalDate, hour: Int, x: Reading, gust: Boolean, snow: Boolean): String = {
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val t = x.timeSecs
    val time = "%02d:%02d:%02d".format(t / 3600, t % 3600 / 60, t % 60)
    val wind = s""""wind":{"speed":${f2(3.5 + hour % 7)},"degree":${hour * 15 % 360}""" +
      (if (gust) s""","gust":${f2(6.25 + hour % 5)}}""" else "}")
    // an absent rain object and a null one are both NULL branches
    val rain = (x.rain1h, x.rain3h) match {
      case (None, _) => if (hour % 2 == 0) "" else "\"rain\":null,"
      case (Some(a), b) => s""""rain":{"rain_1h":${f2(a)},"rain_3h":${b.map(f2).getOrElse("null")}},"""
    }
    val snowJ = if (snow) """"snow":{"snow_1h":0.25,"snow_3h":null},""" else "\"snow\":null,"
    s"""{"coordinate":{"longitude":87.07,"latitude":23.25},""" +
      s""""weather":{"id":${800 + hour % 4},"main":"Clouds","description":"scattered clouds"},"base":"stations",""" +
      s""""main":{"temp":${f2(x.temp)},"feels_like":${f2(x.feelsLike)},"pressure":${x.pressure},""" +
      s""""humidity":${x.humidity},"temp_min":${f2(x.tempMin)},"temp_max":${f2(x.tempMax)},""" +
      s""""sea_level":${x.pressure},"ground_level":${x.pressure - 12}},"visibility":10000,$wind,""" +
      s""""clouds":{"all":${x.clouds}},$rain$snowJ"dt":"$day","current_time":"$time",""" +
      s""""sys":{"country":"IN","sunrise":1700000000,"sunset":1700040000},"timezone":19800,""" +
      s""""name":"Bankura"}"""
  }
}

object WeatherGen {
  /** Days a late blob lands after its own day, inside the 15-day
    * retention window.
    */
  val LateDays = 2
}

/** The daily rollup of one day's readings, computed here, apart from
  * the program's own rollup, to check the rows the pipeline publishes.
  */
final class ExpectedDay(day: LocalDate, xs: Seq[Reading]) {
  require(xs.nonEmpty, s"no readings for $day")
  private val c = 273.15
  private def avg(f: Reading => Double) = xs.map(f).sum / xs.size

  /** None when `got`, a row of the daily table, matches; otherwise what differs. */
  def mismatch(got: Row): Option[String] = {
    def d(name: String): Option[Double] =
      if (got.isNullAt(got.fieldIndex(name))) None else Some(got.getAs[Double](name))
    // a value rounded to `digits` must lie within half a unit of the truth
    def near(name: String, truth: Double, digits: Int): Option[String] = {
      val tol = 0.5 * math.pow(10, -digits) + 1e-9
      d(name) match {
        case Some(v) if math.abs(v - truth) <= tol => None
        case other => Some(s"$name=$other, expected ${truth} within $tol")
      }
    }
    def exact(name: String, truth: Option[Double]): Option[String] =
      if (d(name) == truth) None else Some(s"$name=${d(name)}, expected $truth")
    def maxOpt(f: Reading => Option[Double]) = xs.flatMap(f).maxOption
    val t = xs.map(_.timeSecs).max
    val till = if (t > 23 * 3600) "EOD" else "%02d:%02d:%02d".format(t / 3600, t % 3600 / 60, t % 60)
    Seq(
      near("avg_temp", avg(_.temp - c), 2),
      near("max_temp", xs.map(_.tempMax - c).max, 2),
      near("min_temp", xs.map(_.tempMin - c).min, 2),
      near("feels_like", avg(_.feelsLike - c), 2),
      near("avg_pressure", avg(_.pressure.toDouble), 0),
      exact("max_pressure", Some(xs.map(_.pressure).max.toDouble)),
      exact("min_pressure", Some(xs.map(_.pressure).min.toDouble)),
      near("avg_humidity", avg(_.humidity.toDouble), 0),
      exact("max_humidity", Some(xs.map(_.humidity).max.toDouble)),
      exact("min_humidity", Some(xs.map(_.humidity).min.toDouble)),
      near("avg_cloud_coverage", avg(_.clouds.toDouble), 0),
      exact("max_cloud_coverage", Some(xs.map(_.clouds).max.toDouble)),
      exact("min_cloud_coverage", Some(xs.map(_.clouds).min.toDouble)),
      exact("max_rain_1h", maxOpt(_.rain1h)),
      exact("max_rain_3h", maxOpt(_.rain3h)),
      if (got.getAs[Int]("month") == day.getMonthValue) None
      else Some(s"month=${got.getAs[Int]("month")}"),
      if (got.getAs[String]("till_time") == till) None
      else Some(s"till_time=${got.getAs[String]("till_time")}, expected $till")
    ).flatten.headOption.map(m => s"daily row $day: $m")
  }
}
