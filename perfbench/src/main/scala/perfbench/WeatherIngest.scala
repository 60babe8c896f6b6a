package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DailyTable, LogEvents, Retention}
import graft.streaming.Ingest

/** The reference pipeline driven closed-loop: land a simulated day's
  * hourly blobs, run one ingest, drop expired partitions, and poll the
  * daily table until the day's row is readable.
  */
final class WeatherIngest(spark: SparkSession, work: File, gen: WeatherGen, tracer: Tracer) {
  private def dir(name: String): File = { val f = new File(work, name); f.mkdirs(); f }
  private val staging = dir("staging")
  private val landing = dir("landing")
  val raw: File = new File(work, "raw")
  val daily: File = new File(work, "daily")
  val logs: File = new File(work, "logs")
  private val checkpoint = new File(work, "checkpoint")

  /** Every good reading landed so far, by day. */
  private val landed = mutable.Map[LocalDate, ArrayBuffer[Reading]]()
  /** Blobs held back to land late, by the day of the cycle they land in. */
  private val late = mutable.Map[LocalDate, ArrayBuffer[Blob]]()
  /** Malformed lines landed before each ingest, with the batches it ran. */
  val malformedByIngest: ArrayBuffer[(Long, Seq[Long])] = ArrayBuffer()
  private var seenBatches = Set.empty[Long]
  var lastAsOf: LocalDate = _

  /** Blobs for `day` that land on time; the late ones are queued. */
  private def blobsFor(day: LocalDate): Seq[Blob] = (0 until 24).flatMap { h =>
    val b = gen.blob(day, h)
    val by = gen.lateBy(day, h)
    if (by == 0) Some(b)
    else { late.getOrElseUpdate(day.plusDays(by), ArrayBuffer()) += b; None }
  }

  /** Lands blobs atomically: each is written aside, then renamed in. */
  private def land(blobs: Seq[Blob]): Long = {
    var malformed = 0L
    for (b <- blobs) {
      val name = s"${b.day}-h${b.hour}-${System.nanoTime()}.json"
      val tmp = new File(staging, name).toPath
      Files.writeString(tmp, b.text)
      Files.move(tmp, new File(landing, name).toPath, StandardCopyOption.ATOMIC_MOVE)
      landed.getOrElseUpdate(b.day, ArrayBuffer()) ++= b.readings
      malformed += b.malformed
    }
    malformed
  }

  private def newBatches(): Seq[Long] = {
    val commits = Option(new File(checkpoint, "commits").list()).getOrElse(Array.empty[String])
      .filter(_.forall(_.isDigit)).map(_.toLong).toSet
    val fresh = (commits -- seenBatches).toSeq.sorted
    seenBatches = commits
    fresh
  }

  /** Ingest what has landed, then apply retention as of `asOf`. */
  private def ingest(asOf: LocalDate, op: Int, malformed: Long, run: String): Seq[String] = {
    tracer.span(run, op) {
      Ingest.runOnce(spark, landing.getPath, raw.getPath, daily.getPath,
        checkpoint.getPath, Some(logs.getPath))
    }
    malformedByIngest += malformed -> newBatches()
    lastAsOf = asOf
    tracer.span("retention.drop", op) {
      Retention.dropExpiredPartitions(spark, raw.getPath, Date.valueOf(asOf))
    }
  }

  /** Reads the daily table until every one of `days` has a row. */
  private def poll(days: Seq[LocalDate], op: Int): Option[Seq[Row]] =
    tracer.span("daily.read", op) {
      val wanted = days.map(d => Date.valueOf(d))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var rows = Seq.empty[Row]
      while (rows.size < days.size && System.nanoTime() < deadline) {
        rows = DailyTable.read(spark, daily.getPath)
          .filter(col("dt").isin(wanted: _*)).collect().toSeq
        if (rows.size < days.size) Thread.sleep(20)
      }
      if (rows.size == days.size) Some(rows) else None
    }

  /** Lands `days` at once (with any late blobs due), ingests, and waits
    * until every day is readable.
    */
  def cycle(days: Seq[LocalDate], op: Int, run: String, backfill: Boolean = false): CycleResult =
    tracer.span("cycle", op) {
      val hourly = days.flatMap(blobsFor) ++ days.flatMap(d => late.remove(d).getOrElse(Nil))
      // a backfill lands each day's hours as one file
      val blobs = if (!backfill) hourly else hourly.groupBy(_.day).toSeq.sortBy(_._1).map {
        case (d, bs) => Blob(d, 0, bs.map(_.text).mkString, bs.flatMap(_.readings), bs.map(_.malformed).sum)
      }
      val malformed = tracer.span("land", op)(land(blobs))
      val t0 = System.nanoTime()
      val dropped = ingest(days.last, op, malformed, run)
      val rows = poll(days, op)
      val seconds = (System.nanoTime() - t0) / 1e9
      val failures = (rows match {
        case None => Seq(s"days ${days.mkString(",")} not readable after 30 s")
        case Some(rs) => rs.flatMap(r => check(r))
      }) ++ expiredLeft()
      CycleResult(op, seconds, blobs.map(_.readings.size.toLong).sum,
        blobs.map(_.text.length.toLong).sum, dropped.size,
        if (failures.isEmpty) None else Some(failures.mkString("; ")))
    }

  /** None when a daily row matches the rollup of the readings landed for its day. */
  private def check(row: Row): Option[String] = {
    val day = row.getAs[Date]("dt").toLocalDate
    landed.get(day) match {
      case Some(xs) => new ExpectedDay(day, xs.toSeq).mismatch(row)
      case None => Some(s"daily row for $day, which had no readings")
    }
  }

  /** Raw partitions that retention should have dropped. */
  def expiredLeft(): Seq[String] = {
    val cutoff = lastAsOf.minusDays(Retention.DefaultDays.toLong)
    rawDays().filter(!_.isAfter(cutoff)).map(d => s"raw still holds expired dt=$d")
  }

  def rawDays(): Seq[LocalDate] =
    Option(raw.list()).getOrElse(Array.empty[String]).toSeq
      .filter(_.startsWith("dt=")).map(n => LocalDate.parse(n.stripPrefix("dt=")))

  /** Final checks, one per landed day (its daily row against its
    * rollup), one per ingest (its success-log malformed count against
    * what was landed) and one for retention. Returns (checks, failures).
    */
  def finalChecks(): (Int, Seq[String]) = {
    val byDay = DailyTable.read(spark, daily.getPath).collect()
      .map(r => r.getAs[Date]("dt").toLocalDate -> r).toMap
    val days = (landed.keySet ++ byDay.keySet).toSeq.sorted
    val dayFailures = days.flatMap(d => byDay.get(d) match {
      case Some(row) => check(row)
      case None => Some(s"day $d has readings but no daily row")
    })
    val Logged = """batch (\d+) loaded, days=.*, malformed=(\d+)""".r
    val logged = LogEvents.read(spark, logs.getPath).select("message").collect()
      .flatMap(r => Logged.findFirstMatchIn(r.getString(0)))
      .map(m => m.group(1).toLong -> m.group(2).toLong).toMap
    val logFailures = malformedByIngest.toSeq.flatMap { case (expected, batches) =>
      val got = batches.map(b => logged.getOrElse(b, -1L)).sum
      if (batches.nonEmpty && got == expected) None
      else Some(s"batches ${batches.mkString(",")} logged malformed=$got, landed $expected")
    }
    val expired = Some(expiredLeft()).filter(_.nonEmpty).map(_.mkString("; "))
    (days.size + malformedByIngest.size + 1, dayFailures ++ logFailures ++ expired)
  }

  def logEvents(): Long = LogEvents.read(spark, logs.getPath).count()

  def ingests: Int = malformedByIngest.size
}

/** One ingest cycle: `seconds` from its last blob landing until all its
  * days were readable, the good rows and bytes it landed, and the raw
  * partitions retention dropped.
  */
final case class CycleResult(
    op: Int, seconds: Double, rows: Long, landedBytes: Long, dropped: Int,
    failure: Option[String])
