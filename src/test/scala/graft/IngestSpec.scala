package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DailyTable
import graft.streaming.Ingest

/** E1 (SURVEY.md §3 / VERDICT.md #2): landing-dir file stream →
  * raw append (K2) → daily sync, with exactly-once on re-run.
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ndjson(dt: String, time: String, temp: Double): String =
    s"""{"coord":{"lon":87.0,"lat":23.25},""" +
      s""""weather":[{"id":800,"main":"Clear","description":"clear sky"}],""" +
      s""""base":"stations",""" +
      s""""main":{"temp":$temp,"feels_like":${temp + 1},"pressure":1000,"humidity":50,""" +
      s""""temp_min":${temp - 1},"temp_max":${temp + 2}},""" +
      s""""visibility":10000,"wind":{"speed":3.0,"deg":120},"clouds":{"all":40},""" +
      s""""dt":"$dt","current_time":"$time",""" +
      s""""sys":{"country":"IN","sunrise":1,"sunset":2},"timezone":19800,"name":"Bankura"}"""

  // NOTE: the landing files carry the *canonical* record (CleanWeather
  // output) — in the reference, CF#1 uploads cleaned JSON to GCS and the
  // load path consumes that (Load-Data-From-API/main.py:179-189).

  private def writeLanding(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)

  test("ingest: file arrivals append raw (dt-partitioned) and sync daily") {
    val root = Files.createTempDirectory("graft-ingest")
    val landing = Files.createDirectories(root.resolve("landing"))
    val raw = root.resolve("raw").toString
    val daily = root.resolve("daily").toString
    val ckpt = root.resolve("ckpt").toString

    writeLanding(landing, "hourly-weather-data-json-20220829-100000.json", Seq(
      ndjson("2022-08-29", "10:00:00", 300.15),
      ndjson("2022-08-29", "11:00:00", 302.15)))
    writeLanding(landing, "hourly-weather-data-json-20220830-100000.json", Seq(
      ndjson("2022-08-30", "10:00:00", 280.15)))

    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)

    // K2: raw append landed, partitioned by dt (retention = partition drop)
    assert(spark.read.parquet(raw).count() == 3)
    val rawDirs = new java.io.File(raw).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(rawDirs == Set("dt=2022-08-29", "dt=2022-08-30"))

    // transform: daily rollup reflects both days
    val d = DailyTable.read(spark, daily)
      .select(col("dt").cast("string"), col("avg_temp"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(d == Map("2022-08-29" -> 28.0, "2022-08-30" -> 7.0))

    // exactly-once: re-running over the same landing dir ingests nothing
    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)
    assert(spark.read.parquet(raw).count() == 3)

    // a late file for an existing day + a new day: upsert path
    writeLanding(landing, "hourly-weather-data-json-20220830-120000.json", Seq(
      ndjson("2022-08-30", "12:00:00", 310.15),
      ndjson("2022-08-31", "09:00:00", 290.15)))
    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)
    assert(spark.read.parquet(raw).count() == 5)
    val d2 = DailyTable.read(spark, daily)
      .select(col("dt").cast("string"), col("avg_temp"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(d2 == Map(
      "2022-08-29" -> 28.0,
      "2022-08-30" -> 22.0, // avg(280.15, 310.15) - 273.15
      "2022-08-31" -> 17.0))
  }

  test("a replayed micro-batch overwrites itself instead of double-appending") {
    val root = Files.createTempDirectory("graft-ingest-replay")
    val raw = root.resolve("raw").toString
    val daily = root.resolve("daily").toString
    val batch = spark.read.schema(graft.schema.WeatherSchema.raw)
      .json(Seq(ndjson("2022-08-29", "10:00:00", 300.15),
        ndjson("2022-08-29", "11:00:00", 302.15)).toDS()) // one micro-batch
    // simulate the crash-retry: same batchId processed twice
    Ingest.ingestBatch(spark, batch, 7L, raw, daily)
    Ingest.ingestBatch(spark, batch, 7L, raw, daily)
    assert(spark.read.parquet(raw).count() == 2) // not 4
    // a different batchId with new data appends alongside
    val batch2 = spark.read.schema(graft.schema.WeatherSchema.raw)
      .json(Seq(ndjson("2022-08-29", "12:00:00", 310.15)).toDS())
    Ingest.ingestBatch(spark, batch2, 8L, raw, daily)
    assert(spark.read.parquet(raw).count() == 3)
  }

  test("ingest at volume: streamed daily table equals the batch rollup") {
    // 6k weatherized lineitem rows through the landing stream must yield
    // byte-for-byte the same daily table as the direct batch rollup.
    val root = Files.createTempDirectory("graft-ingest-vol")
    val landing = root.resolve("landing").toString
    val hourly = graft.ops.Weatherize.lineitemAsHourly(
      Tables(spark, "/root/testdata/sf0.001", "lineitem"))
    hourly.repartition(4).write.json(landing) // 4 "blobs"
    Ingest.runOnce(spark, landing, root.resolve("raw").toString,
      root.resolve("daily").toString, root.resolve("ckpt").toString)

    def key(df: org.apache.spark.sql.DataFrame) = df.select(
      col("dt").cast("string"), col("avg_temp"), col("max_temp"),
      col("min_temp"), col("avg_pressure"), col("max_rain_1h"),
      col("month"), col("till_time"))
      .collect().map(_.toSeq).toSet
    val streamed = key(DailyTable.read(spark, root.resolve("daily").toString))
    val direct = key(graft.ops.DailyRollup.rollup(hourly))
    assert(streamed.size == direct.size && streamed == direct)
  }

  test("malformed landing lines are quarantined, not ingested as null days") {
    val root = Files.createTempDirectory("graft-ingest-bad")
    val landing = Files.createDirectories(root.resolve("landing"))
    // malformed lines spread over several blobs of one micro-batch: the
    // logged count must be exact after the batch is coalesced
    writeLanding(landing, "blob-1.json", Seq(
      ndjson("2022-08-29", "10:00:00", 300.15),
      """{"this is": not even json"""))
    writeLanding(landing, "blob-2.json", Seq(
      """{"truncated": """, ndjson("2022-08-30", "10:00:00", 290.15)))
    writeLanding(landing, "blob-3.json", Seq("not json at all"))
    Ingest.runOnce(spark, landing.toString, root.resolve("raw").toString,
      root.resolve("daily").toString, root.resolve("ckpt").toString,
      Some(root.resolve("logs").toString))
    val raw = spark.read.parquet(root.resolve("raw").toString)
    assert(raw.count() == 2) // only the good rows
    assert(raw.filter(col("dt").isNull).isEmpty)
    val msgs = graft.ops.LogEvents.read(spark, root.resolve("logs").toString)
      .select("message").collect().map(_.getString(0)).toSeq
    assert(msgs == Seq("batch 0 loaded, days=2022-08-29,2022-08-30, malformed=3"))
  }

  private def filesUnder(dir: String): Set[String] =
    Files.walk(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => Paths.get(dir).relativize(p).toString).toSet

  test("a micro-batch of many landing files writes one raw file per day") {
    val root = Files.createTempDirectory("graft-ingest-sized")
    val landing = Files.createDirectories(root.resolve("landing"))
    val raw = root.resolve("raw").toString
    val daily = root.resolve("daily").toString
    (0 until 10).foreach(h => writeLanding(landing, f"blob-$h%02d.json",
      Seq(ndjson("2022-08-29", f"$h%02d:00:00", 290.15 + h))))
    Ingest.runOnce(spark, landing.toString, raw, daily,
      root.resolve("ckpt").toString)
    // one micro-batch of ten one-line blobs: one task, so one file
    assert(filesUnder(raw).map(_.split('/').init.mkString("/")).toSeq ==
      Seq("dt=2022-08-29/ingest_batch=0"))
    assert(filesUnder(raw).size == 1)
    assert(filesUnder(daily).size == 1)
    assert(spark.read.parquet(raw).count() == 10)
    assert(DailyTable.read(spark, daily).select("avg_temp").as[Double]
      .collect().toSeq == Seq(21.5)) // avg(290.15..299.15) - 273.15
  }

  test("a late reading re-rolls its earlier day with today's; other days untouched") {
    val root = Files.createTempDirectory("graft-ingest-late")
    val landing = Files.createDirectories(root.resolve("landing"))
    val raw = root.resolve("raw").toString
    val daily = root.resolve("daily").toString
    val ckpt = root.resolve("ckpt").toString
    def avgByDay(): Map[String, Double] = DailyTable.read(spark, daily)
      .select(col("dt").cast("string"), col("avg_temp"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap

    Seq("2022-08-29" -> 300.15, "2022-08-30" -> 280.15, "2022-08-31" -> 290.15)
      .foreach { case (d, t) => writeLanding(landing, s"$d.json",
        Seq(ndjson(d, "10:00:00", t))) }
    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)
    assert(avgByDay() == Map(
      "2022-08-29" -> 27.0, "2022-08-30" -> 7.0, "2022-08-31" -> 17.0))
    val untouched = filesUnder(daily).filter(_.contains("dt=2022-08-30"))
    assert(untouched.size == 1)

    // today's reading plus one two days late, in one micro-batch
    writeLanding(landing, "2022-08-31-late.json", Seq(
      ndjson("2022-08-31", "11:00:00", 294.15),
      ndjson("2022-08-29", "11:00:00", 304.15)))
    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)
    assert(avgByDay() == Map(
      "2022-08-29" -> 29.0, // avg(300.15, 304.15) - 273.15
      "2022-08-30" -> 7.0,
      "2022-08-31" -> 19.0)) // avg(290.15, 294.15) - 273.15
    // 08-30's daily file is the very file the first batch wrote
    assert(filesUnder(daily).filter(_.contains("dt=2022-08-30")) == untouched)
    assert(filesUnder(daily).size == 3)
  }

  test("a failing batch publishes an error envelope and rethrows") {
    val root = Files.createTempDirectory("graft-ingest-err")
    val logs = root.resolve("logs").toString
    // rawPath points at an existing FILE → the parquet write must fail
    val blocked = root.resolve("raw")
    Files.write(blocked, "not a directory".getBytes)
    val batch = spark.read.schema(graft.schema.WeatherSchema.raw)
      .json(Seq(ndjson("2022-08-29", "10:00:00", 300.15)).toDS())
    intercept[Exception] {
      Ingest.ingestBatch(spark, batch, 1L, blocked.toString,
        root.resolve("daily").toString, Some(logs))
    }
    val logged = graft.ops.LogEvents.read(spark, logs)
      .filter(col("message_type") === "error")
    assert(logged.count() == 1)
    assert(logged.select("message").collect().head.getString(0)
      .startsWith("batch 1 failed"))
  }

  test("ingest keeps per-day scope pruned to the day's partition") {
    // The upsert's rollup filters dt IN (days) over the dt-partitioned
    // raw store; the plan must show partition pruning, not a full scan.
    val root = Files.createTempDirectory("graft-ingest-prune")
    val raw = root.resolve("raw").toString
    val df = spark.range(3).select(
      (col("id") + 1).cast("double").as("value"),
      date_add(to_date(lit("2022-08-29")), col("id").cast("int")).as("dt"))
    df.write.partitionBy("dt").parquet(raw)
    val days = Seq(Date.valueOf("2022-08-29"), Date.valueOf("2022-08-31"))
    val scan = spark.read.parquet(raw).filter(col("dt").isin(days: _*))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dt") && !plan.toLowerCase.contains("partitionfilters: []"))
    assert(scan.count() == 2)
  }
}
