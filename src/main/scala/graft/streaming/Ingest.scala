package graft.streaming

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{DailyTable, LogEvent, LogEvents, Sizing}
import graft.schema.WeatherSchema

/** E1 — the reference's flagship event-driven path (SURVEY.md §3),
  * re-expressed as Structured Streaming:
  *
  * {{{
  * GCS bucket + object-finalize trigger   →  file-source stream over a
  *   (Load-gcs-to-bq/main.py:56-64)          landing dir (S3): each new
  *                                           NDJSON file = one input
  * BQ load job, WRITE_APPEND (K2,         →  foreachBatch: append batch
  *   main.py:74-84)                          to dt-partitioned raw parquet
  * CALL sp_create / sp_update (D2/D3,     →  one DailyTable.sync over
  *   main.py:87-92)                          every affected day, AFTER
  *                                           the append lands
  * }}}
  *
  * Two reference bugs intentionally not reproduced (SURVEY.md §2 list):
  *  - CF#2 fires the transform without awaiting the load job
  *    (`load_job.result()` never called) — here the rollup runs strictly
  *    after the raw append within the same micro-batch;
  *  - replayed GCS events double-append rows — the file source's
  *    checkpoint processes each landing file exactly once, so re-running
  *    the stream re-ingests nothing.
  *
  * Scale posture: each micro-batch is one sized pass. (a) Its partition
  * count follows its bytes ([[graft.ops.Sizing.partitionsFor]]), not the
  * file source's one partition per landing file, so a trickle batch of
  * a few dozen one-line blobs is one task and one raw file per day, not
  * one of each per blob. (b) The raw table is written `partitionBy(dt)`,
  * so the rollup scan prunes to the batch's days and retention (K5) is a
  * pure partition drop. (c) The only driver-side collect is one
  * aggregate row holding the malformed count and the batch's sorted
  * `dt` set — bounded by days-per-batch, independent of row count.
  * (d) The daily table is written once per batch, for all its days.
  */
object Ingest {

  /** Process everything currently in the landing dir, then stop
    * (`Trigger.AvailableNow` — the batch-ish analogue of the reference's
    * per-event invocation; swap for `Trigger.ProcessingTime` in a
    * long-running deployment).
    */
  def runOnce(
      spark: SparkSession, landingDir: String, rawPath: String,
      dailyPath: String, checkpointDir: String,
      logRoot: Option[String] = None): Unit = {
    val stream = spark.readStream
      .schema(WeatherSchema.raw)
      .json(landingDir)
    val query = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, batchId, rawPath, dailyPath, logRoot)
      }
      .start()
    query.awaitTermination()
  }

  /** §2j: the success/error envelope every reference function publishes
    * (Load-gcs-to-bq/main.py:96-110), emitted per micro-batch.
    */
  private def publishLog(
      spark: SparkSession, logRoot: Option[String], messageType: String,
      message: String): Unit =
    logRoot.foreach { root =>
      import spark.implicits._
      LogEvents.append(Seq(LogEvent(
        project = "graft", service = "ingest", process = "ingest_batch",
        runtime = s"spark ${spark.version}", log_type = LogEvents.BqLoadLogging,
        file_name = None, gcs_uri = None, bq_uri = None,
        message_type = messageType, message = message)).toDS(), root)
    }

  /** One micro-batch: K2 append, then one D2/D3 transform over every
    * affected day — sequential within the batch (the ordering CF#2 gets
    * wrong).
    *
    * The "append" is a dynamic overwrite of the batch's own
    * (dt, ingest_batch=<id>) partitions: a retried batch (crash after
    * the write, before the checkpoint commit) rewrites the same
    * directories instead of appending duplicates, upgrading the path
    * from at-least-once to effectively-once. `dt` stays the leading
    * partition level, so day-pruning and retention partition drops see
    * the same top-level layout.
    */
  private[graft] def ingestBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long, rawPath: String,
      dailyPath: String, logRoot: Option[String] = None): Unit = {
    val sized = sizedByBytes(batch)
    sized.persist()
    try {
      // Malformed landing lines parse to all-null rows under the explicit
      // schema (PERMISSIVE mode); a null dt would land in the Hive
      // default partition and silently poison the rollup's null group —
      // quarantine them to a count instead of ingesting. One aggregate
      // (count(col) and collect_set skip nulls) yields both the
      // malformed count and the batch's days in a single job.
      val stats = sized.agg(count(lit(1)), count(col("dt")),
        sort_array(collect_set(col("dt")))).head()
      val malformed = stats.getLong(0) - stats.getLong(1)
      val days = stats.getSeq[Date](2)
      sized.filter(col("dt").isNotNull)
        .withColumn("ingest_batch", lit(batchId))
        .write.partitionBy("dt", "ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(rawPath)
      // dt is a partition column of the raw store; the upsert's
      // dt IN (days) filter prunes to those days' directories.
      if (days.nonEmpty)
        DailyTable.sync(spark, spark.read.parquet(rawPath), dailyPath, days: _*)
      publishLog(spark, logRoot, "success",
        s"batch $batchId loaded, days=${days.mkString(",")}, malformed=$malformed")
    } catch {
      case e: Throwable =>
        publishLog(spark, logRoot, "error",
          s"batch $batchId failed: ${e.getMessage}")
        throw e
    } finally sized.unpersist()
  }

  /** The batch coalesced to the partitions its bytes need. The file
    * source hands foreachBatch one partition per landing file; its plan
    * statistics carry the files' total size. Never raises the count, so
    * a frame with unknown statistics (reported as a huge size) is left
    * as it is.
    */
  private def sizedByBytes(batch: DataFrame): DataFrame = {
    val n = Sizing.partitionsFor(batch.queryExecution.optimizedPlan.stats.sizeInBytes)
    if (n < batch.rdd.getNumPartitions) batch.coalesce(n) else batch
  }
}
