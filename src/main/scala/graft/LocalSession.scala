package graft

import org.apache.spark.sql.SparkSession

/** The harness session (Bench, Verify, Smoke, PlanAudit, Probe): the
  * graft SQL extensions on `local[cpus]` with one shuffle partition per
  * core, UTC, no UI and WARN logging.
  */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // split multi-row-group files into ~4 MB input partitions: the
      // driver layout is one parquet FILE per table, and a 100 MB
      // single file would otherwise scan on one core (production data
      // arrives as many files; MakeSf writes 4 MB row groups so sf1
      // scans parallelize the way a real table's file count would)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
