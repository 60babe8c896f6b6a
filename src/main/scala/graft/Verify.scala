package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter] — the
    // filter is a local-iteration convenience (dump one query and its
    // oracle instead of all 90+); the driver always passes two args.
    // A name the registry lacks fails here, before the session starts.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(Probe.resolve(args(2)).toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failed += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Round-9 postmortem: four queries silently vanished from the
    // driver's correctness set and the gap read as "driver omission"
    // when it was a real break. Emit a manifest of what SHOULD be
    // checked (every registered query key, plus which ones failed to
    // dump) so any downstream compare can assert completeness, and
    // exit nonzero when a dump failed so the round log shows red.
    val ran = SparkEntry.queries.keys.filter(keep).toSeq.sorted
    val manifest =
      s"""{"n_queries":${ran.size},"queries":[${ran.map(q).mkString(",")}],""" +
      s""""n_failed":${failed.size},"failed":[${failed.toSeq.map(q).mkString(",")}]}"""
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"), manifest)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED to dump: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
