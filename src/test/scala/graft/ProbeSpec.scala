package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The probe harness through `Probe.run` on the shared session — never
  * `Probe.main`, whose `spark.stop()` would stop the session every
  * suite shares.
  */
class ProbeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val q = "q01_pricing_summary"

  test("run prints one PROBE line per rep, rows match count(), plan file written") {
    val spark = TestSpark.spark
    val plans = Files.createTempDirectory("probe-plans")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val lines = Probe.run(spark, Seq(q), Seq(dir), 2, Some(plans.toString))
      val rows = SparkEntry.queries(q)(spark, dir).count()
      assert(lines.size === 2)
      val Line = ("PROBE (\\S+) sf=(\\S+) rep=(\\d+) wall=[\\d.]+ rows=(\\d+) " +
        "max_task=([\\d.]+) task_sum=([\\d.]+)").r
      lines.zipWithIndex.foreach { case (line, i) =>
        val Line(name, sf, rep, n, maxTask, taskSum) = line
        assert((name, sf, rep.toInt, n.toLong) === ((q, dir, i + 1, rows)))
        assert(taskSum.toDouble > 0.0 && maxTask.toDouble <= taskSum.toDouble)
      }
      assert(Files.readString(plans.resolve(s"${q}_sf0.001.txt"))
        .startsWith("== Physical Plan =="))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.unset(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    }
  }

  test("resolve rejects unknown names, listing them, and expands all") {
    val e = intercept[IllegalArgumentException](
      Probe.resolve(s"$q,x70_graph_pagerrank,nope"))
    assert(e.getMessage.contains("x70_graph_pagerrank, nope"))
    assert(!e.getMessage.contains(q))
    assert(Probe.resolve("all") === SparkEntry.queries.keys.toSeq.sorted)
    assert(Probe.resolve(s"$q,x70_graph_pagerank") ===
      Seq(q, "x70_graph_pagerank"))
  }
}
