package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import graft.SparkEntry

/** Registered queries over one fixture directory, in a warm session.
  *
  * Protocol: an untimed warm-up pass that writes each query's output
  * for the DuckDB oracle compare, then whole passes in the seeded order.
  */
final class Registry(spark: SparkSession, sfDir: String, names: Seq[String], tracer: Tracer) {
  private val registry = SparkEntry.queries

  /** Build, plan and materialize one query: the timed unit. */
  def rep(name: String, op: Int): (Rep, QueryExecution) = {
    val t0 = System.nanoTime()
    val (digest, qe) = tracer.span("query", op) {
      val df = tracer.span("queries.build", op)(registry(name)(spark, sfDir))
      val qe = df.queryExecution
      tracer.span("plan.plan", op)(qe.executedPlan)
      val d = tracer.span("exec.exec", op)(Digest.of(qe.toRdd, df.schema))
      (d, qe)
    }
    (Rep(name, op, (System.nanoTime() - t0) / 1e9, digest), qe)
  }

  /** The untimed warm-up pass: each query runs once and its output is
    * written to `outDir` for the oracle compare. The digest of what was
    * written is the reference every timed rep must reproduce.
    */
  def warmUp(outDir: File): Seq[Rep] = names.map { n =>
    val t0 = System.nanoTime()
    val path = new File(outDir, n).getPath
    registry(n)(spark, sfDir).write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    Rep(n, -1, (System.nanoTime() - t0) / 1e9, Digest.of(back.queryExecution.toRdd, back.schema))
  }

  /** `passes` timed passes over `names`, each after a full GC, so every
    * query is measured equally often whatever the seeded order. `after`
    * runs after each rep, outside its time.
    */
  def timed(passes: Int, firstOp: Int)(after: (Rep, QueryExecution) => Unit): Seq[Rep] = {
    val reps = ArrayBuffer[Rep]()
    for (_ <- 1 to passes) {
      System.gc()
      for (n <- names) {
        val (r, qe) = rep(n, firstOp + reps.size)
        reps += r
        after(r, qe)
      }
    }
    reps.toSeq
  }
}

/** One timed rep of one query. */
final case class Rep(name: String, op: Int, seconds: Double, digest: Digest)

object Registry {
  /** The queries a registry workload runs: in each family (`q`, `w`,
    * `x`, in name order) every `stride`-th query from the middle of the
    * first stride on (the middle query of a family shorter than that),
    * so every family and every part of the alphabet is represented;
    * plus x70, whose persisted RDD the session-hygiene counters must see.
    */
  def sample(all: Iterable[String], stride: Int): Seq[String] = {
    val sorted = all.toSeq.sorted
    val picked = sorted.groupBy(_.take(1)).toSeq.sortBy(_._1).flatMap { case (_, family) =>
      val start = if (family.size > stride / 2) stride / 2 else family.size / 2
      family.indices.drop(start).by(stride).map(family)
    }
    (picked ++ sorted.filter(_.startsWith("x70_"))).distinct
  }

  /** Seeded order of the sampled queries (Fisher-Yates over splitmix). */
  def order(names: Seq[String], seed: Long): Seq[String] = {
    val a = names.sorted.toArray
    var h = Digest.mix(seed)
    for (i <- a.indices.reverse) {
      h = Digest.mix(h + i)
      val j = java.lang.Long.remainderUnsigned(h, (i + 1).toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
