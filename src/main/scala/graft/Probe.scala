package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The measurement harness over the query registry: run registered
  * queries on one or more SF dirs, fully materialized, and print one
  * line per rep —
  * `runMain graft.Probe <q[,q…]|all> <sfDir[,sfDir…]> [reps=N] [plans=DIR]`.
  *
  * Each line is `PROBE <q> sf=<dir> rep=<i> wall=<s> rows=<n>
  * max_task=<s> task_sum=<s>`: the longest single task against the
  * summed task time is the skew symptom (one task holding a hot key's
  * whole group). Scaled
  * inputs come from `MakeSf` (`tables=` to scale only what a query
  * reads); each dir is sized with [[graft.ops.Sizing.configure]], as
  * Bench does. With `plans=DIR` the formatted physical plan of each
  * (query, dir) lands in `DIR/<q>_<dir basename>.txt`. Cores come
  * from SPARK_GRAFT_CPUS (default 32).
  */
object Probe {

  /** The registered names in a comma-separated `spec` (`all` = every
    * registered query, sorted); unknown names fail, listed, so a typo
    * stops a run before its session starts.
    */
  def resolve(spec: String): Seq[String] =
    if (spec == "all") SparkEntry.queries.keys.toSeq.sorted
    else {
      val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(names.nonEmpty, "no query names given")
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      names
    }

  /** Runs `names` × `dirs` with `reps` timed reps each; returns the
    * PROBE lines it printed.
    */
  def run(spark: SparkSession, names: Seq[String], dirs: Seq[String],
      reps: Int, plans: Option[String]): Seq[String] = {
    val sc = spark.sparkContext
    val maxTask = new AtomicLong
    val sumTask = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        sumTask.addAndGet(t.taskInfo.duration)
        maxTask.accumulateAndGet(t.taskInfo.duration, (a, b) => a max b)
      }
    }
    plans.foreach(d => Files.createDirectories(Paths.get(d)))
    sc.addSparkListener(listener)
    try dirs.flatMap { dir =>
      graft.ops.Sizing.configure(spark, Seq(dir))
      val sf = Paths.get(dir).getFileName
      names.flatMap { name =>
        val fn = SparkEntry.queries(name)
        plans.foreach { d =>
          val plan =
            try fn(spark, dir).queryExecution.explainString(FormattedMode)
            catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
          Files.writeString(Paths.get(d, s"${name}_$sf.txt"), plan)
        }
        val lines = (1 to reps).map { i =>
          GraftListenerBus.drain(sc)
          maxTask.set(0); sumTask.set(0)
          val t0 = System.nanoTime()
          // RDD.count iterates every InternalRow: the count and the
          // full materialization are one job
          val rows = fn(spark, dir).queryExecution.toRdd.count()
          val wall = (System.nanoTime() - t0) / 1e9
          // task-end events arrive asynchronously; wait for this rep's
          GraftListenerBus.drain(sc)
          val line = f"PROBE $name sf=$dir rep=$i wall=$wall%.3f rows=$rows " +
            f"max_task=${maxTask.get / 1e3}%.3f task_sum=${sumTask.get / 1e3}%.3f"
          println(line)
          line
        }
        // shuffle files live until their ShuffleDependency is collected;
        // without a GC between queries a long run fills the local disk
        // with dead shuffle data (the SCALE-SF10 k=100 run did)
        System.gc()
        lines
      }
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Probe <q[,q...]|all> <sfDir[,sfDir...]> [reps=N] [plans=DIR]")
    val names = resolve(args(0))
    val flags = args.drop(2).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"flag '$a' is not key=value")
      (a.substring(0, i), a.substring(i + 1))
    }.toMap
    val unknown = flags.keySet -- Set("reps", "plans")
    require(unknown.isEmpty, s"unknown flags: ${unknown.mkString(", ")}")
    val reps = flags.get("reps").fold(2)(_.toInt)
    require(reps > 0, s"reps=$reps must be positive")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, names, args(1).split(",").toSeq, reps, flags.get("plans"))
    finally spark.stop()
  }
}
