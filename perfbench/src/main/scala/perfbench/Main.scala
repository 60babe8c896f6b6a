package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run of one workload. Writes `result.json` into the
  * work directory; `run.py` adds the oracle compare and prints the
  * result line.
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> <fixtureRoot> <commit>
  * }}}
  */
object Main {
  /** Registry workloads: the fixture directory each reads. */
  val RegistryWorkloads: Map[String, String] =
    Map("registry-sf0.01" -> "sf0.01", "registry-sf0.1" -> "sf0.1")
  val IngestWorkload = "weather-ingest"
  /** Every `Stride`-th query of each family runs, see [[Registry.sample]]. */
  val Stride = 32
  /** The timed region is a fixed number of whole units, never cut by a
    * clock, so every run of a workload measures the same work. On a
    * 4-core host a warm registry pass takes about 4.5 s and a warm
    * ingest trickle cycle about 3.4 s, so a run times about 14 s of
    * registry passes, or about 15 s of trickle cycles and the burst.
    */
  val TimedPasses = 3
  val TimedCycles = 3
  /** Untimed registry passes after the one that writes the outputs,
    * counted in `setup_s`. Measured on a 4-core host, a pass's time
    * falls by about a third from the second pass of a JVM to the fifth
    * and by under a tenth over the next three.
    */
  val WarmPasses = 3
  /** Untimed trickle cycles after the history backfill, counted in
    * `setup_s`. Measured on a 4-core host, cycle time falls by about a
    * quarter over the first five cycles of a JVM and by under a tenth
    * over the next three.
    */
  val WarmCycles = 5
  /** Days landed at once by the ingest workload's catch-up burst. */
  val BurstDays = 2

  private val MB = 1024.0 * 1024.0

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, cores: Int, fixtures: String, commit: String)

  /** What a run reports: metrics in print order, failures, and stamp. */
  final class Result {
    val metrics: ArrayBuffer[(String, Double, String)] = ArrayBuffer()
    val failures: ArrayBuffer[String] = ArrayBuffer()
    val stamp: ArrayBuffer[(String, Any)] = ArrayBuffer()
    val oracle: ArrayBuffer[(String, String, Option[String])] = ArrayBuffer()
    var attempted = 0
    def metric(name: String, value: Double, unit: String): Unit = metrics += ((name, value, unit))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, cores, fixtures, commit) = args
    val o = Opts(workload, seed.toLong, seconds.toInt, trace == "1", new File(work),
      cores.toInt, fixtures, commit)
    require(RegistryWorkloads.contains(o.workload) || o.workload == IngestWorkload,
      s"unknown workload ${o.workload}")
    val r = new Result
    r.stamp ++= Seq("workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "nproc" -> o.cores,
      "commit" -> o.commit, "loadavg_before" -> Machine.loadAvg(),
      "cpu_anchor_s" -> Machine.cpuAnchorSeconds())
    val t0 = System.nanoTime()
    val spark = session(o)
    r.stamp += "session_start_s" -> (System.nanoTime() - t0) / 1e9
    try {
      if (o.workload == IngestWorkload) ingest(spark, o, r, t0)
      else registry(spark, o, r, t0)
    } finally spark.stop()
    r.stamp += "loadavg_after" -> Machine.loadAvg()
    Files.writeString(Paths.get(o.work.getPath, "result.json"), Json.result(r))
  }

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      // the program's own session settings (graft.Bench, graft.Verify)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session state a query can leave behind: (persisted RDDs, cached
    * relations, MB of stored blocks).
    */
  private def sessionState(spark: SparkSession): (Int, Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, Bus.cachedRelations(spark),
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB)
  }

  /** Heap in use after a full collection, in MB. Spark's context
    * cleaner releases what the first collection finds unreachable
    * (broadcasts, shuffles) asynchronously, so it gets time to run
    * before the second collection.
    */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / MB
  }

  private def latencies(r: Result, xs: Seq[Double]): Unit = {
    r.metric("latency_p50_s", Stats.percentile(xs, 50), "s")
    r.metric("latency_p90_s", Stats.percentile(xs, 90), "s")
    r.stamp ++= Seq("samples" -> xs.size, "samples_beyond_p90" -> Stats.samplesBeyond(xs.size, 90),
      "tail_percentile_supported" -> Stats.tailPercentile(xs.size).getOrElse(-1))
  }

  /** Per-layer metrics and tracing overhead: the total time of the
    * traced units against that of the untraced units they alternate
    * with, in percent.
    */
  private def traced(r: Result, layers: Layers, untraced: Seq[Double], traced: Seq[Double]): Unit = {
    layers.set("trace.overhead_pct", 100.0 * (traced.sum / untraced.sum - 1))
    r.stamp ++= Seq("untraced_s" -> untraced, "traced_s" -> traced)
    layers.emit(r)
    layers.writeSpans()
  }

  /** Runs `n` untraced and `n` traced units in the order U T T U U T ...,
    * so a drift over the run (the JVM still warming, the host's load
    * changing) weighs on both kinds alike.
    */
  private def alternate(n: Int)(untraced: => Unit, traced: => Unit): Unit =
    for (i <- 0 until n) {
      if (i % 2 == 0) { untraced; traced }
      else { traced; untraced }
    }

  // ---------------------------------------------------------------- registry

  private def registry(spark: SparkSession, o: Opts, r: Result, t0: Long): Unit = {
    val sfDir = s"${o.fixtures}/${RegistryWorkloads(o.workload)}"
    require(new File(sfDir, "lineitem.parquet").exists(), s"fixture tables missing under $sfDir")
    graft.ops.Sizing.configure(spark, Seq(sfDir))
    val names = Registry.order(Registry.sample(SparkEntry.queries.keys, Stride), o.seed)
    val layers = new Layers(spark, o.work)
    val wl = new Registry(spark, sfDir, names, layers.tracer)
    val checked = new File(o.work, "checked")
    val warm = wl.warmUp(checked)
    val reference = warm.map(x => x.name -> x.digest).toMap
    def check(reps: Seq[Rep]): Unit = {
      r.attempted += reps.size
      r.failures ++= reps.filter(x => x.digest != reference(x.name))
        .map(x => s"${x.name} rep ${x.op}: ${x.digest}, warm-up gave ${reference(x.name)}")
    }
    val warmPasses = wl.timed(WarmPasses, 0)((_, _) => ())
    check(warmPasses)
    val setup = (System.nanoTime() - t0) / 1e9
    r.stamp ++= Seq("warm_up_s" -> Json.obj(warm.map(x => x.name -> x.seconds)),
      "warm_up_passes_s" -> Json.obj(warmPasses.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, rs) => n -> rs.map(_.seconds) }))

    if (!o.trace) {
      val reps = wl.timed(TimedPasses, 0)((_, _) => ())
      check(reps)
      val heap = heapAfterGcMb()
      latencies(r, reps.map(_.seconds))
      r.metric("throughput", reps.size / reps.map(_.seconds).sum, "1/s")
      r.stamp += "rep_s" -> Json.obj(reps.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, rs) => n -> rs.map(_.seconds) })
      r.metric("heap_after_gc_mb", heap, "MB")
      r.metric("setup_s", setup, "s")
    } else {
      val untraced, tracedReps = ArrayBuffer[Rep]()
      val obs = ArrayBuffer[Layers.RepObs]()
      alternate(TimedPasses)(
        // the listener bus drains between reps in both, so only tracing differs
        untraced ++= wl.timed(1, untraced.size + tracedReps.size)((_, _) => Bus.drain(spark.sparkContext)),
        {
          layers.enable()
          tracedReps ++= wl.timed(1, untraced.size + tracedReps.size) { (rep, qe) =>
            Bus.drain(spark.sparkContext)
            obs += Layers.RepObs(rep, PlanShape.of(qe.executedPlan), sessionState(spark))
          }
          layers.disable()
        })
      check(untraced.toSeq ++ tracedReps)
      layers.registry(obs.toSeq)
      traced(r, layers, untraced.map(_.seconds).toSeq, tracedReps.map(_.seconds).toSeq)
    }

    for (n <- names) r.oracle += ((n, new File(checked, n).getPath, SparkEntry.oracleSql.get(n)))
  }

  // ------------------------------------------------------------------ ingest

  private def ingest(spark: SparkSession, o: Opts, r: Result, t0: Long): Unit = {
    val gen = new WeatherGen(o.seed)
    r.stamp ++= Seq("late_share" -> gen.lateShare, "malformed_share" -> gen.malformedShare)
    val layers = new Layers(spark, o.work)
    val wl = new WeatherIngest(spark, new File(o.work, "pipeline"), gen, layers.tracer)
    // Set-up: a full retention window of history lands at once and
    // bootstraps the daily table; untimed trickle cycles follow.
    val start = LocalDate.of(2024, 1, 1).plusDays(o.seed.abs % 300)
    var day = start
    def next(n: Int): Seq[LocalDate] = { val ds = (0 until n).map(day.plusDays(_)); day = day.plusDays(n); ds }
    var op = 0
    def run(days: Seq[LocalDate], name: String = "streaming.run", backfill: Boolean = false): CycleResult = {
      System.gc()
      val c = wl.cycle(days, op, name, backfill)
      op += 1
      r.attempted += 1
      r.failures ++= c.failure
      c
    }
    val history = run(next(15), backfill = true)
    val warm = (1 to WarmCycles).map(_ => run(next(1)))
    val setup = (System.nanoTime() - t0) / 1e9
    r.stamp ++= Seq("history_s" -> history.seconds, "warm_up_cycles_s" -> warm.map(_.seconds))

    if (!o.trace) {
      val trickle = (1 to TimedCycles).map(_ => run(next(1)))
      val burst = run(next(BurstDays), "catchup.run")
      val heap = heapAfterGcMb()
      latencies(r, trickle.map(_.seconds))
      val all = trickle :+ burst
      r.metric("throughput", all.map(_.rows).sum / all.map(_.seconds).sum, "1/s")
      r.stamp ++= Seq("burst_s" -> burst.seconds, "cycles_s" -> trickle.map(_.seconds))
      r.metric("heap_after_gc_mb", heap, "MB")
      r.metric("setup_s", setup, "s")
    } else {
      val untraced, tracedCycles = ArrayBuffer[CycleResult]()
      val obs = ArrayBuffer[Layers.CycleObs]()
      def tracedRun(days: Seq[LocalDate], name: String = "streaming.run"): CycleResult = {
        layers.enable(Seq(wl.raw, wl.daily, wl.logs))
        val c = run(days, name)
        obs += layers.observeCycle(c, sessionState(spark))
        layers.disable()
        c
      }
      alternate(TimedCycles)(untraced += run(next(1)), tracedCycles += tracedRun(next(1)))
      tracedRun(next(BurstDays), "catchup.run")
      layers.ingest(obs.toSeq, wl)
      traced(r, layers, untraced.map(_.seconds).toSeq, tracedCycles.map(_.seconds).toSeq)
    }
    val (checks, failures) = wl.finalChecks()
    r.attempted += checks
    r.failures ++= failures
  }
}

/** Host state stamped on every run. */
object Machine {
  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** Seconds for 200M rounds of a fixed single-threaded splitmix64 loop
    * (the anchor graft.Bench stamps), measured as the best of three
    * 25M-round runs scaled by 8 so that stamping costs well under a second.
    */
  def cpuAnchorSeconds(): Double = {
    def mixRun(iters: Long): Long = {
      var z = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < iters) {
        z += 0x9e3779b97f4a7c15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
        z ^= x ^ (x >>> 31)
        i += 1
      }
      z
    }
    var sink = mixRun(5000000L)
    val best = (1 to 3).map { _ =>
      val t = System.nanoTime()
      sink ^= mixRun(25000000L)
      (System.nanoTime() - t) / 1e9
    }.min
    if (sink == 42L) System.err.println("anchor sink")
    best * 8
  }
}
