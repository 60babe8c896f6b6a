package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The traced units of a run: listeners and spans turned into per-layer
  * metrics. Every metric of [[Layers.Metrics]] is reported by every
  * traced run; a layer the workload never calls reads 0.
  *
  * Times, counts and sizes are means per operation (one query rep or
  * one trickle cycle), so runs that fit a different number of
  * operations into their time compare directly.
  */
final class Layers(spark: SparkSession, work: File) {
  import Layers._
  private val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  private val exec = new ExecListener
  private val stream = new StreamListener
  private val plans = new PlanListener
  private val values = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var storageDirs = Seq.empty[File]
  private var files = Map.empty[String, (Long, Long)]

  /** Registers the listeners and starts recording spans. `dirs` are the
    * directories whose written files the storage layer counts.
    */
  def enable(dirs: Seq[File] = Nil): Unit = {
    sc.addSparkListener(exec)
    spark.streams.addListener(stream)
    spark.listenerManager.register(plans)
    storageDirs = dirs
    files = snapshot()
    tracer.enabled = true
  }

  /** Delivers what the listeners are still owed, then removes them and
    * stops recording spans, so the next unit runs untraced.
    */
  def disable(): Unit = {
    Bus.drain(sc)
    tracer.enabled = false
    sc.removeSparkListener(exec)
    spark.streams.removeListener(stream)
    spark.listenerManager.unregister(plans)
  }

  def set(name: String, v: Double): Unit = values(name) = v

  /** Adds every per-layer metric, in [[Metrics]] order, to the result. */
  def emit(r: Main.Result): Unit =
    for ((name, unit) <- Metrics) r.metric(name, values(name), unit)

  private def spans(name: String, ops: Set[Int]): Seq[Span] =
    tracer.spans.filter(s => s.name == name && ops.contains(s.op))

  private def meanSeconds(name: String, ops: Set[Int]): Double =
    Stats.mean(spans(name, ops).map(_.seconds))

  /** exec.* over the tasks each of `units` ran, per unit; a unit is one
    * span, or with `allOf` every span of that span's operation.
    */
  private def execLayer(units: Seq[Span], allOf: Boolean): Unit = {
    val n = units.size.toDouble
    def ids(u: Span): Set[Int] =
      if (allOf) tracer.spans.filter(_.op == u.op).map(_.id).toSet else Set(u.id)
    val all = units.flatMap(ids).toSet
    val tasks = exec.tasksIn(all)
    set("exec.exec_s", Stats.mean(units.map(_.seconds)))
    set("exec.jobs", exec.jobsIn(all) / n)
    set("exec.stages", exec.stagesIn(all) / n)
    set("exec.tasks", tasks.size / n)
    set("exec.task_s", tasks.map(_.runMs).sum / 1e3 / n)
    set("exec.cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n)
    set("exec.gc_s", tasks.map(_.gcMs).sum / 1e3 / n)
    set("exec.input_mb", tasks.map(_.inputBytes).sum / MB / n)
    set("exec.shuffle_write_mb", tasks.map(_.shuffleWriteBytes).sum / MB / n)
    set("exec.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1e3 / n)
    set("exec.spill_mb", tasks.map(_.spillBytes).sum / MB / n)
    val per = units.map(u => u -> exec.tasksIn(ids(u)))
    set("exec.idle_s", Stats.mean(per.map { case (u, ts) =>
      Stats.uncovered(u.startMs, u.endMs, TaskStats.intervals(ts)) / 1e3 }))
    set("exec.skew", Stats.mean(per.map(p => TaskStats.skew(p._2))))
  }

  private def sessionLayer(states: Seq[(Int, Int, Double)]): Unit = {
    set("session.persisted_rdds", states.map(_._1).max)
    set("session.cached_relations", states.map(_._2).max)
    set("session.storage_mb", states.map(_._3).max)
  }

  def registry(obs: Seq[RepObs]): Unit = {
    val ops = obs.map(_.rep.op).toSet
    val n = obs.size.toDouble
    val build = spans("queries.build", ops)
    set("queries.build_s", Stats.mean(build.map(_.seconds)))
    set("queries.build_jobs", exec.jobsIn(build.map(_.id).toSet) / n)
    set("plan.plan_s", meanSeconds("plan.plan", ops))
    set("plan.exchanges", Stats.mean(obs.map(_.shape.exchanges.toDouble)))
    set("plan.broadcast_joins", Stats.mean(obs.map(_.shape.broadcastJoins.toDouble)))
    set("plan.shuffled_joins", Stats.mean(obs.map(_.shape.shuffledJoins.toDouble)))
    execLayer(spans("exec.exec", ops), allOf = false)
    sessionLayer(obs.map(_.session))
    // per query (mean over its reps), summed per family
    val byOp = tracer.spans.filter(s => ops.contains(s.op)).groupBy(s => (s.op, s.name))
    def perRep(rep: Rep, span: String): Double = byOp.get((rep.op, span)).map(_.head.seconds).getOrElse(0.0)
    for ((family, reps) <- obs.map(_.rep).groupBy(_.name.take(1))) {
      def sumOfMeans(f: Rep => Double): Double =
        reps.groupBy(_.name).values.map(rs => Stats.mean(rs.map(f))).sum
      set(s"queries.build_s.$family", sumOfMeans(perRep(_, "queries.build")))
      set(s"plan.plan_s.$family", sumOfMeans(perRep(_, "plan.plan")))
      set(s"exec.exec_s.$family", sumOfMeans(perRep(_, "exec.exec")))
      set(s"exec.jobs.$family", sumOfMeans(rep =>
        exec.jobsIn(byOp.get((rep.op, "exec.exec")).toSeq.flatten.map(_.id).toSet).toDouble))
    }
  }

  private def snapshot(): Map[String, (Long, Long)] =
    storageDirs.filter(_.exists()).flatMap { d =>
      Files.walk(d.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_"))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toSeq
    }.toMap

  /** What the listeners saw during one ingest cycle. */
  def observeCycle(c: CycleResult, session: (Int, Int, Double)): CycleObs = {
    Bus.drain(sc)
    val now = snapshot()
    val written = now.filter { case (p, v) => !files.get(p).contains(v) }
    files = now
    CycleObs(c, stream.take(), plans.take(), written.size, written.values.map(_._1).sum, session)
  }

  def ingest(obs: Seq[CycleObs], wl: WeatherIngest): Unit = {
    val (trickle, burst) = (obs.init, obs.last)
    val ops = trickle.map(_.cycle.op).toSet
    val n = trickle.size.toDouble
    def phase(ps: Seq[StreamingQueryProgress], key: String): Double =
      ps.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1e3
    def perCycle(f: CycleObs => Double): Double = Stats.mean(trickle.map(f))

    val runs = spans("streaming.run", ops)
    val runByOp = runs.map(s => s.op -> s).toMap
    set("streaming.run_s", Stats.mean(runs.map(_.seconds)))
    set("streaming.start_stop_s", perCycle(o =>
      runByOp(o.cycle.op).seconds - phase(o.progress, "triggerExecution")))
    for ((metric, key) <- Seq("latest_offset_s" -> "latestOffset", "get_batch_s" -> "getBatch",
        "query_planning_s" -> "queryPlanning", "wal_commit_s" -> "walCommit",
        "commit_offsets_s" -> "commitOffsets", "add_batch_s" -> "addBatch"))
      set(s"streaming.$metric", perCycle(o => phase(o.progress, key)))
    set("streaming.jobs", exec.jobsIn(runs.map(_.id).toSet) / n)
    set("streaming.tasks", exec.tasksIn(runs.map(_.id).toSet).size / n)
    set("streaming.idle_s", Stats.mean(runs.map(s =>
      Stats.uncovered(s.startMs, s.endMs, TaskStats.intervals(exec.tasksIn(Set(s.id)))) / 1e3)))
    set("catchup.add_batch_s", phase(burst.progress, "addBatch"))
    set("catchup.jobs", exec.jobsIn(spans("catchup.run", Set(burst.cycle.op)).map(_.id).toSet))

    set("retention.drop_s", meanSeconds("retention.drop", ops))
    set("retention.partitions_dropped", perCycle(_.cycle.dropped))
    set("daily.read_s", meanSeconds("daily.read", ops))
    set("log.events", wl.logEvents().toDouble / wl.ingests)
    set("storage.files_written", perCycle(_.filesWritten))
    set("storage.bytes_written_per_input_byte",
      trickle.map(_.bytesWritten).sum.toDouble / trickle.map(_.cycle.landedBytes).sum)
    set("storage.raw_partitions", wl.rawDays().size)

    set("plan.plan_s", perCycle(_.actions.map(_._1).sum))
    set("plan.exchanges", perCycle(_.actions.map(_._2.exchanges).sum))
    set("plan.broadcast_joins", perCycle(_.actions.map(_._2.broadcastJoins).sum))
    set("plan.shuffled_joins", perCycle(_.actions.map(_._2.shuffledJoins).sum))
    execLayer(spans("cycle", ops), allOf = true)
    sessionLayer(trickle.map(_.session))
  }

  /** Writes every span, with its self time, to `trace.json`. */
  def writeSpans(): Unit = {
    val rows = tracer.spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> tracer.selfSeconds(s))).text
    }
    Files.writeString(Paths.get(work.getPath, "trace.json"), rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Layers {
  private val MB = 1024.0 * 1024.0

  final case class RepObs(rep: Rep, shape: PlanShape, session: (Int, Int, Double))

  final case class CycleObs(
      cycle: CycleResult, progress: Seq[StreamingQueryProgress],
      actions: Seq[(Double, PlanShape)], filesWritten: Int, bytesWritten: Long,
      session: (Int, Int, Double))

  private val families = Seq("q", "w", "x")

  /** Every per-layer metric with its unit, in print order. */
  val Metrics: Seq[(String, String)] =
    Seq("queries.build_s" -> "s", "queries.build_jobs" -> "count") ++
      families.map(f => s"queries.build_s.$f" -> "s") ++
      Seq("plan.plan_s" -> "s") ++ families.map(f => s"plan.plan_s.$f" -> "s") ++
      Seq("plan.exchanges" -> "count", "plan.broadcast_joins" -> "count",
        "plan.shuffled_joins" -> "count", "exec.exec_s" -> "s") ++
      families.map(f => s"exec.exec_s.$f" -> "s") ++ Seq("exec.jobs" -> "count") ++
      families.map(f => s"exec.jobs.$f" -> "count") ++
      Seq("exec.stages" -> "count", "exec.tasks" -> "count", "exec.idle_s" -> "s",
        "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
        "exec.input_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.fetch_wait_s" -> "s",
        "exec.spill_mb" -> "MB", "exec.skew" -> "ratio",
        "session.persisted_rdds" -> "count", "session.cached_relations" -> "count",
        "session.storage_mb" -> "MB",
        "streaming.run_s" -> "s", "streaming.start_stop_s" -> "s",
        "streaming.latest_offset_s" -> "s", "streaming.get_batch_s" -> "s",
        "streaming.query_planning_s" -> "s", "streaming.wal_commit_s" -> "s",
        "streaming.commit_offsets_s" -> "s", "streaming.add_batch_s" -> "s",
        "streaming.jobs" -> "count", "streaming.tasks" -> "count", "streaming.idle_s" -> "s",
        "catchup.add_batch_s" -> "s", "catchup.jobs" -> "count",
        "retention.drop_s" -> "s", "retention.partitions_dropped" -> "count",
        "daily.read_s" -> "s", "log.events" -> "count",
        "storage.files_written" -> "count", "storage.bytes_written_per_input_byte" -> "ratio",
        "storage.raw_partitions" -> "count", "trace.overhead_pct" -> "%")
}
