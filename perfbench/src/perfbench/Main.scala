package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.Graft

/** The repository benchmark: runs one workload (or `all` three in one
  * JVM) in a closed loop with one client and prints the result as one
  * JSON line. Untraced runs report the end-to-end metrics; `--trace 1`
  * alternates untraced and traced tasks and reports the per-layer
  * metrics, writing spans and metrics to a file under `--work`.
  *
  * {{{
  * perfbench.Main --workload verify|dedup|migrate|all --seed N --seconds S
  *   --trace 0|1 [--work DIR] [--selftest]
  * }}}
  */
object Main {
  final case class Opts(
      workload: String = "all", seed: Long = 1, seconds: Int = 20, trace: Boolean = false,
      cores: Int = Runtime.getRuntime.availableProcessors, work: String = ".bench_build/perfbench",
      selftest: Boolean = false)

  /** Fixture builds per run; set-up reports their median. */
  val SetupReps = 3
  /** Untimed warm-up per workload: tasks until this many seconds have
    * passed, at least MinWarmups. The first task of a fresh JVM runs
    * about 4× the warm time, and later ones keep speeding up while the
    * JIT compiles (dedup: 13.5, 6.3, 4.9, 4.7, 4.3 s, then 3.5-3.8 s
    * from about 34 s on; migrate: 5.0, 2.0, 1.4, 1.2, 1.1 s, then about
    * 1.0 s from about 16 s on). A rule that stopped once a task was not
    * 5% faster than the ones before stopped on noise while tasks kept
    * speeding up, so the warm-up runs for a fixed time.
    */
  val WarmupS: Map[String, Double] = Map("verify" -> 20.0, "dedup" -> 34.0, "migrate" -> 16.0)
  val MinWarmups = 2
  /** Tasks measured even when one task outlasts the window. */
  val MinTasks = 5

  val spanMetrics: Seq[String] =
    Seq("wall_s", "driver_s", "jobs", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "skew", "slot_util")
  val planMetrics: Seq[String] = Seq("exchanges", "reused_exchanges", "smj", "bhj", "bnlj", "compile_s")

  /** Per-layer metric names of a set of workloads. A run of benchmarked
    * workloads always reports the whole benchmarked set, so every run
    * prints the list BENCHMARK.json declares (0 for another workload's spans).
    */
  def layerMetricNames(workloads: Seq[String]): Seq[String] = {
    val ws = if (workloads.forall(Workload.benchmarked.contains)) Workload.benchmarked else Workload.names
    ws.flatMap(Workload.spans).flatMap(s => spanMetrics.map(m => s"$s.$m")) ++
      planMetrics.map("plan." + _) ++ ws.flatMap(Workload.ratios) ++
      Seq("memory_store.peak_mb", "trace.overhead_frac")
  }

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--selftest" :: t => parse(t, o.copy(selftest = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val spark = Graft.local(o.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ok =
      try {
        if (o.selftest) SelfTest.run(spark, o)
        else {
          val names = if (o.workload == "all") Workload.names else Seq(o.workload)
          val results = names.map(n => runWorkload(spark, n, o, sessionS))
          report(results, o)
          results.forall(r => r.failed == 0 && r.ok.nonEmpty)
        }
      } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  final case class Task(wallS: Double, cpuS: Double, traced: Boolean, layer: Map[String, Double],
      spans: Seq[Span])

  final case class Result(name: String, attempted: Int, failed: Int, ok: Seq[Task],
      setupS: Double, peakRssMb: Double, rowsPerTask: Long) {
    private def walls(traced: Boolean) = ok.filter(_.traced == traced).map(_.wallS)
    def endToEnd: Seq[(String, Double, String)] = Seq(
      ("task_s_p50", Stats.median(walls(false)), "s"),
      ("rows_per_s", rowsPerTask * walls(false).size / math.max(1e-9, walls(false).sum), "1/s"),
      ("cpu_s_p50", Stats.median(ok.filterNot(_.traced).map(_.cpuS)), "s"),
      ("peak_rss_mb", peakRssMb, "MB"),
      ("setup_s", setupS, "s"))
    def layer(names: Seq[String]): Seq[(String, Double, String)] = {
      val traced = ok.filter(_.traced)
      names.map { m =>
        val v =
          if (m == "trace.overhead_frac") Stats.median(walls(true)) / Stats.median(walls(false)) - 1
          else Stats.median(traced.map(_.layer.getOrElse(m, 0.0)))
        (m, v, unitOf(m))
      }
    }
  }

  def unitOf(m: String): String = m.split('.').last match {
    case "wall_s" | "driver_s" | "cpu_s" | "gc_s" | "compile_s" => "s"
    case "shuffle_mb" | "spill_mb" | "peak_mb" => "MB"
    case "jobs" | "exchanges" | "reused_exchanges" | "smj" | "bhj" | "bnlj" | "planted_pairs_found" => "count"
    case _ => "ratio"
  }

  /** Process CPU time less the JIT compiler's time, in ns: the work a
    * task costs, without the compilation that still runs for minutes
    * after warm-up.
    */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime -
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def runWorkload(spark: SparkSession, name: String, o: Opts, sessionS: Double): Result = {
    val dir = s"${o.work}/work/$name"
    val w = Workload(name, spark, o.seed, s"$dir/fixture", scale = 1.0)
    val fixtureS = (1 to SetupReps).map(_ => timed(w.setupFixture())._2)
    val expectS = timed(w.expect())._2
    val inputs = w.inputs.map { case (t, rows) =>
      f"$t=$rows%d rows/${Workload.dirBytes(s"$dir/fixture/$t") / 1e6}%.1f MB" }
    println(s"perfbench facts: workload=$name nproc=${o.cores} shuffle_partitions=${o.cores} " +
      s"loadavg1=${Stats.loadAvg1} heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"loop=closed clients=1 seed=${o.seed} inputs=${inputs.mkString(",")} ${w.shape}".trim)

    var attempted, failed = 0
    def one(traced: Boolean): Option[Task] = {
      attempted += 1
      val out = s"$dir/out"
      val spans = ArrayBuffer.empty[Span]
      val collector = if (traced) Some(new Collector(spark)) else None
      val tracer = new Tracer(spark, attempted, if (traced) Some(spans) else None)
      val cpu0 = cpuNs()
      try {
        val (res, wall) = timed(collector match {
          case Some(c) => c.record(tracer.span("task")(w.run(tracer, out)))
          case None => w.run(tracer, out)
        })
        val cpu = (cpuNs() - cpu0) / 1e9
        System.err.println(f"perfbench: $name task $attempted wall_s=$wall%.3f cpu_s=$cpu%.2f traced=$traced")
        val errors = w.check(res)
        if (errors.nonEmpty) {
          failed += 1
          errors.foreach(e => System.err.println(s"perfbench: $name task $attempted check failed: $e"))
          None
        } else Some(Task(wall, cpu, traced,
          collector.map(c => Layers.ofTask(spans.toSeq, c, o.cores) ++ w.ratios(res, Layers.byName(spans.toSeq, c)))
            .getOrElse(Map.empty), spans.toSeq))
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: $name task $attempted failed: $e")
          None
      } finally Stats.deleteRecursively(new File(out))
    }

    val warm = ArrayBuffer.empty[Double]
    val warmStart = System.nanoTime()
    def warmS = (System.nanoTime() - warmStart) / 1e9
    while (warm.size < MinWarmups || warmS < WarmupS(name)) {
      val (t, s) = timed(one(traced = false))
      warm += t.map(_.wallS).getOrElse(s)
    }
    val setupS = sessionS + Stats.median(fixtureS) + expectS + warmS
    println(f"perfbench setup: workload=$name session_s=$sessionS%.2f fixture_s=" +
      fixtureS.map(x => f"$x%.2f").mkString("/") + f" expect_s=$expectS%.2f warmup_s=$warmS%.2f " +
      "warmup_tasks_s=" + warm.map(x => f"$x%.2f").mkString("/"))
    val tasks = ArrayBuffer.empty[Task]
    val rss = new Stats.RssSampler
    val window = System.nanoTime()
    var spent = 0.0
    def wallSpent = (System.nanoTime() - window) / 1e9
    while ((spent < o.seconds || tasks.size < MinTasks) && wallSpent < 2.0 * o.seconds) {
      val t0 = System.nanoTime()
      one(traced = o.trace && attempted % 2 == 1).foreach(tasks += _)
      spent += (System.nanoTime() - t0) / 1e9
    }
    val peak = rss.stop()
    Stats.deleteRecursively(new File(dir))
    Result(name, attempted, failed, tasks.toSeq, setupS, peak, w.rowsPerTask)
  }

  def report(results: Seq[Result], o: Opts): Unit = {
    val prefix = results.size > 1
    val metrics = results.flatMap { r =>
      val ms = if (o.trace) r.layer(layerMetricNames(results.map(_.name))) else r.endToEnd
      val err = r.failed.toDouble / r.attempted
      println(s"perfbench ${r.name}: attempted=${r.attempted} failed=${r.failed} error_rate=$err " +
        ms.map { case (k, v, u) => s"$k=${Stats.num(v)}$u" }.mkString(" "))
      (if (prefix) ms :+ (("error_rate", err, "ratio")) else ms)
        .map { case (k, v, u) => (if (prefix) s"${r.name}.$k" else k, v, u) }
    }
    if (o.trace) results.foreach(r => Layers.writeTrace(r, o, layerMetricNames(Seq(r.name))))
    val attempted = results.map(_.attempted).sum
    val failed = results.map(_.failed).sum
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0 && results.forall(_.ok.nonEmpty)}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }
}

/** Per-layer metrics of one traced task, from its spans and the collector. */
object Layers {
  def byName(spans: Seq[Span], c: Collector): Map[String, SpanAcc] =
    spans.flatMap(s => c.accs.get(s.id.toString).map(s.name -> _)).toMap

  /** Length of the union of intervals clipped to [lo, hi], in ms. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var total = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._1 < p._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def ofTask(spans: Seq[Span], c: Collector, cores: Int): Map[String, Double] = {
    val perSpan = spans.filter(_.name != "task").flatMap { s =>
      val a = c.accs.getOrElse(s.id.toString, new SpanAcc)
      val jobS = covered(a.jobs.toSeq, s.startMs, s.endMs) / 1e3
      val skew = a.stageTaskMs.values.filter(_.size >= 4).map { ds =>
        ds.max.toDouble / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
      }.maxOption.getOrElse(0.0)
      Seq("wall_s" -> s.wallS, "driver_s" -> (s.wallS - jobS), "jobs" -> a.jobs.size.toDouble,
        "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3, "shuffle_mb" -> a.shuffleWrite / 1048576.0,
        "spill_mb" -> a.spill / 1048576.0, "skew" -> skew,
        "slot_util" -> (if (jobS > 0) a.runMs / 1e3 / (jobS * cores) else 0.0))
        .map { case (m, v) => s"${s.name}.$m" -> v }
    }
    val p = c.plans.toSeq
    perSpan.toMap ++ Map(
      "plan.exchanges" -> p.map(_.exchanges).sum.toDouble,
      "plan.reused_exchanges" -> p.map(_.reused).sum.toDouble,
      "plan.smj" -> p.map(_.smj).sum.toDouble,
      "plan.bhj" -> p.map(_.bhj).sum.toDouble,
      "plan.bnlj" -> p.map(_.bnlj).sum.toDouble,
      "plan.compile_s" -> p.map(_.compileS).sum,
      "memory_store.peak_mb" -> c.blockMemPeak / 1048576.0,
      "trace.unattributed_jobs" -> c.unattributedJobs.toDouble)
  }

  /** Spans, per-task layer metrics and their medians, as one JSON file. */
  def writeTrace(r: Main.Result, o: Main.Opts, names: Seq[String]): Unit = {
    def obj(m: Iterable[(String, Double)]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${Stats.num(v)}""" }.mkString("{", ", ", "}")
    val spans = r.ok.flatMap(_.spans).map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "task": ${s.task}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""")
    val tasks = r.ok.filter(_.traced).map(t => obj(t.layer + ("task_s" -> t.wallS)))
    val json = s"""{"workload": "${r.name}", "seed": ${o.seed}, "nproc": ${o.cores}, """ +
      s""""loadavg1": ${Stats.loadAvg1}, "metrics": ${obj(r.layer(names).map(x => x._1 -> x._2))},""" +
      s"""\n "tasks": [${tasks.mkString(",\n  ")}],\n "spans": [${spans.mkString(",\n  ")}]}\n"""
    val path = Paths.get(o.work, "traces", s"${r.name}_seed${o.seed}.json")
    Files.createDirectories(path.getParent)
    Files.write(path, json.getBytes(UTF_8))
    println(s"perfbench trace: $path")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** A JSON number; NaN and infinities (empty medians) become 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def loadAvg1: Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  private def rssKb: Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }.getOrElse(0L)

  /** Samples the process's resident set every 50 ms until stopped. */
  final class RssSampler {
    @volatile private var running = true
    @volatile private var peak = rssKb
    private val thread = new Thread(() => while (running) {
      peak = math.max(peak, rssKb)
      Thread.sleep(50)
    })
    thread.setDaemon(true)
    thread.start()
    def stop(): Double = { running = false; thread.join(); math.max(peak, rssKb) / 1024.0 }
  }
}
