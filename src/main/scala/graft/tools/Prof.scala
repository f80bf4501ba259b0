package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.core.Graft

/** Where did the seconds go, for named registry queries:
  * `sbt "runMain graft.tools.Prof <time|jobs|plan> [--noop] [--nobroadcast] <query>..."`
  * with SPARK_GRAFT_SF_DIR (default sf0.1) and SPARK_GRAFT_CPUS (default
  * 32), as `graft.Bench` reads them.
  *
  *  - `time`: Bench's min-of-reps floor and raw samples (Bench's
  *    SPARK_GRAFT_BENCH_REPS, default 2), cold per-query caches, after
  *    Bench's warm-up.
  *  - `jobs`: one warm run, then every Spark job of a measured run — its
  *    duration, the driver gap before it (planning/analysis time that job
  *    metrics alone hide; negative when it overlaps the job before) and
  *    its callsite, led by `[operator]` for a job run inside a `Graft.span`.
  *  - `plan`: the final adaptive plan after `collect()` — the
  *    pre-execution explain hides runtime exchange reuse.
  *
  * `--noop` makes `time` and `jobs` act through the noop sink, as the
  * bench twins do, so projection tails that `count()` prunes compute.
  * `--nobroadcast` sets `autoBroadcastJoinThreshold=-1` for the run: the
  * at-scale sort-merge regime, where exchange reuse behaves differently.
  */
object Prof {
  private val usage =
    "usage: Prof <time|jobs|plan> [--noop] [--nobroadcast] <query>..."

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    require(rest.size >= 2, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, rest.head, rest.tail, sfDir,
      noop = flags.contains("--noop"), noBroadcast = flags.contains("--nobroadcast"))
    finally spark.stop()
  }

  /** Profiles `names` on a caller-owned session; prints its report. */
  def run(spark: SparkSession, mode: String, names: Seq[String], sfDir: String,
      noop: Boolean = false, noBroadcast: Boolean = false): Unit = {
    require(Set("time", "jobs", "plan")(mode), usage)
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def act(df: DataFrame): Unit = if (noop) Bench.noopSink(df) else df.count()
    val bhj = "spark.sql.autoBroadcastJoinThreshold"
    val priorBhj = spark.conf.getOption(bhj)
    if (noBroadcast) spark.conf.set(bhj, "-1")
    try {
      if (mode != "plan") Bench.warmUp(spark, sfDir)
      names.foreach { name =>
        val q = () => registry(name)(spark, sfDir)
        mode match {
          case "time" =>
            val ss = Bench.measureSamples(spark, Bench.reps())(() => act(q()))
            val floor = if (ss.isEmpty) "failed" else f"${ss.min}%.3fs"
            println(f"$name%-32s floor=$floor samples=${ss.map(v => f"$v%.3f").mkString(" ")}")
          case "jobs" => jobs(spark, name)(() => act(q()))
          case "plan" =>
            val df = q()
            df.collect()
            println(s"\n================ $name (final adaptive plan) ================")
            println(df.queryExecution.explainString(FormattedMode))
            spark.sharedState.cacheManager.clearCache()
        }
      }
    } finally if (noBroadcast) priorBhj.fold(spark.conf.unset(bhj))(spark.conf.set(bhj, _))
  }

  /** One warm rep, then the measured rep's job table. */
  private def jobs(spark: SparkSession, name: String)(body: () => Unit): Unit = {
    val done = ArrayBuffer.empty[(Int, Long, Long, String)]
    val open = scala.collection.mutable.Map.empty[Int, (Long, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        // the result stage (highest id) is named after the job's callsite;
        // an operator's Graft.span description leads when one is set
        val site = js.stageInfos.maxByOption(_.stageId).fold("?")(_.name)
        val desc = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        open(js.jobId) = (js.time, desc.fold(site)(d => s"[$d] $site"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        open.remove(je.jobId).foreach { case (t0, site) => done += ((je.jobId, t0, je.time, site)) }
      }
    }
    val sc = spark.sparkContext
    body()
    spark.sharedState.cacheManager.clearCache()
    ListenerShim.waitUntilEmpty(sc, 30000)
    sc.addSparkListener(listener)
    val total = try {
      val t0 = System.nanoTime()
      body()
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerShim.waitUntilEmpty(sc, 30000)
      sec
    } finally {
      sc.removeSparkListener(listener)
      spark.sharedState.cacheManager.clearCache()
    }
    val sorted = listener.synchronized(done.sortBy(_._2).toVector)
    println(f"%n==== $name total=$total%.2fs jobs=${sorted.size} ====")
    sorted.zip(-1L +: sorted.map(_._3)).foreach { case ((id, s, e, site), prevEnd) =>
      val gap = if (prevEnd < 0) 0.0 else (s - prevEnd) / 1e3
      println(f"job $id%4d ${(e - s) / 1e3}%7.2fs gap=$gap%6.2fs  $site")
    }
    val jobSum = sorted.map(j => j._3 - j._2).sum / 1e3
    println(f"job-time sum=$jobSum%.2fs, driver gaps=${total - jobSum}%.2fs")
  }
}
