package graft.tools

import graft.{Bench, SparkSpec}

/** `Prof.run` on the shared session: each mode reports on q1_agg, and the
  * session is left running and configured as it was.
  */
class ProfSpec extends SparkSpec {

  /** Runs one mode, checks the session survived it, returns its stdout. */
  private def report(mode: String): String = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Prof.run(spark, mode, Seq("q1_agg"), sfDir))
    assert(spark.range(10).count() == 10)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
    out.toString
  }

  test("time reports a positive floor") {
    val r = report("time")
    val floor = """floor=([0-9.]+)s""".r.findFirstMatchIn(r).map(_.group(1).toDouble)
    assert(floor.exists(_ > 0.0), s"no positive floor in: $r")
  }

  test("time takes Bench's SPARK_GRAFT_BENCH_REPS samples a query") {
    def env(v: String): String => Option[String] =
      Map("SPARK_GRAFT_BENCH_REPS" -> v).get
    assert(Bench.reps(env("5")) == 5)
    assert(Bench.reps(env("0")) == 1)
    assert(Bench.reps(env("x")) == Bench.reps(_ => None))
    assert(Bench.reps(_ => None) == 2)
    val r = report("time")
    val samples = """samples=(.*)""".r.findFirstMatchIn(r).map(_.group(1).trim.split(" ").length)
    assert(samples.contains(Bench.reps()), s"expected ${Bench.reps()} samples in: $r")
  }

  test("jobs reports at least one job") {
    val r = report("jobs")
    val n = """jobs=(\d+)""".r.findFirstMatchIn(r).map(_.group(1).toInt)
    assert(n.exists(_ >= 1), s"no job in: $r")
  }

  test("plan prints the final adaptive plan") {
    val r = report("plan")
    assert(r.contains("Final Plan"), s"no final plan in: $r")
  }
}
