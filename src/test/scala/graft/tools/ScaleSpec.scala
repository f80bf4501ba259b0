package graft.tools

import graft.SparkSpec

/** `Scale.run` on the shared session: a failed scenario is reported and
  * the run goes on, every scenario starts from the session's conf, the
  * command line is checked, and a real scenario prints its historical keys.
  */
class ScaleSpec extends SparkSpec {

  /** The lines `scenarios` print at 0.01 million, and the failed names. */
  private def runAll(scenarios: Scale.Scenario*): (Seq[String], Seq[String]) = {
    val out = new java.io.ByteArrayOutputStream
    val failed = Console.withOut(out)(Scale.run(spark, BigDecimal("0.01"), scenarios))
    (out.toString.linesIterator.toSeq, failed)
  }

  private def keys(line: String): Set[String] =
    "\"([a-z_0-9]+)\":".r.findAllMatchIn(line).map(_.group(1)).toSet

  test("a failed scenario is reported and the scenario after it still runs") {
    val (out, failed) = runAll(
      Scale.Scenario("boom", "test", _ => { require(false, "planted failure"); Nil }),
      Scale.Scenario("after", "test", in => Seq("rows" -> in.spark.range(3).count())))
    assert(failed == Seq("boom"))
    assert(out.size == 2, out)
    assert(out(0).startsWith("""{"scenario":"boom","error":""") &&
      out(0).contains("planted failure"), out(0))
    assert(out(1).startsWith("""{"scenario":"after","rows":3,"shuffle_bytes":"""), out(1))
  }

  test("a scenario's conf changes and cached data do not reach the next scenario") {
    val partitions = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(partitions)
    var seen = Option.empty[String]
    val (_, failed) = runAll(
      Scale.Scenario("widen", "test", in => {
        in.spark.conf.set(partitions, (before.toInt + 3).toString)
        in.spark.conf.set("graft.scale.probe", "set")
        in.spark.range(5).cache().count()
        Nil
      }),
      Scale.Scenario("read", "test", in => { seen = Some(in.spark.conf.get(partitions)); Nil }))
    assert(failed.isEmpty)
    assert(seen.contains(before))
    assert(spark.conf.getOption("graft.scale.probe").isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("unknown names and non-positive sizes are rejected with the valid names") {
    for (args <- Seq(Seq("1", "nosuch"), Seq("1", "check,nosuch"), Seq("0"), Seq("-0.5"),
        Seq("ten"), Seq(), Seq("1", "cc", "extra"))) {
      val msg = Scale.parse(args).swap.getOrElse(fail(s"accepted $args"))
      assert(msg.contains("families: check, vector, curate, cc") && msg.contains("cc_incremental"), msg)
    }
    val (size, chosen) = Scale.parse(Seq("0.1", "kmeans_1m,cc")).getOrElse(fail("rejected"))
    assert(size == BigDecimal("0.1"))
    assert(chosen.map(_.name) == Seq("kmeans_1m", "cliques8_unionfind", "cliques8_fallback",
      "chain64_unionfind", "chain64_fallback"))
    assert(Scale.parse(Seq("1")).map(_._2.size) == Right(Scale.registry.size))
  }

  test("collated_chunks_unique passes below the NDV guard, on the exact-window path") {
    val (out, failed) = runAll(Scale.registry.filter(_.name == "collated_chunks_unique"): _*)
    assert(failed.isEmpty, out)
    assert(out.size == 1 && !out.head.contains("\"error\""), out)
  }

  test("uniform prints the key set of the old ScaleCheck line") {
    val (out, failed) = runAll(Scale.registry.filter(_.name == "uniform"): _*)
    assert(failed.isEmpty, out)
    assert(out.size == 1, out)
    assert(keys(out.head) == Set("scenario", "rows", "chunks", "mismatched_chunks", "diff_rows",
      "checksum_sec", "diff_sec", "checksum_rows_per_sec", "shuffle_bytes", "tasks"), out.head)
    assert(out.head.contains("\"rows\":20000,"), out.head)
    assert(spark.sharedState.cacheManager.isEmpty, "the chunk status cache must be released")
  }
}
