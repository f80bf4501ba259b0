package graft

import graft.SparkSpec

/** Pins the bench self-defense contract (the BENCH_r06 lesson): failures
  * are explicit markers, never timings; the reported number is the
  * per-query minimum over reps; headline key prefixes stay unique.
  */
class BenchSpec extends SparkSpec {

  test("a query that throws on every rep returns the -1 marker, not a timing") {
    val v = Bench.measure(spark, reps = 2)(() => throw new RuntimeException("boom"))
    assert(v == -1.0)
  }

  test("a failed rep prints its exception to stderr") {
    val err = new java.io.ByteArrayOutputStream
    Console.withErr(err) {
      Bench.measure(spark, 2)(() => throw new RuntimeException("boom"))
    }
    assert(err.toString.contains("RuntimeException: boom"), s"stderr was: $err")
  }

  test("a flaky query that succeeds once reports the successful floor") {
    var calls = 0
    val v = Bench.measure(spark, reps = 3) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      Thread.sleep(5)
    }
    assert(v > 0.0, s"one success out of 3 reps must yield its timing, got $v")
  }

  test("the minimum over reps is reported") {
    var calls = 0
    val v = Bench.measure(spark, reps = 3) { () =>
      calls += 1
      Thread.sleep(if (calls == 2) 1L else 60L)
    }
    assert(v < 0.05, s"min of (60ms, 1ms, 60ms) must be the floor, got $v")
  }

  test("a heavy entry earns one extra sample; cheap entries stay at reps") {
    var heavyCalls = 0
    Bench.measure(spark, reps = 2, heavyCutoff = 0.001, maxExtra = 1) { () =>
      heavyCalls += 1; Thread.sleep(5)
    }
    assert(heavyCalls == 3,
      s"a floor above the cutoff must buy one extra rep, got $heavyCalls calls")
    var cheapCalls = 0
    Bench.measure(spark, reps = 2, heavyCutoff = 60.0) { () => cheapCalls += 1 }
    assert(cheapCalls == 2, s"a cheap entry must stay at reps, got $cheapCalls calls")
  }

  test("headline key prefixes are unique (the JSON key contract)") {
    val keys = Bench.headline.map(_.takeWhile(_ != '_'))
    assert(keys.size == keys.distinct.size,
      s"duplicate prefixes: ${keys.diff(keys.distinct).distinct.mkString(",")}")
    // SparkEntry.queries is a toMap: a duplicate name would drop an entry
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == names.distinct.size,
      s"duplicate registry names: ${names.diff(names.distinct).distinct.mkString(",")}")
  }

  test("rotating cohort: seeded, non-headline, disjoint, registry-keyed") {
    val all = SparkEntry.queries.keys
    val c1 = Bench.cohort(all, None)
    val c2 = Bench.cohort(all, None)
    assert(c1 == c2, "default seed must be deterministic within a round")
    assert(c1.size == 10 && c1.distinct.size == 10)
    assert(c1.forall(!Bench.headline.contains(_)), s"cohort must avoid the headline: $c1")
    assert(c1.forall(SparkEntry.queries.contains))
    // explicit seed pins the draw; different seeds rotate it
    val p1 = Bench.cohort(all, Some(42L))
    assert(p1 == Bench.cohort(all, Some(42L)))
    assert(p1 != Bench.cohort(all, Some(43L)), "different seeds must rotate the cohort")
    // the combined headline+cohort key space stays prefix-unique
    val keys = (Bench.headline ++ c1).map(_.takeWhile(_ != '_'))
    assert(keys.size == keys.distinct.size)
  }
}
