package graft.operators

import graft.SparkSpec

class RoutingSpec extends SparkSpec {
  import Routing._

  test("wildcard include/exclude semantics (utils/filter mirror)") {
    val f = TableFilter(Seq("sch.t*", "other.exact"), Seq("sch.tmp_*", "sch.t9"))
    assert(f.matches("sch.t1"))
    assert(f.matches("SCH.T1"))          // case-insensitive
    assert(f.matches("other.exact"))
    assert(!f.matches("sch.tmp_x"))      // excluded
    assert(!f.matches("sch.t9"))         // excluded exact
    assert(!f.matches("other.t1"))       // no include matches
    assert(TableFilter(Nil).matches("anything"))        // empty includes = all
    assert(!TableFilter(Nil, Seq("*")).matches("x"))    // exclude-all wins
    assert(TableFilter(Seq("a?c")).matches("abc") && !TableFilter(Seq("a?c")).matches("abbc"))
  }
}
