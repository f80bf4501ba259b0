package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the ExactSubstr duplicated-span semantics ([[Dedup.duplicateSpans]]
  * / [[Dedup.scrubDuplicateSpans]]) on planted fixtures: a cross-document
  * shared run resolves to EXACTLY that run (the n-gram starts plus the
  * n−1 tail), self-repeats within one document count as duplication,
  * adjacent islands merge while gapped ones stay separate, a full clone
  * scrubs to the empty string, and untouched documents keep their text
  * verbatim with n_removed = 0.
  */
class DupSpansSpec extends SparkSpec {

  private def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))

  private val sh = (1 to 12).map(i => s"S$i")   // the cross-doc shared run
  private val rr = (1 to 8).map(i => s"R$i")    // doc 3's internal repeat
  private val ar = (1 to 8).map(i => s"A$i")    // adjacency arms
  private val br = (1 to 8).map(i => s"B$i")

  private lazy val docs = {
    import spark.implicits._
    Seq(
      // shared 12-word run at positions 5..16 / 7..18
      doc(1L, (1 to 4).map(i => s"w$i") ++ sh ++ (1 to 4).map(i => s"x$i")),
      doc(2L, (1 to 6).map(i => s"y$i") ++ sh ++ (1 to 2).map(i => s"z$i")),
      // internal repeat with a 2-word gap: starts 1 and 11 → two islands
      doc(3L, rr ++ Seq("q1", "q2") ++ rr),
      // no duplication, ≥ n words
      doc(4L, (1 to 9).map(i => s"t$i")),
      // exact clones → the whole doc is one span
      doc(5L, (1 to 10).map(i => s"c$i")),
      doc(6L, (1 to 10).map(i => s"c$i")),
      // adjacency: doc 7's two duplicated runs touch (starts 1 and 9)
      // and must merge into ONE maximal span
      doc(7L, ar ++ br),
      doc(8L, ar ++ (1 to 8).map(i => s"C$i")),
      doc(9L, (1 to 8).map(i => s"D$i") ++ br),
      // under n words: never considered even if textually repeated
      doc(10L, Seq("c1", "c2", "c3"))
    ).toDF("doc_id", "text")
  }

  test("duplicateSpans: maximal islands, self-repeats, adjacency merge") {
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text")
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spans === Seq(
      (1L, 5L, 16L), (2L, 7L, 18L),           // exactly the shared run
      (3L, 1L, 8L), (3L, 11L, 18L),           // gapped self-repeat: two islands
      (5L, 1L, 10L), (6L, 1L, 10L),           // full clones: whole-doc span
      (7L, 1L, 16L),                          // adjacent islands merged
      (8L, 1L, 8L), (9L, 9L, 16L)))
  }

  test("scrubDuplicateSpans: removal counts and reconstructed text") {
    val out = Dedup.scrubDuplicateSpans(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.length === 10)
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L) === ((1L, 20L, 12L, "w1 w2 w3 w4 x1 x2 x3 x4")))
    assert(byId(2L) === ((2L, 20L, 12L, "y1 y2 y3 y4 y5 y6 z1 z2")))
    assert(byId(3L) === ((3L, 18L, 16L, "q1 q2")))
    assert(byId(4L) === ((4L, 9L, 0L, (1 to 9).map(i => s"t$i").mkString(" "))))
    assert(byId(5L) === ((5L, 10L, 10L, "")))   // full clone scrubs to empty
    assert(byId(6L) === ((6L, 10L, 10L, "")))
    assert(byId(7L) === ((7L, 16L, 16L, "")))
    assert(byId(10L) === ((10L, 3L, 0L, "c1 c2 c3")))
  }

  test("dupSpansIncremental == full restriction to the affected docs") {
    import spark.implicits._
    val shard = Seq(
      // clones doc 4 (previously span-free): transitions its t-grams
      doc(101L, (1 to 9).map(i => s"t$i")),
      // duplicates doc 1's boundary gram w4 S1..S7: doc 1's span must
      // EXTEND from [5,16] to [4,16]
      doc(102L, Seq("w4") ++ (1 to 7).map(i => s"S$i")),
      // fresh unique text: affected (it is the shard) but span-free
      doc(103L, (1 to 9).map(i => s"f$i"))
    ).toDF("doc_id", "text")
    val union = docs.unionAll(shard)

    // incremental output equals the full rebuild restricted to affected
    // docs (shard + old holders of transitioned grams: docs 1 and 4)
    val inc = Dedup.dupSpansIncremental(
      Dedup.dupSpanState(docs, "doc_id", "text"), docs, shard, "doc_id", "text")
    val affected = Seq(1L, 4L, 101L, 102L, 103L)
    val fullAff = Dedup.duplicateSpans(union, "doc_id", "text")
      .where(col("doc_id").isin(affected: _*))
    assert(inc.exceptAll(fullAff).isEmpty && fullAff.exceptAll(inc).isEmpty)

    val byDoc = inc.orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(byDoc === Seq(
      (1L, 4L, 16L),    // extension across the newly-duplicated boundary gram
      (4L, 1L, 9L), (101L, 1L, 9L),
      (102L, 1L, 8L)))  // doc 103 is span-free

    // and every UNAFFECTED document's spans are bitwise unchanged, so
    // old-spans-for-unaffected ∪ incremental == the full-union world
    val world = Dedup.duplicateSpans(docs, "doc_id", "text")
      .where(!col("doc_id").isin(affected: _*))
      .unionAll(inc)
    val full = Dedup.duplicateSpans(union, "doc_id", "text")
    assert(world.exceptAll(full).isEmpty && full.exceptAll(world).isEmpty)
  }
}
