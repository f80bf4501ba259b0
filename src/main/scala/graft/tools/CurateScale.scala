package graft.tools

import org.apache.spark.sql.functions._

/** 1M-document certification for the incremental curation-state operators
  * (the VectorScale pattern, curation leg): builds the persistable vocab
  * and DSIR bucket states over a synthetic 1M-doc corpus, ingests a 10k
  * shard, and proves the incremental arms EQUAL the full-corpus recompute
  * restricted to shard ids — while costing shard-plus-state work instead
  * of an index rescan (the wall-clock ratio is printed, not assumed).
  *
  * `sbt "runMain graft.tools.CurateScale 1000000"` (corpus size arg).
  * Prints one JSON line per scenario; throws if any equivalence fails.
  */
object CurateScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nShard = math.max(nDocs / 100, 1000L)
    val spark = graft.core.Graft.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Curate

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def sameSet(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    // deterministic 12-token docs, Zipf-ish: 8 of 12 tokens draw from a
    // 500-word hot vocabulary (so the top-K vocab covers real traffic and
    // the admission gate splits), 4 from a ~50k tail; word j of doc id
    // mixes both indices, so no two docs are trivially identical
    def corpus(ids: org.apache.spark.sql.DataFrame, prefix: String) =
      ids.select(col("id").as("doc_id"),
        expr("array_join(transform(sequence(1, 12), j -> concat('" + prefix +
          "', CAST(CASE WHEN j % 3 = 0" +
          " THEN ((id * 1103515245 + j * 2654435761) % 49999) + 1000" +
          " ELSE (id * 1103515245 + j * 2654435761) % 500 END AS STRING))), ' ')")
          .as("text"))

    val index = corpus(spark.range(nDocs).toDF(), "w").localCheckpoint(true)
    // shard: half corpus-like (admit), half fully-alien — singleton words
    // (id*13+j is injective for j ∈ 1..12), so alien tokens can never
    // accumulate into the merged top-K the way a shared alien vocabulary
    // legitimately would
    val shard = corpus(spark.range(nShard).select((col("id") + 10000000L).as("id")), "w")
      .where(col("doc_id") % 2 === 0)
      .unionAll(spark.range(nShard).select((col("id") + 10000000L).as("doc_id"),
          expr("array_join(transform(sequence(1, 12), j -> " +
            "concat('z', CAST(id * 13 + j AS STRING))), ' ')").as("text"))
        .where(col("doc_id") % 2 === 1))
      .localCheckpoint(true)
    val union = index.unionAll(shard)

    // ---- oov_admit: vocab state build once, shard admission vs full ----
    val (vState, stSec) = timed {
      val st = Curate.vocabState(index).localCheckpoint(true); st.count(); st
    }
    val stateRows = vState.count()
    val (inc, incSec) = timed {
      val d = Curate.oovAdmit(vState, shard, vocabK = 1000); d.count(); d
    }
    val (full, fullSec) = timed {
      val d = Curate.oovAdmit(Curate.vocabState(index.limit(0)), union, vocabK = 1000)
        .where(col("doc_id") >= 10000000L).localCheckpoint(true)
      d.count(); d
    }
    require(sameSet(inc, full), "oovAdmit incremental != full restriction")
    val nAdmit = inc.where(col("admitted")).count()
    require(nAdmit > 0 && nAdmit < nShard,
      s"fixture must split admissions: $nAdmit of $nShard")
    println(f"""{"scenario":"oov_admit_1m","index_docs":$nDocs,""" +
      f""""shard_docs":$nShard,"state_rows":$stateRows,"admitted":$nAdmit,""" +
      f""""state_sec":$stSec%.2f,"inc_sec":$incSec%.2f,"full_sec":$fullSec%.2f,"match":true}""")

    // ---- dsir: BOTH bucket states fold-in, shard scoring vs full ----
    // the ingest arm reads (raw state, target state, shard) ONLY — the
    // r9 per-ingest target-corpus rescan is gone, and inc_sec proves it:
    // it is shard-sized work, independent of the corpus-sized
    // state_sec/tstate_sec one-time builds
    val target = index.where(col("doc_id") % 997 === 0)
    val (dState, dstSec) = timed {
      val st = Curate.dsirState(index).localCheckpoint(true); st.count(); st
    }
    val (tState, tstSec) = timed {
      val st = Curate.dsirTargetState(target).localCheckpoint(true); st.count(); st
    }
    val (dInc, dIncSec) = timed {
      val d = Curate.dsirScoresIncremental(dState, tState, shard); d.count(); d
    }
    val (dFull, dFullSec) = timed {
      val d = Curate.dsirScores(union, target)
        .where(col("doc_id") >= 10000000L).localCheckpoint(true)
      d.count(); d
    }
    require(sameSet(dInc, dFull), "dsir incremental != full restriction")
    println(f"""{"scenario":"dsir_incremental_1m","index_docs":$nDocs,""" +
      f""""shard_docs":$nShard,"buckets":512,""" +
      f""""state_sec":$dstSec%.2f,"tstate_sec":$tstSec%.2f,""" +
      f""""inc_sec":$dIncSec%.2f,"full_sec":$dFullSec%.2f,"match":true}""")
    spark.stop()
  }
}
