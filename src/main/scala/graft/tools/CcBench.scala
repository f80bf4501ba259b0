package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators.Dedup

/** Head-to-head harness for connectedComponents' two paths: the gated
  * union-find path (per-partition contraction, then one finishing task)
  * against the distributed fallback it keeps for graphs over the gate
  * (min-label propagation over the contracted forest, forced here with a
  * negative gate). Synthetic 1M-vertex graphs in the two shapes dedup
  * produces — shallow near-cliques (LSH clusters) and deeper chains
  * (worst-case propagation) — and every run is checked exactly: each
  * vertex must carry its group's least id.
  * `sbt "runMain graft.tools.CcBench [millions]"`.
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val millions = args.headOption.map(_.toInt).getOrElse(1)
    val n = millions * 1000000L
    val spark = Graft.local(32)
    spark.sparkContext.setLogLevel("WARN")

    // shape 1: near-cliques of 8 (the LSH cluster shape) — hub star plus a
    // ring edge so the graph isn't a pure star
    val cliq = spark.range(n).where(col("id") % 8 =!= 0)
      .select((col("id") - (col("id") % 8)).as("d1"), col("id").as("d2"))
      .unionAll(spark.range(n).where(col("id") % 8 === 7)
        .select((col("id") - 1).as("d1"), col("id").as("d2")))
    // shape 2: chains of 64 — 15.6k/million components, diameter 63
    val chain = spark.range(n).where(col("id") % 64 =!= 0)
      .select((col("id") - 1).as("d1"), col("id").as("d2"))

    // ids g·k .. g·k + k-1 form group g, labeled g·k
    def time(name: String, pairs: DataFrame, k: Long, gate: Long): Unit = {
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val (out, _) = Dedup.connectedComponentsGated(pairs, 50, gate)
        val r = out.agg(count(lit(1)), countDistinct(col("component")),
          count(when(col("component") =!= col("doc_id") - col("doc_id") % k, 1))).head()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        require(r.getLong(0) == n && r.getLong(1) == n / k && r.getLong(2) == 0,
          s"$name: ${r.getLong(0)} vertices, ${r.getLong(1)} components, " +
            s"${r.getLong(2)} wrong labels; want $n, ${n / k}, 0")
        (dt, r.getLong(0), r.getLong(1))
      }
      val (dt, nv, nc) = reps.minBy(_._1)
      println(f"$name: min ${dt}%.2f s  (all ${reps.map(_._1).map(v => f"$v%.2f").mkString(" ")})  vertices=$nv components=$nc")
    }

    val gated = Long.MaxValue
    val cliqC = cliq.localCheckpoint(true)
    val chainC = chain.localCheckpoint(true)
    time("cliques8_unionfind", cliqC, 8, gated)
    time("cliques8_fallback ", cliqC, 8, -1)
    time("chain64_unionfind ", chainC, 64, gated)
    time("chain64_fallback  ", chainC, 64, -1)
    spark.stop()
  }
}
