package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Iterative graph computations as dataframe joins — the Pregel-style
  * shape where each superstep is (edges ⋈ ranks) → groupBy(dst): one
  * shuffle per iteration, never a driver-side adjacency structure.
  * Deterministic across engines: every quantity is a ×10^6 scaled BIGINT
  * and every division is integer division, so a SQL oracle unrolling the
  * same iterations reproduces the ranks bit-for-bit.
  */
object Graphs {

  /** Fixed-iteration PageRank with damping 0.85 over `edges(src, dst)`
    * (assumed distinct). Node set = src ∪ dst; dangling nodes contribute
    * nothing (standard simplification). Rank is ×10^6 scaled:
    * r₀ = 10^6 div N;  rₜ₊₁(v) = 150000 div N +
    * (850000 · Σ_{(u,v)∈E} (rₜ(u) div outdeg(u))) div 10^6.
    * Returns (n, r). The node count stays in-plan (broadcast one-row
    * aggregate) — no driver collect.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    // The edge relation feeds every superstep's join plus the degree and
    // node-set aggregates. r10: when the lineage-cut discipline below
    // will split the loop into SEPARATE jobs (iters > 3), materialize e
    // ONCE, hash-partitioned on src with the partitioning preserved
    // (Graft.partitionedCheckpoint) — a lazy e is re-DERIVED from the
    // base tables by every post-cut segment (a full scan per 3
    // supersteps at scale), and a plain AQE-compiled checkpoint would be
    // re-EXCHANGED by every superstep (UnknownPartitioning; the
    // connectedComponents finding, PartitionedCheckpointSpec). For
    // iters ≤ 3 the whole loop is ONE job in which ReusedExchange
    // already dedups the e subtree — a checkpoint there only adds two
    // driver barriers (measured on q128: ~+1 s at sf0.1 for zero plan
    // benefit).
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (iters > 3) graft.core.Graft.partitionedCheckpoint(e0, col("src")) else e0
    // one explode pass, not a two-branch union: the union scanned the
    // edge plan twice inside the node-set aggregate (r10, the CC
    // symmetrization finding)
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("n")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val params = nodes.agg(count(lit(1)).as("nn"))
    var r = nodes.crossJoin(broadcast(params))
      .select(col("n"), expr("CAST(1000000 div nn AS BIGINT)").as("r"))
    var i = 0
    while (i < iters) {
      val contrib = e.join(r, e("src") === r("n"))
        .join(deg, "src")
        .groupBy(col("dst").as("cn"))
        .agg(sum(expr("r div outdeg")).as("s"))
      r = nodes.crossJoin(broadcast(params))
        .join(contrib, col("n") === col("cn"), "left_outer")
        .select(col("n"),
          (expr("CAST(150000 div nn AS BIGINT)") +
            expr("CAST((850000 * coalesce(s, 0L)) div 1000000 AS BIGINT)")).as("r"))
      i += 1
      // Cut lineage every few supersteps — same discipline as
      // connectedComponents (Dedup.scala): without it each round's plan
      // nests inside the next and iters=20 builds an exponential tree.
      // The rank relation is O(|V|) rows, so materializing it is cheap
      // relative to the superstep shuffle it feeds.
      if (i % 3 == 0 && i < iters) r = r.localCheckpoint(true)
    }
    r
  }

  /** Triangle count over a DISTINCT edge list `edges(u, v)`, u < v.
    *
    * Degree-oriented wedge counting (r11, guide §2.2/§3): every edge is
    * re-oriented from its lower-rank to its higher-rank endpoint under
    * rank(x) = (degree(x), x) — a total order — and wedges are generated
    * only from each vertex's OUT-neighbors, closing against the oriented
    * edge list. Each triangle is counted exactly once, from its minimum-
    * rank vertex (the join output cardinality IS the count, no
    * post-dedup). The wedge intermediate is Σ outdeg² where the oriented
    * outdeg is O(√E) for any graph — the id-oriented triple self-join
    * this replaces let one high-id hub vertex own Σ indeg·outdeg wedges
    * (the skew blowup at web scale). The oriented relation is
    * materialized once (it feeds both wedge sides and the closing join);
    * the input is materialized too (unless it already is a checkpoint)
    * so the degree aggregate and the orientation join don't re-derive
    * the caller's (often join+aggregate) edge pipeline. Returns one row
    * (n_triangles).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // an edge list that is already a checkpoint (q159 materializes it
    // for its own edge count) is read as is, not copied a second time
    val uv = edges.select(col("u"), col("v"))
    val e = if (edges.queryExecution.analyzed.isInstanceOf[LogicalRDD]) uv
      else uv.localCheckpoint(true)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(lowFirst, col("u")).otherwise(col("v")).as("a"),
        when(lowFirst, col("v")).otherwise(col("u")).as("b"),
        // the out-endpoint's degree rides along: the wedge pair ordering
        // below needs rank(b) = (deg(b), b) without re-joining degrees
        when(lowFirst, col("dv")).otherwise(col("du")).as("db"))
      .localCheckpoint(true)
    // fully renamed branches: a self-join referencing the parent's own
    // column names lets attribute deduplication collapse the equi-key
    // into a tautology, degenerating the join to a nested-loop cross
    // (PlanShapeSpec pins the equi shape)
    val w1 = o.select(col("a").as("a1"), col("b").as("b1"), col("db").as("db1"))
    val w2 = o.select(col("a").as("a2"), col("b").as("c2"), col("db").as("dc2"))
    val o3 = o.select(col("a").as("b3"), col("b").as("c3"))
    w1.join(w2, col("a1") === col("a2") &&
        (col("db1") < col("dc2") || (col("db1") === col("dc2") && col("b1") < col("c2"))))
      .join(o3, col("b1") === col("b3") && col("c2") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-depth BFS from the minimum source node of `edges(src, dst)`
    * (pass a symmetrized edge list for undirected graphs). Returns
    * (n, hop) for every node reached within `maxHops` supersteps; the
    * root is in-plan (broadcast one-row MIN aggregate, no driver
    * collect). Each superstep is one join + distinct + anti-join — the
    * frontier expansion shape whose cost follows the frontier, never
    * |V|²; unreached nodes are simply absent (the caller left-joins the
    * node set if it needs them).
    */
  def bfsHops(edges: DataFrame, maxHops: Int): DataFrame = {
    // prepare (dedup + partitioned checkpoint) FIRST, so the root MIN
    // aggregate reads the materialized edge list instead of re-deriving
    // it from the base tables (r10: the root agg was one extra full
    // edge derivation per call)
    val e = prepEdges(edges)
    val root = e.agg(min(col("src")).as("root"))
      // an empty edge list gives a single NULL MIN row — drop it so the
      // contract ((n, hop) for reached nodes only) holds for empty graphs
      .where(col("root").isNotNull)
    bfsFromPrepared(e, root.select(col("root").as("n")), maxHops)
  }

  /** Deduped, src-hash-partitioned, checkpoint-materialized edge list —
    * the shape every BFS hop consumes exchange-free
    * (Graft.partitionedCheckpoint; dropDuplicates AFTER the src
    * repartition so the dedup aggregate rides the same single exchange:
    * hashpartitioning(src) clusters equal (src,dst) rows).
    */
  private def prepEdges(edges: DataFrame): DataFrame =
    graft.core.Graft.partitionedCheckpoint(
      edges.select(col("src"), col("dst"))
        .repartition(col("src")).dropDuplicates(Seq("src", "dst")), col("src"))

  /** [[bfsHops]] generalized to caller-supplied seed nodes `roots(n)` —
    * needed when several traversals must share ONE root (e.g. q466's
    * forward/backward SCC probe, where re-deriving min(src) on the
    * reversed edge list would silently pick a different root). The seed
    * frame is expected to be tiny (it is broadcast into every superstep's
    * semi-join).
    */
  def bfsHopsFrom(edges: DataFrame, roots: DataFrame, maxHops: Int): DataFrame =
    // r10: materialize the deduped edge list once ([[prepEdges]]) —
    // every hop's semi-join re-embedded the lazy plan before, so each
    // 3-hop lineage segment re-derived the edges from the base tables (a
    // full scan per segment at scale) and re-exchanged them per hop; now
    // each hop's e-side join leg is exchange-free (only the frontier
    // shuffles).
    bfsFromPrepared(prepEdges(edges), roots, maxHops)

  private def bfsFromPrepared(e: DataFrame, roots: DataFrame, maxHops: Int): DataFrame = {
    var visited = broadcast(roots.select(col("n")).distinct())
      .select(col("n"), lit(0L).as("hop"))
    var frontier = visited.select("n")
    var i = 1
    while (i <= maxHops) {
      val next = e.join(frontier, e("src") === frontier("n"), "left_semi")
        .select(col("dst").as("n")).distinct()
        .join(visited.select(col("n").as("v_n")), col("n") === col("v_n"), "left_anti")
      frontier = next
      visited = visited.union(next.select(col("n"), lit(i.toLong).as("hop")))
      i += 1
      // deep traversals: cut lineage every few supersteps (pageRank /
      // connectedComponents discipline) — visited grows by union each
      // hop and the anti-join re-embeds it, so an unchecked 20-hop walk
      // builds a quadratic plan; both relations are O(|V|) rows
      if (i % 3 == 0 && i <= maxHops) {
        frontier = frontier.localCheckpoint(true)
        visited = visited.localCheckpoint(true)
      }
    }
    visited
  }
}
