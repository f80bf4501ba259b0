package graft.operators

import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Graft, Tables}

/** Witnesses that the IVF candidate stream (q470's default kNN base) is
  * genuinely sub-quadratic and structurally sound: cell-mate pairs only,
  * symmetric, no self-pairs, and far below the brute-force n(n−1) count.
  */
class IvfCandidateSpec extends SparkSpec {

  test("candidate pairs are sub-quadratic, symmetric, self-free") {
    Graft.configure(spark)
    val emb = Tables(spark, sfDir).embeddings
    val n = emb.count()
    val cand = Similarity.ivfCandidatePairs(emb, 25, 2).cache()
    val pairs = cand.count()

    assert(pairs > 0, "cell-mates must exist")
    assert(pairs < n * (n - 1) / 2,
      s"candidates ($pairs) must stay well under brute force (${n * (n - 1)})")

    assert(cand.where(col("qid") === col("cid")).count() == 0)
    // directed-pair symmetry: sharing a cell is mutual
    val asym = cand.as("f").join(
      cand.select(col("qid").as("cid"), col("cid").as("qid")).as("r"),
      Seq("qid", "cid"), "left_anti").count()
    assert(asym == 0, s"$asym pairs missing their mirror")
    cand.unpersist()
  }

  test("the only nested-loop join is corpus x centroids (no brute-force pair scan)") {
    Graft.configure(spark)
    val emb = Tables(spark, sfDir).embeddings
    // the cell index is materialized at call time, so the assignment's
    // cross join runs in the call's own query, not in the returned
    // relation's plan: inspect every query the call and the collect run
    // (AQE final plans, checkpoints included)
    val (_, nodes) = executedNodes(Similarity.ivfCandidatePairs(emb, 25, 2).collect())
    val plan = nodes.map(_.simpleString(200)).mkString("\n")
    // the centroid-assignment cross join runs in the one assignment
    // pass; a brute-force corpus x corpus pair scan would add another
    // nested loop next to the cell equi-join asserted below
    val bnlj = nodes.count(_.nodeName == "BroadcastNestedLoopJoin")
    assert(bnlj <= 1, s"expected only the centroid-assignment cross join:\n$plan")
    // the pair-generation join must be an equi-join on the cell, which
    // the band-pair kernel reads as its bucket key
    assert(nodes.exists {
      case j: BaseJoinExec => j.leftKeys.exists(_.references.exists(_.name == "bucket"))
      case _ => false
    }, s"cell-mate join must be an equi-join on cell:\n$plan")
  }

  test("maxCell: planted hot cell collapses to hub-star; dense cells keep exact pairs") {
    Graft.configure(spark)
    val emb = Tables(spark, sfDir).embeddings.select("vec_id", "embedding")
    // clone vector 0 into a degenerate block (ids ≡ 1 mod 25 — never
    // centroids), crowding vec 0's two nearest cells far past the cap
    val clones = spark.range(300)
      .crossJoin(broadcast(emb.where(col("vec_id") === 0)
        .select(col("embedding").as("ce"))))
      .select((lit(200001L) + col("id") * 25).as("vec_id"), col("ce").as("embedding"))
    val corpus = emb.unionAll(clones)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(Similarity.ivfCandidatePairs(corpus, 25, 2, maxCell = Some(100)))
    val uncapped = pairs(Similarity.ivfCandidatePairs(corpus, 25, 2))

    // capped ⊆ uncapped, and block-internal volume turns linear: clones
    // pair only through their cells' hubs, never with each other
    assert(capped.subsetOf(uncapped))
    val blockInternal = capped.count { case (q, c) => q > 200000L && c > 200000L }
    assert(blockInternal == 0, s"clone-clone pairs must vanish under the cap: $blockInternal")
    assert(uncapped.count { case (q, c) => q > 200000L && c > 200000L } > 300 * 299 / 2,
      "uncapped, the planted cells ARE quadratic — the scenario is real")
    // every clone stays reachable (hub-star keeps the cluster connected)
    val touched = capped.collect { case (q, c) if q > 200000L => q }.toSet
    assert(touched.size == 300, s"every clone must keep an edge: ${touched.size}")
    // symmetry survives the star (directed convention: both orientations)
    assert(capped.forall { case (q, c) => capped((c, q)) })

    // on the natural corpus (max cell 75 across fixtures) the cap is
    // inert: capped ≡ uncapped exactly
    assert(pairs(Similarity.ivfCandidatePairs(emb, 25, 2, maxCell = Some(100))) ==
      pairs(Similarity.ivfCandidatePairs(emb, 25, 2)))
  }

  test("capped incremental pairs == capped full pairs restricted to shard queries") {
    Graft.configure(spark)
    val emb = Tables(spark, sfDir).embeddings.select("vec_id", "embedding")
    // shard = clone block (degenerate, crowds two cells) + a re-id'd
    // natural slice (lands in dense cells) — both arms of the split
    val clones = spark.range(200)
      .crossJoin(broadcast(emb.where(col("vec_id") === 0)
        .select(col("embedding").as("ce"))))
      .select((lit(200001L) + col("id") * 25).as("vec_id"), col("ce").as("embedding"))
    val slice = emb.where(col("vec_id") % 17 === 3 && (col("vec_id") + 100001) % 25 =!= 0)
      .select((col("vec_id") + 100001).as("vec_id"), col("embedding"))
    // cut lineage: both branches derive from `emb`, and re-unioning them
    // against emb downstream trips Catalyst's union-constraint rewrite
    val shard = clones.unionAll(slice).localCheckpoint()
    val shardIds = shard.select("vec_id").collect().map(_.getLong(0)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairs(Similarity.ivfIncrementalPairs(emb, shard, 25, 2, maxCell = Some(100)))
    val full = pairs(Similarity.ivfCandidatePairs(emb.unionAll(shard), 25, 2,
        maxCell = Some(100)))
      .filter { case (q, _) => shardIds(q) }
    assert(inc == full,
      s"inc-only=${(inc -- full).take(5)} full-only=${(full -- inc).take(5)}")
    assert(inc.forall { case (q, _) => shardIds(q) }, "qid must stay in the shard")
    assert(inc.nonEmpty)
  }

  test("incremental semdedup == full semDedup over the union restricted to shard ids") {
    Graft.configure(spark)
    val emb = Tables(spark, sfDir).embeddings.select("vec_id", "embedding")
    val shard = emb.where(col("vec_id") % 37 === 0 && col("vec_id") % 25 =!= 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      .unionAll(emb.where(col("vec_id") % 17 === 3 && col("vec_id") % 25 =!= 0)
        .select((col("vec_id") + 200000).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
      .localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val inc = rows(Similarity.semDedupIncremental(emb, shard, 25, 990000L))
    val full = rows(Similarity.semDedup(emb.unionAll(shard), 25, 990000L))
      .filter(_._1 >= 100000L)
    assert(inc == full,
      s"inc-only=${(inc -- full).take(5)} full-only=${(full -- inc).take(5)}")
    // the fixture exercises both decisions: clones removed, fresh mostly kept
    assert(inc.exists(_._3) && inc.exists(!_._3))
  }

  test("incremental pairs == full pairs restricted to shard queries (same centroids)") {
    Graft.configure(spark)
    val emb = Tables(spark, sfDir).embeddings.select("vec_id", "embedding")
    // shard ids avoid the centroid residue (vec_id % 25 == 0), so the
    // union corpus picks the IDENTICAL centroid set as the index alone —
    // the precondition for exact equivalence by restriction
    val shard = emb.where(col("vec_id") % 17 === 3)
      .select((col("vec_id") + 100001).as("vec_id"), col("embedding"))
    val shardNoCent = shard.where(col("vec_id") % 25 =!= 0)
    val shardIds = shardNoCent.select("vec_id").collect().map(_.getLong(0)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairs(Similarity.ivfIncrementalPairs(emb, shardNoCent, 25, 2))
    val full = pairs(Similarity.ivfCandidatePairs(emb.unionAll(shardNoCent), 25, 2))
      .filter { case (q, _) => shardIds(q) }
    assert(inc == full,
      s"inc-only=${(inc -- full).take(5)} full-only=${(full -- inc).take(5)}")
    // no index-vs-index pair: every qid is a shard vector
    assert(inc.forall { case (q, _) => shardIds(q) })
  }
}
