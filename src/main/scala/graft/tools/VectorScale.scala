package graft.tools

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.sql.functions._

import graft.operators.ProgressCounters

/** 1M-vector certification for the iterative/ANN vector path (VERDICT r5
  * #8): runs `Similarity.kmeansAssignments` and
  * `Similarity.ivfCandidatePairs` on deterministic 64-dim
  * pseudo-embeddings at the LSH-dedup corpus scale, measuring wall time
  * AND actual shuffle-write records (ProgressCounters) so the "rows shuffled
  * per round" claim in BASELINE.md is measured, not derived.
  *
  * `sbt "runMain graft.tools.VectorScale 1000000"` (vector count arg,
  * default 1M). Self-validating: k-means must keep every vector assigned
  * and converge cells ≤ C; IVF candidates must stay ≥ 100× below brute
  * force. Prints one JSON line per scenario.
  */
object VectorScale {
  def main(args: Array[String]): Unit = {
    val nVec = args.headOption.map(_.toLong).getOrElse(1000000L)
    // optional 2nd arg: comma-separated scenario filter
    // (kmeans,pairs,hotcell,semdedup)
    val only: Set[String] = args.drop(1).headOption
      .map(_.split(",").toSet)
      .getOrElse(Set("kmeans", "pairs", "hotcell", "semdedup", "recall"))
    val spark = graft.core.Graft.local(32)
    spark.sparkContext.setLogLevel("WARN")

    val pc = ProgressCounters.attach(spark)
    // listener events are async — drain the bus before each read so the
    // task-end deltas land in the right scenario
    def shuffleRecords(): Long = {
      ListenerShim.waitUntilEmpty(spark.sparkContext, 30000)
      pc.snapshot().shuffleRecordsWritten
    }
    def measure[T](body: => T): (T, Double, Long) = {
      val s0 = shuffleRecords()
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      (r, sec, shuffleRecords() - s0)
    }

    // deterministic 64-dim embeddings, no RNG: element (id, j) mixes both
    // indices so vectors are distinct (unlike a (id % k)-periodic hash)
    val emb = spark.range(nVec).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), j -> CAST(" +
        "CAST((id * 1103515245 + j * 2654435761) % 1000003 AS DOUBLE) / 1000003.0" +
        " AS FLOAT))").as("embedding"))

    // ---- kmeans_1m: 3 Lloyd rounds, C = n/seedEvery centroids ----
    if (only("kmeans")) {
      val seedEvery = (nVec / 256L).max(1L).toInt
      val ((nAsg, nCells), sec, shuf) = measure {
        val asg = graft.operators.Similarity
          .kmeansAssignments(emb, seedEvery, iters = 3)
        val r = asg.agg(count(lit(1)), countDistinct(col("cell"))).head()
        (r.getLong(0), r.getLong(1))
      }
      require(nAsg == nVec, s"every vector must be assigned: $nAsg vs $nVec")
      require(nCells <= 256, s"cells must not exceed the seed count: $nCells")
      println(f"""{"scenario":"kmeans_1m","vectors":$nVec,"cells":$nCells,""" +
        f""""iters":3,"sec":$sec%.2f,"shuffle_records":$shuf,""" +
        f""""shuffle_per_round":${shuf / 3},"vectors_per_sec":${(nVec / sec).toLong}}""")
    }

    // ---- ivf_pairs_1m: multi-probe candidate stream at C = n/250 ----
    if (only("pairs")) {
      // Partition-sizing discipline: this scenario's candidate exchange is
      // ~10^9 (qid, cid) pairs — at the session default of 32 shuffle
      // partitions that is ~31M pair keys per task's partial-distinct map,
      // which overruns local[32]'s ~250 MB-per-task heap share (observed
      // OOM). 256 partitions ≈ 4M pairs/task — the same "size partitions
      // to task memory" rule a 100 TB run applies; AQE coalesces the
      // small stages back down.
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      val centroidEvery = (nVec / 4000L).max(1L).toInt
      val ((nPairs, maxPer), sec, shuf) = measure {
        val cand = graft.operators.Similarity
          .ivfCandidatePairs(emb, centroidEvery, nProbe = 2)
        val r = cand.groupBy("qid").agg(count(lit(1)).as("c"))
          .agg(sum("c"), max("c")).head()
        (r.getLong(0), r.getLong(1))
      }
      val brute = nVec * (nVec - 1)
      require(nPairs > 0 && nPairs * 100 < brute,
        s"ivf candidates must be sub-quadratic: $nPairs vs brute $brute")
      println(f"""{"scenario":"ivf_pairs_1m","vectors":$nVec,"pairs":$nPairs,""" +
        f""""max_pairs_per_vector":$maxPer,"brute_pairs":$brute,"sec":$sec%.2f,""" +
        f""""shuffle_records":$shuf,"vectors_per_sec":${(nVec / sec).toLong}}""")
    }

    // ---- ivf_hot_cell_1m: the degenerate-cell valve at corpus scale ----
    // One vector cloned nVec/100 times (10k at 1M — ids ≡ 1 mod
    // centroidEvery, never centroids) crowds its two nearest cells;
    // uncapped, those cells alone would emit ≥ blockDepth² directed
    // pairs (10⁸ at 1M) — the quadratic bomb q598's LSH twin already
    // closed. Capped, the block contributes only hub-star edges:
    // clone-clone pairs vanish (the hubs are natural small-id members of
    // the crowded cells), every clone keeps an edge, and the dense cells
    // keep their exact all-pairs stream.
    if (only("hotcell")) {
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      val centroidEvery = (nVec / 4000L).max(1L).toInt
      val blockDepth = (nVec / 100L).max(1000L)
      // 7L: the INT literal product 7·1103515245 overflows under ANSI
      val blockVec = expr("transform(sequence(1, 64), j -> CAST(" +
        "CAST((7L * 1103515245 + j * 2654435761) % 1000003 AS DOUBLE) / 1000003.0" +
        " AS FLOAT))")
      val block = spark.range(blockDepth).select(
        (lit(nVec) + col("id") * centroidEvery + 1).as("vec_id"),
        blockVec.as("embedding"))
      val corpus = emb.unionAll(block)
      val cap = 8192
      val ((nPairs, blockInternal, touched), sec, shuf) = measure {
        val cand = graft.operators.Similarity
          .ivfCandidatePairs(corpus, centroidEvery, nProbe = 2, maxCell = Some(cap))
        // one aggregation pass — never cache the ~10⁹-row dense stream
        val r = cand.agg(
          count(lit(1)),
          sum(when(col("qid") > nVec && col("cid") > nVec, 1L).otherwise(0L)),
          countDistinct(when(col("qid") > nVec, col("qid")))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      require(blockInternal == 0,
        s"clone-clone pairs must vanish under the cap: $blockInternal")
      require(touched == blockDepth,
        s"every clone must keep a hub edge: $touched vs $blockDepth")
      println(f"""{"scenario":"ivf_hot_cell_1m","vectors":${nVec + blockDepth},""" +
        f""""cell_depth":$blockDepth,"cap":$cap,"pairs":$nPairs,""" +
        f""""uncapped_block_pairs":${blockDepth * (blockDepth - 1)},""" +
        f""""block_internal_pairs":$blockInternal,"sec":$sec%.2f}""")
    }

    // ---- semdedup_hot_cell_1m: the bounded-prefix valve on the REMOVAL
    // decision at corpus scale. One vector cloned nVec/100 times (10k at
    // 1M) crowds a single cell — near-duplicate corpora crowding one
    // centroid is exactly the distribution SemDeDup is for, and uncapped
    // the removal join there alone is ≥ blockDepth²/2 cosine pairs
    // (5×10⁷ at 1M). Capped, every member verifies against the cell's
    // `cap` smallest-id members: hot-cell work drops to cap·|cell|, the
    // prefix holds the natural members (all ids below every clone), and
    // every clone still matches its source — removed, with zero
    // over-pruning possible by construction (the x-side only shrinks).
    if (only("semdedup")) {
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      val centroidEvery = (nVec / 4000L).max(1L).toInt
      val blockDepth = (nVec / 100L).max(1000L)
      val blockVec = expr("transform(sequence(1, 64), j -> CAST(" +
        "CAST((7L * 1103515245 + j * 2654435761) % 1000003 AS DOUBLE) / 1000003.0" +
        " AS FLOAT))")
      val block = spark.range(blockDepth).select(
        (lit(nVec) + col("id") * centroidEvery + 1).as("vec_id"),
        blockVec.as("embedding"))
      val corpus = emb.unionAll(block)
      val cap = 256
      val ((nRows, cloneRemoved, cloneKept), sec, shuf) = measure {
        val dec = graft.operators.Similarity
          .semDedup(corpus, centroidEvery, 999000L, maxCell = Some(cap))
        val r = dec.agg(
          count(lit(1)),
          sum(when(col("vec_id") > nVec && col("removed"), 1L).otherwise(0L)),
          sum(when(col("vec_id") > nVec && !col("removed"), 1L).otherwise(0L))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      require(nRows == nVec + blockDepth,
        s"every vector must carry a decision: $nRows vs ${nVec + blockDepth}")
      require(cloneRemoved == blockDepth && cloneKept == 0,
        s"every clone must be removed via the prefix: removed=$cloneRemoved kept=$cloneKept")
      println(f"""{"scenario":"semdedup_hot_cell_1m","vectors":${nVec + blockDepth},""" +
        f""""cell_depth":$blockDepth,"cap":$cap,""" +
        f""""uncapped_block_pairs":${blockDepth * (blockDepth - 1) / 2},""" +
        f""""capped_block_pairs":${cap.toLong * blockDepth},""" +
        f""""clones_removed":$cloneRemoved,"sec":$sec%.2f,"shuffle_records":$shuf}""")
    }
    // ---- ivf_recall_1m: recall@10 of the IVF probe path vs exact, at
    // corpus scale — the audit that justifies nProbe (the sf-fixture q619
    // measures 4 queries; this measures 100 over 1M vectors). The exact
    // ground truth is one corpus × 100-query native-scaled-dot pass
    // feeding both rankings through the bounded-heap top-k operator.
    if (only("recall")) {
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      val centroidEvery = (nVec / 1000L).max(1L).toInt
      val queries = emb.where(col("vec_id") % (nVec / 100L).max(1L) === 0)
      for (nProbe <- Seq(2, 8)) {
        val (stats, sec, _) = measure {
          val r = graft.operators.Similarity
            .ivfRecall(emb, queries, 10, centroidEvery, nProbe)
          r.agg(count(lit(1)), sum("hits"),
            floor(avg(col("recall_permille"))).cast("long")).head()
        }
        val (nQ, hits, meanRecall) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
        require(nQ == 100, s"expected 100 audited queries, got $nQ")
        // probing MORE cells can only add candidates — recall must be
        // high at nProbe=8 over 1000 cells (every query's own cell is
        // probed: the query vector itself is always a hit)
        require(hits > 0 && meanRecall > 0, "recall audit must be non-trivial")
        println(f"""{"scenario":"ivf_recall_1m","vectors":$nVec,"queries":$nQ,""" +
          f""""cells":${nVec / centroidEvery},"n_probe":$nProbe,"k":10,""" +
          f""""mean_recall_permille":$meanRecall,"sec":$sec%.2f}""")
      }
    }
    spark.stop()
  }
}
