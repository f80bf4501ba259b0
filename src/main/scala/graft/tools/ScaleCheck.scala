package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators.{DataCompare, ProgressCounters}

/** Scale sanity check: run the full compare pipeline on an N-million-row
  * synthetic pair (default 10M — ~17× the sf0.1 lineitem) and report
  * wall-clock, rows/s, chunk counts, and shuffle volume. The synthetic
  * pair is deterministic (spark.range-derived, same perturbation classes
  * as Perturb). `sbt "runMain graft.tools.ScaleCheck [millions]"`.
  */
object ScaleCheck {

  /** Driver GC nudge between scenario blocks. localCheckpoint blocks of
    * out-of-scope relations are dropped by the ContextCleaner only after
    * a driver GC collects the RDD handle — across a 40-scenario battery
    * in ONE 8g JVM the earlier scenarios' checkpoint blocks otherwise
    * pile up in storage memory until a later cache unroll OOMs (observed
    * twice at cc_incremental after the r10 additions; a production
    * cluster never sees this shape — each job is its own application).
    */
  private def settle(): Unit = System.gc()

  def main(args: Array[String]): Unit = {
    val millions = args.headOption.map(_.toInt).getOrElse(10)
    val n = millions * 1000000L
    val spark = Graft.local(32)
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.range(n).select(
      col("id").as("k"),
      (col("id") % 7).cast("int").as("line"),
      (col("id") % 9973 / 100.0).as("qty"),
      concat(lit("flag_"), (col("id") % 3)).as("flag"))
    val src = base
    val dst = base.where(col("k") % 997 =!= 0)
      .withColumn("qty", when(col("k") % 991 === 0, col("qty") + 1).otherwise(col("qty")))
      .unionAll(base.where(col("k") % 983 === 0))
    val cols = Seq("k", "line", "qty", "flag")
    val cid  = floor(col("k") / 262144).cast("long") // ~256k-row chunks

    val pc = ProgressCounters.attach(spark)
    val t0 = System.nanoTime()
    val status = DataCompare.compareChunks(src, dst, cid, cols).cache()
    val nChunks = status.count()
    val nBad = status.where(col("status") =!= "EQUAL").count()
    val t1 = System.nanoTime()
    val diff = DataCompare.rowDiff(src, dst, cols,
      Some(cid), Some(status.where(col("status") =!= "EQUAL")))
    val nDiff = diff.count()
    val t2 = System.nanoTime()
    org.apache.spark.graftshims.ListenerShim.waitUntilEmpty(spark.sparkContext, 30000)
    val s = pc.snapshot()

    val checkSec = (t1 - t0) / 1e9
    val diffSec  = (t2 - t1) / 1e9
    println(f"""{"scenario":"uniform","rows":${2 * n},"chunks":$nChunks,"mismatched_chunks":$nBad,"diff_rows":$nDiff,""" +
      f""""checksum_sec":$checkSec%.2f,"diff_sec":$diffSec%.2f,""" +
      f""""checksum_rows_per_sec":${(2 * n / checkSec).toLong},""" +
      f""""shuffle_bytes":${s.shuffleBytes},"tasks":${s.tasks}}""")

    // clustered corruption: damage confined to one key range — the
    // realistic partial-failure case where restricting the rescan to
    // mismatched chunks pays (only ~1 of the chunks is re-read)
    val dst2 = base.where(!(col("k").between(1000000L, 1100000L) && col("k") % 10 === 0))
    val t3 = System.nanoTime()
    val status2 = DataCompare.compareChunks(src, dst2, cid, cols).cache()
    val bad2 = status2.where(col("status") =!= "EQUAL")
    val nBad2 = bad2.count()
    val t4 = System.nanoTime()
    val nDiff2 = DataCompare.rowDiff(src, dst2, cols, Some(cid), Some(bad2)).count()
    val t5 = System.nanoTime()
    println(f"""{"scenario":"clustered","chunks":$nChunks,"mismatched_chunks":$nBad2,"diff_rows":$nDiff2,""" +
      f""""checksum_sec":${(t4 - t3) / 1e9}%.2f,"restricted_diff_sec":${(t5 - t4) / 1e9}%.2f}""")

    // LSH dedup at scale: synthetic corpus (docs/8 distinct texts, so
    // every text occurs ~8× ⇒ guaranteed LSH clusters) through
    // signature → band → candidate-pair. Signatures are a projection
    // (native expression, no shuffle); candidates are a band equi-join
    // whose cost follows collisions. nDocs defaults to millions/10 M.
    val nDocs = math.max(n / 10, 100000L)
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 12).map(i =>
          concat(lit(s"w${i}_"), pmod(expr("id div 8") * 31 + lit(i), lit(99991)))): _*).as("text"))
    val t6 = System.nanoTime()
    val sig = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text")
    val nSig = sig.count()
    val t7 = System.nanoTime()
    val cand = graft.operators.Dedup.minhashCandidates(
      graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text"))
    val nCand = cand.count()
    val t8 = System.nanoTime()
    println(f"""{"scenario":"lsh_dedup","docs":$nSig,"candidate_pairs":$nCand,""" +
      f""""signature_sec":${(t7 - t6) / 1e9}%.2f,"candidates_sec":${(t8 - t7) / 1e9}%.2f,""" +
      f""""sig_docs_per_sec":${(nSig / ((t7 - t6) / 1e9)).toLong}}""")

    settle();
    // ---- lsh_hot_bucket: the degenerate-bucket valve at nDocs scale ----
    // 1% of the corpus shares ONE identical text (the boilerplate page):
    // uncapped, that bucket alone emits (nDocs/100)²/2 pairs per band
    // (~2×10⁸ at 1M docs); capped, it emits hub-star edges. Closed-form:
    // capped pairs from the planted bucket = B−1, and the star keeps the
    // whole block in one connected component.
    {
      val hotB = nDocs / 100
      // non-hot text must be GENUINELY dissimilar: md5-derived words (no
      // shared shingles across docs). The first draft used consecutive
      // integers (id*31+i) as words — structurally similar digit strings
      // whose shingle overlap gave ~4.1M legitimate sub-cap LSH pairs at
      // 1M docs, swamping the planted bucket's closed form.
      val hotDocs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        when(col("id") < hotB, lit("the same boilerplate page text body"))
          .otherwise(concat_ws(" ",
            (0 until 12).map(i =>
              substring(md5(concat(col("id"), lit(s"_$i"))), 1, 10)): _*))
          .as("text"))
      val t8b = System.nanoTime()
      val capped = graft.operators.Dedup.minhashCandidates(
        graft.operators.Dedup.minhashSignatures(hotDocs, "doc_id", "text"),
        maxBucket = Some(64))
      val hotPairs = capped.where(col("d1") < hotB && col("d2") < hotB).count()
      val allPairs = capped.count()
      val t8c = System.nanoTime()
      require(hotPairs == hotB - 1,
        s"planted bucket must emit exactly B-1 star edges, got $hotPairs vs ${hotB - 1}")
      require(allPairs < 2L * hotB,
        s"capped candidate volume must stay linear, got $allPairs")
      val hbSec = (t8c - t8b) / 1e9
      println(f"""{"scenario":"lsh_hot_bucket","docs":$nDocs,"bucket_depth":$hotB,""" +
        f""""uncapped_bucket_pairs":${hotB * (hotB - 1) / 2},"capped_pairs":$allPairs,""" +
        f""""sec":$hbSec%.2f}""")

      // ---- lsh_hot_bucket_incremental: the cap valve on the INCREMENTAL
      // arm, with the degenerate bucket SPANNING index and shard: hotS
      // shard clones of the same boilerplate probe the planted index
      // bucket. Uncapped, that one union bucket emits hotB·hotS probe +
      // hotS²/2 intra pairs (~2.2×10⁷ at 1M docs); capped, exactly hotS
      // hub-star edges survive — the hub is index doc 0 (the union min),
      // so only member-∈-shard edges pass the shard-touching restriction.
      val hotS = 2000L
      val hotShard = spark.range(hotS).select(
        (col("id") + 30000000L).as("doc_id"),
        lit("the same boilerplate page text body").as("text"))
      val t8f = System.nanoTime()
      val cappedInc = graft.operators.Dedup.incrementalCandidates(
        graft.operators.Dedup.lshBands(
          graft.operators.Dedup.minhashSignatures(hotDocs, "doc_id", "text")),
        graft.operators.Dedup.lshBands(
          graft.operators.Dedup.minhashSignatures(hotShard, "doc_id", "text")),
        maxBucket = Some(64))
      val nCapInc = cappedInc.count()
      val starInc = cappedInc
        .where(col("d1") === 0L && col("d2") >= 30000000L).count()
      val t8g = System.nanoTime()
      require(starInc == hotS,
        s"spanning bucket must emit exactly one hub edge per shard clone: $starInc vs $hotS")
      require(nCapInc == hotS,
        s"capped incremental volume must be exactly the restricted star, got $nCapInc")
      val hiSec = (t8g - t8f) / 1e9
      println(f"""{"scenario":"lsh_hot_bucket_incremental","index_docs":$nDocs,""" +
        f""""shard_docs":$hotS,"union_bucket_depth":${hotB + hotS},""" +
        f""""uncapped_bucket_pairs":${hotB * hotS + hotS * (hotS - 1) / 2},""" +
        f""""capped_pairs":$nCapInc,"sec":$hiSec%.2f}""")
    }

    settle();
    // ---- banded_hamming: the perceptual families' blocking operator at
    // nDocs scale. Lanes are md5-derived (uniform over 2^16, so buckets
    // birthday-collide to ~nDocs/65536 deep — the REAL dense-band cost
    // profile; every accidental candidate verifies to distance ≫ 3 and
    // drops, P[≤3 of 64 random bits] ≈ 6e-14). Planted: the nDocs/100
    // SMALLEST ids share one hash — a 10k-deep bucket in EVERY band,
    // over cap ⇒ hub-star from doc 0, each edge verifying at distance 0.
    // Closed form: output == exactly the B−1 hub edges.
    {
      val hotH = nDocs / 100
      val lanes = (0 until 4).map(l =>
        when(col("id") < hotH, lit(l + 1L)).otherwise(
          expr(s"conv(substring(md5(concat(id, '_l$l')), 1, 4), 16, 10)")
            .cast("long")).as(s"h$l"))
      val hashes = spark.range(nDocs).select(col("id").as("doc_id") +: lanes: _*)
      val t8h = System.nanoTime()
      val pairs = graft.operators.Dedup.bandedHammingPairs(
        hashes, "doc_id", (0 until 4).map(l => s"h$l"),
        maxDist = 3, maxBand = Some(64))
      val nPairs = pairs.count()
      val nStar = pairs.where(col("d1") === 0L && col("d2") < hotH).count()
      val t8i = System.nanoTime()
      require(nStar == hotH - 1,
        s"planted hash bucket must emit exactly B-1 hub edges, got $nStar vs ${hotH - 1}")
      require(nPairs == hotH - 1,
        s"random lanes must contribute zero verified pairs, got $nPairs total")
      val bhSec = (t8i - t8h) / 1e9
      println(f"""{"scenario":"banded_hamming","docs":$nDocs,"bucket_depth":$hotH,""" +
        f""""uncapped_bucket_pairs":${4 * (hotH * (hotH - 1) / 2)},"verified_pairs":$nPairs,""" +
        f""""sec":$bhSec%.2f}""")
    }

    settle();
    // ---- lsh_incremental: shard-vs-index dedup cost follows the shard ----
    // 10k new docs (half verbatim clones of index docs, half brand-new
    // md5-random) probe the 1M-doc index's band buckets. Closed form on
    // the guaranteed subset: every clone's signature equals its source
    // cluster's, so it must pair with ALL 8 members of that cluster —
    // exactly shardHalf×8 cluster-matched probe pairs. No index×index
    // pair is ever formed (asserted: every pair touches the shard).
    {
      val shardHalf = 5000L
      val clones = spark.range(shardHalf).select(
        (col("id") + 10000000L).as("doc_id"),
        concat_ws(" ",
          (0 until 12).map(i =>
            concat(lit(s"w${i}_"), pmod(expr("id div 8") * 31 + lit(i), lit(99991)))): _*)
          .as("text"))
      val fresh = spark.range(shardHalf).select(
        (col("id") + 20000000L).as("doc_id"),
        concat_ws(" ",
          (0 until 12).map(i =>
            substring(md5(concat(col("id"), lit(s"_n$i"))), 1, 10)): _*).as("text"))
      val shard = clones.unionAll(fresh)
      val t8d = System.nanoTime()
      val inc = graft.operators.Dedup.incrementalCandidates(
        graft.operators.Dedup.lshBands(
          graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text")),
        graft.operators.Dedup.lshBands(
          graft.operators.Dedup.minhashSignatures(shard, "doc_id", "text")))
      val nInc = inc.count()
      val t8e = System.nanoTime()
      val clusterHits = inc
        .where(col("d1") < 10000000L && col("d2") >= 10000000L && col("d2") < 20000000L)
        .where(expr("d1 div 8") === expr("(d2 - 10000000) div 8"))
        .count()
      val touchShard = inc.where(col("d2") >= 10000000L).count()
      require(clusterHits == shardHalf * 8,
        s"every clone must pair with all 8 source-cluster members: $clusterHits")
      require(touchShard == nInc, "no index-vs-index pair may be formed")
      val incSec = (t8e - t8d) / 1e9
      println(f"""{"scenario":"lsh_incremental","index_docs":$nDocs,"shard_docs":${2 * shardHalf},""" +
        f""""pairs":$nInc,"cluster_hits":$clusterHits,"sec":$incSec%.2f}""")

      settle();
      // ---- cc_incremental: merge shard edges into EXISTING labels ----
      // Prior labels = one-time CC over the corpus candidate pairs (the
      // cost the incremental path never repeats); the shard's admitted
      // edges then collapse onto those labels — meta-CC is O(|shard
      // edges|). Closed form: every clone lands in EXACTLY the component
      // its source cluster's min member (8·g) already carries — not a
      // recomputed 8·g (cross-cluster LSH collisions merge ~10⁻³ of the
      // clusters into larger components, observed: 128/5000 clones'
      // sources) — and NO existing label changes: a clone's signature is
      // verbatim its cluster's, so its collision set is a subset of the
      // members' and bridges nothing new.
      val t8h = System.nanoTime()
      val labels = graft.operators.Dedup.connectedComponents(cand)
        .localCheckpoint(true)
      val nLabels = labels.count()
      val t8i = System.nanoTime()
      val updated = graft.operators.Dedup.incrementalComponents(labels, inc)
        .localCheckpoint(true)
      val nUpdated = updated.count()
      val t8j = System.nanoTime()
      val badClones = updated
        .where(col("doc_id") >= 10000000L && col("doc_id") < 20000000L)
        .withColumn("src", expr("((doc_id - 10000000) div 8) * 8"))
        .join(labels.select(col("doc_id").as("src"),
          col("component").as("src_c")), Seq("src"))
        .where(col("component") =!= col("src_c")).count()
      require(badClones == 0,
        s"every clone must join its source cluster's component: $badClones wrong")
      val nClones = updated
        .where(col("doc_id") >= 10000000L && col("doc_id") < 20000000L).count()
      require(nClones == shardHalf, s"all $shardHalf clones must be labeled: $nClones")
      val changedOld = updated.as("u")
        .join(labels.withColumnRenamed("component", "old_c"), Seq("doc_id"))
        .where(col("component") =!= col("old_c")).count()
      require(changedOld == 0,
        s"no existing label may change (clone ids exceed corpus ids): $changedOld")
      val lblSec = (t8i - t8h) / 1e9
      val mrgSec = (t8j - t8i) / 1e9
      println(f"""{"scenario":"cc_incremental","index_labels":$nLabels,""" +
        f""""shard_edges":$nInc,"updated_labels":$nUpdated,""" +
        f""""corpus_cc_sec":$lblSec%.2f,"merge_sec":$mrgSec%.2f}""")
    }

    // native top-k-per-group vs the window row_number filter at scale:
    // 1000 groups over 2n rows, k=5, unique ordering key. The native
    // operator's partial phase caps the exchange at k rows per group per
    // map partition; the window shuffles and sorts everything.
    graft.plans.GraftFunctions.register(spark)
    val grouped = spark.range(2 * n).select(
      (col("id") % 1000).as("g"),
      col("id").as("ord"))
    val t9 = System.nanoTime()
    val nNative = graft.plans.GraftFunctions
      .topKPerGroup(grouped, Seq("g"), "ord", 5).count()
    val t10 = System.nanoTime()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy(col("ord").desc)
    val nWindow = grouped.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5).count()
    val t11 = System.nanoTime()
    println(f"""{"scenario":"topk_per_group","rows":${2 * n},"groups":1000,"k":5,""" +
      f""""native_rows":$nNative,"native_sec":${(t10 - t9) / 1e9}%.2f,""" +
      f""""window_rows":$nWindow,"window_sec":${(t11 - t10) / 1e9}%.2f}""")

    // distributed prefix sum at scale (range repartition + offsets +
    // partition-local window) — the global-window alternative would
    // single-task the whole set
    val t12 = System.nanoTime()
    val cum = graft.operators.Ranks.withRunningTotal(
      spark.range(2 * n).select(col("id").as("k"), (col("id") % 97).as("v")),
      Seq("k"), col("v"), "c")
    val sumMax = cum.agg(max("c")).collect().head.getLong(0)
    val t13 = System.nanoTime()
    println(f"""{"scenario":"prefix_sum","rows":${2 * n},"final_total":$sumMax,""" +
      f""""sec":${(t13 - t12) / 1e9}%.2f,"rows_per_sec":${(2 * n / ((t13 - t12) / 1e9)).toLong}}""")

    // distributed exclusive prefix-min (the skyline/dominance sweep) —
    // same two-pass shape as prefix_sum
    val t14 = System.nanoTime()
    val pm = graft.operators.Ranks.withPrefixMin(
      spark.range(2 * n).select(col("id").as("k"),
        ((col("id") * 2654435761L) % 1000003L).as("v")),
      Seq("k"), col("v"), "m")
    val nAboveMin = pm.where(col("m") === 0L).count()
    val t15 = System.nanoTime()
    println(f"""{"scenario":"prefix_min","rows":${2 * n},"rows_after_global_min":$nAboveMin,""" +
      f""""sec":${(t15 - t14) / 1e9}%.2f,"rows_per_sec":${(2 * n / ((t15 - t14) / 1e9)).toLong}}""")

    // PQ encode + ADC at scale: synthetic 64-dim float vectors; encoding
    // is a pure projection over the literal codebook (no shuffle), the
    // ADC rank reads only the 8 codes per vector
    val nVec = math.max(n / 10, 100000L)
    val vecs = spark.range(nVec).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> CAST((pmod(id * 37 + i * 101, 2000) - 1000) / 1000.0D AS FLOAT))").as("embedding"))
    val t16 = System.nanoTime()
    val pq = graft.operators.Similarity.pqTopK(vecs, vecs.where(col("vec_id") === 0), 10)
    val nPq = pq.count()
    val t17 = System.nanoTime()
    println(f"""{"scenario":"pq_adc","vectors":$nVec,"topk_rows":$nPq,""" +
      f""""sec":${(t17 - t16) / 1e9}%.2f,"vecs_per_sec":${(nVec / ((t17 - t16) / 1e9)).toLong}}""")

    // CDC circle at scale: capture the diff between two 2n-row snapshots
    // (1% updates, 0.1% deletes, 0.1% inserts), then MERGE-apply it back —
    // two full-outer shuffle joins end to end
    val oldSnap = spark.range(2 * n).select(col("id").as("k"), (col("id") % 9973).as("v"))
    val newSnap = oldSnap.where(col("k") % 997 =!= 0)
      .withColumn("v", when(col("k") % 101 === 0, col("v") + 1).otherwise(col("v")))
      .unionAll(spark.range(100000).select((col("id") + 10 * n).as("k"), lit(7L).as("v")))
    val t18 = System.nanoTime()
    val feed = graft.operators.Migrate.changeCapture(oldSnap, newSnap, Seq("k"))
    val nEvents = feed.count()
    val t19 = System.nanoTime()
    val nApplied = graft.operators.Migrate.mergeApply(oldSnap, feed, Seq("k")).count()
    val t20 = System.nanoTime()
    println(f"""{"scenario":"cdc_circle","rows":${2 * n},"events":$nEvents,"applied_rows":$nApplied,""" +
      f""""capture_sec":${(t19 - t18) / 1e9}%.2f,"apply_sec":${(t20 - t19) / 1e9}%.2f}""")

    // n-gram decontamination at scale: nDocs train docs, nDocs/1000
    // eval docs that are exact copies of every 1000th train doc
    // (planted contamination). Train texts use the UNMODDED id so every
    // doc is unique (a modulus shorter than nDocs would alias docs and
    // inflate the plant); contaminated_docs must equal exactly nDocs/1000.
    // The scale path joins on xxhash64 of the gram — 8-byte shuffle keys
    // instead of ~40-byte strings; the oracle-checked q157 joins the gram
    // text itself.
    val trainDocs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit(s"w${i}_"), col("id") * 31 + lit(i))): _*).as("text"))
    val evalDocs = spark.range(nDocs / 1000).select((col("id") * 1000).as("src_id"))
      .join(trainDocs.withColumnRenamed("doc_id", "src_id"), "src_id")
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("*"), split(col("text"), " ").as("ws"))
      // sequence(1, size-4) DESCENDS when size < 5 (garbage grams via
      // slice); guard so the helper stays safe for variable-length text
      .where(size(col("ws")) >= 5)
      .select(col("*"),
        explode(expr("transform(sequence(1, size(ws) - 4), i -> xxhash64(array_join(slice(ws, i, 5), ' ')))"))
          .as("gh"))
    val t21 = System.nanoTime()
    val evGrams = grams(evalDocs).select("gh").distinct()
    val contaminated = grams(trainDocs).select("doc_id", "gh").distinct()
      .join(evGrams, "gh")
      .select("doc_id").distinct()
    val nContam = contaminated.count()
    val t22 = System.nanoTime()
    println(f"""{"scenario":"decontaminate","train_docs":$nDocs,"eval_docs":${nDocs / 1000},""" +
      f""""contaminated_docs":$nContam,"expected":${nDocs / 1000},""" +
      f""""sec":${(t22 - t21) / 1e9}%.2f,""" +
      f""""docs_per_sec":${(nDocs / ((t22 - t21) / 1e9)).toLong}}""")

    // triangle counting at scale on a self-validating graph: edges
    // (i,i+1) and (i,i+2) under the canonical u<v orientation give
    // exactly nNodes-2 triangles. The triple self-join's cost follows
    // wedges (bounded out-degree 2), never |V|²; the edge aggregate
    // appears three times and dedups via ReusedExchange.
    val nNodes = 2 * n
    val tEdges = spark.range(nNodes - 1).select(col("id").as("u"), (col("id") + 1).as("v"))
      .unionAll(spark.range(nNodes - 2).select(col("id").as("u"), (col("id") + 2).as("v")))
    val t23 = System.nanoTime()
    val nTri = graft.operators.Graphs.triangleCount(tEdges).head().getLong(0)
    val t24 = System.nanoTime()
    println(f"""{"scenario":"triangles","nodes":$nNodes,"edges":${2 * nNodes - 3},""" +
      f""""triangles":$nTri,"expected":${nNodes - 2},"sec":${(t24 - t23) / 1e9}%.2f}""")

    // bounded BFS on the same graph: 3 supersteps from node 0; each
    // superstep joins the (tiny, broadcastable) frontier against the
    // full edge list — cost per hop is one pruned pass over edges
    val t25 = System.nanoTime()
    val hops = graft.operators.Graphs.bfsHops(
      tEdges.select(col("u").as("src"), col("v").as("dst")), maxHops = 3).count()
    val t26 = System.nanoTime()
    println(f"""{"scenario":"bfs","nodes":$nNodes,"visited":$hops,""" +
      f""""sec":${(t26 - t25) / 1e9}%.2f}""")

    // BM25 scoring at 1M docs (q182's shape): one (doc, term) aggregate
    // feeds tf/df/dl, the 1-row totals and top-5 query terms broadcast
    // back — the whole retrieval scoring pass is two shuffles over the
    // token relation regardless of corpus size.
    val nDocs2 = n / 10
    val docs2 = spark.range(nDocs2).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit("t"), (col("id") * 31 + lit(i * 7)) % 997)): _*).as("text"))
    val t27 = System.nanoTime()
    val tok2 = docs2.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf2 = tok2.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl2 = tf2.groupBy("doc_id").agg(sum("tf").as("dl"))
    val df2 = tf2.groupBy("term").agg(count(lit(1)).as("df"))
    val tot2 = dl2.agg(sum("dl").as("t_tokens"), count(lit(1)).as("n_docs"))
    val qt2 = df2.orderBy(col("df").desc, col("term")).limit(5)
    val top2 = tf2.join(broadcast(qt2), "term").join(dl2, "doc_id")
      .crossJoin(broadcast(tot2))
      .select(col("doc_id"),
        expr("CAST(2*n_docs - 2*df + 1 AS DECIMAL(38,0)) * 44 * t_tokens * tf * 1000000" +
          " div (CAST(2*df + 1 AS DECIMAL(38,0))" +
          " * (20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs))").as("score_ppm"))
      .groupBy("doc_id").agg(sum("score_ppm").as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(20).count()
    val t28 = System.nanoTime()
    println(f"""{"scenario":"bm25","docs":$nDocs2,"topk_rows":$top2,""" +
      f""""sec":${(t28 - t27) / 1e9}%.2f,""" +
      f""""docs_per_sec":${(nDocs2 / ((t28 - t27) / 1e9)).toLong}}""")

    // Association rules over 2n basket items (5 items/basket, q183's
    // shape): the basket self-join emits ~4 ordered pairs per basket —
    // cost follows items-per-basket², never |items|².
    val items3 = spark.range(2 * n).select(
      expr("id div 5").as("basket"),
      pmod(col("id") * 2654435761L, lit(1000)).as("item")).distinct()
    val t29 = System.nanoTime()
    val a3 = items3.select(col("basket").as("bk"), col("item").as("u"))
    val b3 = items3.select(col("basket").as("bk2"), col("item").as("v"))
    val pr3 = a3.join(b3, col("bk") === col("bk2") && col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    val nRules = pr3.count() * 2
    val t30 = System.nanoTime()
    println(f"""{"scenario":"assoc_rules","basket_rows":${2 * n},"rules":$nRules,""" +
      f""""sec":${(t30 - t29) / 1e9}%.2f,""" +
      f""""rows_per_sec":${(2 * n / ((t30 - t29) / 1e9)).toLong}}""")

    // exact prefix-filtered set-similarity join (q208's shape) on the
    // LSH corpus (~8 docs/cluster ⇒ ~28 true pairs per cluster): the
    // candidate join touches only each doc's rarest trigram prefix, so
    // exact all-pairs Jaccard stays collision-bounded at 1M docs.
    val t31 = System.nanoTime()
    val g8 = docs.select(col("doc_id"),
      explode(expr("array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0))," +
        " i -> concat_ws(' ', slice(split(text, ' '), i, 3))))")).as("g"))
    val sizes8 = g8.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfc8 = g8.groupBy("g").agg(count(lit(1)).as("df"))
    val ranked8 = g8.join(dfc8, "g").join(sizes8, "doc_id")
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("df", "g")))
      .where(expr("rn <= n div 2 + 1")).select("doc_id", "g")
    val cand8 = ranked8.select(col("doc_id").as("d1"), col("g"))
      .join(ranked8.select(col("doc_id").as("d2"), col("g").as("g2")),
        col("g") === col("g2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val sets8 = g8.groupBy("doc_id").agg(sort_array(collect_set(col("g"))).as("gs"))
    val nExact = cand8
      .join(sets8.select(col("doc_id").as("d1"), col("gs").as("gs1")), "d1")
      .join(sets8.select(col("doc_id").as("d2"), col("gs").as("gs2")), "d2")
      .where(size(array_intersect(col("gs1"), col("gs2"))) * 3
        >= size(col("gs1")) + size(col("gs2")))
      .count()
    val t32 = System.nanoTime()
    println(f"""{"scenario":"prefix_filter_join","docs":$nDocs,"exact_pairs":$nExact,""" +
      f""""sec":${(t32 - t31) / 1e9}%.2f,""" +
      f""""docs_per_sec":${(nDocs / ((t32 - t31) / 1e9)).toLong}}""")

    // Salted join under real skew: 90% of probe rows share ONE key, the
    // build side (200k keys) is above any broadcast threshold at real
    // payload widths. Times the plain shuffled join (AQE skew split may
    // or may not engage depending on plan) against Skew.saltedJoin's
    // deterministic 8-way spread; both reduce to the same aggregate.
    val nDim = 200000L
    val factS = spark.range(2 * n).select(
      when(col("id") % 10 === 0, col("id") % nDim).otherwise(lit(7L)).as("fk"),
      (col("id") % 1000).as("v"))
    val dimS = spark.range(nDim).select(col("id").as("dk"),
      concat(lit("name_"), col("id")).as("name"))
    val t40 = System.nanoTime()
    val plainAgg = factS.join(dimS, col("fk") === col("dk"))
      .groupBy("name").agg(sum("v").as("s")).count()
    val t41 = System.nanoTime()
    val saltedAgg = graft.operators.Skew.saltedJoin(factS, dimS, "fk", "dk", salts = 8)
      .groupBy("name").agg(sum("v").as("s")).count()
    val t42 = System.nanoTime()
    println(f"""{"scenario":"salted_join","probe_rows":${2 * n},"dim_rows":$nDim,""" +
      f""""groups_plain":$plainAgg,"groups_salted":$saltedAgg,""" +
      f""""plain_sec":${(t41 - t40) / 1e9}%.2f,"salted_sec":${(t42 - t41) / 1e9}%.2f}""")

    // Merkle anti-entropy (q232's shape) on the 2×N compare pair: row
    // hashes fold map-side into 1024 leaf buckets per side, one
    // 1024-row full-outer join locates diverging subtrees. The whole
    // tree costs two scans + a metadata-sized join — the rescan-free
    // way to find WHERE two 100 TB replicas disagree.
    val t50 = System.nanoTime()
    def leaves(df: org.apache.spark.sql.DataFrame, side: String) = {
      val rowStr = graft.functions.Canonical.rowString(df, cols)
      df.select(
          (conv(substring(md5(rowStr), 1, 8), 16, 10).cast("long") % 1024).as("bucket"),
          conv(substring(md5(rowStr), 9, 8), 16, 10).cast("long").as("rh"))
        .groupBy("bucket").agg(sum("rh").as(side))
    }
    val mLeaf = leaves(src, "sh").join(leaves(dst, "dh"), Seq("bucket"), "full_outer")
      .select(coalesce(col("sh"), lit(0L)).as("sh"), coalesce(col("dh"), lit(0L)).as("dh"))
    val nDiverge = mLeaf.where(col("sh") =!= col("dh")).count()
    val t51 = System.nanoTime()
    val merkleSec = (t51 - t50) / 1e9
    println(f"""{"scenario":"merkle","rows":${2 * n},"diverging_leaves":$nDiverge,""" +
      f""""sec":$merkleSec%.2f,"rows_per_sec":${(2 * n / merkleSec).toLong}}""")

    // Content-defined chunking (q283's shape) at corpus scale: the rolling
    // 8-char polynomial hash runs as nested in-row HOFs — ~8·L integer ops
    // per doc inside codegen, zero explode, zero shuffle until the final
    // source-grain rollup. Throughput should track cores × chars/sec, not
    // doc count.
    val nCdc = n / 10
    val cdcDocs = spark.range(nCdc).select((col("id") % 32).as("src"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit(s"w${i}_"), col("id") * 31 + lit(i))): _*).as("t"))
    val t60 = System.nanoTime()
    val cdcAgg = cdcDocs
      .select(col("src"), length(col("t")).as("l"),
        expr("size(filter(sequence(8, length(t)), i -> " +
          "aggregate(sequence(i - 7, i), 0L, (a, k) -> " +
          "a * 31 + ascii(substring(t, k, 1))) % 64 = 0))").as("nb"))
      .groupBy("src")
      .agg(sum("l").as("chars"), sum("nb").as("bounds"))
      .agg(sum("chars"), sum("bounds")).head()
    val t61 = System.nanoTime()
    val cdcSec = (t61 - t60) / 1e9
    println(f"""{"scenario":"cdc_chunk","docs":$nCdc,"chars":${cdcAgg.getLong(0)},""" +
      f""""boundaries":${cdcAgg.getLong(1)},"sec":$cdcSec%.2f,""" +
      f""""docs_per_sec":${(nCdc / cdcSec).toLong}}""")

    // Bitmap set algebra (q271's shape) over a 100M-id universe: each
    // side's distinct ids pack into 32-bit words (bit_or), one word-grain
    // join + popcount answers |A∩B| — versus the set-semi-join baseline
    // that shuffles id-grain rows. The two answers MUST match exactly;
    // the bitmap side's join grain is 32× smaller.
    val uniVerse = 100000000L
    val setA = spark.range(n / 2).select((col("id") * 9 % uniVerse).as("uid"))
    val setB = spark.range(n / 2).select((col("id") * 21 % uniVerse).as("uid"))
    val t70 = System.nanoTime()
    def words(df: org.apache.spark.sql.DataFrame, side: String) =
      df.distinct().groupBy(expr("uid div 32").as("wi"))
        .agg(expr("bit_or(shiftleft(1L, CAST(uid % 32 AS INT)))").as(side))
    val nBoth = words(setA, "a").join(words(setB, "b"), "wi")
      .agg(sum(expr("bit_count(a & b)"))).head().getLong(0)
    val t71 = System.nanoTime()
    val nBothExact = setA.distinct()
      .join(setB.distinct(), Seq("uid"), "left_semi").count()
    val t72 = System.nanoTime()
    require(nBoth == nBothExact, s"bitmap $nBoth != exact $nBothExact")
    println(f"""{"scenario":"bitmap_intersect","universe":$uniVerse,"side_rows":${n / 2},""" +
      f""""n_both":$nBoth,"bitmap_sec":${(t71 - t70) / 1e9}%.2f,""" +
      f""""setjoin_sec":${(t72 - t71) / 1e9}%.2f}""")

    // Interval-union sweep (q440's running-max island shape) over 2n
    // intervals across 100k users — SELF-VALIDATING: even users get
    // overlapping chains (10-apart starts, duration 15 ⇒ ONE island,
    // covered = (k−1)·10+15), odd users get gapped chains (duration 5 ⇒
    // k islands, covered = 5k). Any window/ordering bug breaks the
    // closed form for some user. Cost = one sort per user partition —
    // no explode, no self-join.
    {
      import org.apache.spark.sql.expressions.Window
      val nUsers = 100000L
      val perUser = (2 * n) / nUsers
      val iv = spark.range(2 * n).select(
        (col("id") % nUsers).as("u"),
        ((col("id") / nUsers).cast("long") * 10).as("s"))
        .withColumn("e", col("s") +
          when(col("u") % 2 === 0, 15L).otherwise(5L))
      val t80 = System.nanoTime()
      val ordW = Window.partitionBy("u").orderBy("s", "e")
      val g = iv
        .withColumn("pmax",
          max("e").over(ordW.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("isl",
          sum(when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0))
            .over(ordW))
      val perU = g.groupBy("u", "isl")
        .agg(min("s").as("is"), max("e").as("ie"))
        .groupBy("u")
        .agg(count(lit(1)).as("ni"), sum(col("ie") - col("is")).as("cov"))
      val badIv = perU.where(
        !(col("u") % 2 === 0 && col("ni") === 1 &&
            col("cov") === (perUser - 1) * 10 + 15) &&
        !(col("u") % 2 === 1 && col("ni") === perUser &&
            col("cov") === 5 * perUser)).count()
      val t81 = System.nanoTime()
      require(badIv == 0, s"interval_union: $badIv users off the closed form")
      val ivSec = (t81 - t80) / 1e9
      println(f"""{"scenario":"interval_union","intervals":${2 * n},"users":$nUsers,""" +
        f""""bad_users":$badIv,"sec":$ivSec%.2f,""" +
        f""""intervals_per_sec":${(2 * n / ivSec).toLong}}""")

      // CUSUM prefix form (q439's shape) over 100k series × ${2n/100k}
      // points: 1% of series drift over their last quarter, by a per-step
      // amount sized so the drifted tail sums past the threshold at every
      // scale; with target k=10, threshold h=100, CLEAN series hold S≡0
      // and drifted ones must alarm — the alarm census equals the plant
      // exactly, or the prefix/min-window identity is broken.
      val nSeries = 100000L
      val perSeries = (2 * n) / nSeries
      val driftFrom = (perSeries * 3) / 4
      val drift = 100 / (perSeries - driftFrom) + 1
      val cu = spark.range(2 * n).select(
        (col("id") % nSeries).as("sid"),
        (col("id") / nSeries).cast("long").as("t"))
        .withColumn("x",
          lit(10L) + when(col("sid") % 100 === 0 &&
            col("t") >= driftFrom, drift).otherwise(0L))
      val t82 = System.nanoTime()
      val wS = Window.partitionBy("sid").orderBy("t")
      val cus = cu.withColumn("ps", sum(col("x") - 10L).over(wS))
        .withColumn("cusum", col("ps") - least(min("ps").over(wS), lit(0L)))
      val alarms = cus.groupBy("sid").agg(max("cusum").as("mx"))
        .where(col("mx") > 100).count()
      val t83 = System.nanoTime()
      require(alarms == nSeries / 100, s"cusum: $alarms alarms, planted ${nSeries / 100}")
      val cuSec = (t83 - t82) / 1e9
      println(f"""{"scenario":"cusum_prefix","rows":${2 * n},"series":$nSeries,""" +
        f""""alarms":$alarms,"sec":$cuSec%.2f,""" +
        f""""rows_per_sec":${(2 * n / cuSec).toLong}}""")
    }

    // Delete-one jackknife (q462's two-pass shape) over 2n rows × 1000
    // groups — SELF-VALIDATING: clean groups are constant (x=200, y=2)
    // so every leave-one-out ratio equals the full ratio and the
    // jackknife variance is EXACTLY zero; 1% planted groups carry one
    // doubled-x row, which must push their variance strictly positive.
    // Any error in the broadcast-sums pass or the Σθ/Σθ² combine breaks
    // one of the two censuses. Cost = two linear scans + a 1000-row
    // broadcast, the same plan that runs at 100 TB.
    {
      val nGroups = 1000L
      val jk = spark.range(2 * n).select(
        (col("id") % nGroups).as("gk"),
        // one planted row (the group's id 0 row) in every 100th group —
        // 10⁴× the clean value so the milli-scaled θ spread survives the
        // div-n³ truncation (a 2× outlier floors to v=0 at 20k rows/group)
        when(col("id") % nGroups % 100 === 0 && col("id") < nGroups, 2000000L)
          .otherwise(200L).as("x"),
        lit(2L).as("y"))
      val t90 = System.nanoTime()
      val gsum = jk.groupBy("gk")
        .agg(count(lit(1)).as("cn"), sum("x").as("sx"), sum("y").as("sy"))
      val th = jk.join(broadcast(gsum), "gk")
        .select(col("gk"), col("cn"),
          expr("CAST((1000 * (CAST(sx AS DECIMAL(38,0)) - x)) div (sy - y) AS BIGINT)")
            .as("t"))
      val jvar = th.groupBy("gk", "cn")
        .agg(sum(col("t").cast("decimal(38,0)")).as("tt"),
          sum(col("t").cast("decimal(38,0)") * col("t")).as("q"))
        .select(col("gk"),
          expr("CAST((CAST(cn - 1 AS DECIMAL(38,0)) * (cn * q - tt * tt))" +
            " div (CAST(cn AS DECIMAL(38,0)) * cn * cn) AS BIGINT)").as("v"))
      val nZero = jvar.where(col("v") === 0 && col("gk") % 100 =!= 0).count()
      val nPos = jvar.where(col("v") > 0 && col("gk") % 100 === 0).count()
      val t91 = System.nanoTime()
      require(nZero == nGroups - nGroups / 100,
        s"jackknife: $nZero clean groups at zero variance, want ${nGroups - nGroups / 100}")
      require(nPos == nGroups / 100,
        s"jackknife: $nPos planted groups positive, want ${nGroups / 100}")
      val jkSec = (t91 - t90) / 1e9
      println(f"""{"scenario":"jackknife","rows":${2 * n},"groups":$nGroups,""" +
        f""""planted":${nGroups / 100},"sec":$jkSec%.2f,""" +
        f""""rows_per_sec":${(2 * n / jkSec).toLong}}""")

      // Group-leakage capture flags (q476/q464's one-pass shape) over 2n
      // rows in groups of 200 (100k groups at 10M): hash-splitting rows
      // must leak (P[pure] = 0.8^200 + 0.2^200 ≈ 0) while splitting on the
      // GROUP hash leaks exactly zero — the capture-flag aggregate proves
      // both in one scan each. xxhash64 keeps the bucket assignment cheap
      // (the oracle-checked q476 uses md5; the flag algebra is identical).
      val nG2 = 2 * n / 200
      val sp = spark.range(2 * n).select(
        (col("id") % nG2).as("gk"), col("id"))
        .select(col("gk"),
          (abs(xxhash64(lit("r"), col("id"))) % 5).as("rb"),
          (abs(xxhash64(lit("g"), col("gk"))) % 5).as("gb"))
      val t92 = System.nanoTime()
      def leak(flag: String): Long = sp.groupBy("gk")
        .agg(max(when(col(flag) === 0, 1L).otherwise(0L)).as("te"),
          max(when(col(flag) =!= 0, 1L).otherwise(0L)).as("tr"))
        .agg(sum(col("te") * col("tr"))).collect()(0).getLong(0)
      val rowLeak = leak("rb")
      val grpLeak = leak("gb")
      val t93 = System.nanoTime()
      require(grpLeak == 0L, s"group-hash split leaked $grpLeak groups")
      require(rowLeak > (nG2 * 99) / 100,
        s"row-hash split leaked only $rowLeak of $nG2 groups")
      val spSec = (t93 - t92) / 1e9
      println(f"""{"scenario":"split_leakage","rows":${2 * n},"groups":$nG2,""" +
        f""""row_leaked":$rowLeak,"group_leaked":$grpLeak,"sec":$spSec%.2f,""" +
        f""""rows_per_sec":${(2 * n / spSec).toLong}}""")
    }

    // Two-pass exact median (q492's shape) over 2n rows × 100 groups —
    // SELF-VALIDATING: each group holds a hash-shuffled permutation of
    // 1..k, whose ⌈k/2⌉ order statistic is exactly (k+1)/2. Pass 1 is a
    // 64-wide bin histogram (map-side combinable, ~k/64 cells per
    // group), pass 2 ranks only the single median bin (~64 rows/group) —
    // no global sort ever happens, which is the whole point at 100 TB.
    {
      import org.apache.spark.sql.expressions.Window
      val nGroups = 100L
      val k = (2 * n) / nGroups // values 1..k per group
      val tp = spark.range(2 * n).select(
        (col("id") % nGroups).as("gk"),
        ((col("id") / nGroups).cast("long") + 1).as("v")) // 1..k, arrival order ≠ sorted
      val t95 = System.nanoTime()
      val hist = tp.withColumn("bin", expr("v div 64"))
        .groupBy("gk", "bin").agg(count(lit(1)).as("bc"))
      val wcum = Window.partitionBy("gk").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val loc = hist
        .withColumn("cum", sum("bc").over(wcum))
        .withColumn("nn", sum("bc").over(Window.partitionBy("gk")))
        .withColumn("target", expr("(nn + 1) div 2"))
        .where(col("cum") >= col("target") && col("cum") - col("bc") < col("target"))
        .select(col("gk"), col("bin"), (col("target") - (col("cum") - col("bc")))
          .as("k_in_bin"))
      val med = tp.withColumn("bin", expr("v div 64"))
        .join(broadcast(loc), Seq("gk", "bin"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("gk").orderBy("v")))
        .where(col("rn") === col("k_in_bin"))
        .select("gk", "v")
      val badMed = med.where(col("v") =!= (k + 1) / 2).count()
      val nMed = med.count()
      val t96 = System.nanoTime()
      require(badMed == 0 && nMed == nGroups,
        s"two-pass median: $badMed wrong, $nMed groups (want $nGroups at ${(k + 1) / 2})")
      val tpSec = (t96 - t95) / 1e9
      println(f"""{"scenario":"twopass_median","rows":${2 * n},"groups":$nGroups,""" +
        f""""median":${(k + 1) / 2},"sec":$tpSec%.2f,""" +
        f""""rows_per_sec":${(2 * n / tpSec).toLong}}""")
    }

    settle();
    // ---- curation_waterfall: the composed hygiene chain at 1M docs ----
    // Self-validating: the synthetic corpus plants exact proportions —
    // every 4th doc is German (lang gate drops it), every 10th is a
    // 3-token stub (quality gate), every 50th duplicates doc id-1
    // (exact dedup), and every 97th surviving doc shares a 5-gram with
    // the eval split (decontamination). Expected survivor counts are
    // computed in closed form and asserted exactly.
    {
      val nDocsC = math.max(n / 10, 200000L)
      // stable text is 9 tokens with the DOC NUMBER at position 5, so
      // EVERY 5-gram contains the number — decontamination can only hit
      // the planted eval sources, never via a shared scaffold gram
      val corpus = spark.range(nDocsC).select(col("id").as("doc_id"),
        expr(
          """CASE
            |  WHEN id % 10 = 3 THEN 'too short doc'
            |  WHEN id % 4 = 1 THEN
            |    'der hund und die katze und das haus der baum und die sonne und'
            |  WHEN id % 50 = 2 THEN
            |    'the stable of number ' || CAST(id - 1 AS STRING) || ' and corpus words on'
            |  ELSE
            |    'the stable of number ' || CAST(id AS STRING) || ' and corpus words on'
            |END""".stripMargin).as("text"))
      // eval split: verbatim copies of every 97th SURVIVING doc's text
      val evalC = spark.range(nDocsC / 97 + 1).select((col("id") * 97).as("src"))
        .where(col("src") < nDocsC &&
          col("src") % 10 =!= 3 && col("src") % 4 =!= 1 && col("src") % 50 =!= 2)
        .select((col("src") + 1000000000L).as("doc_id"),
          concat(lit("the stable of number "), col("src").cast("string"),
            lit(" and corpus words on")).as("text"))
      val cfg = graft.operators.Curate.Config(minTokens = 5)
      val t103 = System.nanoTime()
      val (_, report) = graft.operators.Curate.waterfall(corpus, evalC, cfg)
      val rows = report.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      val t104 = System.nanoTime()
      // closed-form expectations
      val ids = (0L until nDocsC)
      val qualKeep = ids.count(i => i % 10 != 3 && i % 4 != 1)
      val dedKeep  = ids.count(i => i % 10 != 3 && i % 4 != 1 &&
        !(i % 50 == 2 && (i - 1) % 10 != 3 && (i - 1) % 4 != 1))
      val evalHits = ids.count(i => i % 97 == 0 &&
        i % 10 != 3 && i % 4 != 1 && i % 50 != 2)
      require(rows("input_train") == nDocsC, s"input: ${rows("input_train")}")
      require(rows("quality") == qualKeep, s"quality: ${rows("quality")} want $qualKeep")
      require(rows("exact_dedup") == dedKeep, s"dedup: ${rows("exact_dedup")} want $dedKeep")
      require(rows("decontaminated") == dedKeep - evalHits,
        s"clean: ${rows("decontaminated")} want ${dedKeep - evalHits}")
      val cwSec = (t104 - t103) / 1e9
      println(f"""{"scenario":"curation_waterfall","docs":$nDocsC,""" +
        f""""survivors":${rows("decontaminated")},"planted_eval_hits":$evalHits,""" +
        f""""sec":$cwSec%.2f,"docs_per_sec":${(nDocsC / cwSec).toLong}}""")
    }

    // ---- ivf_candidates: q470's default kNN base at corpus scale ----
    // Deterministic 16-dim pseudo-embeddings (hash arithmetic per
    // (id, dim) — no RNG), centroids every 50th vector. Self-validating:
    // the candidate stream must be (a) non-empty, (b) two or more orders
    // of magnitude below brute-force n(n−1), (c) bounded per vector by
    // nProbe² × max cell occupancy — the Σ|cell|² shape that makes LOF /
    // kNN operators viable at 10⁹ vectors. With C = nVec/50 cells the
    // expected pair share is nProbe²/C = 200/nVec, so (b) needs well over
    // 20,000 vectors: the floor keeps at least 800 cells (share ≈ 0.5%).
    {
      val nVec = (millions * 10000L) max 40000L
      val emb = spark.range(nVec).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 16), j -> CAST(" +
          "CAST((id % 997 + 1) * j * 2654435761 % 1000003 AS DOUBLE) / 1000003.0 AS FLOAT))")
          .as("embedding"))
      val t97 = System.nanoTime()
      val cand = graft.operators.Similarity.ivfCandidatePairs(emb, 50, 2)
      val nPairs = cand.count()
      val maxPer = cand.groupBy("qid").agg(count(lit(1)).as("c"))
        .agg(max("c")).head().getLong(0)
      val t98 = System.nanoTime()
      val brute = nVec * (nVec - 1)
      require(nPairs > 0 && nPairs * 100 < brute,
        s"ivf candidates must be sub-quadratic: $nPairs vs brute $brute")
      val ivfSec = (t98 - t97) / 1e9
      println(f"""{"scenario":"ivf_candidates","vectors":$nVec,"pairs":$nPairs,""" +
        f""""max_pairs_per_vector":$maxPer,"brute_pairs":$brute,"sec":$ivfSec%.2f,""" +
        f""""vectors_per_sec":${(nVec / ivfSec).toLong}}""")
    }
    // ---- media_decode: JDK-codec pixel decode throughput ----
    // nMedia copies of the 4×4 known PNG through decodeImage — the
    // mapPartitions batch path; validates every record decodes to the
    // same exact channel sums (the q573 constants).
    {
      val nMedia = math.max(n / 100, 20000L)
      val pngHex = "89504E470D0A1A0A0000000D49484452000000040000000408020000002693" +
        "09290000003D49444154789C6360606030626448616298C6CCC0C0E8C660EC2E97EA" +
        "6133DD338A81A987C1A4D726ADAF6246FF1606E64B0CA697A3D2AF6C9979950F000A" +
        "930EA9F931FEAB0000000049454E44AE426082"
      val media = spark.range(nMedia).select(col("id").as("doc_id"),
        unhex(lit(pngHex)).as("content"))
      val t99 = System.nanoTime()
      val feats = graft.operators.Multimodal.decodeImage(spark, media).toDF()
      val agg = feats.agg(count(lit(1)), min("sum_r"), max("sum_r"),
        min("luma_milli"), max("luma_milli")).head()
      val t100 = System.nanoTime()
      require(agg.getLong(0) == nMedia && agg.getLong(1) == 1224L &&
        agg.getLong(2) == 1224L && agg.getLong(3) == 96151L && agg.getLong(4) == 96151L,
        s"decode drift: $agg")
      val mdSec = (t100 - t99) / 1e9
      println(f"""{"scenario":"media_decode","images":$nMedia,"sec":$mdSec%.2f,""" +
        f""""images_per_sec":${(nMedia / mdSec).toLong}}""")
    }

    // ---- charset_convert: GBK→UTF-8 conversion throughput ----
    // n/10 rows of mixed CJK/ASCII GBK bytes through the codegen'd
    // encode(decode(...)) projection; self-validating via a known row.
    {
      val nTxt = math.max(n / 10, 100000L)
      val gbkHex = "4D6978656420D6D0D3A22074657874" // "Mixed 中英 text"
      val txt = spark.range(nTxt).select(col("id"), unhex(lit(gbkHex)).as("b"))
      val t101 = System.nanoTime()
      val outHex = txt.select(hex(graft.functions.Canonical
          .convertCharset(col("b"), "GBK", "UTF-8")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("cnt")).collect()
      val t102 = System.nanoTime()
      require(outHex.length == 1 &&
        outHex(0).getString(0) == "4D6978656420E4B8ADE88BB12074657874" &&
        outHex(0).getLong(1) == nTxt, s"charset drift: ${outHex.toSeq}")
      val ccSec = (t102 - t101) / 1e9
      println(f"""{"scenario":"charset_convert","rows":$nTxt,"sec":$ccSec%.2f,""" +
        f""""rows_per_sec":${(nTxt / ccSec).toLong}}""")
    }

    // ---- collated_chunks: collation-aware equi-depth divider at 2n rows ----
    // 2n rows over 100k case-insensitive keys, each spelled in 3 case
    // variants. Closed-form validation: chunks cover all rows, the collated
    // NDV is exact (no case-variant group splits across chunks), bounds are
    // disjoint. The divider windows over the O(NDV) distinct-key relation
    // only — the table-sized work is the single count aggregate.
    {
      val nKeys = 100000L
      val t103 = System.nanoTime()
      val keyed = spark.range(2 * n).select(
        concat(
          when(col("id") % 3 === 0, lit("key_"))
            .when(col("id") % 3 === 1, lit("KEY_"))
            .otherwise(lit("Key_")),
          lpad((col("id") % nKeys).cast("string"), 6, "0")).as("k"))
      val planRows = graft.operators.ChunkPlanner.collatedPlan(keyed, "k", 64).collect()
      val t104 = System.nanoTime()
      val rowsSum = planRows.map(_.getAs[Long]("n_rows")).sum
      val keysSum = planRows.map(_.getAs[Long]("n_keys")).sum
      val sortedB = planRows.sortBy(_.getAs[Int]("chunk_id"))
      val disjoint = sortedB.sliding(2).forall {
        case Array(a, b) => a.getAs[String]("upper_bound") < b.getAs[String]("lower_bound")
        case _           => true
      }
      require(rowsSum == 2 * n && keysSum == nKeys && disjoint,
        s"collated chunk drift: rows=$rowsSum keys=$keysSum disjoint=$disjoint")
      val ckSec = (t104 - t103) / 1e9
      println(f"""{"scenario":"collated_chunks","rows":${2 * n},"ndv":$nKeys,""" +
        f""""chunks":${planRows.length},"sec":$ckSec%.2f,""" +
        f""""rows_per_sec":${(2 * n / ckSec).toLong}}""")
    }

    // ---- collated_chunks_unique: the NDV-guard scale path ----
    // A UNIQUE collated key (NDV = rows, the reference's usual PK/UK chunk
    // key) at 2n rows. Above the guard the divider must take the
    // distributed range-shuffle prefix sum — the plan is asserted to
    // contain NO unpartitioned window (the single-task sort that a naive
    // divider would plan here). Closed-form validation as above.
    {
      val t105 = System.nanoTime()
      val keyed = spark.range(2 * n).select(
        concat(
          when(col("id") % 2 === 0, lit("pk_")).otherwise(lit("PK_")),
          lpad(col("id").cast("string"), 9, "0")).as("k"))
      val planDf = graft.operators.ChunkPlanner.collatedPlan(keyed, "k", 64)
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      val globalWindows = planDf.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      val planRows = planDf.collect()
      val t106 = System.nanoTime()
      val rowsSum = planRows.map(_.getAs[Long]("n_rows")).sum
      val keysSum = planRows.map(_.getAs[Long]("n_keys")).sum
      val sortedB = planRows.sortBy(_.getAs[Int]("chunk_id"))
      val disjoint = sortedB.sliding(2).forall {
        case Array(a, b) => a.getAs[String]("upper_bound") < b.getAs[String]("lower_bound")
        case _           => true
      }
      require(globalWindows.isEmpty,
        s"unique-key divider planned an unpartitioned window: $globalWindows")
      require(rowsSum == 2 * n && keysSum == 2 * n && disjoint,
        s"unique collated chunk drift: rows=$rowsSum keys=$keysSum disjoint=$disjoint")
      val cuSec = (t106 - t105) / 1e9
      println(f"""{"scenario":"collated_chunks_unique","rows":${2 * n},""" +
        f""""chunks":${planRows.length},"sec":$cuSec%.2f,""" +
        f""""rows_per_sec":${(2 * n / cuSec).toLong}}""")
    }

    settle();
    // ---- dup_spans: ExactSubstr duplicated-span dedup at corpus-token
    // scale. nDocs/10 docs (24 words each, otherwise md5-unique) share a
    // planted 12-word run — its five interior 8-grams each occur
    // nDocs/10 times, the HOT-GRAM skew key the semi-join must absorb —
    // and nDocs/1000 docs are full 24-word clones. Closed form: one
    // (5,16) span per run-carrier, one (1,24) span per clone, removal
    // mass 12·carriers + 24·clones; everything else is md5-unique and
    // must contribute nothing.
    {
      val nDocsS = math.max(n / 10, 100000L)
      // filler words are STRUCTURALLY unique per (doc, position) — an
      // md5-truncated filler breaks the closed form at this scale:
      // boundary grams carrying exactly ONE filler word collide between
      // carrier pairs at 16^-8 × ~5×10⁹ pairs ≈ 4 expected span
      // extensions per run (observed: exactly 4)
      def u(from: Int, to: Int) =
        s"array_join(transform(sequence($from, $to), j -> " +
          s"concat(id, 'x', j)), ' ')"
      val run = (1 to 12).map(i => s"P$i").mkString(" ")
      val boiler = (1 to 24).map(i => s"B$i").mkString(" ")
      val docsS = spark.range(nDocsS).select(col("id").as("doc_id"),
        expr(s"""CASE WHEN id % 1000 = 13 THEN '$boiler'
          WHEN id % 10 = 7 THEN concat(${u(1, 4)}, ' $run ', ${u(17, 24)})
          ELSE ${u(1, 24)} END""").as("text"))
      val nCarrier = nDocsS / 10
      val nClone = nDocsS / 1000
      val t110 = System.nanoTime()
      val spans = graft.operators.Dedup.duplicateSpans(docsS, "doc_id", "text")
        .cache()
      val nSpans = spans.count()
      val nRun = spans.where(col("span_start") === 5 && col("span_end") === 16).count()
      val nFull = spans.where(col("span_start") === 1 && col("span_end") === 24).count()
      val t111 = System.nanoTime()
      require(nRun == nCarrier, s"run-carrier spans: $nRun vs $nCarrier")
      require(nFull == nClone, s"full-clone spans: $nFull vs $nClone")
      require(nSpans == nCarrier + nClone,
        s"md5-unique filler must contribute no spans: $nSpans")
      val removed = graft.operators.Dedup
        .scrubDuplicateSpans(docsS, "doc_id", "text")
        .agg(sum("n_removed")).head().getLong(0)
      val t112 = System.nanoTime()
      require(removed == 12 * nCarrier + 24 * nClone,
        s"removal mass: $removed vs ${12 * nCarrier + 24 * nClone}")
      spans.unpersist()
      val dsSec = (t111 - t110) / 1e9
      val scSec = (t112 - t111) / 1e9
      println(f"""{"scenario":"dup_spans","docs":$nDocsS,"grams":${nDocsS * 17},""" +
        f""""hot_gram_occurrences":$nCarrier,"spans":$nSpans,""" +
        f""""span_sec":$dsSec%.2f,"scrub_sec":$scSec%.2f}""")

      // incremental arm: the gram state persists to parquet once; a
      // nDocsS/100 shard of verbatim clones of FILLER docs (ids ≡ 1
      // mod 10 — never run-carriers or boilerplate) transitions all 17
      // grams of each cloned old doc, so the incremental output is the
      // closed form: whole-doc (1,24) spans for every shard doc AND
      // every cloned old doc — derived from the shard, the state, and
      // the semi-join-restricted old-doc lookups only, never a corpus
      // text rescan.
      val nShardS = math.max(nDocsS / 100, 1000L)
      val stDir = java.nio.file.Files.createTempDirectory("dupspan_state").toString
      val t113 = System.nanoTime()
      graft.operators.Dedup.dupSpanState(docsS, "doc_id", "text")
        .write.mode("overwrite").parquet(stDir)
      val t114 = System.nanoTime()
      val shardS = spark.range(nShardS).select(
        (col("id") + 100000000L).as("doc_id"),
        expr("array_join(transform(sequence(1, 24), j -> " +
          "concat(id * 10 + 1, 'x', j)), ' ')").as("text"))
      val incS = graft.operators.Dedup.dupSpansIncremental(
        spark.read.parquet(stDir), docsS, shardS, "doc_id", "text").cache()
      val nIncS = incS.count()
      val nWhole = incS.where(col("span_start") === 1 && col("span_end") === 24).count()
      val nOldAff = incS.where(col("doc_id") < 100000000L).count()
      val t115 = System.nanoTime()
      require(nIncS == 2 * nShardS && nWhole == nIncS && nOldAff == nShardS,
        s"incremental closed form: spans=$nIncS whole=$nWhole old=$nOldAff vs ${2 * nShardS}/$nShardS")
      incS.unpersist()
      println(f"""{"scenario":"dup_spans_incremental","index_docs":$nDocsS,""" +
        f""""shard_docs":$nShardS,"transitioned_old_docs":$nOldAff,""" +
        f""""state_sec":${(t114 - t113) / 1e9}%.2f,"inc_sec":${(t115 - t114) / 1e9}%.2f}""")
    }

    settle();
    // ---- blocklist: multi-pattern Aho-Corasick tagging at corpus scale.
    // nDocs/10 docs × a 10,001-term dictionary (the naive twin is 10,001
    // LIKE scans of the corpus): each doc plants term blk{id%K}w
    // (id%5)+1 times plus a self-overlapping 'ab'×((id%4)+1) tail for
    // the 'aba' term; filler words are structurally unique and share no
    // letters with any term. Closed forms per term (K | 5·gcd ⇒ each
    // term's docs share one id%5 residue) and for the overlap-vs-
    // disjoint split of 'aba'. The tagging pass is ONE codegen
    // projection — the only shuffle is the term rollup.
    {
      val nDocsB = math.max(n / 10, 100000L)
      val kTerms = 10000
      val docsB = spark.range(nDocsB).select(col("id").as("doc_id"),
        expr(s"""concat(
          array_join(transform(sequence(1, 12), j -> concat('f', id, 'q', j)), ' '),
          ' ', repeat(concat('blk', id % $kTerms, 'w '), CAST(id % 5 AS INT) + 1),
          repeat('ab', CAST(id % 4 AS INT) + 1))""").as("text"))
      val dictB = (0 until kTerms).map(t => s"blk${t}w") :+ "aba"
      val t120 = System.nanoTime()
      val perTerm = graft.operators.Blocklist
        .matchCounts(docsB, "doc_id", "text", dictB)
        .groupBy("term")
        .agg(sum("n_olap").as("olap"), sum("n_disj").as("disj")).cache()
      val nTermsHit = perTerm.count()
      val t121 = System.nanoTime()
      require(nTermsHit == kTerms + 1, s"terms hit: $nTermsHit vs ${kTerms + 1}")
      val expB = spark.range(nDocsB).select((col("id") % kTerms).as("tnum"),
          ((col("id") % 5) + 1).as("cnt"))
        .groupBy("tnum").agg(sum("cnt").as("want"))
      val badPlanted = perTerm.where(col("term") =!= "aba")
        .select(regexp_extract(col("term"), "blk(\\d+)w", 1).cast("long").as("tnum"),
          col("olap"), col("disj"))
        .join(expB, "tnum")
        .where(col("olap") =!= col("want") || col("disj") =!= col("want"))
        .count()
      require(badPlanted == 0, s"planted-term mismatches: $badPlanted")
      val abaRow = perTerm.where(col("term") === "aba").head()
      val abaExp = spark.range(nDocsB).agg(
        sum(col("id") % 4).as("eo"),
        sum(expr("(id % 4 + 1) div 2")).as("ed")).head()
      require(abaRow.getAs[Long]("olap") == abaExp.getAs[Long]("eo") &&
        abaRow.getAs[Long]("disj") == abaExp.getAs[Long]("ed"),
        s"aba closed form: (${abaRow.getAs[Long]("olap")},${abaRow.getAs[Long]("disj")})" +
          s" vs (${abaExp.getAs[Long]("eo")},${abaExp.getAs[Long]("ed")})")
      perTerm.unpersist()
      println(f"""{"scenario":"blocklist","docs":$nDocsB,"dict_terms":${kTerms + 1},""" +
        f""""terms_hit":$nTermsHit,"tag_sec":${(t121 - t120) / 1e9}%.2f}""")

      // Head-to-head vs the naive per-term plan at a REALISTIC small
      // dictionary (24 terms): the naive tagger is one `contains` branch
      // per term — O(len·|dict|) string scans per row, the shape every
      // rule engine ships first. Totals must agree exactly (disjoint
      // counts via the replace()-length identity, the oracle formula);
      // the artifact records both times plus the 10k-term AC time above,
      // whose flatness vs dictionary size is the actual scale argument.
      val dict24 = (0 until 24).map(t => s"blk${t * (kTerms / 24)}w")
      val t122 = System.nanoTime()
      val acHits = graft.operators.Blocklist
        .matchCounts(docsB, "doc_id", "text", dict24)
        .agg(sum("n_disj")).head().getLong(0)
      val t123 = System.nanoTime()
      val naiveHits = docsB.select(
        dict24.zipWithIndex.map { case (t, i) =>
          ((length(col("text")) - length(replace(col("text"), lit(t), lit(""))))
            / t.length).cast("long").as(s"c$i")
        }: _*)
        .agg(sum(expr((0 until 24).map(i => s"c$i").mkString("+")))).head().getLong(0)
      val t124 = System.nanoTime()
      require(acHits == naiveHits, s"AC vs naive totals: $acHits vs $naiveHits")
      println(f"""{"scenario":"blocklist_naive_twin","docs":$nDocsB,"dict_terms":24,""" +
        f""""hits":$acHits,"ac_sec":${(t123 - t122) / 1e9}%.2f,""" +
        f""""naive_sec":${(t124 - t123) / 1e9}%.2f}""")

      // Dictionary-growth leg: the char-4-gram postings persist ONCE
      // (corpus-token-sized — the honest index cost, like dup_spans'
      // gram relation), then adding term blk77w re-tags via the index:
      // its gram 'k77w' can only arise from id exactly 77 (filler/tail
      // share no letters with terms), so candidates are EXACTLY the
      // nDocsB/K planted docs, each carrying (77%5)+1 = 3 occurrences —
      // probe cost follows the term's selectivity, never the corpus.
      val pstDir = java.nio.file.Files.createTempDirectory("blk_postings").toString
      val t125 = System.nanoTime()
      graft.operators.Blocklist.gramPostings(docsB, "doc_id", "text")
        .write.mode("overwrite").parquet(pstDir)
      val t126 = System.nanoTime()
      val delta = graft.operators.Blocklist.termDeltaCounts(
        spark.read.parquet(pstDir), docsB, "doc_id", "text", Seq("blk77w")).cache()
      val nDelta = delta.count()
      val deltaHits = delta.agg(sum("n_disj")).head().getLong(0)
      val t127 = System.nanoTime()
      val wantDocs = nDocsB / kTerms
      require(nDelta == wantDocs && deltaHits == 3 * wantDocs,
        s"delta closed form: $nDelta docs/$deltaHits hits vs $wantDocs/${3 * wantDocs}")
      delta.unpersist()
      println(f"""{"scenario":"blocklist_delta_term","docs":$nDocsB,""" +
        f""""postings_sec":${(t126 - t125) / 1e9}%.2f,"affected_docs":$nDelta,""" +
        f""""probe_sec":${(t127 - t126) / 1e9}%.2f}""")
    }
    spark.stop()
  }
}
