package graft.plans

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkSpec
import graft.SparkEntry

/** Pins the PLANS.md claims: the shapes that make these plans right at
  * 100 TB are asserted here, not just documented — a regression that
  * turns a broadcast into a shuffle or un-pushes a filter fails CI.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.explainString(FormattedMode)
  }

  /** Registry queries whose logical plan carries an unpartitioned Window
    * over a BOUNDED relation — frozen by the registry sweep test below.
    * Every entry's window input is sketch-sized by construction, not
    * corpus-sized: calendar days/months (q199, q202, q270, q321, q382,
    * q480, q542...), deciles/quantile grids/buckets (q115, q172, q374,
    * q408, q454, q498, q525, q556), top-k'd or capped vocabularies
    * (q223, q242, q262, q290, q449 Huffman alphabet, q463), per-group
    * summaries bounded by a fixed stratum count (q307, q325 bootstrap
    * reps, q370, q478), rank-statistic test samples (q333, q342, q388,
    * q389, q390, q416, q461, q477), small frontier/cut sets (q316, q358,
    * q421, q422, q526), and the NDV-guarded collated divider's exact path
    * (q595 — ChunkPlanner.collatedPlan switches to the distributed
    * prefix-sum divider above the guard). CORPUS-derived ranks must use
    * Ranks.withGlobalRank instead — the q204/q497/q522 reform this list
    * pins.
    */
  private val boundedGlobalWindowAllowlist: Set[String] = Set(
    "q115_benford", "q172_ratio_to_report", "q199_stickiness", "q202_acf",
    "q213_sliding_hll", "q227_repair_batches", "q239_slo_burn",
    "q242_token_ids", "q254_auc", "q262_topk_merge", "q270_seasonal_backtest",
    "q286_shard_rebalance", "q290_stable_vocab_ids", "q292_backfill_plan",
    "q305_simhash_radius", "q307_neyman_alloc", "q313_dedup_pr_curve",
    "q316_interval_overlap", "q321_seasonal_decompose", "q325_bootstrap_ci",
    "q327_conformal_coverage", "q329_kmeans_1d", "q333_theil_sen",
    "q337_kaplan_meier", "q338_lorenz_curve", "q340_changepoint",
    "q342_mann_whitney", "q358_pareto_frontier", "q360_zipf_constancy",
    "q361_rfm", "q367_kmv_distinct", "q370_apportionment", "q374_abc_analysis",
    "q376_best_split", "q382_rolling_ols", "q388_runs_test", "q389_ks_test",
    "q390_wilcoxon", "q397_var_cvar", "q408_quantile_grid", "q416_rbo",
    "q418_block_maxima", "q420_emd_1d", "q421_knapsack", "q422_ivm_topk",
    "q428_median_of_means", "q431_rank_aggregation", "q445_isotonic",
    "q449_huffman", "q454_hdr_histogram", "q461_peeking_bias",
    "q463_good_turing", "q477_bh_fdr", "q478_propensity_strata",
    "q480_seasonal_residual_outliers", "q482_tail_dependence",
    "q488_offline_replay", "q498_lift_chart", "q525_p99_decomposition",
    "q526_summed_area", "q536_adversarial_validation", "q542_action_log_replay",
    "q550_scheduling_advisor", "q556_sample_quantile_error",
    "q565_trace_sampling", "q595_collated_chunks")
    // r10: q223/q616 left this list — their vocab top-K cut is now
    // orderBy().limit() (TakeOrderedAndProject, O(K) per partition), so
    // no word-type-grain global sort survives anywhere in the registry;
    // the vocab-takeordered test below pins the reformed shape.

  test("sweep: no unpartitioned window outside the bounded allowlist") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n =
        try fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size
        catch { case _: Throwable => 0 } // execution errors belong to Verify
      spark.sharedState.cacheManager.clearCache()
      if (n > 0) Some(name) else None
    }.toSet
    val fresh = offenders -- boundedGlobalWindowAllowlist
    assert(fresh.isEmpty,
      s"new unpartitioned-window plans (single-task sort at scale!) — use " +
        s"Ranks.withGlobalRank or justify + allowlist: ${fresh.toSeq.sorted.mkString(", ")}")
    // the three reformed corpus-derived sites must stay clean
    Seq("q204_lsh_audit", "q497_learned_index_audit", "q522_range_boundaries")
      .foreach(q => assert(!offenders.contains(q), s"$q regressed to a global window"))
  }

  test("q223/q616 vocab top-K runs as TakeOrdered, never a global window sort") {
    // q223's plan is visible through the registry
    val p223 = planOf("q223_vocab_oov")
    assert(p223.contains("TakeOrderedAndProject"),
      s"q223's vocab cut must plan as TakeOrderedAndProject:\n$p223")
    assert(!p223.contains("Window"),
      s"q223 must not carry any window (the vocab sort was the r9 weak mark):\n$p223")
    // q616 eagerly checkpoints, which hides its internals from planOf —
    // pin the pre-checkpoint plan builder the public operator materializes
    import org.apache.spark.sql.functions._
    val docs = spark.range(20).select(col("id").as("doc_id"),
      concat(lit("the word w"), pmod(col("id"), lit(7))).as("text"))
    val tok = graft.operators.Curate.normalize(docs)
      .select(col("doc_id"), explode(split(col("nt"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    val plan = graft.operators.Curate.oovAdmitPlan(
      graft.operators.Curate.vocabState(docs), tok, 5, 500000L)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("TakeOrderedAndProject"),
      s"oovAdmit's vocab cut must plan as TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Window"),
      s"oovAdmit must not carry any window:\n$plan")
  }

  test("q1_agg prunes the lineitem scan to the touched columns") {
    val p = planOf("q1_agg")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).get.group(1)
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"aggregation should not read join keys it never touches: $read")
  }

  test("q2_join_agg broadcasts every dimension join") {
    val p = planOf("q2_join_agg")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"expected >=3 broadcast dim joins, got $bhj")
    assert(!p.contains("SortMergeJoin"),
      "dim joins must not degrade to sort-merge")
  }

  test("q19_where_range pushes the chunk range into the parquet scan") {
    val p = planOf("q19_where_range")
    assert(p.contains("PushedFilters") &&
      "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_orderkey".r.findFirstIn(p).isDefined,
      s"chunk range must reach the scan:\n${p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }

  test("q113_interval_join is an equi-join, never a nested-loop on the inequality") {
    val p = planOf("q113_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join must bucketize to an equi-join")
  }

  test("q124_pq_adc scores without any exchange before the top-k") {
    val p = planOf("q124_pq_adc")
    assert(!p.contains("Exchange"), s"PQ/ADC must be a pure projection + TakeOrdered:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q106_native_topk runs the two-phase native operator") {
    val p = planOf("q106_native_topk")
    assert("TopKPerGroup \\(".r.findAllIn(p).size >= 2,
      "partial + final TopKPerGroup phases expected")
  }

  test("q143_tpch_q6 pushes all three predicates into the parquet scan") {
    val p = planOf("q143_tpch_q6")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"),
      s"Q6's predicates must reach the reader: $pushed")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
      "pure scan-aggregate: no join, no hash exchange beyond the 1-row final agg")
  }

  test("q150_tpch_q19 keeps the OR-of-ANDs as an equi-join, never a cross product") {
    val p = planOf("q150_tpch_q19")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "disjunctive predicate must not degrade the partkey equi-join")
  }

  test("q141_tpch_q2 decorrelates: no more than the catalog + window shuffles") {
    val p = planOf("q141_tpch_q2")
    // window MIN reuses the pk partitioning; a second aggregate+join over
    // the catalog subtree would show up as extra hash exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"correlated-MIN must stay one catalog pass, got $exchanges exchanges")
  }

  test("q159_triangles derives the edge list once and orients wedges (r11 shape)") {
    // FINAL adaptive plan only — explainString also prints the Initial
    // Plan, which would double-count every operator
    val p = planOf("q159_triangles").split("== Initial Plan ==")(0)
    // r11: the screened edge list is MATERIALIZED once (a localCheckpoint
    // ExistingRDD) — the lineitem self-join + groupBy must not re-embed
    // per reference (it was the whole q159 floor; the old ReusedExchange
    // pin only deduped the shuffle, not the per-branch final aggregates)
    assert(!p.contains("Scan parquet"),
      "the edge pipeline must be materialized once — no parquet scan may " +
        "appear under the count/triangle branches")
    // and the triangle count is the degree-ORIENTED wedge join: the wedge
    // and closing joins must be EQUI joins (a self-join that references
    // the parent's own column names lets attribute dedup collapse the
    // equi-key and degenerate to a nested-loop cross); only the final
    // 1x1 count cross join may be non-equi
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "only the final 1x1 count cross join may be non-equi")
  }

  test("q157_ngram_decontaminate joins gram hashes, never a cross product") {
    val p = planOf("q157_ngram_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decontamination must stay a hash equi-join on the gram")
  }

  test("q2_join_agg pre-aggregates per customer before the dimension joins") {
    val p = planOf("q2_join_agg")
    // partial+final for the per-custkey rollup AND for the nation rollup:
    // without the pre-aggregation the plan carries only one aggregate pair
    // and re-shuffles every lineitem row into the customer join
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 4, s"expected two aggregate pairs (per-cust + per-nation), got $aggs")
  }

  test("q94_bigram_lm tokenizes the corpus once: every consumer reads the cache") {
    val df = SparkEntry.queries("q94_bigram_lm")(spark, sfDir)
    df.collect()
    val cached = df.queryExecution.withCachedData
    // InMemoryRelation is a leaf in the logical tree (its child plan is a
    // physical field), so collect() counts only the CONSUMERS of caches and
    // any table scans that escaped caching.
    val imrs = cached.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.size
    val rawScans = cached.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.size
    assert(imrs >= 2, s"bigram + token relations must be cached, got $imrs cache reads")
    assert(rawScans == 0,
      s"no consumer may re-scan + re-tokenize the corpus, got $rawScans raw scans")
  }

  test("q582_mixture_plan broadcasts weights and totals, one corpus pass") {
    val df = SparkEntry.queries("q582_mixture_plan")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(FormattedMode)
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "the 5-row weights and the 1-row total must broadcast")
    // the per-source aggregate is cached: the grand total and the join
    // both read the cache, so the corpus parquet is scanned once
    val cached = df.queryExecution.withCachedData
    val imrs = cached.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.size
    val rawScans = cached.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.size
    assert(imrs >= 2 && rawScans == 0,
      s"avail must be cached for both consumers: $imrs caches, $rawScans raw scans")
  }

  test("q579_curation_waterfall materializes under call-scoped caches, then releases them") {
    // the normalize + dedup caches are now CALL-scoped (the Ranks
    // pattern): the waterfall materializes both returned frames under the
    // caches and unpersists before returning, so the session holds no
    // cached relation afterwards — the internal reuse is pinned by
    // CurateSpec's stage-count test, the release contract here
    spark.sharedState.cacheManager.clearCache()
    val df = SparkEntry.queries("q579_curation_waterfall")(spark, sfDir)
    assert(spark.sharedState.cacheManager.isEmpty,
      "waterfall caches must not outlive the call")
    assert(df.count() == 5, "per-stage report must still produce its 5 rows")
  }

  test("q491_winnowing grams via one windowed pass: one corpus scan, no token self-joins") {
    val df = SparkEntry.queries("q491_winnowing")(spark, sfDir)
    df.collect()
    val cached = df.queryExecution.withCachedData
    val imrs = cached.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.size
    val rawScans = cached.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.size
    assert(imrs >= 3, s"rarity + both pair-join sides must read the cached fingerprints, got $imrs")
    assert(rawScans == 0,
      s"no consumer may re-scan + re-tokenize the corpus, got $rawScans raw scans")
    // 3-grams build from codegen'd lead() windows sharing ONE doc_id
    // exchange — the former tok⋈tok⋈tok construction shuffled the token
    // relation 3×; the only joins left in the whole query are on the
    // (tiny, cached) fingerprint relation, and those broadcast
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).isEmpty,
      s"gram construction must not shuffle-join the token relation:\n$p")
  }

  test("q182_bm25 broadcasts the query terms and totals, ends in a top-k") {
    val p = planOf("q182_bm25")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be TakeOrdered, not a global sort")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "the 5-term dictionary and the 1-row totals must broadcast")
    assert(!p.contains("CartesianProduct"), "the totals cross-join must stay broadcast-nested")
  }
}
