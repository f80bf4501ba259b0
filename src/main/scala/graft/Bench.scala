package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Graft, Tables}

object Bench {

  /** Headline benchmark set — one representative per operator family
    * (compare pipeline, chunk planning, TPC-H joins/aggs, dedup/LSH,
    * embeddings/ANN, text/corpus, temporal joins, graph, sinks, skew).
    *
    * The driver captures only the TAIL of stdout (~2000 chars), so the
    * single JSON line must stay short enough to survive that capture —
    * rounds 1-3 timed the full registry and the line was truncated
    * mid-JSON every round (BENCH_r0{1,2,3}.json all have parsed:null).
    * ~55 entries × ~23 chars ≈ 1.3 KB leaves headroom. Set
    * SPARK_GRAFT_BENCH_ALL=1 to time the full registry instead (local
    * bookkeeping for BASELINE.md — not driver-parseable).
    */
  val headline: Seq[String] = Seq(
    // core relational + events
    "q1_agg", "q2_join_agg", "q3_topn", "q4_window", "q5_grouping_sets",
    "q6_events_tumbling", "q7_events_sessionize", "q8_cdc_apply", "q9_events_dedup",
    // compare pipeline (the reference's flagship)
    "q10_chunk_plan", "q11_compare_count", "q12_compare_md5", "q13_compare_chunks",
    "q14_row_diff", "q15_repair_sql", "q16_table_summary", "q17_canonical_project",
    // TPC-H join/agg shapes
    "q81_tpch_q3", "q82_tpch_q5", "q83_tpch_q10", "q84_tpch_q18",
    "q134_tpch_q7", "q135_tpch_q21", "q143_tpch_q6", "q145_tpch_q9",
    "q59_correlated", "q175_tpch_q13",
    // dedup family
    "q24_dedup_exact", "q25_minhash_sig", "q26_minhash_pairs", "q27_ngram_jaccard",
    "q28_simhash", "q68_dedup_clusters", "q118_span_dedup", "q157_ngram_decontaminate",
    // embeddings / ANN
    "q29_embedding_topk", "q30_ann_lsh", "q31_embedding_neardup",
    "q55_ann_ivf", "q96_semdedup", "q124_pq_adc",
    // text / corpus
    "q20_token_count", "q21_lang_id", "q22_quality_score", "q56_token_bpe",
    "q57_ngram_stats", "q61_repetition", "q93_tfidf", "q94_bigram_lm",
    // temporal / graph / scale patterns
    "q53_asof_join", "q54_range_count", "q106_native_topk", "q122_merge",
    "q128_pagerank", "q159_triangles", "q85_bloom_prune", "q86_salted_agg",
    // sinks
    "q45_csv_roundtrip", "q52_orc_roundtrip",
    // round-4 profiling / planner / curation families
    "q215_numeric_profile", "q232_merkle_compare", "q223_vocab_oov",
    "q271_bitmap_intersect", "q282_zorder_cluster", "q283_cdc_chunk",
    // round-5 frontier/applied representatives
    "q354_pagerank", "q372_penny_allocation", "q385_spearman",
    // round-4-continuation representatives (LOF kNN, winnowing, 2-pass median)
    "q470_lof", "q491_winnowing", "q492_twopass_median",
    // round-5 additions (Lloyd k-means IVF map, charset conversion leg)
    "q576_kmeans_ivf", "q572_charset_convert",
    // round-6 representative (collation-aware chunk divider)
    "q595_collated_chunks",
    // round-7 representatives (incremental shard-vs-index dedup/ANN)
    "q601_incremental_dedup", "q602_incremental_ann",
    // round-8 representatives (IVF hot-cell cap, incremental CC + pipeline,
    // incremental semantic-dedup admission)
    "q603_ivf_hot_cell", "q604_incremental_cc", "q605_incremental_pipeline",
    "q606_incremental_semdedup",
    // round-9 representatives (capped LSH incremental arm, capped SemDeDup,
    // two-shard maintained-index chain, vector ingestion pipeline, and the
    // pair-cap closures of the degenerate-locality class)
    "q607_lsh_cap_incremental", "q608_semdedup_capped",
    "q609_two_shard_ingest", "q610_vector_pipeline",
    "q611_neardup_capped", "q612_simhash_capped",
    // round-9 curation additions (DSIR importance resampling, cluster-balanced sampling)
    "q613_dsir_importance", "q614_cluster_sample",
    // round-9 continuation: incremental curation state (DSIR fold-in, OOV admission)
    "q615_dsir_incremental", "q616_oov_admit",
    // round-10 representatives (DSIR target state, capped Jaccard verify,
    // IVF recall audit, perceptual image dedup + its capped arm)
    "q617_dsir_target_state", "q618_jaccard_capped", "q619_ivf_recall",
    "q620_image_hash", "q621_image_neardup", "q622_image_dedup_capped",
    "q623_audio_frames", "q624_audio_fingerprint", "q625_audio_neardup",
    "q626_video_frame_sample", "q627_video_neardup",
    "q628_media_dedup_pipeline", "q629_media_dedup_incremental",
    // round-10 third session: ExactSubstr duplicated-span family
    "q630_dup_spans", "q631_dup_span_scrub", "q632_dup_spans_incremental",
    // round-10 fourth session: Aho-Corasick blocklist tagging
    "q633_blocklist_counts", "q635_blocklist_filter", "q637_blocklist_delta")

  /** Rotating cohort: `n` seeded-random NON-headline registry entries
    * appended to every bench run, so a regression in an off-headline
    * query surfaces in the artifact instead of hiding until a full
    * registry sweep. The default seed derives from the FULL sorted
    * registry name list — stable within a round (reproducible reps),
    * rotating whenever the registry changes in any way (the r9 lesson:
    * a round whose additions all land in the headline left a
    * non-headline-only seed unchanged, freezing the cohort);
    * SPARK_GRAFT_BENCH_SEED pins it explicitly.
    */
  private[graft] def cohort(all: Iterable[String], seed: Option[Long],
      n: Int = 10): Seq[String] = {
    val nonHeadline = all.toSeq.filterNot(headline.contains).sorted
    val s = seed.getOrElse(
      all.toSeq.sorted.map(_.hashCode.toLong).sum + headline.size)
    new scala.util.Random(s).shuffle(nonHeadline).take(n)
  }

  /** Self-defense against ambient host load (BENCH_r06 read a 2.6×
    * "regression" that was contention noise): each query runs `reps`
    * times and the per-query MINIMUM is reported — a floor estimate is
    * robust to one-sided noise, a single sample is not. A query that
    * throws on every rep returns the explicit marker -1.0 (never a
    * timing), so a broken query can't masquerade as a fast one.
    *
    * Heavy entries get one EXTRA rep (the r8 lesson: two rounds of
    * driver artifacts ran ~2× loaded, and 2 reps defend against a
    * one-sided spike but not sustained contention — the worst observed
    * phantom was 11.7× on a multi-second entry): while the floor still
    * exceeds `heavyCutoff` seconds and the extra budget remains, take
    * another sample. Cheap entries stay at `reps`.
    */
  private[graft] def measure(spark: SparkSession, reps: Int,
      heavyCutoff: Double = 5.0, maxExtra: Int = 1)(run: () => Unit): Double = {
    val samples = measureSamples(spark, reps, heavyCutoff, maxExtra)(run)
    if (samples.nonEmpty) samples.min else -1.0
  }

  /** [[measure]]'s raw samples (empty = every rep threw) — kept separate
    * so the JSON line can carry an ambient-inflation diagnostic (r10: a
    * loaded driver run read 66 phantom regressions that only an 8-core
    * control run could adjudicate; the `spread` field makes a spiked run
    * self-evident from the artifact alone).
    */
  private[graft] def measureSamples(spark: SparkSession, reps: Int,
      heavyCutoff: Double = 5.0, maxExtra: Int = 1)(run: () => Unit): Seq[Double] = {
    def sample(): Option[Double] = {
      val t0 = System.nanoTime()
      // a failed rep says why on stderr; stdout keeps only the JSON line
      val ok = try { run(); true } catch { case e: Throwable =>
        Console.err.println(s"[bench] rep failed: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // release per-query caches OUTSIDE the timed window: each rep is
      // measured cold-cache (its own cache population is inside its own
      // timing), and storage doesn't accumulate across the suite
      spark.sharedState.cacheManager.clearCache()
      if (ok) Some(dt) else None
    }
    var samples = (1 to reps).flatMap(_ => sample())
    var extra = 0
    while (samples.nonEmpty && samples.min > heavyCutoff && extra < maxExtra) {
      samples = samples ++ sample()
      extra += 1
    }
    samples
  }

  /** Samples per query for `Bench` and `Prof time`: SPARK_GRAFT_BENCH_REPS
    * (read through `env`), else 2; at least 1.
    */
  private[graft] def reps(env: String => Option[String] = sys.env.get): Int =
    env("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(2).max(1)

  /** The twins' action: every column of every row computes. */
  private[graft] def noopSink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Warm-up (not timed): JIT + codegen + parquet footers + FS metadata,
    * so the first measured query isn't charged the session cold-start.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    val t = Tables(spark, sfDir)
    Seq(t.lineitem, t.orders, t.customer, t.events, t.documents, t.embeddings)
      .foreach(_.count())
    spark.range(1000000).selectExpr("sum(id)").collect()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the bench contract runs local[32]; SPARK_GRAFT_CPUS only overrides
    // for constrained dev machines
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 1-minute loadavg SAMPLED BEFORE any work: the field records the
    // AMBIENT pressure the run started under (reading it at print time
    // would mostly measure the bench's own 32-thread load)
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = Graft.local(cpus.toInt)
    // ERROR, not WARN: r6's stdout tail was flooded by WindowExec WARNs,
    // crowding the JSON line out of the driver's ~2 KB tail capture window
    spark.sparkContext.setLogLevel("ERROR")
    warmUp(spark, sfDir)

    val benchAll = sys.env.get("SPARK_GRAFT_BENCH_ALL").exists(_ == "1")
    val coh =
      if (benchAll) Seq.empty
      else cohort(SparkEntry.queries.keys,
        sys.env.get("SPARK_GRAFT_BENCH_SEED").flatMap(_.toLongOption))
    val names =
      if (benchAll) SparkEntry.queries.keys.toSeq.sorted
      else headline.filter(SparkEntry.queries.contains) ++ coh
    val reps = this.reps()
    val sampled = names.map(name =>
      name -> measureSamples(spark, reps)(() => SparkEntry.queries(name)(spark, sfDir).count()))
    // Noop-sink TWIN entries (guide §1.4, additions-only — the count()
    // methodology and every r1-r10 floor stay untouched): count() lets
    // Catalyst prune un-filtered projection tails out of the timed plan
    // (q27's per-pair intersect work reads ~0.5 s under count() vs ~11 s
    // computed — the r10 Baseline finding), so the projection-tail
    // flagship operators get one extra timed entry each whose action is
    // `write.format("noop")` — every column of every row computes. Twin
    // keys (q27t/q618t) are new `queries` entries; they are NOT in
    // `headline`, so headline_total remains cross-round comparable.
    val twins = Seq(
      "q27t_ngram_jaccard_noop" -> "q27_ngram_jaccard",
      "q618t_jaccard_capped_noop" -> "q618_jaccard_capped")
    val twinSampled = twins.map { case (twin, base) =>
      twin -> measureSamples(spark, reps)(() =>
        noopSink(SparkEntry.queries(base)(spark, sfDir)))
    }
    val results = (sampled ++ twinSampled).map { case (n, ss) =>
      n -> (if (ss.nonEmpty) ss.min else -1.0)
    }
    // ambient-inflation diagnostic: Σ mean(samples) / Σ min(samples) over
    // successful entries — ~1.0x on an idle host, >>1 when reps were
    // spiked by external load (r10's unusable headline geomean)
    val okSamples = (sampled ++ twinSampled).map(_._2).filter(_.nonEmpty)
    val spread =
      if (okSamples.isEmpty) 1.0
      else okSamples.map(s => s.sum / s.size).sum / okSamples.map(_.min).sum
    // 2-decimal rounding + qNNN-prefix keys keep the line compact: the
    // driver captures only ~2000 chars of stdout tail, and 73 full names
    // ≈ 1.9 KB sat one entry away from the truncation that nulled the
    // r1-r3 benches. The prefix is unique per query (q1, q94, q576, …)
    // — guarded below so a future duplicate can't silently drop a key.
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val keys = results.map(_._1.takeWhile(_ != '_'))
    require(keys.size == keys.distinct.size,
      s"duplicate bench key prefixes: ${keys.diff(keys.distinct).distinct.mkString(",")}")
    val qs = keys.zip(results.map(_._2)).map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else f2(v))
    }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // headline-only subtotal: cross-round floor comparisons need no
    // post-hoc filtering as the rotating cohort changes per round
    val headlineTotal = results
      .filter(r => headline.contains(r._1) && r._2 >= 0).map(_._2).sum
    // leading println guarantees the JSON starts at column 0 even if a
    // logger left an unterminated line on stdout
    val cohKeys = coh.map(_.takeWhile(_ != '_'))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    println()
    println(s"""{"metric":"total","value":${f2(total)},"unit":"sec","headline_total":${f2(headlineTotal)},"load":${f2(load)},"spread":${f2(spread)},"reps":$reps,"failed":$failed,"cohort":$cohKeys,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
