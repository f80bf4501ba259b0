package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The corpus-curation waterfall as a library API — the composed hygiene
  * chain (language gate → quality gate → exact dedup → n-gram
  * decontamination) a training-data pipeline runs between crawl and
  * tokenization. q579 exercises it differentially; this object is the
  * form a user calls.
  *
  * Scale shape: one normalize pass feeds every stage; the chain costs 3
  * shuffles total (dedup groupBy, gram equi-join, report rollup) — all
  * other stages are map-side filters. The eval side of the
  * decontamination join is DISTINCT grams (usually tiny → broadcast).
  */
object Curate {

  final case class Config(
      minTokens: Int = 10,
      minStopwords: Int = 1,
      decontaminateGramLen: Int = 5)

  /** Normalized (doc_id, nt) projection. */
  def normalize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFunctions.normText(col("text")).as("nt"))

  /** Per-language stopword probes — DATA, not code: a real multilingual
    * corpus adds a language by adding a row here (or passing its own
    * table), never by writing a new regex branch. The default rows are
    * q21's original four probes, so the default gate is bit-identical to
    * the historical behavior.
    */
  val defaultLangProbes: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "de"),
    "fr" -> Seq("le", "les", "des", "une"))

  /** Occurrence count of one language's stopwords. Rendered as a word-
    * boundary regex (not token equality) because normText keeps
    * punctuation — "the," must still count.
    */
  private def probeCount(words: Seq[String]): Column =
    expr(s"size(regexp_extract_all(nt, '\\\\b(${words.mkString("|")})\\\\b', 0))")
      .cast("long")

  /** One score column `s_<lang>` per table row — a pure projection (no
    * join, no shuffle): the probe table is driver-side metadata compiled
    * into the row expression, the per-row work is L regex scans.
    */
  def langScores(nrm: DataFrame,
      probes: Seq[(String, Seq[String])] = defaultLangProbes): DataFrame =
    probes.foldLeft(nrm) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang", probeCount(words))
    }

  /** Keep docs where `keep`'s stopword hits dominate every other probe
    * in the table (q21's heuristic, generalized to any language set).
    */
  def langGate(nrm: DataFrame, keep: String = "en",
      probes: Seq[(String, Seq[String])] = defaultLangProbes): DataFrame = {
    require(probes.exists(_._1 == keep), s"unknown language: $keep")
    val others = probes.collect { case (l, _) if l != keep => col(s"s_$l") }
    val gate = others match {
      case Seq()    => lit(true)
      case Seq(one) => col(s"s_$keep") >= one
      case many     => col(s"s_$keep") >= greatest(many: _*)
    }
    langScores(nrm, probes).where(gate).select(nrm.columns.map(col).toSeq: _*)
  }

  /** Argmax language label in table order (earlier rows win ties) — the
    * q21 prediction, generalized to the probe table.
    */
  def predLang(scored: DataFrame,
      probes: Seq[(String, Seq[String])] = defaultLangProbes): Column = {
    val langs = probes.map(_._1)
    langs.init.zipWithIndex.foldRight(lit(langs.last): Column) { case ((l, i), acc) =>
      val laterMax = langs.drop(i + 1).map(o => col(s"s_$o")) match {
        case Seq(one) => one
        case many     => greatest(many: _*)
      }
      when(col(s"s_$l") >= laterMax, l).otherwise(acc)
    }
  }

  /** q22's quality screens: minimum token count + stopword presence. */
  def qualityGate(nrm: DataFrame, cfg: Config = Config()): DataFrame =
    nrm.where(size(split(col("nt"), " ")) >= cfg.minTokens &&
      expr("size(regexp_extract_all(nt, '\\\\b(the|a|of|and|to|in)\\\\b', 0))") >=
        cfg.minStopwords)

  /** Exact dedup on the normalized text — smallest doc_id survives. */
  def exactDedup(nrm: DataFrame): DataFrame =
    nrm.groupBy("nt").agg(min("doc_id").as("doc_id"))

  /** Word n-grams of the normalized text. */
  def grams(nrm: DataFrame, n: Int): DataFrame =
    nrm.select(col("doc_id"), split(col("nt"), " ").as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> array_join(slice(ws, i, $n), ' '))"))
        .as("gram"))

  /** DSIR-style importance score over hashed bigram features — the
    * "Data Selection for Language Models via Importance Resampling"
    * shape (Xie et al. 2023, arXiv:2302.03169) re-expressed under the
    * engine's integer-determinism convention: bigrams hash into
    * `buckets` md5-derived feature buckets, each bucket carries the
    * add-one-smoothed scaled frequency RATIO of the target corpus vs
    * the raw corpus, and a document scores the count-weighted mean of
    * its feature ratios (10^6 = parity: the doc looks as target-like
    * as the raw average). The classic formulation sums log-ratios;
    * ln() is not bit-reproducible across engines, so the score is the
    * mean of exact integer-scaled ratios — the same ordering signal,
    * engine-exact (products ride in DECIMAL like q377/q521; quotients
    * stay small).
    *
    * Scale shape: two map-side-combined feature aggregates collapsing
    * to `buckets` rows, then ONE broadcast join of the tiny weight
    * table back onto the per-doc feature stream — the corpus is never
    * shuffled and the weight table is index-card-sized at any corpus
    * size. Docs with fewer than 2 tokens carry no features and are
    * absent from the output (they score upstream quality gates, not
    * importance). Returns (doc_id, n_feats, dsir_scaled).
    */
  def dsirScores(docs: DataFrame, target: DataFrame, buckets: Int = 512): DataFrame = {
    // cached for this call only: the raw feature stream
    // feeds the bucket aggregate AND the per-doc join; the result is
    // materialized under the cache, nothing stays pinned after return
    val rawF = dsirFeats(docs, buckets).cache()
    try {
      val rawCnt = rawF.groupBy("f").agg(count(lit(1)).as("cr"))
      val tgtCnt = dsirFeats(target, buckets).groupBy("f").agg(count(lit(1)).as("ct"))
      scoreAgainst(rawF, rawCnt, tgtCnt, buckets)
    } finally rawF.unpersist(false)
  }

  /** Hashed-bigram feature stream (doc_id, f) — [[dsirScores]]' feature
    * extraction, shared with the incremental arm.
    */
  private def dsirFeats(df: DataFrame, buckets: Int): DataFrame =
    grams(normalize(df), 2)
      .select(col("doc_id"),
        (conv(substring(md5(col("gram")), 1, 4), 16, 10).cast("long") % buckets).as("f"))

  /** Weight table + per-doc scoring against given raw/target bucket-count
    * relations — the shared back half of [[dsirScores]] and
    * [[dsirScoresIncremental]]. Both count sides arrive as `buckets`-row
    * relations, so scoring never rescans either corpus.
    */
  private def scoreAgainst(docF: DataFrame, rawCnt: DataFrame,
      tgtCnt: DataFrame, buckets: Int): DataFrame = {
    val tot = rawCnt.agg(sum("cr").as("rtot"))
      .crossJoin(tgtCnt.agg(sum("ct").as("ttot")))
    val w = rawCnt.join(tgtCnt, Seq("f"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("f"),
        expr(s"CAST(1000000 * (coalesce(ct, 0) + 1) AS DECIMAL(38,0))" +
          s" * (rtot + $buckets)" +
          s" div (CAST(cr + 1 AS DECIMAL(38,0)) * (ttot + $buckets))").as("w"))
    docF.join(broadcast(w), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        expr("sum(w) div count(1)").as("dsir_scaled"))
      .localCheckpoint(true)
  }

  /** Persistable DSIR bucket state — the curation-side analogue of the
    * dedup band index and the IVF cell map: the raw corpus reduces to
    * `buckets` rows of (f, cr) feature counts. The state is what a
    * production pipeline keeps on disk between ingests; it is
    * metadata-sized at ANY corpus scale (512 rows for the default
    * config), so the shard-scoring weight table always broadcasts.
    *
    * The bucket count is STAMPED into the state (constant `nb` column):
    * the hash-bucket relation is only meaningful at the count it was
    * built with, and merging/scoring a 512-bucket state at 1024 would
    * silently produce wrong ratios — every consumer asserts the stamp
    * in-plan ([[checkedState]]) and fails loud on a mismatch.
    */
  def dsirState(docs: DataFrame, buckets: Int = 512): DataFrame =
    dsirFeats(docs, buckets).groupBy("f").agg(count(lit(1)).as("cr"))
      .withColumn("nb", lit(buckets.toLong))

  /** Persistable TARGET bucket state — [[dsirState]]'s twin over the
    * target corpus (f, ct, nb). Persisting BOTH sides is what makes an
    * ingest scan-free: [[dsirScoresIncremental]] reads (raw state,
    * target state, shard) and touches neither corpus.
    */
  def dsirTargetState(target: DataFrame, buckets: Int = 512): DataFrame =
    dsirFeats(target, buckets).groupBy("f").agg(count(lit(1)).as("ct"))
      .withColumn("nb", lit(buckets.toLong))

  /** In-plan stamp check: a state built at a different bucket count
    * fails the first action LOUD instead of silently shifting every
    * ratio. States persisted before the stamp existed (no `nb` column)
    * pass through — the caller owns the invariant there. unionByName
    * selection throughout: a persisted state's column ORDER is never
    * positional (both data columns are LONG — a reordered state would
    * bind silently).
    */
  private def checkedState(state: DataFrame, cnt: String, buckets: Int): DataFrame = {
    val base = state.select(col("f"), col(cnt))
    if (!state.columns.contains("nb")) base
    else state.select(
      when(col("nb") =!= buckets.toLong,
        raise_error(format_string(
          s"dsir state stamped buckets=%d, used at buckets=$buckets", col("nb"))))
        .otherwise(col("f")).as("f"),
      col(cnt))
  }

  /** Maintain the bucket state under ingestion: counts are ADDITIVE, so
    * folding a shard in is one group-sum over (state ∪ shard counts) —
    * algebraically a from-scratch [[dsirState]] rebuild over
    * index ∪ shard (CurateSpec pins the equality). O(|shard| +
    * buckets); the state side never rescans the corpus. The `buckets`
    * argument must match the state's stamp (asserted in-plan).
    */
  def dsirStateMerge(state: DataFrame, shard: DataFrame,
      buckets: Int = 512): DataFrame =
    checkedState(state, "cr", buckets)
      .unionByName(dsirState(shard, buckets).select("f", "cr"))
      .groupBy("f").agg(sum("cr").as("cr"))
      .withColumn("nb", lit(buckets.toLong))

  /** [[dsirStateMerge]]'s target-side twin: fold a target-corpus shard
    * into the persisted target counts (merge ≡ rebuild, spec-pinned).
    */
  def dsirTargetStateMerge(state: DataFrame, targetShard: DataFrame,
      buckets: Int = 512): DataFrame =
    checkedState(state, "ct", buckets)
      .unionByName(dsirTargetState(targetShard, buckets).select("f", "ct"))
      .groupBy("f").agg(sum("ct").as("ct"))
      .withColumn("nb", lit(buckets.toLong))

  /** Score an ingest shard against the MAINTAINED bucket states — the
    * curation leg of the continuous-ingestion loop (the admission twins
    * are Dedup.incrementalCandidates / Similarity.semDedupIncremental):
    * the shard's own counts fold into the raw state first (importance
    * ratios are defined against the raw corpus INCLUDING the shard), so
    * the result is EXACTLY `dsirScores(index ∪ shard, target)`
    * restricted to shard doc_ids (spec-pinned and q615's oracle), while
    * reading only the shard and the two `buckets`-row states — NEITHER
    * corpus is ever rescanned (the target side reads the persisted
    * [[dsirTargetState]], closing the per-ingest target scan).
    */
  def dsirScoresIncremental(state: DataFrame, targetState: DataFrame,
      shard: DataFrame, buckets: Int = 512): DataFrame = {
    val shardF = dsirFeats(shard, buckets).cache()
    try {
      val merged = checkedState(state, "cr", buckets)
        .unionByName(shardF.groupBy("f").agg(count(lit(1)).cast("long").as("cr")))
        .groupBy("f").agg(sum("cr").as("cr"))
      scoreAgainst(shardF, merged, checkedState(targetState, "ct", buckets), buckets)
    } finally shardF.unpersist(false)
  }

  /** Persistable vocabulary state — global word counts over the
    * normalized corpus, VOCAB-grain (bounded by word types, never corpus
    * size). Like [[dsirState]] and the dedup band index, this is the
    * relation a production pipeline keeps on disk between ingests.
    */
  def vocabState(docs: DataFrame): DataFrame =
    normalize(docs)
      .select(explode(split(col("nt"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** Maintain the vocabulary under ingestion: counts are additive, so the
    * fold-in is one group-sum — algebraically a from-scratch
    * [[vocabState]] rebuild over index ∪ shard (spec-pinned).
    */
  def vocabStateMerge(state: DataFrame, shard: DataFrame): DataFrame =
    state.select("w", "n").unionByName(vocabState(shard))
      .groupBy("w").agg(sum("n").as("n"))

  /** OOV admission of an ingest shard against the MAINTAINED vocabulary —
    * the tokenizer-fit gate (q223's check) as the ingestion-loop leg:
    * per shard doc, what fraction of token occurrences falls outside the
    * corpus top-`vocabK` vocabulary, and does it clear `maxOovPpm`?
    *
    * The shard's own counts fold into the state FIRST — the top-K
    * vocabulary is defined over the corpus including the shard, and a
    * heavy shard can shift which words make the cut — so the result is
    * EXACTLY the full recompute over index ∪ shard restricted to shard
    * doc_ids (spec-pinned and q616's oracle), while reading only the
    * shard and the vocab-grain state. Shard token traffic aggregates to
    * (doc, word) grain before the vocab probe (word types join, not
    * token instances); the global top-K cut is `orderBy().limit()` — a
    * TakeOrderedAndProject, O(K) heap state per partition — NEVER an
    * unpartitioned window sort: the merged vocabulary is bounded by word
    * types, but a web-scale crawl has 10⁸–10⁹ of those and a global
    * window would sort them all in one task. Exact ppm via BIGINT
    * products; ties break count-desc then word-asc (TakeOrdered's
    * ordering key, deterministic because (n, w) is unique per word).
    */
  def oovAdmit(state: DataFrame, shard: DataFrame, vocabK: Int = 30,
      maxOovPpm: Long = 500000L): DataFrame = {
    val shardTok = normalize(shard)
      .select(col("doc_id"), explode(split(col("nt"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      .cache() // for this call only: feeds the fold-in AND the probe
    try oovAdmitPlan(state, shardTok, vocabK, maxOovPpm).localCheckpoint(true)
    finally shardTok.unpersist(false)
  }

  /** [[oovAdmit]]'s lazy plan over a pre-aggregated (doc_id, w, n) shard
    * token relation — split out so PlanShapeSpec can pin the TakeOrdered
    * vocab cut (the public method's eager checkpoint hides the plan).
    */
  private[graft] def oovAdmitPlan(state: DataFrame, shardTok: DataFrame,
      vocabK: Int, maxOovPpm: Long): DataFrame = {
    val merged = state.select("w", "n")
      .unionByName(shardTok.groupBy("w").agg(sum("n").as("n")))
      .groupBy("w").agg(sum("n").as("n"))
    val vocab = merged
      .orderBy(col("n").desc, col("w")).limit(vocabK)
      .select("w").withColumn("in_vocab", lit(true))
    shardTok.join(broadcast(vocab), Seq("w"), "left_outer")
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        sum(when(col("in_vocab"), 0L).otherwise(col("n"))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000L div n_tokens").as("oov_ppm"))
      .withColumn("admitted", col("oov_ppm") <= maxOovPpm)
  }

  /** Drop training docs sharing any n-gram with the eval corpus (q157). */
  def decontaminate(train: DataFrame, eval0: DataFrame, cfg: Config = Config()): DataFrame = {
    val bad = grams(train, cfg.decontaminateGramLen)
      .join(grams(eval0, cfg.decontaminateGramLen).select("gram").distinct(), "gram")
      .select("doc_id").distinct()
    train.join(bad, Seq("doc_id"), "left_anti")
  }

  /** Full waterfall: returns (surviving docs, per-stage report).
    *
    * Cache contract (the Ranks pattern): `base`/`ded` are cached only for
    * the duration of the call — both returned frames are materialized
    * under the caches via eager localCheckpoint, then the caches are
    * released, so nothing stays pinned in executor storage after the call
    * returns. (At petabyte scale the same shape lands `clean` in a
    * parquet sink instead of local blocks — the caller owns that choice;
    * the library must not leak session-long cache entries either way.)
    */
  def waterfall(train: DataFrame, eval0: DataFrame,
      cfg: Config = Config()): (DataFrame, DataFrame) = {
    val base = normalize(train).cache()
    val ev   = normalize(eval0)
    val lang = langGate(base)
    val qual = qualityGate(lang, cfg)
    val ded  = exactDedup(qual).cache()
    val clean = decontaminate(ded, ev, cfg)
    def stage(n: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("docs"))
        .select(lit(n).as("stage"), lit(name).as("name"), col("docs"))
    val report = stage(1, "input_train", base)
      .unionAll(stage(2, "lang_en", lang))
      .unionAll(stage(3, "quality", qual))
      .unionAll(stage(4, "exact_dedup", ded))
      .unionAll(stage(5, "decontaminated", clean))
      .orderBy("stage")
    try {
      (clean.localCheckpoint(true), report.localCheckpoint(true))
    } finally {
      base.unpersist(false)
      ded.unpersist(false)
    }
  }
}
