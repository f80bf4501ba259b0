package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Text-analysis and deduplication operators over the `documents` table —
  * the training-data-pipeline surface (exact dedup, MinHash+LSH, SimHash,
  * n-gram Jaccard, language-ID, quality scoring, token counting,
  * fingerprinting). Each oracle rebuilds the identical md5-derived hashes
  * in DuckDB, so signatures/pairs/scores are value-checked, not just
  * row-counted.
  */
object TextQueries {

  /** SQL twin of TextFunctions.normText. */
  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Near-dup fixture: every 29th doc re-appears with its first 20 chars
    * cut — guarantees LSH-findable pairs (the corpus itself is random
    * soup with no natural near-dups). SQL twin below, Spark twin next.
    */
  private[queries] val nearDupSql =
    s"""SELECT doc_id, text FROM documents
       |UNION ALL
       |SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
       |FROM documents WHERE doc_id % 29 = 0""".stripMargin

  private[queries] def nearDupDocs(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text").unionAll(
      docs.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text")))

  /** Exact-dup fixture: every 31st doc duplicated verbatim. */
  private val exactDupSql =
    s"""SELECT doc_id, text FROM documents
       |UNION ALL
       |SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 31 = 0""".stripMargin

  private def exactDupDocs(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text").unionAll(
      docs.where(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))

  /** Shared oracle CTE: MinHash signatures (8 hashes, 8-char shingles)
    * over the near-dup-seeded corpus — Broder derivation (a + i·b) mod
    * 2^32 from one md5 per shingle. [[sigSqlFor]] parameterizes the
    * corpus (q598/q599 plant a degenerate clone set).
    */
  private[queries] def sigSqlFor(docsSql: String): String =
    s"""docs AS ($docsSql),
       |nrm AS (SELECT doc_id, $normSql AS nt FROM docs),
       |sh AS (SELECT doc_id,
       |         unnest([substr(nt, i, 8) for i in generate_series(1, greatest(len(nt) - 7, 1))]) AS sh
       |       FROM nrm),
       |ab AS (SELECT doc_id,
       |         ('0x' || substr(md5(sh), 1, 8))::BIGINT AS a,
       |         (('0x' || substr(md5(sh), 9, 8))::BIGINT | 1) AS b
       |       FROM sh),
       |sig AS (SELECT doc_id,
       |${(0 until 8).map(i => s"  MIN((a + $i * b) % 4294967296) AS m$i").mkString(",\n")}
       |  FROM ab GROUP BY doc_id)""".stripMargin

  private[queries] val sigSql = sigSqlFor(nearDupSql)

  /** Shared DSIR oracle (q613 full / q615 incremental — the sigSqlFor
    * pattern): raw corpus parameterized via `rawSql`, target fixed to
    * the index's lexicographically-first source, `restrict` narrows the
    * scored docs (the incremental arm's shard-id restriction). One
    * definition so the two queries can never silently disagree about
    * the hashing, smoothing, or weight formula they jointly pin.
    */
  private def dsirSqlFor(rawSql: String, restrict: String): String =
    s"""WITH u AS ($rawSql),
       |nrmA AS (SELECT doc_id, $normSql AS nt FROM u),
       |nrmT AS (SELECT d.doc_id, ${normSql.replace("text", "d.text")} AS nt
       |         FROM documents d
       |         WHERE d.source = (SELECT min(source) FROM documents)),
       |tA AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM nrmA),
       |tT AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM nrmT),
       |gA AS (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
       |         for i in generate_series(1, len(tk) - 1)]) AS g FROM tA),
       |gT AS (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
       |         for i in generate_series(1, len(tk) - 1)]) AS g FROM tT),
       |fA AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 4))::BIGINT % 512 AS f FROM gA),
       |fT AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 4))::BIGINT % 512 AS f FROM gT),
       |rawCnt AS (SELECT f, COUNT(*) AS cr FROM fA GROUP BY f),
       |tgtCnt AS (SELECT f, COUNT(*) AS ct FROM fT GROUP BY f),
       |tot AS (SELECT (SELECT SUM(cr) FROM rawCnt) AS rtot,
       |               (SELECT SUM(ct) FROM tgtCnt) AS ttot),
       |w AS (SELECT r.f,
       |        (1000000 * (coalesce(t.ct, 0) + 1) * (tot.rtot + 512))
       |          // ((r.cr + 1) * (tot.ttot + 512)) AS w
       |      FROM rawCnt r LEFT JOIN tgtCnt t ON r.f = t.f, tot)
       |SELECT a.doc_id, COUNT(*) AS n_feats,
       |  CAST(SUM(w.w) // COUNT(*) AS BIGINT) AS dsir_scaled
       |FROM fA a JOIN w ON a.f = w.f
       |$restrict
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin

  /** Oversized-document fixture for the jaccardVerify shingle cap
    * (q618): the near-dup corpus plus two giant documents — the sorted
    * concatenation of docs 1-100 and of docs 5-100 (near-dups of each
    * other, thousands of distinct shingles each, far over any per-row
    * cap). SQL twin here; the Spark twin builds the same concatenation
    * with array_sort(collect_list(struct(doc_id, text))).
    */
  private val bigDocsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
      |FROM documents WHERE doc_id % 29 = 0
      |UNION ALL
      |SELECT 500001 AS doc_id,
      |  (SELECT string_agg(text, ' ' ORDER BY doc_id) FROM documents WHERE doc_id BETWEEN 1 AND 100) AS text
      |UNION ALL
      |SELECT 500002 AS doc_id,
      |  (SELECT string_agg(text, ' ' ORDER BY doc_id) FROM documents WHERE doc_id BETWEEN 5 AND 100) AS text""".stripMargin

  /** Degenerate-bucket fixture for the LSH hot-bucket cap (q598/q599):
    * the corpus plus 30 verbatim clones of doc 1 — one 31-member bucket
    * per band, far over the cap of 12. SQL twin + Spark twin.
    */
  private val cloneDocsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT 300001 + i AS doc_id, text FROM documents, generate_series(0, 29) AS t(i)
      |WHERE doc_id = 1""".stripMargin

  private def cloneDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    val base = docs.select("doc_id", "text")
    val clones = base.where(col("doc_id") === 1)
      .crossJoin(s.range(30).select((col("id") + 300001L).as("cid")))
      .select(col("cid").as("doc_id"), col("text"))
    base.unionAll(clones)
  }

  /** Oracle twin of the capped candidate set
    * ([[Dedup.minhashCandidates]] with maxBucket): buckets over the cap
    * contribute hub-star edges (min doc_id → each member), the rest keep
    * exact all-pairs.
    */
  private val cappedCandSql =
    s"""${sigSqlFor(cloneDocsSql)},
       |bands AS (
       |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
       |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
       |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
       |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
       |stats AS (SELECT band, bucket, COUNT(*) AS bsz, MIN(doc_id) AS hub
       |          FROM bands GROUP BY band, bucket),
       |sized AS (SELECT b.doc_id, b.band, b.bucket, s.bsz, s.hub
       |          FROM bands b JOIN stats s ON b.band = s.band AND b.bucket = s.bucket),
       |cand AS (SELECT DISTINCT d1, d2 FROM (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2
       |  FROM sized x JOIN sized y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |  WHERE x.bsz <= 12
       |  UNION ALL
       |  SELECT hub AS d1, doc_id AS d2 FROM sized WHERE bsz > 12 AND doc_id <> hub))""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokenization over normalized text.
    QueryDef.sql(
      "q20_token_count",
      s"""SELECT doc_id, len(string_split($normSql, ' ')) AS n_tokens, n_chars
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          size(tokens(normText(col("text")))).cast("long").as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    // Language-ID: n-gram/stopword marker scoring with a fixed-precedence
    // argmax — the deterministic heuristic shape of fasttext-style LID.
    QueryDef.sql(
      "q21_lang_id",
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |sc AS (SELECT doc_id,
         |  len(regexp_extract_all(nt, '\\b(the|of|and)\\b')) AS s_en,
         |  len(regexp_extract_all(nt, '\\b(der|die|das|und)\\b')) AS s_de,
         |  len(regexp_extract_all(nt, '\\b(el|la|los|de)\\b')) AS s_es,
         |  len(regexp_extract_all(nt, '\\b(le|les|des|une)\\b')) AS s_fr
         | FROM nrm)
         |SELECT doc_id, s_en, s_de, s_es, s_fr,
         |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // table-driven: the four probes are rows of Curate.defaultLangProbes
      // (adding a language is data — see q591 for a 5-language table)
      val nrm = Tables(s, dir).documents
        .select(col("doc_id"), normText(col("text")).as("nt"))
      val scored = graft.operators.Curate.langScores(nrm)
      scored.withColumn("pred_lang", graft.operators.Curate.predLang(scored))
        .select("doc_id", "s_en", "s_de", "s_es", "s_fr", "pred_lang")
        .orderBy("doc_id")
    },

    // Quality scoring: length / punctuation / stopword-ratio heuristics,
    // ratios floor-scaled for cross-engine determinism.
    QueryDef.sql(
      "q22_quality_score",
      s"""WITH nrm AS (SELECT doc_id, n_chars, $normSql AS nt FROM documents),
         |m AS (SELECT doc_id, n_chars,
         |  len(string_split(nt, ' ')) AS n_tokens,
         |  len(regexp_extract_all(nt, '[.!?,;:]')) AS n_punct,
         |  len(regexp_extract_all(nt, '\\b(the|a|of|and|to|in)\\b')) AS n_stop
         | FROM nrm)
         |SELECT doc_id, n_chars, n_tokens, n_punct, n_stop,
         |  CAST(FLOOR(10000.0 * n_stop / n_tokens) AS BIGINT) AS stop_ratio_scaled,
         |  CAST(FLOOR(100.0 * n_chars / n_tokens) AS BIGINT) AS chars_per_token_scaled
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars"), normText(col("text")).as("nt"))
        .select(col("doc_id"), col("n_chars"),
          size(tokens(col("nt"))).cast("long").as("n_tokens"),
          expr("size(regexp_extract_all(nt, '[.!?,;:]', 0))").cast("long").as("n_punct"),
          expr("size(regexp_extract_all(nt, '\\\\b(the|a|of|and|to|in)\\\\b', 0))").cast("long").as("n_stop"))
        .withColumn("stop_ratio_scaled",
          floor(lit(10000.0) * col("n_stop") / col("n_tokens")).cast("long"))
        .withColumn("chars_per_token_scaled",
          floor(lit(100.0) * col("n_chars") / col("n_tokens")).cast("long"))
        .orderBy("doc_id")
    },

    // Document fingerprinting: whole-content md5 + rolling-hash winnow
    // (min 8-shingle hash — the winnowing primitive).
    QueryDef.sql(
      "q23_fingerprint",
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest([substr(nt, i, 8) for i in generate_series(1, greatest(len(nt) - 7, 1))]) AS sh
         |       FROM nrm),
         |w AS (SELECT doc_id, MIN(('0x' || substr(md5(sh), 1, 8))::BIGINT) AS winnow
         |      FROM sh GROUP BY doc_id)
         |SELECT n.doc_id, md5(n.nt) AS fp, w.winnow
         |FROM nrm n JOIN w ON n.doc_id = w.doc_id ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
      // winnow = min(hash32(shingle)) = lane 0 of the Broder family
      // (a + 0·b = a = hash32), so the native MinHashSignature expression
      // computes it as a pure in-row loop: no explode, no groupBy, no join.
      val sig = graft.plans.GraftFunctions.minhashSignature(
        shingles(col("nt"), 8), 1)
      Tables(s, dir).documents
        .select(col("doc_id"), normText(col("text")).as("nt"))
        .select(col("doc_id"), md5(col("nt")).as("fp"),
          element_at(sig, 1).as("winnow"))
        .orderBy("doc_id")
    },

    // Exact dedup: content-hash groups with keeper choice (min id).
    QueryDef.sql(
      "q24_dedup_exact",
      s"""WITH docs AS ($exactDupSql)
         |SELECT md5($normSql) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
         |FROM docs GROUP BY fp ORDER BY fp""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(exactDupDocs(Tables(s, dir).documents), "doc_id", "text")
        .orderBy("fp")
    },

    // MinHash signatures (8×32-bit, Broder derivation) per document.
    QueryDef.sql(
      "q25_minhash_sig",
      s"""WITH $sigSql
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.minhashSignatures(nearDupDocs(Tables(s, dir).documents), "doc_id", "text")
        .orderBy("doc_id")
    },

    // LSH candidate pairs: 4 bands × 2 rows — docs sharing any band bucket.
    QueryDef.sql(
      "q26_minhash_pairs",
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig)
         |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val sig = Dedup.minhashSignatures(nearDupDocs(Tables(s, dir).documents), "doc_id", "text")
      Dedup.minhashCandidates(sig).orderBy("d1", "d2")
    },

    // Exact n-gram Jaccard verification of the LSH candidates.
    QueryDef.sql(
      "q27_ngram_jaccard",
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (SELECT c.d1, c.d2, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN shd a ON a.doc_id = c.d1
         |  JOIN shd b ON b.doc_id = c.d2 AND b.sh = a.sh
         |  GROUP BY c.d1, c.d2)
         |SELECT c.d1, c.d2, coalesce(i.n_inter, 0) AS n_inter,
         |  na.n + nb.n - coalesce(i.n_inter, 0) AS n_union,
         |  CAST(FLOOR(100000.0 * coalesce(i.n_inter, 0) / (na.n + nb.n - coalesce(i.n_inter, 0))) AS BIGINT) AS jaccard_scaled
         |FROM cand c
         |LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
         |JOIN sizes na ON na.doc_id = c.d1
         |JOIN sizes nb ON nb.doc_id = c.d2
         |ORDER BY c.d1, c.d2""".stripMargin) { (s, dir) =>
      val docs = nearDupDocs(Tables(s, dir).documents)
      val sig  = Dedup.minhashSignatures(docs, "doc_id", "text")
      val cand = Dedup.minhashCandidates(sig).cache()
      Dedup.jaccardVerify(cand, docs, "doc_id", "text")
        .select("d1", "d2", "n_inter", "n_union", "jaccard_scaled")
        .orderBy("d1", "d2")
    },

    // LSH hot-bucket cap, value-checked end-to-end (the 100 TB safety
    // valve, spec-pinned in LshBucketCapSpec, here oracle-checked): a
    // planted 31-clone bucket exceeds cap=12, so it contributes B−1
    // hub-star edges instead of C(31,2)=465 pairs; every bucket at or
    // under the cap keeps exact all-pairs. The oracle recomputes the
    // identical split from the same signatures.
    QueryDef.sql(
      "q598_lsh_cap_pairs",
      s"""WITH $cappedCandSql
         |SELECT d1, d2 FROM cand ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val docs = cloneDocs(s, Tables(s, dir).documents)
      val sig  = Dedup.minhashSignatures(docs, "doc_id", "text")
      Dedup.minhashCandidates(sig, maxBucket = Some(12)).orderBy("d1", "d2")
    },

    // Connected components over the CAPPED candidate graph: hub-star
    // edges preserve exactly the connectivity the clustering needs — the
    // 31-clone clique still collapses to one component labeled by its
    // minimum member. Oracle: recursive-CTE transitive closure over the
    // same capped edges (the q68 pattern).
    QueryDef.sql(
      "q599_lsh_cap_clusters",
      s"""WITH RECURSIVE $cappedCandSql,
         |sym AS (SELECT d1 AS src, d2 AS dst FROM cand
         |        UNION SELECT d2, d1 FROM cand),
         |reach(v, w) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.w = s.src),
         |comp AS (SELECT v AS doc_id, LEAST(v, MIN(w)) AS component
         |         FROM reach GROUP BY v)
         |SELECT c.doc_id, c.component, n.n_members
         |FROM comp c
         |JOIN (SELECT component, COUNT(*) AS n_members
         |      FROM comp GROUP BY component) n USING (component)
         |ORDER BY c.component, c.doc_id""".stripMargin) { (s, dir) =>
      val docs = cloneDocs(s, Tables(s, dir).documents)
      val sig  = Dedup.minhashSignatures(docs, "doc_id", "text")
      val cand = Dedup.minhashCandidates(sig, maxBucket = Some(12))
      val comp = Dedup.connectedComponents(cand)
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("n_members"))
      comp.join(sizes, Seq("component"))
        .select(col("doc_id"), col("component"), col("n_members"))
        .orderBy("component", "doc_id")
    },

    // Incremental LSH dedup: a NEW shard (the truncated near-dup
    // variants, ids ≥ 100000) probes the existing corpus's band-bucket
    // index — shard-vs-index pairs + shard-internal pairs, NEVER
    // index×index re-pairing. The continuous-ingestion shape: cost
    // follows |shard|, not |corpus|. Equivalent to the full-corpus
    // candidates restricted to pairs touching the shard (signatures are
    // per-doc) — DedupSpec pins the equivalence; the oracle builds the
    // same probe/intra split from the same signatures.
    QueryDef.sql(
      "q601_incremental_dedup",
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
         |idx AS (SELECT * FROM bands WHERE doc_id < 100000),
         |shd AS (SELECT * FROM bands WHERE doc_id >= 100000),
         |probe AS (SELECT LEAST(s.doc_id, i.doc_id) AS d1, GREATEST(s.doc_id, i.doc_id) AS d2
         |  FROM shd s JOIN idx i ON s.band = i.band AND s.bucket = i.bucket),
         |intra AS (SELECT x.doc_id AS d1, y.doc_id AS d2
         |  FROM shd x JOIN shd y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
         |SELECT DISTINCT d1, d2
         |FROM (SELECT * FROM probe UNION ALL SELECT * FROM intra)
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir).documents
      val index = base.select("doc_id", "text")
      val shard = base.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      Dedup.incrementalCandidates(
        Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text")),
        Dedup.lshBands(Dedup.minhashSignatures(shard, "doc_id", "text")))
        .orderBy("d1", "d2")
    },

    // maxBucket on the INCREMENTAL arm, value-checked end-to-end (the r8
    // IVF hot-cell recipe on the LSH side): a degenerate bucket SPANNING
    // index (doc 1 + 15 verbatim clones) and shard (16 more clones) has
    // 32 members over the union — past cap 12 — so it contributes only
    // hub-star edges touching the shard (hub = doc 1, the union min:
    // exactly the 16 shard-clone edges), while every ≤-cap bucket keeps
    // the exact probe/intra pairs (the truncated %29 near-dups). The
    // oracle recomputes the identical dense/star split from the union's
    // signatures with sizes measured over index ∪ shard.
    QueryDef.sql(
      "q607_lsh_cap_incremental", {
        val unionSql =
          """SELECT doc_id, text FROM documents
            |UNION ALL
            |SELECT 300000 + i AS doc_id, text FROM documents, generate_series(1, 15) t(i)
            |WHERE doc_id = 1
            |UNION ALL
            |SELECT 400000 + i AS doc_id, text FROM documents, generate_series(1, 16) u(i)
            |WHERE doc_id = 1
            |UNION ALL
            |SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
            |FROM documents WHERE doc_id % 29 = 0""".stripMargin
        val isShd = (c: String) =>
          s"($c >= 400000 OR ($c >= 100000 AND $c < 200000))"
        s"""WITH ${sigSqlFor(unionSql)},
           |bands AS (
           |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
           |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
           |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
           |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
           |stats AS (SELECT band, bucket, COUNT(*) AS bsz, MIN(doc_id) AS hub
           |          FROM bands GROUP BY band, bucket),
           |sized AS (SELECT b.doc_id, b.band, b.bucket, s.bsz, s.hub
           |          FROM bands b JOIN stats s ON b.band = s.band AND b.bucket = s.bucket)
           |SELECT DISTINCT d1, d2 FROM (
           |  SELECT x.doc_id AS d1, y.doc_id AS d2
           |  FROM sized x JOIN sized y
           |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
           |  WHERE x.bsz <= 12 AND (${isShd("x.doc_id")} OR ${isShd("y.doc_id")})
           |  UNION ALL
           |  SELECT hub AS d1, doc_id AS d2 FROM sized
           |  WHERE bsz > 12 AND doc_id <> hub
           |    AND (${isShd("doc_id")} OR ${isShd("hub")}))
           |ORDER BY d1, d2""".stripMargin
      }) { (s, dir) =>
      val base = Tables(s, dir).documents
      val doc1 = base.where(col("doc_id") === 1).select("text")
      val idxClones = s.range(15).crossJoin(broadcast(doc1))
        .select((col("id") + 300001L).as("doc_id"), col("text"))
      val shdClones = s.range(16).crossJoin(broadcast(doc1))
        .select((col("id") + 400001L).as("doc_id"), col("text"))
      val index = base.select("doc_id", "text").unionAll(idxClones)
      val shard = base.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
        .unionAll(shdClones)
      Dedup.incrementalCandidates(
        Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text")),
        Dedup.lshBands(Dedup.minhashSignatures(shard, "doc_id", "text")),
        maxBucket = Some(12))
        .orderBy("d1", "d2")
    },

    // Incremental cluster maintenance — the third leg of continuous
    // ingestion (q601 admits candidates; this merges them into the
    // EXISTING dedup clustering without re-running CC over the corpus):
    // prior labels = CC over the index's own candidates (documents +
    // verbatim dups at +200000), a truncated-variant shard (+100000)
    // admits via incrementalCandidates, and the new edges collapse onto
    // their endpoints' current component labels — the meta-CC is
    // O(|shard edges|), the label rewrite one broadcast pass. The oracle
    // PROVES the headline equivalence (incremental ≡ full CC over
    // old ∪ new pairs) by computing the full recursive closure over the
    // union corpus's complete band-collision graph.
    QueryDef.sql(
      "q604_incremental_cc", {
        val uSql =
          """SELECT doc_id, text FROM documents
            |UNION ALL
            |SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 31 = 0
            |UNION ALL
            |SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
            |FROM documents WHERE doc_id % 29 = 0""".stripMargin
        s"""WITH RECURSIVE ${sigSqlFor(uSql)},
           |bands AS (
           |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
           |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
           |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
           |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
           |sym AS (SELECT d1 AS src, d2 AS dst FROM cand
           |        UNION SELECT d2, d1 FROM cand),
           |reach(v, w) AS (
           |  SELECT src, dst FROM sym
           |  UNION
           |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.w = s.src),
           |comp AS (SELECT v AS doc_id, LEAST(v, MIN(w)) AS component
           |         FROM reach GROUP BY v)
           |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val base = Tables(s, dir).documents
      val index = base.select("doc_id", "text").unionAll(
        base.where(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val shard = base.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      // the corpus BAND relation materializes once (r10 optimization):
      // the full pairing and the shard probe share one lshBands pass
      // instead of each re-deriving the corpus-sized band relation
      val bands0 = Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text"))
      // corpus CC ∥ shard probe — independent until the merge (core.Par,
      // guide §2.6; q605's composition note)
      val (labels, newPairs) = graft.core.Par.two(
        Dedup.connectedComponents(Dedup.minhashCandidatesBanded(bands0))) {
        Dedup.incrementalCandidates(bands0,
          Dedup.lshBands(Dedup.minhashSignatures(shard, "doc_id", "text")))
      }
      Dedup.incrementalComponents(labels, newPairs).orderBy("doc_id")
    },

    // The 100-TB ingestion loop as ONE oracle-checked query: shard →
    // incremental candidates (q601) → exact Jaccard verification
    // restricted to those candidates (q27) → incremental cluster merge
    // (q604) → updated dedup-savings report (q584's shape). Every
    // cross-document step follows |shard|: the index is probed by band
    // bucket, verification reads only candidate docs' shingle sets, and
    // the cluster merge collapses onto existing labels. The oracle
    // replays the whole loop relationally — candidates split, Jaccard
    // threshold, recursive closure over (index pairs ∪ verified shard
    // pairs), histogram with never-paired docs as singletons.
    QueryDef.sql(
      "q605_incremental_pipeline",
      s"""WITH RECURSIVE $sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |idxp AS (SELECT d1, d2 FROM cand WHERE d2 < 100000),
         |newp AS (SELECT d1, d2 FROM cand WHERE d2 >= 100000),
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (SELECT c.d1, c.d2, COUNT(*) AS n_inter
         |  FROM newp c
         |  JOIN shd a ON a.doc_id = c.d1
         |  JOIN shd b ON b.doc_id = c.d2 AND b.sh = a.sh
         |  GROUP BY c.d1, c.d2),
         |ver AS (SELECT c.d1, c.d2 FROM newp c
         |  LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
         |  JOIN sizes na ON na.doc_id = c.d1
         |  JOIN sizes nb ON nb.doc_id = c.d2
         |  WHERE CAST(FLOOR(100000.0 * coalesce(i.n_inter, 0) /
         |    (na.n + nb.n - coalesce(i.n_inter, 0))) AS BIGINT) >= 50000),
         |allp AS (SELECT d1, d2 FROM idxp UNION ALL SELECT d1, d2 FROM ver),
         |sym AS (SELECT d1 AS src, d2 AS dst FROM allp
         |        UNION SELECT d2, d1 FROM allp),
         |reach(v, w) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.w = s.src),
         |comp AS (SELECT v AS doc_id, LEAST(v, MIN(w)) AS component
         |         FROM reach GROUP BY v),
         |clus AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component),
         |singles AS (SELECT COUNT(*) AS n FROM docs
         |            WHERE doc_id NOT IN (SELECT doc_id FROM comp)),
         |hist AS (SELECT sz AS cluster_size, COUNT(*) AS n_clusters FROM clus GROUP BY sz
         |         UNION ALL SELECT 1, n FROM singles WHERE n > 0)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
         |  CAST(SUM(n_clusters) * cluster_size AS BIGINT) AS n_docs,
         |  CAST(SUM(n_clusters) * (cluster_size - 1) AS BIGINT) AS n_removable
         |FROM hist GROUP BY cluster_size ORDER BY cluster_size""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir).documents
      val index = base.select("doc_id", "text")
      val shard = base.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      val union = index.unionAll(shard)
      // ONE shared band materialization (q604's composition note)
      val bands0 = Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text"))
      // corpus CC and the shard probe/verify are data-independent until
      // the cluster merge — overlap them (core.Par, guide §2.6): both
      // legs are chains of small sequential jobs whose barriers leave
      // executors idle, and FIFO scheduling backfills one leg's idle
      // capacity with the other's tasks. The verify leg materializes its
      // edges inside the branch so the overlap covers the expensive
      // intersect work, not just the candidate probe.
      val (labels, verified) = graft.core.Par.two(
        Dedup.connectedComponents(Dedup.minhashCandidatesBanded(bands0))) {
        val cand = Dedup.incrementalCandidates(bands0,
          Dedup.lshBands(Dedup.minhashSignatures(shard, "doc_id", "text")))
        Dedup.jaccardVerify(cand, union, "doc_id", "text")
          .where(col("jaccard_scaled") >= 50000).select("d1", "d2")
          .localCheckpoint(true)
      }
      val updated = Dedup.incrementalComponents(labels, verified)
      val clus = updated.groupBy("component").agg(count(lit(1)).as("sz"))
      val singles = union.select("doc_id")
        .join(updated.select("doc_id"), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_clusters"))
        .select(lit(1L).as("cluster_size"), col("n_clusters"))
        .where(col("n_clusters") > 0)
      clus.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .unionAll(singles)
        .groupBy("cluster_size")
        .agg(sum("n_clusters").as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("n_clusters") * col("cluster_size")).as("n_docs"),
          (col("n_clusters") * (col("cluster_size") - 1)).as("n_removable"))
        .orderBy("cluster_size")
    },

    // TWO consecutive shards through the MAINTAINED index — the proof
    // that index maintenance closes the ingestion loop: shard1 (verbatim
    // dups, +200000) admits against the persisted band relation, its
    // bands APPEND (appendBands — at scale a partition-local parquet
    // append, MaterializedIndexSpec), its edges merge into the labels
    // (incrementalComponents); shard2 (truncated near-dups, +100000)
    // then probes the APPENDED index and merges into the UPDATED labels.
    // The oracle proves the chain end-to-end: the final labeling must
    // equal the full recursive closure over the THREE-part union
    // corpus's complete band-collision graph — nothing about the
    // two-step maintained path may diverge from a one-shot rebuild.
    QueryDef.sql(
      "q609_two_shard_ingest", {
        val uSql =
          """SELECT doc_id, text FROM documents
            |UNION ALL
            |SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 31 = 0
            |UNION ALL
            |SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
            |FROM documents WHERE doc_id % 29 = 0""".stripMargin
        s"""WITH RECURSIVE ${sigSqlFor(uSql)},
           |bands AS (
           |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
           |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
           |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
           |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
           |sym AS (SELECT d1 AS src, d2 AS dst FROM cand
           |        UNION SELECT d2, d1 FROM cand),
           |reach(v, w) AS (
           |  SELECT src, dst FROM sym
           |  UNION
           |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.w = s.src),
           |comp AS (SELECT v AS doc_id, LEAST(v, MIN(w)) AS component
           |         FROM reach GROUP BY v)
           |SELECT c.doc_id, c.component, n.n_members
           |FROM comp c
           |JOIN (SELECT component, COUNT(*) AS n_members
           |      FROM comp GROUP BY component) n USING (component)
           |ORDER BY c.doc_id""".stripMargin
      }) { (s, dir) =>
      val base = Tables(s, dir).documents
      val index = base.select("doc_id", "text")
      val shard1 = base.where(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val shard2 = base.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      // the persisted state: band index + labels (the corpus band
      // relation materializes ONCE for the full pairing and both shard
      // probes)
      val bands0 = Dedup.lshBands(Dedup.minhashSignatures(index, "doc_id", "text"))
      // corpus CC ∥ (shard1 admit + index APPEND) — independent until the
      // first merge (core.Par, guide §2.6): the persisted state between
      // ingests (labels + appended bands) materializes as before, in
      // production both are on-disk relations. r11: shard1's band
      // relation materializes ONCE and feeds both the probe and the
      // append — one shard band pass, not one per consumer.
      val (labels0, (cand1, bands1)) = graft.core.Par.two(
        Dedup.connectedComponents(Dedup.minhashCandidatesBanded(bands0))) {
        val sb1 = Dedup.lshBands(Dedup.minhashSignatures(shard1, "doc_id", "text"))
        (Dedup.incrementalCandidates(bands0, sb1),
          Dedup.appendBands(bands0, sb1).localCheckpoint(true))
      }
      // shard1's label merge ∥ shard2's probe of the MAINTAINED index —
      // the merge needs (labels0, cand1), the probe needs bands1 only
      val (labels1, cand2) = graft.core.Par.two(
        Dedup.incrementalComponents(labels0, cand1).localCheckpoint(true)) {
        Dedup.incrementalCandidates(bands1,
          Dedup.lshBands(Dedup.minhashSignatures(shard2, "doc_id", "text")))
      }
      val labels2 = Dedup.incrementalComponents(labels1, cand2)
      val sizes = labels2.groupBy("component").agg(count(lit(1)).as("n_members"))
      labels2.join(sizes, Seq("component"))
        .select(col("doc_id"), col("component"), col("n_members"))
        .orderBy("doc_id")
    },

    // SimHash near-dup pairs: Hamming ≤ 3 within top-byte blocks over the
    // exact-dup-seeded corpus (duplicates ⇒ hamming 0, guaranteed hits).
    QueryDef.sql(
      "q35_simhash_pairs",
      s"""WITH docs AS ($exactDupSql),
         |nrm AS (SELECT doc_id, $normSql AS nt FROM docs),
         |tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM nrm),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h FROM tok),
         |bits AS (SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h, generate_series(0, 15) t(b) GROUP BY doc_id, b),
         |sim AS (SELECT doc_id,
         |    SUM(CASE WHEN s > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END) AS simhash
         |  FROM bits GROUP BY doc_id),
         |blk AS (SELECT doc_id, simhash, simhash // 256 AS blk FROM sim)
         |SELECT x.doc_id AS d1, y.doc_id AS d2,
         |  bit_count(xor(x.simhash, y.simhash)) AS hamming
         |FROM blk x JOIN blk y ON x.blk = y.blk AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val sim = Dedup.simhash16(exactDupDocs(Tables(s, dir).documents), "doc_id", "text")
      Dedup.simhashPairs(sim, 3)
        .select(col("d1"), col("d2"), col("hamming").cast("long").as("hamming"))
        .orderBy("d1", "d2")
    },

    // SimHash block cap, value-checked end-to-end: simhash blocks
    // CONCENTRATE on real text (this corpus already grows a 237-member
    // natural block at sf0.1), and 200 verbatim clones of doc 1 push its
    // block past cap 150 — both kinds of oversized block pair only
    // through their hub (min doc_id), Hamming-VERIFIED, a subset of the
    // exact output; every ≤-cap block keeps exact all-pairs. The oracle
    // rebuilds the identical witness-restricted x-side from the same
    // fingerprints.
    QueryDef.sql(
      "q612_simhash_capped",
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT 300000 + i AS doc_id, text FROM documents, generate_series(1, 200) t(i)
         |  WHERE doc_id = 1),
         |nrm AS (SELECT doc_id, $normSql AS nt FROM docs),
         |tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM nrm),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h FROM tok),
         |bits AS (SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h, generate_series(0, 15) t(b) GROUP BY doc_id, b),
         |sim AS (SELECT doc_id,
         |    SUM(CASE WHEN s > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END) AS simhash
         |  FROM bits GROUP BY doc_id),
         |blked AS (SELECT doc_id, simhash, simhash // 256 AS blk FROM sim),
         |stats AS (SELECT blk, COUNT(*) AS bsz, MIN(doc_id) AS hub
         |          FROM blked GROUP BY blk),
         |xs AS (SELECT k.doc_id, k.simhash, k.blk
         |       FROM blked k JOIN stats s USING (blk)
         |       WHERE s.bsz <= 150 OR k.doc_id = s.hub)
         |SELECT x.doc_id AS d1, y.doc_id AS d2,
         |  bit_count(xor(x.simhash, y.simhash)) AS hamming
         |FROM xs x JOIN blked y ON x.blk = y.blk AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir).documents
      val clones = s.range(200)
        .crossJoin(broadcast(base.where(col("doc_id") === 1).select(col("text").as("t1"))))
        .select((lit(300001L) + col("id")).as("doc_id"), col("t1").as("text"))
      val sim = Dedup.simhash16(base.select("doc_id", "text").unionAll(clones),
        "doc_id", "text")
      Dedup.simhashPairs(sim, 3, maxBlock = Some(150))
        .select(col("d1"), col("d2"), col("hamming").cast("long").as("hamming"))
        .orderBy("d1", "d2")
    },

    // Corpus-cleaning pipeline composition: quality filter → exact-dedup
    // keeper join → per-source stats — the end-to-end shape of a training
    // data preparation job.
    QueryDef.sql(
      "q36_corpus_clean",
      s"""WITH nrm AS (SELECT doc_id, source, $normSql AS nt FROM documents),
         |q AS (SELECT doc_id, source, nt, len(string_split(nt, ' ')) AS n_tokens
         |      FROM nrm),
         |flt AS (SELECT * FROM q WHERE n_tokens >= 20),
         |keep AS (SELECT md5(nt) AS fp, MIN(doc_id) AS keep_id FROM flt GROUP BY fp),
         |clean AS (SELECT f.doc_id, f.source, f.n_tokens
         |  FROM flt f JOIN keep k ON f.doc_id = k.keep_id)
         |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(FLOOR(100.0 * SUM(n_tokens) / COUNT(*)) AS BIGINT) AS avg_tokens_scaled
         |FROM clean GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val nrm = Tables(s, dir).documents
        .select(col("doc_id"), col("source"), normText(col("text")).as("nt"))
        .withColumn("n_tokens", size(tokens(col("nt"))).cast("long"))
      val flt  = nrm.where(col("n_tokens") >= 20)
      val keep = flt.groupBy(md5(col("nt")).as("fp")).agg(min(col("doc_id")).as("keep_id"))
      flt.join(keep, flt("doc_id") === keep("keep_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
          floor(lit(100.0) * sum(col("n_tokens")) / count(lit(1))).cast("long").as("avg_tokens_scaled"))
        .orderBy("source")
    },

    // DSIR-style importance scoring (Xie et al. 2023 shape, engine-exact
    // integer surrogate): hashed-bigram buckets carry add-one-smoothed
    // target-vs-raw frequency ratios; each doc scores the count-weighted
    // mean of its feature ratios (10^6 = parity). Target = the corpus's
    // lexicographically first source (a deterministic quality-proxy
    // stand-in). Two bucket aggregates + one broadcast weight join —
    // the corpus never shuffles; the weight table is `buckets` rows at
    // any corpus size. The oracle rebuilds the identical md5 feature
    // hashing, HUGEINT-exact ratio, and per-doc mean.
    QueryDef.sql(
      "q613_dsir_importance",
      dsirSqlFor("SELECT doc_id, text FROM documents", "")) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val minSrc = docs.agg(min("source").as("ms"))
      val target = docs.join(broadcast(minSrc), col("source") === col("ms"))
        .select("doc_id", "text")
      graft.operators.Curate.dsirScores(docs.select("doc_id", "text"), target)
        .orderBy("doc_id")
    },

    // Incremental DSIR — the curation leg of the continuous-ingestion
    // loop: BOTH corpora's hashed-bigram bucket counts are PERSISTED
    // 512-row states (Curate.dsirState / dsirTargetState — the
    // band-index/cell-map analogue for importance scoring); an ingest
    // shard folds its own counts into the raw side (ratios are defined
    // against raw ∪ shard) and scores WITHOUT rescanning EITHER corpus.
    // The oracle proves the headline equivalence by recomputing full
    // q613-style scores over the union corpus and restricting to shard
    // ids — the incremental path must match bucket-for-bucket,
    // ratio-for-ratio.
    QueryDef.sql(
      "q615_dsir_incremental",
      dsirSqlFor(nearDupSql, "WHERE a.doc_id >= 100000")) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val index = docs.select("doc_id", "text")
      val shard = docs.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      val minSrc = docs.agg(min("source").as("ms"))
      val target = docs.join(broadcast(minSrc), col("source") === col("ms"))
        .select("doc_id", "text")
      graft.operators.Curate.dsirScoresIncremental(
        graft.operators.Curate.dsirState(index),
        graft.operators.Curate.dsirTargetState(target), shard)
        .orderBy("doc_id")
    },

    // DSIR target-state maintenance — the persisted TARGET bucket counts
    // folded under ingestion (dsirTargetStateMerge): the Spark side
    // builds the index target state, merges a target shard in, and must
    // equal the oracle's from-scratch bucket counts over the union
    // target corpus — including the buckets=512 stamp every consumer
    // asserts in-plan. Closes the last per-ingest corpus rescan in the
    // curation leg (the raw side was already stated; now both are).
    QueryDef.sql(
      "q617_dsir_target_state",
      s"""WITH u AS ($nearDupSql),
         |nrm AS (SELECT doc_id, $normSql AS nt FROM u),
         |t AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM nrm),
         |g AS (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
         |        for i in generate_series(1, len(tk) - 1)]) AS g FROM t),
         |f AS (SELECT ('0x' || substr(md5(g), 1, 4))::BIGINT % 512 AS f FROM g)
         |SELECT f, COUNT(*) AS ct, CAST(512 AS BIGINT) AS nb
         |FROM f GROUP BY f ORDER BY f""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val index = docs.select("doc_id", "text")
      val shard = docs.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      graft.operators.Curate.dsirTargetStateMerge(
        graft.operators.Curate.dsirTargetState(index), shard)
        .orderBy("f")
    },

    // Bounded-shingle Jaccard verification — jaccardVerify's maxShingles
    // valve, value-checked end-to-end: two planted giant documents (the
    // sorted concatenation of docs 1-100, and of docs 5-100 — thousands
    // of distinct shingles, far over the 400 cap) verify on their
    // bottom-400 md5-smallest shingle sets, while every ordinary doc
    // (≤ ~570 distinct shingles, most under 407 chars) keeps its exact
    // set where it fits the cap. The planted pair is appended to the
    // LSH candidates explicitly so the cap is exercised at every SF
    // regardless of band collisions. The oracle rebuilds the identical
    // bottom-K relation (row_number over md5(sh), sh) from raw text.
    QueryDef.sql(
      "q618_jaccard_capped",
      s"""WITH ${sigSqlFor(bigDocsSql)},
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
         |  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |  UNION SELECT 500001, 500002),
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         |ranked AS (SELECT doc_id, sh,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY md5(sh), sh) AS rk
         |  FROM shd),
         |kept AS (SELECT doc_id, sh FROM ranked WHERE rk <= 400),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
         |inter AS (SELECT c.d1, c.d2, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN kept a ON a.doc_id = c.d1
         |  JOIN kept b ON b.doc_id = c.d2 AND b.sh = a.sh
         |  GROUP BY c.d1, c.d2)
         |SELECT c.d1, c.d2, coalesce(i.n_inter, 0) AS n_inter,
         |  na.n + nb.n - coalesce(i.n_inter, 0) AS n_union,
         |  CAST(FLOOR(100000.0 * coalesce(i.n_inter, 0) / (na.n + nb.n - coalesce(i.n_inter, 0))) AS BIGINT) AS jaccard_scaled
         |FROM cand c
         |LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
         |JOIN sizes na ON na.doc_id = c.d1
         |JOIN sizes nb ON nb.doc_id = c.d2
         |ORDER BY c.d1, c.d2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents
      def bigDoc(id: Long, from: Long, to: Long) =
        docs.where(col("doc_id").between(from, to))
          .agg(expr("array_join(transform(array_sort(collect_list(struct(doc_id, text)))," +
            " x -> x.text), ' ')").as("text"))
          .select(lit(id).as("doc_id"), col("text"))
      // r10: materialize the union (incl. the two planted giant-doc
      // aggregates) and the candidate pairs ONCE — downstream,
      // jaccardVerify references the candidate relation three times
      // (candIds under both set-side semi-joins + the pair join) and the
      // doc relation twice more; without the cuts those references
      // compile into CONCURRENT broadcast-build jobs that each re-derive
      // the whole giant-doc + minhash + candidate pipeline (JobProf: four
      // parallel ~3.4 s jobs inside one q618 run).
      val u = nearDupDocs(docs)
        .unionAll(bigDoc(500001L, 1L, 100L))
        .unionAll(bigDoc(500002L, 5L, 100L))
        .localCheckpoint(true)
      val sig  = Dedup.minhashSignatures(u, "doc_id", "text")
      val cand = Dedup.minhashCandidates(sig)
        .unionAll(Seq((500001L, 500002L)).toDF("d1", "d2"))
        .distinct()
        .localCheckpoint(true)
      Dedup.jaccardVerify(cand, u, "doc_id", "text", maxShingles = Some(400))
        .select("d1", "d2", "n_inter", "n_union", "jaccard_scaled")
        .orderBy("d1", "d2")
    },

    // ExactSubstr duplicated spans (Lee et al. 2022): per-document
    // MAXIMAL duplicated regions — every position whose 8-gram repeats
    // anywhere in the corpus, with overlapping/adjacent 8-gram intervals
    // merged per doc (gaps-and-islands inside per-document windows).
    // q118 counts the duplicated grams; this emits the span intervals
    // the scrubbing pass removes.
    QueryDef.sql(
      "q630_dup_spans",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |sp AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS gram
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w)),
        |hot AS (SELECT gram FROM sp GROUP BY gram HAVING count(*) >= 2),
        |d AS (SELECT doc_id, i FROM sp WHERE gram IN (SELECT gram FROM hot)),
        |fl AS (SELECT doc_id, i,
        |    CASE WHEN i > coalesce(max(i) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 8 THEN 1 ELSE 0 END AS f
        |  FROM d),
        |isl0 AS (SELECT doc_id, i, sum(f) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM fl)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start, CAST(max(i)+7 AS BIGINT) AS span_end
        |FROM isl0 GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      Dedup.duplicateSpans(Tables(s, dir).documents, "doc_id", "text")
        .orderBy("doc_id", "span_start")
    },

    // The scrubbing pass over q630's spans: every duplicated-span
    // occurrence removed (ALL copies — the ExactSubstr policy), with the
    // cleaned text reconstructed in word order; docs untouched by dedup
    // are filtered out to keep the dump span-grain.
    QueryDef.sql(
      "q631_dup_span_scrub",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |w8 AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 8),
        |sp AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS gram
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w8)),
        |hot AS (SELECT gram FROM sp GROUP BY gram HAVING count(*) >= 2),
        |d AS (SELECT doc_id, i FROM sp WHERE gram IN (SELECT gram FROM hot)),
        |fl AS (SELECT doc_id, i,
        |    CASE WHEN i > coalesce(max(i) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 8 THEN 1 ELSE 0 END AS f
        |  FROM d),
        |isl0 AS (SELECT doc_id, i, sum(f) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM fl),
        |isl AS (SELECT doc_id, min(i) AS s, max(i)+7 AS e FROM isl0 GROUP BY doc_id, grp),
        |wd AS (SELECT doc_id, j, ws[j] AS wd
        |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS j FROM w)),
        |mk AS (SELECT wd.doc_id, wd.j, wd.wd, isl.s
        |       FROM wd LEFT JOIN isl ON isl.doc_id = wd.doc_id AND wd.j BETWEEN isl.s AND isl.e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  coalesce(array_to_string(list(wd ORDER BY j) FILTER (WHERE s IS NULL), ' '), '') AS cleaned_text
        |FROM mk GROUP BY doc_id HAVING n_removed > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.scrubDuplicateSpans(Tables(s, dir).documents, "doc_id", "text")
        .where(col("n_removed") > 0)
        .orderBy("doc_id")
    },

    // Incremental ExactSubstr — q630 as an ingestion-loop leg: the
    // corpus gram counts (with count-1 grams' single occurrence) are a
    // PERSISTED state; a shard ingest re-derives spans for exactly the
    // affected docs — the shard plus old docs whose unique gram the
    // shard duplicates (including span EXTENSIONS, since affected docs
    // re-island all their duplicated positions against union counts).
    // The oracle recomputes spans over the union from raw text and
    // restricts to the independently-derived affected-doc set.
    QueryDef.sql(
      "q632_dup_spans_incremental",
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        |shard AS (SELECT doc_id + 100000 AS doc_id, substring(text, 21) AS text
        |          FROM documents WHERE doc_id % 29 = 0),
        |u AS (SELECT * FROM corpus UNION ALL SELECT * FROM shard),
        |wU AS (SELECT doc_id, string_split(text, ' ') AS ws FROM u
        |       WHERE len(string_split(text, ' ')) >= 8),
        |spU AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS gram
        |        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM wU)),
        |hotU AS (SELECT gram FROM spU GROUP BY gram HAVING count(*) >= 2),
        |singles AS (SELECT gram, min(doc_id) AS d FROM spU WHERE doc_id < 100000
        |            GROUP BY gram HAVING count(*) = 1),
        |aff AS (SELECT doc_id FROM shard
        |        UNION SELECT d FROM singles
        |        WHERE gram IN (SELECT gram FROM spU WHERE doc_id >= 100000)),
        |dU AS (SELECT doc_id, i FROM spU
        |       WHERE gram IN (SELECT gram FROM hotU)
        |         AND doc_id IN (SELECT doc_id FROM aff)),
        |fl AS (SELECT doc_id, i,
        |    CASE WHEN i > coalesce(max(i) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 8 THEN 1 ELSE 0 END AS f
        |  FROM dU),
        |isl0 AS (SELECT doc_id, i, sum(f) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM fl)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start, CAST(max(i)+7 AS BIGINT) AS span_end
        |FROM isl0 GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val corpus = docs.select("doc_id", "text")
      val shard = docs.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      // r11: materialize the gram state ONCE — it stands in for the
      // PERSISTED state of a real ingest (a disk relation, one scan per
      // reference), but as a lazy plan its three references inside
      // dupSpansIncremental (already-duplicated filter, transitioned
      // semi-join, affected-docs lookup) each re-derived the full
      // corpus-token-sized scan+explode+aggregate: the before-plan shows
      // SIX parquet scans of documents and FIVE gram aggregates with
      // zero ReusedExchange (the branches' pruned columns differ, so the
      // exchanges never canonicalize equal) — plans/r11/q632_*_before.
      Dedup.dupSpansIncremental(
          Dedup.dupSpanState(corpus, "doc_id", "text").localCheckpoint(true),
          corpus, shard, "doc_id", "text")
        .orderBy("doc_id", "span_start")
    },

    // Incremental OOV admission — the tokenizer-fit gate (q223's check)
    // as an ingestion-loop leg: the corpus vocabulary is a PERSISTED
    // vocab-grain count state; an ingest shard folds its counts in (the
    // top-K vocabulary is defined over corpus ∪ shard — a heavy shard
    // can shift the cut) and each shard doc reports its OOV ppm against
    // that vocabulary plus the admission verdict. The oracle recomputes
    // the whole thing from the union corpus and restricts to shard ids.
    QueryDef.sql(
      "q616_oov_admit",
      s"""WITH u AS ($nearDupSql),
         |nrm AS (SELECT doc_id, $normSql AS nt FROM u),
         |t AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM nrm),
         |dw AS (SELECT doc_id, w, COUNT(*) AS n FROM t GROUP BY 1, 2),
         |g AS (SELECT w, SUM(n) AS gn FROM dw GROUP BY 1),
         |v AS (SELECT w FROM (SELECT w, ROW_NUMBER() OVER (ORDER BY gn DESC, w) AS rk
         |                     FROM g) WHERE rk <= 30),
         |sc AS (SELECT doc_id,
         |    CAST(SUM(n) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN w IN (SELECT w FROM v) THEN 0 ELSE n END) AS BIGINT) AS n_oov
         |  FROM dw WHERE doc_id >= 100000 GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_oov,
         |  CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm,
         |  (n_oov * 1000000 // n_tokens) <= 500000 AS admitted
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val index = docs.select("doc_id", "text")
      val shard = docs.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      graft.operators.Curate.oovAdmit(
        graft.operators.Curate.vocabState(index), shard)
        .orderBy("doc_id")
    },

    // 16-bit SimHash fingerprints (sign-aggregated token hashes).
    QueryDef.sql(
      "q28_simhash",
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM nrm),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h FROM tok),
         |bits AS (SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h, generate_series(0, 15) t(b) GROUP BY doc_id, b)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.simhash16(Tables(s, dir).documents, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Table-driven language-ID with an ADDED language: both the Spark plan
    // and the DuckDB oracle are generated from the same probe table
    // (Curate.defaultLangProbes + Italian), so extending language coverage
    // is one data row — the form a multilingual corpus needs.
    QueryDef.sql(
      "q591_lang_table", {
        val langs = langProbes5.map(_._1)
        val scoreSql = langProbes5.map { case (l, ws) =>
          s"len(regexp_extract_all(nt, '\\b(${ws.mkString("|")})\\b')) AS s_$l"
        }.mkString(",\n  ")
        val caseSql = langs.init.zipWithIndex.map { case (l, i) =>
          val later = langs.drop(i + 1).map(o => s"s_$o")
          val bound = if (later.size == 1) later.head else s"greatest(${later.mkString(", ")})"
          s"WHEN s_$l >= $bound THEN '$l'"
        }.mkString("CASE ", "\n       ", s" ELSE '${langs.last}' END")
        s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
           |sc AS (SELECT doc_id,
           |  $scoreSql
           | FROM nrm)
           |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
           |  $caseSql AS pred_lang
           |FROM sc ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val nrm = Tables(s, dir).documents
        .select(col("doc_id"), normText(col("text")).as("nt"))
      val scored = graft.operators.Curate.langScores(nrm, langProbes5)
      scored.withColumn("pred_lang", graft.operators.Curate.predLang(scored, langProbes5))
        .select(("doc_id" +: langProbes5.map(p => s"s_${p._1}") :+ "pred_lang")
          .map(col).toSeq: _*)
        .orderBy("doc_id")
    },
  )

  /** The default probe table plus Italian — the q591 "add a language is
    * one data row" demonstration.
    */
  private lazy val langProbes5: Seq[(String, Seq[String])] =
    graft.operators.Curate.defaultLangProbes :+ ("it" -> Seq("il", "di", "che", "non"))
}
