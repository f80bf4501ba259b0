package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Embedding similarity search + multimodal plumbing (training-data
  * pipeline ops). Float math runs on ×10^6 floor-scaled integers so the
  * DuckDB oracle reproduces dot products, cosine ranks and LSH buckets
  * exactly — see Similarity's scaladoc for the scale story.
  */
object EmbeddingQueries {

  /** Oracle CTE: per-vector scaled elements (1-based dim index). */
  private val evSql =
    """ev AS (SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
      |       FROM embeddings, generate_series(1, 64) t(i))""".stripMargin

  /** Oracle CTE chain: md5-derived hyperplane signs → per-plane dots →
    * 8-bit LSH bucket per vector (requires `em(vec_id, embedding)`).
    */
  private val bucketSql =
    """hp AS (SELECT j, i,
      |    CASE WHEN ('0x' || substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 2))::INT % 2 = 1
      |         THEN 1 ELSE -1 END AS s
      |  FROM generate_series(0, 7) t1(j), generate_series(1, 64) t2(i)),
      |evb AS (SELECT vec_id, i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
      |        FROM em, generate_series(1, 64) t(i)),
      |dots AS (SELECT vec_id, j, SUM(s * x) AS d
      |         FROM evb JOIN hp USING (i) GROUP BY vec_id, j),
      |buck AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN d > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id)""".stripMargin

  /** Scaled-cosine SQL from the three integer dots. */
  private def cosSql(dxy: String, dxx: String, dyy: String): String =
    s"CAST(FLOOR(1000000.0 * CAST($dxy AS DOUBLE) / " +
      s"(sqrt(CAST($dxx AS DOUBLE)) * sqrt(CAST($dyy AS DOUBLE)))) AS BIGINT)"

  /** Near-dup fixture: every 37th vector duplicated under a new id. */
  private val dupSql =
    """em AS (SELECT vec_id, embedding FROM embeddings
      |       UNION ALL
      |       SELECT vec_id + 100000 AS vec_id, embedding
      |       FROM embeddings WHERE vec_id % 37 = 0)""".stripMargin

  private def dupVectors(e: DataFrame): DataFrame =
    e.select("vec_id", "embedding").unionAll(
      e.where(col("vec_id") % 37 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))

  val all: Seq[QueryDef] = Seq(

    // Incremental IVF candidates: a NEW vector shard (every 17th≡3
    // vector re-id'd +100000) probes the EXISTING corpus's cell index —
    // the vector twin of q601: centroids and the index cell map come
    // from the index corpus alone, candidates are shard×index +
    // shard×shard cell-mates, index×index is never re-paired (admit
    // cost |shard|·nProbe, not Σ|cell|² over the corpus). The oracle
    // rebuilds the same probe/intra split from the same scaled-integer
    // cosine assignments (the q55 cell map: centroids every 25th,
    // nProbe 2, ties ccos DESC then cid).
    QueryDef.sql(
      "q602_incremental_ann",
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 17 = 3),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb
         |         FROM embeddings WHERE vec_id % 25 = 0),
         |pe AS (SELECT e.vec_id, c.cid, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(c.cemb[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM corpus e, cent c, generate_series(1, 64) t(i)),
         |pd AS (SELECT vec_id, cid, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |       FROM pe GROUP BY vec_id, cid),
         |pc AS (SELECT vec_id, cid, ${cosSql("dxy", "dxx", "dyy")} AS ccos FROM pd),
         |asg AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |    FROM pc) WHERE rn <= 2),
         |idx AS (SELECT * FROM asg WHERE vec_id < 100000),
         |shd AS (SELECT * FROM asg WHERE vec_id >= 100000),
         |pairs AS (
         |  SELECT s.vec_id AS qid, i.vec_id AS cid FROM shd s JOIN idx i ON s.cell = i.cell
         |  UNION ALL
         |  SELECT x.vec_id, y.vec_id FROM shd x JOIN shd y
         |    ON x.cell = y.cell AND x.vec_id <> y.vec_id)
         |SELECT DISTINCT qid, cid FROM pairs ORDER BY qid, cid""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val shard = e.where(col("vec_id") % 17 === 3)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Similarity.ivfIncrementalPairs(e, shard, centroidEvery = 25, nProbe = 2)
        .orderBy("qid", "cid")
    },

    // IVF hot-cell cap — the vector twin of the LSH maxBucket valve
    // (q598/q599): 300 clones of vector 0 (ids ≡ 1 mod 25, never
    // centroids) crowd vec 0's two nearest cells past the cap, so those
    // cells emit hub-star edges (min-id hub ↔ each member, symmetric in
    // the directed convention) while every natural cell (max 75 members
    // across the fixtures) stays on the exact all-pairs path. The oracle
    // rebuilds the identical dense/star split from the same
    // scaled-integer assignments — a skewed embedding distribution can
    // no longer make one crowded cell quadratic.
    QueryDef.sql(
      "q603_ivf_hot_cell",
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT 200001 + 25 * i AS vec_id, e.embedding
         |  FROM embeddings e, generate_series(0, 299) t(i) WHERE e.vec_id = 0),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb
         |         FROM corpus WHERE vec_id % 25 = 0),
         |pe AS (SELECT e.vec_id, c.cid, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(c.cemb[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM corpus e, cent c, generate_series(1, 64) t(i)),
         |pd AS (SELECT vec_id, cid, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |       FROM pe GROUP BY vec_id, cid),
         |pc AS (SELECT vec_id, cid, ${cosSql("dxy", "dxx", "dyy")} AS ccos FROM pd),
         |asg AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |    FROM pc) WHERE rn <= 2),
         |stats AS (SELECT cell, COUNT(*) AS csz, MIN(vec_id) AS hub FROM asg GROUP BY cell),
         |sized AS (SELECT a.vec_id, a.cell, s.csz, s.hub FROM asg a JOIN stats s USING (cell)),
         |dense AS (SELECT x.vec_id AS qid, y.vec_id AS cid
         |  FROM sized x JOIN sized y ON x.cell = y.cell AND x.vec_id <> y.vec_id
         |  WHERE x.csz <= 100),
         |star AS (SELECT hub AS qid, vec_id AS cid FROM sized
         |    WHERE csz > 100 AND vec_id <> hub
         |  UNION ALL
         |  SELECT vec_id, hub FROM sized WHERE csz > 100 AND vec_id <> hub)
         |SELECT DISTINCT qid, cid
         |FROM (SELECT * FROM dense UNION ALL SELECT * FROM star)
         |ORDER BY qid, cid""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val clones = s.range(300)
        .crossJoin(broadcast(e.where(col("vec_id") === 0)
          .select(col("embedding").as("cemb0"))))
        .select((lit(200001L) + col("id") * 25).as("vec_id"),
          col("cemb0").as("embedding"))
      Similarity.ivfCandidatePairs(e.unionAll(clones), 25, 2, maxCell = Some(100))
        .orderBy("qid", "cid")
    },

    // Embedding near-dup pair cap, value-checked end-to-end: 120 clones
    // of vector 0 crowd its 8-bit LSH bucket past cap 60 (natural
    // buckets stay ≤ ~30 at every SF), so that bucket pairs only through
    // its hub — cosine-VERIFIED hub edges, a subset of the exact output
    // — while every ≤-cap bucket keeps exact all-pairs (the %37 verbatim
    // dups all land there and survive the 0.999 threshold). The oracle
    // rebuilds the identical witness-restricted x-side (bsz ≤ cap OR
    // hub) from the same md5-derived buckets and scaled-integer cosines.
    QueryDef.sql(
      "q611_neardup_capped",
      s"""WITH em AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, embedding
         |  FROM embeddings WHERE vec_id % 37 = 0
         |  UNION ALL
         |  SELECT 200000 + i AS vec_id, e.embedding
         |  FROM embeddings e, generate_series(1, 120) t(i) WHERE e.vec_id = 0),
         |$bucketSql,
         |bkt AS (SELECT em.vec_id, em.embedding, b.bucket
         |        FROM em JOIN buck b ON em.vec_id = b.vec_id),
         |stats AS (SELECT bucket, COUNT(*) AS bsz, MIN(vec_id) AS hub
         |          FROM bkt GROUP BY bucket),
         |xs AS (SELECT k.vec_id, k.embedding, k.bucket
         |       FROM bkt k JOIN stats s USING (bucket)
         |       WHERE s.bsz <= 60 OR k.vec_id = s.hub),
         |pairs AS (SELECT x.vec_id AS v1, y.vec_id AS v2,
         |    x.embedding AS e1, y.embedding AS e2
         |  FROM xs x JOIN bkt y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |ev2 AS (SELECT v1, v2, i,
         |    CAST(FLOOR(CAST(e1[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(e2[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM pairs, generate_series(1, 64) t(i)),
         |d AS (SELECT v1, v2, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |      FROM ev2 GROUP BY v1, v2)
         |SELECT v1, v2, ${cosSql("dxy", "dxx", "dyy")} AS cos_scaled
         |FROM d
         |WHERE ${cosSql("dxy", "dxx", "dyy")} >= 999000
         |ORDER BY v1, v2""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val clones = s.range(120)
        .crossJoin(broadcast(e.where(col("vec_id") === 0)
          .select(col("embedding").as("cemb0"))))
        .select((lit(200001L) + col("id")).as("vec_id"),
          col("cemb0").as("embedding"))
      Similarity.nearDupPairs(dupVectors(e).unionAll(clones), 999000L,
          maxBucket = Some(60))
        .orderBy("v1", "v2")
    },

    // Brute-force cosine top-k against one query vector — the exact
    // baseline every ANN variant is judged against.
    QueryDef.sql(
      "q29_embedding_topk",
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |ev2 AS (SELECT e.vec_id, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, q, generate_series(1, 64) t(i)),
         |d AS (SELECT vec_id, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |      FROM ev2 GROUP BY vec_id)
         |SELECT vec_id, ${cosSql("dxy", "dxx", "dyy")} AS cos_scaled
         |FROM d ORDER BY cos_scaled DESC, vec_id LIMIT 20""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.bruteForceTopK(e, e.where(col("vec_id") === 0), 20)
    },

    // LSH-bucketed ANN: candidates from the query's random-hyperplane
    // bucket, exact cosine within.
    QueryDef.sql(
      "q30_ann_lsh",
      s"""WITH em AS (SELECT vec_id, embedding FROM embeddings),
         |$bucketSql,
         |q AS (SELECT e.embedding AS qv, b.bucket AS qb
         |      FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id WHERE e.vec_id = 0),
         |cand AS (SELECT e.vec_id, e.embedding, bk.bucket
         |  FROM embeddings e JOIN buck bk ON e.vec_id = bk.vec_id
         |  JOIN q ON bk.bucket = q.qb),
         |ev2 AS (SELECT c.vec_id, c.bucket, i,
         |    CAST(FLOOR(CAST(c.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM cand c, q, generate_series(1, 64) t(i)),
         |d AS (SELECT vec_id, bucket, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |      FROM ev2 GROUP BY vec_id, bucket)
         |SELECT vec_id, bucket, ${cosSql("dxy", "dxx", "dyy")} AS cos_scaled
         |FROM d ORDER BY cos_scaled DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.annTopK(e, e.where(col("vec_id") === 0), 10)
    },

    // Embedding near-dup pairs: LSH bucket-mates above a cosine threshold
    // (seeded exact duplicates guarantee hits).
    QueryDef.sql(
      "q31_embedding_neardup",
      s"""WITH $dupSql,
         |$bucketSql,
         |bkt AS (SELECT em.vec_id, em.embedding, b.bucket
         |        FROM em JOIN buck b ON em.vec_id = b.vec_id),
         |pairs AS (SELECT x.vec_id AS v1, y.vec_id AS v2,
         |    x.embedding AS e1, y.embedding AS e2
         |  FROM bkt x JOIN bkt y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |ev2 AS (SELECT v1, v2, i,
         |    CAST(FLOOR(CAST(e1[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(e2[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM pairs, generate_series(1, 64) t(i)),
         |d AS (SELECT v1, v2, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |      FROM ev2 GROUP BY v1, v2)
         |SELECT v1, v2, ${cosSql("dxy", "dxx", "dyy")} AS cos_scaled
         |FROM d
         |WHERE ${cosSql("dxy", "dxx", "dyy")} >= 999000
         |ORDER BY v1, v2""".stripMargin) { (s, dir) =>
      Similarity.nearDupPairs(dupVectors(Tables(s, dir).embeddings), 999000L)
        .orderBy("v1", "v2")
    },

    // IVF ANN: deterministic centroids (every 25th vector), Voronoi cell
    // assignment by max cosine, query probes its 2 nearest cells.
    QueryDef.sql(
      "q55_ann_ivf",
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cemb
         |              FROM embeddings WHERE vec_id % 25 = 0),
         |pe AS (SELECT e.vec_id, c.cid, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(c.cemb[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, cent c, generate_series(1, 64) t(i)),
         |pd AS (SELECT vec_id, cid, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |       FROM pe GROUP BY vec_id, cid),
         |pc AS (SELECT vec_id, cid, ${cosSql("dxy", "dxx", "dyy")} AS ccos FROM pd),
         |asg AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |    FROM pc) WHERE rn = 1),
         |probe AS (SELECT cid FROM pc WHERE vec_id = 0 ORDER BY ccos DESC, cid LIMIT 2),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT a.vec_id, a.cell FROM asg a JOIN probe p ON a.cell = p.cid),
         |fe AS (SELECT cand.vec_id, cand.cell, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id, q, generate_series(1, 64) t(i)),
         |fd AS (SELECT vec_id, cell, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |       FROM fe GROUP BY vec_id, cell)
         |SELECT vec_id, cell, ${cosSql("dxy", "dxx", "dyy")} AS cos_scaled
         |FROM fd ORDER BY cos_scaled DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.ivfTopK(e, e.where(col("vec_id") === 0), 10, 25, 2)
    },

    // Real Lloyd k-means for the IVF cell map (closes the r4 caveat
    // "centroids are every-Nth rather than k-means"): deterministic
    // seeds (every 25th vector), 2 reassign+recenter iterations with
    // element-wise integer-mean centroids, final assignment by max
    // scaled cosine. Everything is BIGINT arithmetic, so the oracle
    // UNROLLS the identical 3 assignments / 2 centroid updates and
    // matches bit-for-bit. Scale shape per iteration: elements ⋈
    // broadcast centroid-elements on the dim index (n·C·d, no corpus
    // shuffle) + one map-side-combined centroid aggregate.
    QueryDef.sql(
      "q576_kmeans_ivf", {
        val el =
          """el AS (SELECT vec_id, i,
            |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
            |  FROM embeddings, generate_series(1, 64) t(i))""".stripMargin
        def assignSql(name: String, cent: String) =
          s"""${name}_s AS (SELECT e.vec_id, c.cid,
             |    SUM(e.x * c.c) AS dxy, SUM(e.x * e.x) AS dxx, SUM(c.c * c.c) AS dyy
             |  FROM el e JOIN $cent c USING (i) GROUP BY 1, 2),
             |$name AS (SELECT vec_id, cid AS cell FROM (
             |    SELECT vec_id, cid,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
             |        CAST(FLOOR(1000000.0 * CAST(dxy AS DOUBLE) /
             |          (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))) AS BIGINT) DESC,
             |        cid) AS rn
             |    FROM ${name}_s) WHERE rn = 1)""".stripMargin
        def centSql(name: String, asg: String) =
          s"""$name AS (SELECT a.cell AS cid, e.i, SUM(e.x) // COUNT(*) AS c
             |  FROM el e JOIN $asg a USING (vec_id) GROUP BY 1, 2)""".stripMargin
        s"""WITH $el,
           |c0 AS (SELECT vec_id AS cid, i, x AS c FROM el WHERE vec_id % 25 = 0),
           |${assignSql("a1", "c0")},
           |${centSql("c1", "a1")},
           |${assignSql("a2", "c1")},
           |${centSql("c2", "a2")},
           |${assignSql("af", "c2")}
           |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           |  MIN(vec_id) AS min_member, MAX(vec_id) AS max_member
           |FROM af GROUP BY cell ORDER BY cell""".stripMargin
      }) { (s, dir) =>
      Similarity.kmeansAssignments(Tables(s, dir).embeddings, 25, 2)
        .groupBy("cell").agg(count(lit(1)).as("n_members"),
          min("vec_id").as("min_member"), max("vec_id").as("max_member"))
        .orderBy("cell")
    },

    // Product quantization + ADC: each vector compresses to 8 sub-codes
    // against a deterministic 16-codeword codebook per subspace
    // (training vectors = every 31st id — reproducible without k-means);
    // the query scores candidates by summing its precomputed exact
    // distance to each assigned codeword. Encoding is a pure projection
    // (codebook baked in as literals); the oracle rebuilds codes and the
    // distance table relationally.
    QueryDef.sql(
      "q124_pq_adc",
      """WITH cb AS (
        |  SELECT CAST(vec_id // 31 AS BIGINT) AS c, m, i,
        |    CAST(FLOOR(CAST(embedding[m*8 + i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
        |  FROM embeddings, generate_series(0, 7) tm(m), generate_series(1, 8) ti(i)
        |  WHERE vec_id % 31 = 0 AND vec_id < 496),
        |vs AS (
        |  SELECT vec_id, m, i,
        |    CAST(FLOOR(CAST(embedding[m*8 + i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
        |  FROM embeddings, generate_series(0, 7) tm(m), generate_series(1, 8) ti(i)),
        |l2 AS (SELECT vs.vec_id, vs.m, cb.c, SUM((x - y) * (x - y)) AS d2
        |       FROM vs JOIN cb ON vs.m = cb.m AND vs.i = cb.i GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, c FROM (
        |    SELECT vec_id, m, c, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        |    FROM l2) WHERE rn = 1),
        |qdt AS (SELECT m, c, d2 FROM l2 WHERE vec_id = 0),
        |adc AS (SELECT v.vec_id, CAST(SUM(q.d2) AS BIGINT) AS adc_dist
        |        FROM codes v JOIN qdt q ON v.m = q.m AND v.c = q.c GROUP BY 1)
        |SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.pqTopK(e, e.where(col("vec_id") === 0), 10)
    },

    // ANN quality audit: recall@10 of the LSH bucket search against the
    // exact brute force, per query vector — the metric that justifies an
    // ANN's bucket width. One corpus×queries exact pass feeds BOTH
    // rankings (native bounded-heap top-k per query, never a global
    // sort); the oracle recomputes everything relationally.
    QueryDef.sql(
      "q121_ann_recall",
      s"""WITH em AS (SELECT vec_id, embedding FROM embeddings),
         |$bucketSql,
         |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 125 = 0),
         |pe AS (SELECT q.qid, e.vec_id, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, qs q, generate_series(1, 64) t(i)),
         |d AS (SELECT qid, vec_id, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |      FROM pe GROUP BY qid, vec_id),
         |c AS (SELECT qid, vec_id, ${cosSql("dxy", "dxx", "dyy")} AS cs FROM d),
         |bf AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
         |    FROM c) WHERE rn <= 10),
         |qb AS (SELECT qs.qid, b.bucket FROM qs JOIN buck b ON qs.qid = b.vec_id),
         |annc AS (SELECT c.qid, c.vec_id, c.cs
         |  FROM c JOIN buck bk ON c.vec_id = bk.vec_id
         |  JOIN qb ON qb.qid = c.qid AND bk.bucket = qb.bucket),
         |ann AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
         |    FROM annc) WHERE rn <= 10),
         |h AS (SELECT bf.qid, count(*) AS hits FROM bf
         |      JOIN ann ON bf.qid = ann.qid AND bf.vec_id = ann.vec_id GROUP BY bf.qid)
         |SELECT qs.qid, coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) * 1000 // 10 AS BIGINT) AS recall_permille
         |FROM qs LEFT JOIN h ON qs.qid = h.qid ORDER BY qs.qid""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.annRecall(e, e.where(col("vec_id") % 125 === 0), 10)
    },

    // IVF recall audit — q121's twin for the engine's DEFAULT kNN base
    // (the IVF probe path had cost certifications but no recall-vs-exact
    // measurement): recall@10 of the 2-of-(every-25th) cell probe against
    // the exact ranking, per query vector. One corpus×queries exact pass
    // feeds both rankings (native bounded-heap top-k per group); the
    // oracle recomputes cell assignment, probe cells, and both rankings
    // relationally.
    QueryDef.sql(
      "q619_ivf_recall",
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cemb
         |              FROM embeddings WHERE vec_id % 25 = 0),
         |pe AS (SELECT e.vec_id, c.cid, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(c.cemb[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, cent c, generate_series(1, 64) t(i)),
         |pd AS (SELECT vec_id, cid, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |       FROM pe GROUP BY vec_id, cid),
         |pc AS (SELECT vec_id, cid, ${cosSql("dxy", "dxx", "dyy")} AS ccos FROM pd),
         |asg AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |    FROM pc) WHERE rn = 1),
         |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 125 = 0),
         |qprobe AS (SELECT qid, cid FROM (
         |    SELECT q.qid, p.cid, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY p.ccos DESC, p.cid) AS rn
         |    FROM qs q JOIN pc p ON p.vec_id = q.qid) WHERE rn <= 2),
         |fe AS (SELECT q.qid, e.vec_id, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, qs q, generate_series(1, 64) t(i)),
         |fd AS (SELECT qid, vec_id, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |       FROM fe GROUP BY qid, vec_id),
         |c AS (SELECT qid, vec_id, ${cosSql("dxy", "dxx", "dyy")} AS cs FROM fd),
         |bf AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
         |    FROM c) WHERE rn <= 10),
         |annc AS (SELECT c.qid, c.vec_id, c.cs
         |  FROM c JOIN asg a ON a.vec_id = c.vec_id
         |  JOIN qprobe qp ON qp.qid = c.qid AND a.cell = qp.cid),
         |ann AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
         |    FROM annc) WHERE rn <= 10),
         |h AS (SELECT bf.qid, count(*) AS hits FROM bf
         |      JOIN ann ON bf.qid = ann.qid AND bf.vec_id = ann.vec_id GROUP BY bf.qid)
         |SELECT qs.qid, coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) * 1000 // 10 AS BIGINT) AS recall_permille
         |FROM qs LEFT JOIN h ON qs.qid = h.qid ORDER BY qs.qid""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.ivfRecall(e, e.where(col("vec_id") % 125 === 0), 10, 25, 2)
    },

    // Multimodal plumbing: opaque binary payloads + typed metadata; the
    // decode step is a deterministic stub (see Multimodal.decodeFeatures)
    // running through the real mapPartitions batch path.
    QueryDef.sql(
      "q32_multimodal",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash,
        |  (octet_length(encode(text)) % 640) + 1 AS width,
        |  (octet_length(encode(text)) % 480) + 1 AS height,
        |  octet_length(encode(text)) // 1000 + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bin = Multimodal.asBinary(Tables(s, dir).documents, "doc_id", "text")
      Multimodal.decodeFeatures(s, bin).toDF()
        .select(col("doc_id"), col("n_bytes"), col("content_hash"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames"))
        .orderBy("doc_id")
    },

    // Real container-header decode, differentially verified: Spark parses
    // PNG IHDR / JPEG SOF / GIF screen descriptor / WAV fmt+data chunks
    // from raw bytes in Multimodal.probe (mapPartitions path), while the
    // oracle re-derives the same fields with hex-substring arithmetic —
    // big-endian fields concatenate the hex digits as-is, little-endian
    // ones swap byte pairs. Payloads are spec-constructed minimal
    // containers (the fixtures carry no media; see SANDBOX.md §3).
    QueryDef.sql(
      "q566_media_headers",
      """WITH src(doc_id, format, hx) AS (VALUES
        |  (1, 'png',  '89504E470D0A1A0A0000000D4948445200000280000001E00806000000'),
        |  (2, 'jpeg', 'FFD8FFE000104A46494600010100004800480000FFC000110800F0014003011100021101031101FFD9'),
        |  (3, 'gif',  '47494638396190012C01000000'),
        |  (4, 'wav',  '524946464400000057415645666D7420100000000100020044AC000010B102000400100064617461200000000000000000000000000000000000000000000000000000000000000000000000'),
        |  (7, 'flac', '664C6143800000221000100000000E00000E0AC442F00001588800000000000000000000000000000000'),
        |  (6, 'webp', '524946461600000057454250565038580A000000100000001F0300570200'),
        |  (5, 'mp4',  '000000206674797069736F6D0000020069736F6D69736F32617663316D703431000000D86D6F6F760000006C6D766864000000000000000000000000000003E8000013880001000001000000000000000000000000010000000000000000000000000000000100000000000000000000000000004000000000000000000000000000000000000000000000000000000000000002000000647472616B0000005C746B6864000000030000000000000000000000010000000000001388000000000000000000000000000000000001000000000000000000000000000000010000000000000000000000000000400000000280000001680000'))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, format,
        |  CAST(octet_length(unhex(hx)) AS BIGINT) AS n_bytes,
        |  CAST(CASE format
        |    WHEN 'png'  THEN ('0x' || substr(hx, 33, 8))::BIGINT
        |    WHEN 'jpeg' THEN ('0x' || substr(hx, 55, 4))::BIGINT
        |    WHEN 'gif'  THEN ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2))::BIGINT
        |    WHEN 'wav'  THEN ('0x' || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT
        |    WHEN 'mp4'  THEN ('0x' || substr(hx, 481, 4))::BIGINT
        |    WHEN 'webp' THEN 1 + ('0x' || substr(hx, 53, 2) || substr(hx, 51, 2) || substr(hx, 49, 2))::BIGINT
        |    WHEN 'flac' THEN CAST((('0x' || substr(hx, 37, 16))::BIGINT // 2199023255552) % 8 AS BIGINT) + 1
        |  END AS BIGINT) AS width,
        |  CAST(CASE format
        |    WHEN 'png'  THEN ('0x' || substr(hx, 41, 8))::BIGINT
        |    WHEN 'jpeg' THEN ('0x' || substr(hx, 51, 4))::BIGINT
        |    WHEN 'gif'  THEN ('0x' || substr(hx, 19, 2) || substr(hx, 17, 2))::BIGINT
        |    WHEN 'wav'  THEN ('0x' || substr(hx, 71, 2) || substr(hx, 69, 2))::BIGINT
        |    WHEN 'mp4'  THEN ('0x' || substr(hx, 489, 4))::BIGINT
        |    WHEN 'webp' THEN 1 + ('0x' || substr(hx, 59, 2) || substr(hx, 57, 2) || substr(hx, 55, 2))::BIGINT
        |    WHEN 'flac' THEN CAST((('0x' || substr(hx, 37, 16))::BIGINT // 68719476736) % 32 AS BIGINT) + 1
        |  END AS BIGINT) AS height,
        |CAST(CASE format
        |    WHEN 'wav' THEN (('0x' || substr(hx, 87, 2) || substr(hx, 85, 2) || substr(hx, 83, 2) || substr(hx, 81, 2))::BIGINT)
        |      // (('0x' || substr(hx, 67, 2) || substr(hx, 65, 2))::BIGINT)
        |    WHEN 'mp4' THEN (('0x' || substr(hx, 129, 8))::BIGINT * 1000)
        |      // (('0x' || substr(hx, 121, 8))::BIGINT)
        |    WHEN 'flac' THEN CAST(('0x' || substr(hx, 37, 16))::BIGINT % 68719476736 AS BIGINT)
        |    ELSE 1 END AS BIGINT) AS n_frames
        |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = Seq(
        1L -> "89504E470D0A1A0A0000000D4948445200000280000001E00806000000",
        2L -> "FFD8FFE000104A46494600010100004800480000FFC000110800F0014003011100021101031101FFD9",
        3L -> "47494638396190012C01000000",
        4L -> ("52494646440000005741564" +
          "5666D7420100000000100020044AC000010B10200040010006461746120000000" +
          "0000000000000000000000000000000000000000000000000000000000000000"),
        5L -> ("000000206674797069736F6D0000020069736F6D69736F32617663316D703431000000D86D6F6F760000006C6D7668640000000000000000000000000000" +
          "03E800001388000100000100000000000000000000000001000000000000000000000000000000010000000000000000000000000000400000000000000000000000000000000000000000000000" +
          "0000000000000002000000647472616B0000005C746B686400000003000000000000000000000001000000000000138800000000000000000000000000000000000100000000" +
          "0000000000000000000000010000000000000000000000000000400000000280000001680000"),
        6L -> "524946461600000057454250565038580A000000100000001F0300570200",
        7L -> "664C6143800000221000100000000E00000E0AC442F00001588800000000000000000000000000000000")
      val bin = payloads.toDF("doc_id", "hx")
        .select(col("doc_id"), unhex(col("hx")).as("content"))
      Multimodal.decodeFeatures(s, bin).toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_frames"))
        .orderBy("doc_id")
    },

    // REAL pixel decode (javax.imageio — the JDK ships lossless PNG
    // decode; no external codec): channel sums + Rec.709 luma over
    // spec-constructed PNGs with KNOWN pixel values. The oracle carries
    // expectations computed independently (pure arithmetic on the pixel
    // constants at authoring time) — a genuine differential over the
    // whole decode → aggregate path. JPEG stays out of exact gates
    // (decoder-version-dependent IDCT).
    QueryDef.sql(
      "q573_image_decode",
      """WITH exp(doc_id, format, width, height, sum_r, sum_g, sum_b, luma_milli) AS (VALUES
        |  (1, 'png', 2, 2, 510, 510, 510, 127500),
        |  (2, 'png', 4, 2, 720, 480, 640, 67822),
        |  (3, 'png', 4, 4, 1224, 1704, 824, 96151))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, format,
        |  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
        |  CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
        |  CAST(sum_b AS BIGINT) AS sum_b,
        |  CAST(luma_milli AS BIGINT) AS luma_milli
        |FROM exp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bin = mediaPngs.toDF("doc_id", "hx")
        .select(col("doc_id"), unhex(col("hx")).as("content"))
      Multimodal.decodeImage(s, bin).toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("luma_milli"))
        .orderBy("doc_id")
    },

    // REAL PCM decode (javax.sound.sampled): WAV frames to exact integer
    // statistics — channels / rate / frame count / Σs² / peak — against
    // independently computed expectations for known samples
    // ((1000,−1000),(2000,−2000),(−3000,3000),(0,32767)).
    QueryDef.sql(
      "q574_audio_decode",
      """WITH exp(doc_id, channels, sample_rate, n_frames, sum_sq, peak_abs) AS (VALUES
        |  (1, 2, 8000, 4, 1101676289, 32767))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(sum_sq AS BIGINT) AS sum_sq,
        |  CAST(peak_abs AS BIGINT) AS peak_abs
        |FROM exp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wavHex = "524946463400000057415645666D74201000000001000200401F0000" +
        "007D0000040010006461746110000000E80318FCD00730F848F4B80B0000FF7F"
      val bin = Seq(1L -> wavHex).toDF("doc_id", "hx")
        .select(col("doc_id"), unhex(col("hx")).as("content"))
      Multimodal.decodeAudio(s, bin).toDF()
        .select(col("doc_id"), col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_frames"), col("sum_sq"), col("peak_abs"))
        .orderBy("doc_id")
    },

    // Deterministic image resize: box-filter 2× downsample of the 4×4
    // known-pixel PNG, emitted as relational pixel rows — integer block
    // means (bit-exact, unlike Graphics2D interpolation), the thumbnail
    // tier a multimodal pipeline feeds to near-dup/embedding stages.
    // Oracle = the block means computed independently from the pixel
    // constants.
    QueryDef.sql(
      "q575_image_resize",
      """WITH exp(doc_id, x, y, r, g, b) AS (VALUES
        |  (3, 0, 0, 25, 35, 7), (3, 1, 0, 125, 37, 37),
        |  (3, 0, 1, 27, 175, 37), (3, 1, 1, 127, 177, 123))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  CAST(r AS BIGINT) AS r, CAST(g AS BIGINT) AS g, CAST(b AS BIGINT) AS b
        |FROM exp ORDER BY doc_id, y, x""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bin = mediaPngs.filter(_._1 == 3L).toDF("doc_id", "hx")
        .select(col("doc_id"), unhex(col("hx")).as("content"))
      Multimodal.downsamplePixels(s, bin, 2).toDF()
        .select(col("doc_id"), col("x").cast("long").as("x"),
          col("y").cast("long").as("y"), col("r").cast("long").as("r"),
          col("g").cast("long").as("g"), col("b").cast("long").as("b"))
        .orderBy("doc_id", "y", "x")
    },

    // Perceptual image hashes (dHash gradient + aHash mean, 16-bit
    // lanes) over the REAL JDK codec path: the Spark side ENCODES
    // formula-defined 72×64 PNGs (deterministic grayscale per pixel),
    // decodes them back through javax.imageio, and hashes with exact
    // integer cell means; the oracle recomputes every cell mean, bit,
    // and lane from the same pixel formula — a genuine differential
    // over encode → decode → grid → hash. The fixture plants 6 groups
    // of 4 variants: base, +1 global brightness (hash-INVARIANT — the
    // perceptual property, both comparators are relative), one block
    // perturbed (small dHash distance), and different content.
    QueryDef.sql(
      "q620_image_hash",
      s"""WITH ${imageLanesSql("SELECT doc_id, doc_id AS eid FROM documents WHERE doc_id BETWEEN 1 AND 24")}
         |SELECT p.doc_id, CAST(72 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
         |  d0, d1, d2, d3, a0, a1, a2, a3
         |FROM par p JOIN dl USING (doc_id) JOIN al USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
      val bin = Multimodal.encodePng(s, ids, imageGv, 72, 64)
      Multimodal.imageHashes(s, bin).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("d0"), col("d1"), col("d2"), col("d3"),
          col("a0"), col("a1"), col("a2"), col("a3"))
        .orderBy("doc_id")
    },

    // Perceptual near-dup pairs: banded Hamming over the dHash lanes.
    // With 4 lanes and maxDist=3 the band join is pigeonhole-EXACT
    // (any pair within distance 3 leaves one lane untouched), so the
    // oracle is simply the all-pairs Hamming filter over the recomputed
    // lanes — brightness twins land at distance 0, the block-perturbed
    // variant within the gradient bits its block touches.
    QueryDef.sql(
      "q621_image_neardup",
      s"""WITH ${imageLanesSql("SELECT doc_id, doc_id AS eid FROM documents WHERE doc_id BETWEEN 1 AND 24")}
         |SELECT x.doc_id AS d1, y.doc_id AS d2,
         |  CAST(bit_count(xor(x.d0, y.d0)) + bit_count(xor(x.d1, y.d1))
         |     + bit_count(xor(x.d2, y.d2)) + bit_count(xor(x.d3, y.d3)) AS BIGINT) AS hamming
         |FROM dl x JOIN dl y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.d0, y.d0)) + bit_count(xor(x.d1, y.d1))
         |    + bit_count(xor(x.d2, y.d2)) + bit_count(xor(x.d3, y.d3)) <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
      val hashes = Multimodal.imageHashes(s,
        Multimodal.encodePng(s, ids, imageGv, 72, 64)).toDF()
      Dedup.bandedHammingPairs(hashes, "doc_id", Seq("d0", "d1", "d2", "d3"),
          maxDist = 3)
        .orderBy("d1", "d2")
    },

    // The degenerate-band valve on image dedup, value-checked end-to-end
    // (the q598 recipe for the perceptual family): 8 verbatim clones of
    // image 1 join the corpus — with image 1's brightness twin that is a
    // 10-member bucket in EVERY lane, over cap=6, so the clone bucket
    // contributes hub-star candidates only (hub = min id 1) while every
    // band at or under the cap keeps exact all-pairs; Hamming still
    // verifies each emitted pair. The oracle rebuilds the capped band
    // semantics (sizes, hubs, star restriction) from the same lanes.
    QueryDef.sql(
      "q622_image_dedup_capped",
      s"""WITH ${imageLanesSql(
        """SELECT doc_id, doc_id AS eid FROM documents WHERE doc_id BETWEEN 1 AND 24
          |  UNION ALL SELECT 40 + i AS doc_id, 1 AS eid FROM generate_series(1, 8) t(i)""".stripMargin)},
         |bands AS (
         |  SELECT doc_id, 0 AS band, d0 AS bkey FROM dl
         |  UNION ALL SELECT doc_id, 1, d1 FROM dl
         |  UNION ALL SELECT doc_id, 2, d2 FROM dl
         |  UNION ALL SELECT doc_id, 3, d3 FROM dl),
         |stats AS (SELECT band, bkey, COUNT(*) AS bsz, MIN(doc_id) AS hub
         |  FROM bands GROUP BY 1, 2),
         |sized AS (SELECT b.doc_id, b.band, b.bkey, s.bsz, s.hub
         |  FROM bands b JOIN stats s ON s.band = b.band AND s.bkey = b.bkey),
         |dense AS (SELECT x.doc_id AS d1, y.doc_id AS d2
         |  FROM sized x JOIN sized y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |  WHERE x.bsz <= 6),
         |star AS (SELECT hub AS d1, doc_id AS d2 FROM sized
         |  WHERE bsz > 6 AND doc_id <> hub),
         |cand AS (SELECT DISTINCT d1, d2 FROM (
         |  SELECT * FROM dense UNION ALL SELECT * FROM star)),
         |ham AS (SELECT c.d1, c.d2,
         |    CAST(bit_count(xor(x.d0, y.d0)) + bit_count(xor(x.d1, y.d1))
         |       + bit_count(xor(x.d2, y.d2)) + bit_count(xor(x.d3, y.d3)) AS BIGINT) AS hamming
         |  FROM cand c JOIN dl x ON x.doc_id = c.d1 JOIN dl y ON y.doc_id = c.d2)
         |SELECT d1, d2, hamming FROM ham WHERE hamming <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
        .unionAll((41L to 48L).toDF("doc_id"))
      val hashes = Multimodal.imageHashes(s,
        Multimodal.encodePng(s, ids, imageGv, 72, 64)).toDF()
      Dedup.bandedHammingPairs(hashes, "doc_id", Seq("d0", "d1", "d2", "d3"),
          maxDist = 3, maxBand = Some(6))
        .orderBy("d1", "d2")
    },

    // Frame-level audio features over the REAL JDK PCM path: the Spark
    // side ENCODES formula-defined 6500-sample 16-bit mono WAVs,
    // decodes them back through javax.sound.sampled, and emits exact
    // per-window integer statistics (energy Σs², zero crossings, peak);
    // the oracle recomputes every sample, window sum, sign change, and
    // max from the same formula — a genuine differential over
    // encode → decode → window → aggregate, q573/q620's audio twin.
    QueryDef.sql(
      "q623_audio_frames",
      s"""WITH ${audioSamplesSql("SELECT doc_id FROM documents WHERE doc_id BETWEEN 1 AND 12")},
         |agg AS (SELECT doc_id, i // 100 AS frame,
         |    SUM(smp * smp) AS energy, MAX(ABS(smp)) AS peak
         |  FROM asm GROUP BY 1, 2),
         |azc AS (SELECT a.doc_id, a.i // 100 AS frame,
         |    SUM(CASE WHEN (p.smp < 0) <> (a.smp < 0) THEN 1 ELSE 0 END) AS zc
         |  FROM asm a JOIN asm p ON p.doc_id = a.doc_id AND p.i = a.i - 1
         |  WHERE a.i % 100 <> 0 GROUP BY 1, 2)
         |SELECT g.doc_id, CAST(g.frame AS BIGINT) AS frame,
         |  CAST(g.energy AS BIGINT) AS energy, CAST(z.zc AS BIGINT) AS zc,
         |  CAST(g.peak AS BIGINT) AS peak
         |FROM agg g JOIN azc z ON z.doc_id = g.doc_id AND z.frame = g.frame
         |ORDER BY g.doc_id, g.frame""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 12)).select("doc_id")
      val bin = Multimodal.encodeWav(s, ids, audioSv, 8000, 6500)
      Multimodal.audioFrames(s, bin, 65).toDF()
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          col("energy"), col("zc"), col("peak"))
        .orderBy("doc_id", "frame")
    },

    // Perceptual audio fingerprints (energy-delta hash, 16-bit lanes)
    // over the same real codec path: 65 exact window energies, bit b =
    // [e(b) > e(b+1)], q620's audio twin. The fixture plants 6 groups
    // of 4 variants: base, ×2 gain (fingerprint-INVARIANT — every
    // energy scales by exactly 4, the comparator is relative), one
    // window perturbed (small Hamming distance), different content.
    QueryDef.sql(
      "q624_audio_fingerprint",
      s"""WITH ${audioLanesSql("SELECT doc_id FROM documents WHERE doc_id BETWEEN 1 AND 24")}
         |SELECT doc_id, CAST(6500 AS BIGINT) AS n_samples, f0, f1, f2, f3
         |FROM fl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
      val bin = Multimodal.encodeWav(s, ids, audioSv, 8000, 6500)
      Multimodal.audioFingerprint(s, bin).toDF()
        .select(col("doc_id"), col("n_samples"),
          col("f0"), col("f1"), col("f2"), col("f3"))
        .orderBy("doc_id")
    },

    // Audio near-dup pairs: banded Hamming over the fingerprint lanes —
    // the SAME capped blocking operator the image and simhash families
    // ride (4 lanes, maxDist=3 ⇒ pigeonhole-EXACT), so the oracle is
    // the all-pairs Hamming filter over the recomputed lanes. Gain
    // twins land at distance 0; the perturbed-window variant within
    // the two gradient bits its window touches.
    QueryDef.sql(
      "q625_audio_neardup",
      s"""WITH ${audioLanesSql("SELECT doc_id FROM documents WHERE doc_id BETWEEN 1 AND 24")}
         |SELECT x.doc_id AS d1, y.doc_id AS d2,
         |  CAST(bit_count(xor(x.f0, y.f0)) + bit_count(xor(x.f1, y.f1))
         |     + bit_count(xor(x.f2, y.f2)) + bit_count(xor(x.f3, y.f3)) AS BIGINT) AS hamming
         |FROM fl x JOIN fl y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.f0, y.f0)) + bit_count(xor(x.f1, y.f1))
         |    + bit_count(xor(x.f2, y.f2)) + bit_count(xor(x.f3, y.f3)) <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
      val hashes = Multimodal.audioFingerprint(s,
        Multimodal.encodeWav(s, ids, audioSv, 8000, 6500)).toDF()
      Dedup.bandedHammingPairs(hashes, "doc_id", Seq("f0", "f1", "f2", "f3"),
          maxDist = 3)
        .orderBy("d1", "d2")
    },

    // Video frame sampling over the REAL JDK animated-GIF codec: the
    // Spark side ENCODES formula-defined 12-frame 72×64 grayscale
    // clips through the JDK's own GIF sequence writer (lossless for
    // 256-level gray, probed), decodes every 5th frame back through
    // the real reader, and emits per-frame dHash lanes; the oracle
    // recomputes every sampled frame's cell means, bits, and lanes
    // from the same pixel formula — q620's video twin, covering the
    // codec's multi-frame path end-to-end.
    QueryDef.sql(
      "q626_video_frame_sample",
      s"""WITH ${videoLanesSql("SELECT doc_id FROM documents WHERE doc_id BETWEEN 1 AND 24")}
         |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
         |  CAST(12 AS BIGINT) AS n_frames, d0, d1, d2, d3
         |FROM vl ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
      val bin = Multimodal.encodeGifAnim(s, ids, videoGv, 72, 64, 12)
      Multimodal.videoFrameSample(s, bin, 5).toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames").cast("long").as("n_frames"),
          col("d0"), col("d1"), col("d2"), col("d3"))
        .orderBy("doc_id", "frame_idx")
    },

    // Clip near-dup: sampled-frame lanes pivot wide (3 frames × 4
    // lanes = 12 clip lanes) and ride the SAME bandedHammingPairs
    // operator — pigeonhole-exact at maxDist=3 < 12 lanes, so the
    // oracle is the all-pairs Hamming filter over the pivoted lanes.
    // Brightness twins land at distance 0; the frame-5-perturbed
    // variant within the gradient bits its block touches; clips
    // missing a sampled position drop from the signature relation.
    QueryDef.sql(
      "q627_video_neardup",
      s"""WITH ${videoLanesSql("SELECT doc_id FROM documents WHERE doc_id BETWEEN 1 AND 24")},
         |vw AS (SELECT doc_id,
         |    MAX(CASE WHEN f = 0 THEN d0 END) AS l0, MAX(CASE WHEN f = 0 THEN d1 END) AS l1,
         |    MAX(CASE WHEN f = 0 THEN d2 END) AS l2, MAX(CASE WHEN f = 0 THEN d3 END) AS l3,
         |    MAX(CASE WHEN f = 5 THEN d0 END) AS l4, MAX(CASE WHEN f = 5 THEN d1 END) AS l5,
         |    MAX(CASE WHEN f = 5 THEN d2 END) AS l6, MAX(CASE WHEN f = 5 THEN d3 END) AS l7,
         |    MAX(CASE WHEN f = 10 THEN d0 END) AS l8, MAX(CASE WHEN f = 10 THEN d1 END) AS l9,
         |    MAX(CASE WHEN f = 10 THEN d2 END) AS l10, MAX(CASE WHEN f = 10 THEN d3 END) AS l11
         |  FROM vl GROUP BY doc_id),
         |hm AS (SELECT x.doc_id AS d1, y.doc_id AS d2,
         |    -- bit_count is TINYINT in DuckDB; 12 terms can pass 127
         |    CAST(CAST(bit_count(xor(x.l0, y.l0)) AS BIGINT) + bit_count(xor(x.l1, y.l1))
         |       + bit_count(xor(x.l2, y.l2)) + bit_count(xor(x.l3, y.l3))
         |       + bit_count(xor(x.l4, y.l4)) + bit_count(xor(x.l5, y.l5))
         |       + bit_count(xor(x.l6, y.l6)) + bit_count(xor(x.l7, y.l7))
         |       + bit_count(xor(x.l8, y.l8)) + bit_count(xor(x.l9, y.l9))
         |       + bit_count(xor(x.l10, y.l10)) + bit_count(xor(x.l11, y.l11)) AS BIGINT) AS hamming
         |  FROM vw x JOIN vw y ON x.doc_id < y.doc_id)
         |SELECT d1, d2, hamming FROM hm WHERE hamming <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
      val fh = Multimodal.videoFrameSample(s,
        Multimodal.encodeGifAnim(s, ids, videoGv, 72, 64, 12), 5).toDF()
      val sig = Multimodal.clipLanes(fh, Seq(0, 5, 10))
      Dedup.bandedHammingPairs(sig, "doc_id", (0 until 12).map(i => s"l$i"),
          maxDist = 3)
        .orderBy("d1", "d2")
    },

    // Composed perceptual dedup pipeline — the media analogue of q605's
    // text loop: encode → real-codec decode → dHash → capped banded
    // Hamming pairs → connected components → canonical keeper per
    // cluster (min id) + cluster size. The q622 clone fixture rides the
    // hub-star valve (the 8 verbatim clones land in ONE component via
    // their hub edges alone), brightness twins merge with their base,
    // and the oracle recomputes lanes, capped band semantics, Hamming
    // verification, AND the transitive closure (recursive CTE) from the
    // pixel formula — the whole pipeline differentially checked.
    QueryDef.sql(
      "q628_media_dedup_pipeline",
      s"""WITH RECURSIVE ${imageLanesSql(
        """SELECT doc_id, doc_id AS eid FROM documents WHERE doc_id BETWEEN 1 AND 24
          |  UNION ALL SELECT 40 + i AS doc_id, 1 AS eid FROM generate_series(1, 8) t(i)""".stripMargin)},
         |bands AS (
         |  SELECT doc_id, 0 AS band, d0 AS bkey FROM dl
         |  UNION ALL SELECT doc_id, 1, d1 FROM dl
         |  UNION ALL SELECT doc_id, 2, d2 FROM dl
         |  UNION ALL SELECT doc_id, 3, d3 FROM dl),
         |stats AS (SELECT band, bkey, COUNT(*) AS bsz, MIN(doc_id) AS hub
         |  FROM bands GROUP BY 1, 2),
         |sized AS (SELECT b.doc_id, b.band, b.bkey, s.bsz, s.hub
         |  FROM bands b JOIN stats s ON s.band = b.band AND s.bkey = b.bkey),
         |dense AS (SELECT x.doc_id AS d1, y.doc_id AS d2
         |  FROM sized x JOIN sized y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |  WHERE x.bsz <= 6),
         |star AS (SELECT hub AS d1, doc_id AS d2 FROM sized
         |  WHERE bsz > 6 AND doc_id <> hub),
         |cand AS (SELECT DISTINCT d1, d2 FROM (
         |  SELECT * FROM dense UNION ALL SELECT * FROM star)),
         |vp AS (SELECT c.d1, c.d2
         |  FROM cand c JOIN dl x ON x.doc_id = c.d1 JOIN dl y ON y.doc_id = c.d2
         |  WHERE bit_count(xor(x.d0, y.d0)) + bit_count(xor(x.d1, y.d1))
         |      + bit_count(xor(x.d2, y.d2)) + bit_count(xor(x.d3, y.d3)) <= 3),
         |${TextQueries.componentsSql("vp")}
         |SELECT c.doc_id, c.component, n.n_members,
         |  c.doc_id = c.component AS keep
         |FROM comp c
         |JOIN (SELECT component, COUNT(*) AS n_members
         |      FROM comp GROUP BY component) n USING (component)
         |ORDER BY c.component, c.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ids = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
        .unionAll((41L to 48L).toDF("doc_id"))
      val hashes = Multimodal.imageHashes(s,
        Multimodal.encodePng(s, ids, imageGv, 72, 64)).toDF()
      val pairs = Dedup.bandedHammingPairs(hashes, "doc_id",
          Seq("d0", "d1", "d2", "d3"), maxDist = 3, maxBand = Some(6))
        .select("d1", "d2")
      val comp = Dedup.connectedComponents(pairs)
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("n_members"))
      comp.join(sizes, Seq("component"))
        .select(col("doc_id"), col("component"), col("n_members"),
          (col("doc_id") === col("component")).as("keep"))
        .orderBy("component", "doc_id")
    },

    // Incremental perceptual dedup: a media shard (one NEW image group
    // + 4 fresh clones of index image 1) probes the persisted hash
    // relation — the q607 recipe for the banded-Hamming families. Cap 5
    // puts the clone-spanning union bucket (index twins 1/2 + 4 shard
    // clones) over cap in every lane ⇒ hub-star restricted to
    // shard-touching edges; the new group's buckets stay dense (intra
    // pairs). The oracle rebuilds the capped union semantics (sizes,
    // union-min hubs with side, dense/star restriction) and re-verifies
    // Hamming from the same pixel formula.
    QueryDef.sql(
      "q629_media_dedup_incremental",
      s"""WITH ${imageLanesSql(
        """SELECT doc_id, doc_id AS eid FROM documents WHERE doc_id BETWEEN 1 AND 28
          |  UNION ALL SELECT 40 + i AS doc_id, 1 AS eid FROM generate_series(1, 4) t(i)""".stripMargin)},
         |sides AS (SELECT doc_id, CASE WHEN doc_id >= 25 THEN 1 ELSE 0 END AS side FROM dl),
         |bands AS (
         |  SELECT doc_id, 0 AS band, d0 AS bkey FROM dl
         |  UNION ALL SELECT doc_id, 1, d1 FROM dl
         |  UNION ALL SELECT doc_id, 2, d2 FROM dl
         |  UNION ALL SELECT doc_id, 3, d3 FROM dl),
         |tag AS (SELECT b.doc_id, b.band, b.bkey, s.side
         |  FROM bands b JOIN sides s USING (doc_id)),
         |stats AS (SELECT band, bkey, COUNT(*) AS bsz, MIN(doc_id) AS hub
         |  FROM tag GROUP BY 1, 2),
         |hubs AS (SELECT st.band, st.bkey, st.bsz, st.hub, t.side AS hub_side
         |  FROM stats st JOIN tag t
         |    ON t.band = st.band AND t.bkey = st.bkey AND t.doc_id = st.hub),
         |dense AS (SELECT x.doc_id AS d1, y.doc_id AS d2
         |  FROM tag x JOIN tag y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |  JOIN hubs h ON h.band = x.band AND h.bkey = x.bkey
         |  WHERE h.bsz <= 5 AND (x.side = 1 OR y.side = 1)),
         |star AS (SELECT h.hub AS d1, t.doc_id AS d2
         |  FROM tag t JOIN hubs h ON h.band = t.band AND h.bkey = t.bkey
         |  WHERE h.bsz > 5 AND t.doc_id <> h.hub
         |    AND (t.side = 1 OR h.hub_side = 1)),
         |cand AS (SELECT DISTINCT d1, d2 FROM (
         |  SELECT * FROM dense UNION ALL SELECT * FROM star)),
         |hm AS (SELECT c.d1, c.d2,
         |    CAST(bit_count(xor(x.d0, y.d0)) + bit_count(xor(x.d1, y.d1))
         |       + bit_count(xor(x.d2, y.d2)) + bit_count(xor(x.d3, y.d3)) AS BIGINT) AS hamming
         |  FROM cand c JOIN dl x ON x.doc_id = c.d1 JOIN dl y ON y.doc_id = c.d2)
         |SELECT d1, d2, hamming FROM hm WHERE hamming <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val idxIds = Tables(s, dir).documents
        .where(col("doc_id").between(1, 24)).select("doc_id")
      val shdIds = Tables(s, dir).documents
        .where(col("doc_id").between(25, 28)).select("doc_id")
        .unionAll((41L to 44L).toDF("doc_id"))
      val idx = Multimodal.imageHashes(s,
        Multimodal.encodePng(s, idxIds, imageGv, 72, 64)).toDF()
      val shd = Multimodal.imageHashes(s,
        Multimodal.encodePng(s, shdIds, imageGv, 72, 64)).toDF()
      Dedup.bandedHammingIncremental(idx, shd, "doc_id",
          Seq("d0", "d1", "d2", "d3"), maxDist = 3, maxBand = Some(5))
        .orderBy("d1", "d2")
    },

    // Matryoshka truncation audit: recall@10 of cosine ranking on the
    // FIRST 16 dims vs the full 64-dim exact ranking, per query vector
    // (every 25th id). One pass scores corpus×queries with BOTH cosines
    // (the cached projection is read by two top-k passes — never
    // recompute the dot products); per-group top-k uses the packed
    // (cos, ¬vec_id) ordering long (q121's trick), so each ranking is
    // one shuffle-free partial-topk aggregate, no global sorts. This is
    // the measurement that decides whether a 100 TB corpus can serve
    // truncated embeddings from the hot tier and keep the tail dims cold.
    QueryDef.sql(
      "q320_matryoshka",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |           WHERE vec_id % 25 = 0),
         |p AS (SELECT q.qid, e.vec_id, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, q, generate_series(1, 64) t(i)
         |  WHERE e.vec_id <> q.qid),
         |d AS (SELECT qid, vec_id,
         |    SUM(x*y) AS fxy, SUM(x*x) AS fxx, SUM(y*y) AS fyy,
         |    SUM(CASE WHEN i <= 16 THEN x*y ELSE 0 END) AS txy,
         |    SUM(CASE WHEN i <= 16 THEN x*x ELSE 0 END) AS txx,
         |    SUM(CASE WHEN i <= 16 THEN y*y ELSE 0 END) AS tyy
         |  FROM p GROUP BY 1, 2),
         |sc AS (SELECT qid, vec_id, ${cosSql("fxy", "fxx", "fyy")} AS cf,
         |    ${cosSql("txy", "txx", "tyy")} AS ct FROM d),
         |rf AS (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cf DESC, vec_id) AS rk FROM sc),
         |rt AS (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vec_id) AS rk FROM sc),
         |h AS (SELECT rf.qid AS qid, COUNT(*) AS hits
         |      FROM rf JOIN rt USING (qid, vec_id)
         |      WHERE rf.rk <= 10 AND rt.rk <= 10 GROUP BY 1)
         |SELECT q.qid, COALESCE(hits, 0) AS hits,
         |  COALESCE(hits, 0) * 100 AS recall_permille
         |FROM q LEFT JOIN h ON q.qid = h.qid ORDER BY q.qid""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graftshims.TopKApi
      val e = Tables(s, dir).embeddings
      val q = e.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          Similarity.cosineScaled(col("embedding"), col("qv")).as("cf"),
          Similarity.cosineScaled(slice(col("embedding"), 1, 16),
            slice(col("qv"), 1, 16)).as("ct"))
        .withColumn("ordf", col("cf") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
        .withColumn("ordt", col("ct") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
        .cache()
      val tf = TopKApi.topKPerGroup(scored, Seq("qid"), "ordf", 10)
        .select(col("qid"), col("vec_id"))
      val tt = TopKApi.topKPerGroup(scored, Seq("qid"), "ordt", 10)
        .select(col("qid").as("tqid"), col("vec_id").as("tvid"))
      val hits = tf.join(tt, col("qid") === col("tqid") && col("vec_id") === col("tvid"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      q.select("qid").join(hits, Seq("qid"), "left_outer")
        .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall_permille", expr("hits * 100L"))
        .orderBy("qid")
    },

    // k-NN classifier evaluation: every 25th vector is held out and
    // classified by the majority label of its 10 nearest neighbors
    // (exact scaled cosine, self excluded, vote ties to the smaller
    // label); output is the confusion matrix against the fixture's true
    // labels. Same single-pass scoring + packed-ord top-k shape as q320
    // — the per-query state is 10 rows regardless of corpus size, which
    // is what makes leave-out eval affordable on a 100 TB embedding
    // store (queries batch through one corpus scan).
    QueryDef.sql(
      "q323_knn_classify",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS tl
         |           FROM embeddings WHERE vec_id % 25 = 0),
         |p AS (SELECT q.qid, e.vec_id, e.label, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, q, generate_series(1, 64) t(i)
         |  WHERE e.vec_id <> q.qid),
         |d AS (SELECT qid, vec_id, label,
         |    SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |  FROM p GROUP BY 1, 2, 3),
         |sc AS (SELECT qid, vec_id, label, ${cosSql("dxy", "dxx", "dyy")} AS cs FROM d),
         |rk AS (SELECT qid, label,
         |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rk FROM sc),
         |votes AS (SELECT qid, label, COUNT(*) AS nv FROM rk WHERE rk <= 10 GROUP BY 1, 2),
         |pred AS (SELECT qid, label AS pl FROM (
         |    SELECT qid, label,
         |      row_number() OVER (PARTITION BY qid ORDER BY nv DESC, label) AS r
         |    FROM votes) v WHERE r = 1)
         |SELECT CAST(q.tl AS BIGINT) AS true_label, CAST(pred.pl AS BIGINT) AS pred_label,
         |  COUNT(*) AS n
         |FROM q JOIN pred ON q.qid = pred.qid
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graftshims.TopKApi
      val e = Tables(s, dir).embeddings
      val q = e.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("tl"))
      val scored = e.crossJoin(broadcast(q.select("qid", "qv")))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("label"),
          Similarity.cosineScaled(col("embedding"), col("qv")).as("cs"))
        .withColumn("ord", col("cs") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
      val top = TopKApi.topKPerGroup(scored, Seq("qid"), "ord", 10)
      val votes = top.groupBy("qid", "label").agg(count(lit(1)).as("nv"))
      val wv = Window.partitionBy("qid").orderBy(col("nv").desc, col("label").asc)
      val pred = votes.withColumn("r", row_number().over(wv)).where(col("r") === 1)
        .select(col("qid"), col("label").as("pl"))
      q.select("qid", "tl").join(pred, Seq("qid"))
        .groupBy(col("tl").cast("long").as("true_label"),
          col("pl").cast("long").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    },

    // Multi-probe LSH recall: for each held-out query (every 25th id),
    // how many of the exact top-10 live in the query's OWN bucket
    // (radius 0) vs within Hamming distance 1 of it (probe the 8
    // one-bit-flip buckets too). Because the exact top-10 rows carry
    // their bucket distance, recall needs no second candidate join —
    // one scored pass, one packed-ord top-k, then two conditional
    // counts. The radius-1 column is the multi-probe payoff a 100 TB
    // ANN deployment buys: ~9× candidate cost for the recall gap shown
    // here, all without re-hashing the corpus.
    QueryDef.sql(
      "q330_lsh_multiprobe",
      s"""WITH em AS (SELECT vec_id, embedding FROM embeddings),
         |$bucketSql,
         |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket AS qb
         |      FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id
         |      WHERE e.vec_id % 25 = 0),
         |p AS (SELECT q.qid, e.vec_id, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, q, generate_series(1, 64) t(i)
         |  WHERE e.vec_id <> q.qid),
         |d AS (SELECT qid, vec_id, SUM(x*y) AS dxy, SUM(x*x) AS dxx, SUM(y*y) AS dyy
         |      FROM p GROUP BY 1, 2),
         |sc AS (SELECT qid, vec_id, ${cosSql("dxy", "dxx", "dyy")} AS cs FROM d),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rk
         |    FROM sc) t WHERE rk <= 10),
         |hd AS (SELECT ex.qid, bit_count(xor(bk.bucket, q.qb)) AS dist
         |  FROM ex JOIN buck bk ON ex.vec_id = bk.vec_id
         |  JOIN q ON ex.qid = q.qid),
         |h AS (SELECT qid,
         |    SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS h0,
         |    SUM(CASE WHEN dist <= 1 THEN 1 ELSE 0 END) AS h1
         |  FROM hd GROUP BY 1)
         |SELECT q.qid, CAST(COALESCE(h0, 0) AS BIGINT) AS hits_bucket,
         |  CAST(COALESCE(h1, 0) AS BIGINT) AS hits_multiprobe,
         |  CAST(COALESCE(h0, 0) * 100 AS BIGINT) AS recall0_permille,
         |  CAST(COALESCE(h1, 0) * 100 AS BIGINT) AS recall1_permille
         |FROM q LEFT JOIN h ON q.qid = h.qid ORDER BY q.qid""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graftshims.TopKApi
      val withB = Tables(s, dir).embeddings
        .withColumn("bucket", Similarity.lshBucket(col("embedding"), 8))
      val q = withB.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("bucket").as("qb"))
      val scored = withB.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          Similarity.cosineScaled(col("embedding"), col("qv")).as("cs"),
          expr("bit_count(bucket ^ qb)").as("dist"))
        .withColumn("ord", col("cs") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
      val ex = TopKApi.topKPerGroup(scored, Seq("qid"), "ord", 10)
      val h = ex.groupBy("qid").agg(
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("h0"),
        sum(when(col("dist") <= 1, 1L).otherwise(0L)).as("h1"))
      q.select("qid").join(h, Seq("qid"), "left_outer")
        .select(col("qid"),
          coalesce(col("h0"), lit(0L)).as("hits_bucket"),
          coalesce(col("h1"), lit(0L)).as("hits_multiprobe"),
          (coalesce(col("h0"), lit(0L)) * 100).as("recall0_permille"),
          (coalesce(col("h1"), lit(0L)) * 100).as("recall1_permille"))
        .orderBy("qid")
    },

    // Reciprocal-rank fusion of two retrieval rankings — full-dim
    // cosine and 16-dim truncated cosine (the q320 pair) — fused as
    // Σ 10⁶ div (60 + rank) over each list's top-20 (absent ⇒ 0 term;
    // the integer division keeps every RRF term exact, no float
    // accumulation). The fused top-10 per query comes from the packed
    // (score, ¬vec_id) ordering long. RRF is how production retrieval
    // actually merges heterogeneous scorers (BM25 + dense, full +
    // truncated): rank-space fusion needs no score calibration.
    QueryDef.sql(
      "q351_rrf_fusion",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |           WHERE vec_id % 25 = 0),
         |p AS (SELECT q.qid, e.vec_id, i,
         |    CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         |    CAST(FLOOR(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
         |  FROM embeddings e, q, generate_series(1, 64) t(i)
         |  WHERE e.vec_id <> q.qid),
         |d AS (SELECT qid, vec_id,
         |    SUM(x*y) AS fxy, SUM(x*x) AS fxx, SUM(y*y) AS fyy,
         |    SUM(CASE WHEN i <= 16 THEN x*y ELSE 0 END) AS txy,
         |    SUM(CASE WHEN i <= 16 THEN x*x ELSE 0 END) AS txx,
         |    SUM(CASE WHEN i <= 16 THEN y*y ELSE 0 END) AS tyy
         |  FROM p GROUP BY 1, 2),
         |sc AS (SELECT qid, vec_id, ${cosSql("fxy", "fxx", "fyy")} AS cf,
         |    ${cosSql("txy", "txx", "tyy")} AS ct FROM d),
         |rf AS (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cf DESC, vec_id) AS rk
         |  FROM sc),
         |rt AS (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vec_id) AS rk
         |  FROM sc),
         |u AS (SELECT COALESCE(a.qid, b.qid) AS qid,
         |    COALESCE(a.vec_id, b.vec_id) AS vec_id,
         |    COALESCE(1000000 // (60 + a.rk), 0) + COALESCE(1000000 // (60 + b.rk), 0)
         |      AS rrf
         |  FROM (SELECT * FROM rf WHERE rk <= 20) a
         |  FULL JOIN (SELECT * FROM rt WHERE rk <= 20) b
         |    ON a.qid = b.qid AND a.vec_id = b.vec_id),
         |f AS (SELECT qid, vec_id, rrf,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, vec_id) AS fused_rank
         |  FROM u)
         |SELECT qid, vec_id, CAST(rrf AS BIGINT) AS rrf_score,
         |  CAST(fused_rank AS BIGINT) AS fused_rank
         |FROM f WHERE fused_rank <= 10 ORDER BY qid, fused_rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graftshims.TopKApi
      val e = Tables(s, dir).embeddings
      val q = e.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          Similarity.cosineScaled(col("embedding"), col("qv")).as("cf"),
          Similarity.cosineScaled(slice(col("embedding"), 1, 16),
            slice(col("qv"), 1, 16)).as("ct"))
        .withColumn("ordf", col("cf") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
        .withColumn("ordt", col("ct") * lit(4294967296L) + (lit(4294967295L) - col("vec_id")))
        .cache()
      def ranked(ord: String) = {
        val top = TopKApi.topKPerGroup(scored, Seq("qid"), ord, 20)
        top.select(col("qid"), col("vec_id"),
          row_number().over(Window.partitionBy("qid").orderBy(col(ord).desc)).as("rk"))
      }
      val a = ranked("ordf").select(col("qid").as("aqid"), col("vec_id").as("avid"),
        col("rk").as("ark"))
      val b = ranked("ordt").select(col("qid").as("bqid"), col("vec_id").as("bvid"),
        col("rk").as("brk"))
      val u = a.join(b, col("aqid") === col("bqid") && col("avid") === col("bvid"),
          "full_outer")
        .select(coalesce(col("aqid"), col("bqid")).as("qid"),
          coalesce(col("avid"), col("bvid")).as("vec_id"),
          (coalesce(expr("1000000L div (60 + ark)"), lit(0L))
            + coalesce(expr("1000000L div (60 + brk)"), lit(0L))).as("rrf"))
      u.withColumn("fused_rank",
          row_number().over(Window.partitionBy("qid").orderBy(col("rrf").desc, col("vec_id"))))
        .where(col("fused_rank") <= 10)
        .select(col("qid"), col("vec_id"), col("rrf").as("rrf_score"), col("fused_rank"))
        .orderBy("qid", "fused_rank")
    },
  )
  /** Spec-constructed PNGs with KNOWN pixels (zlib-built at authoring
    * time): (1) 2×2 primaries+white, (2) 4×2 gradient, (3) 4×4 for the
    * downsample gate. Pixel constants and expected sums documented in
    * q573/q575 oracles.
    */
  /** One 16-bit lane sum per hash (lane l = bits 16l..16l+15). */
  private def laneSql(prefix: String): String =
    (0 until 4).map(l =>
      s"CAST(SUM(CASE WHEN b // 16 = $l THEN bit * CAST(pow(2.0, b % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS $prefix$l")
      .mkString(",\n    ")

  /** Shared oracle CTE chain for the perceptual-image family
    * (q620/q621/q622): formula-defined 72×64 grayscale pixels →
    * dHash/aHash cell means → bits → 16-bit lanes. `idsSql` must emit
    * (doc_id, eid) — eid is the content identity (clone fixtures map
    * several doc_ids onto one image). The pixel formula is the SQL twin
    * of [[imageGv]]; the grids divide 72/64 exactly except aHash
    * columns (9-px cells via the same floor-division boundaries the
    * Spark hasher uses).
    */
  private def imageLanesSql(idsSql: String): String =
    s"""par AS (SELECT doc_id, CAST((eid - 1) // 4 AS BIGINT) AS s,
       |    CAST((eid - 1) % 4 AS BIGINT) AS v
       |  FROM ($idsSql)),
       |px AS (SELECT doc_id, x, y,
       |    3 * (CASE
       |      WHEN v = 3 THEN (((((s + 7) * 72 + (x // 8) * 8 + (y // 8) + 1) * ((s + 7) * 72 + (x // 8) * 8 + (y // 8) + 1) * 48271 + ((s + 7) * 72 + (x // 8) * 8 + (y // 8) + 1) * 427799) % 1000003) % 250)
       |      WHEN v = 2 AND x // 8 = 2 AND y // 8 = 3
       |        THEN ((((((s * 72 + (x // 8) * 8 + (y // 8) + 1) * (s * 72 + (x // 8) * 8 + (y // 8) + 1) * 48271 + (s * 72 + (x // 8) * 8 + (y // 8) + 1) * 427799) % 1000003) % 250) + 125) % 250)
       |      ELSE ((((((s * 72 + (x // 8) * 8 + (y // 8) + 1) * (s * 72 + (x // 8) * 8 + (y // 8) + 1) * 48271 + (s * 72 + (x // 8) * 8 + (y // 8) + 1) * 427799) % 1000003) % 250)
       |        + (CASE WHEN v = 1 THEN 1 ELSE 0 END)))
       |    END) AS gray
       |  FROM par, generate_series(0, 71) tx(x), generate_series(0, 63) ty(y)),
       |dcell AS (SELECT doc_id, x // 8 AS gx, y // 8 AS gy, SUM(gray) // COUNT(*) AS c
       |  FROM px GROUP BY 1, 2, 3),
       |dbit AS (SELECT l.doc_id, l.gy * 8 + l.gx AS b,
       |    CASE WHEN l.c > r.c THEN 1 ELSE 0 END AS bit
       |  FROM dcell l JOIN dcell r ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
       |  WHERE l.gx < 8),
       |acell AS (SELECT doc_id, x // 9 AS ax, y // 8 AS ay, SUM(gray) // COUNT(*) AS c
       |  FROM px GROUP BY 1, 2, 3),
       |amean AS (SELECT doc_id, SUM(c) // 64 AS m FROM acell GROUP BY 1),
       |abit AS (SELECT a.doc_id, a.ay * 8 + a.ax AS b,
       |    CASE WHEN a.c > m.m THEN 1 ELSE 0 END AS bit
       |  FROM acell a JOIN amean m USING (doc_id)),
       |dl AS (SELECT doc_id, ${laneSql("d")} FROM dbit GROUP BY doc_id),
       |al AS (SELECT doc_id, ${laneSql("a")} FROM abit GROUP BY doc_id)""".stripMargin

  /** Spark twin of [[imageLanesSql]]'s pixel formula: grayscale value of
    * pixel (x,y) for doc `id` — 8×8 blocks, 6 groups of 4 variants
    * (base / +1 brightness / one perturbed block / different content);
    * ids ≥ 41 clone image 1 (the q622 degenerate-band fixture).
    */
  private val imageGv: (Long, Int, Int) => Int = (id, x, y) => {
    val eid = if (id >= 41) 1L else id
    val s0 = (eid - 1) / 4; val v = (eid - 1) % 4
    val bx = x / 8L; val by = y / 8L
    // per-block value from a QUADRATICALLY mixed (seed, block) index —
    // the original additive form had two degeneracies this replaces:
    // the v3 seed shift was ≡ 0 mod 250 (so "different content" was
    // pixel-identical to base), and any affine index map makes distinct
    // seeds windows of one low-discrepancy sequence (accidental
    // cross-group near-collisions). Fixture structure re-validated:
    // only intra-group pairs at Hamming ≤ 3, cross-group mean ≈ 32.
    def base(s: Long): Long = {
      val idx = s * 72L + bx * 8L + by + 1L
      ((idx * idx * 48271L + idx * 427799L) % 1000003L) % 250L
    }
    val g =
      if (v == 3) base(s0 + 7)
      else if (v == 2 && bx == 2 && by == 3) (base(s0) + 125) % 250
      else base(s0) + (if (v == 1) 1 else 0)
    g.toInt
  }

  /** Shared oracle CTE prefix for the audio family (q623/q624/q625):
    * formula-defined 6500-sample waveforms as (doc_id, i, smp) rows.
    * The sample formula is the SQL twin of [[audioSv]]; `idsSql` must
    * emit doc_id. 100-sample blocks align exactly with the 65
    * floor-division fingerprint windows at n=6500.
    */
  private def audioSamplesSql(idsSql: String): String =
    s"""apar AS (SELECT doc_id, CAST((doc_id - 1) // 4 AS BIGINT) AS s,
       |    CAST((doc_id - 1) % 4 AS BIGINT) AS v
       |  FROM ($idsSql)),
       |asm AS (SELECT doc_id, i,
       |    ((i * 977) % 2001 - 1000)
       |    * (CASE
       |        WHEN v = 3 THEN 1 + ((((s + 7) * 64 + (i // 100) + 1) * 2654435761) % 1000003) % 12
       |        WHEN v = 2 AND i // 100 = 17 THEN 13
       |        ELSE 1 + (((s * 64 + (i // 100) + 1) * 2654435761) % 1000003) % 12
       |      END)
       |    * (CASE WHEN v = 1 THEN 2 ELSE 1 END) AS smp
       |  FROM apar, generate_series(0, 6499) ti(i))""".stripMargin

  /** Audio-lane oracle chain: [[audioSamplesSql]] → 65 window energies
    * → energy-delta bits → 16-bit lanes (f0..f3), mirroring
    * [[imageLanesSql]]'s dHash leg on the time axis.
    */
  private def audioLanesSql(idsSql: String): String =
    s"""${audioSamplesSql(idsSql)},
       |aen AS (SELECT doc_id, i // 100 AS fr, SUM(smp * smp) AS e
       |  FROM asm GROUP BY 1, 2),
       |fbit AS (SELECT l.doc_id, l.fr AS b,
       |    CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
       |  FROM aen l JOIN aen r ON r.doc_id = l.doc_id AND r.fr = l.fr + 1
       |  WHERE l.fr < 64),
       |fl AS (SELECT doc_id, ${laneSql("f")} FROM fbit GROUP BY doc_id)""".stripMargin

  /** Spark twin of [[audioSamplesSql]]'s formula: sample i of doc `id`
    * — a seed-independent ±1000 carrier `u(i)` amplitude-modulated per
    * 100-sample window (amplitude 1..12 from a multiplicatively MIXED
    * (seed, window) hash — an additive seed term would shift every
    * window's amplitude by the same constant and leave the
    * energy-gradient hash nearly seed-blind). 6 groups of 4 variants:
    * base / ×2 gain (max |s| 26 000, no clipping, invariance exact) /
    * window 17 forced to amplitude 13 / different content (seed+7).
    */
  private val audioSv: (Long, Int) => Int = (id, i) => {
    val s = (id - 1) / 4; val v = (id - 1) % 4
    val u = (i.toLong * 977L) % 2001L - 1000L
    def amp(ss: Long): Long =
      1L + (((ss * 64L + (i / 100).toLong + 1L) * 2654435761L) % 1000003L) % 12L
    val a =
      if (v == 3) amp(s + 7)
      else if (v == 2 && i / 100 == 17) 13L
      else amp(s)
    (u * a * (if (v == 1) 2L else 1L)).toInt
  }

  /** Shared oracle CTE chain for the video family (q626/q627):
    * formula-defined 72×64 grayscale frames at the sampled positions
    * (0, 5, 10 of 12) → dHash cell means → bits → 16-bit lanes. The
    * pixel formula is the SQL twin of [[videoGv]]; only sampled frames
    * are materialized (the Spark side decodes only those too).
    */
  private def videoLanesSql(idsSql: String): String =
    s"""vpar AS (SELECT doc_id, CAST((doc_id - 1) // 4 AS BIGINT) AS s,
       |    CAST((doc_id - 1) % 4 AS BIGINT) AS v
       |  FROM ($idsSql)),
       |vpx AS (SELECT doc_id, f, x, y,
       |    3 * (CASE
       |      WHEN v = 3 THEN (((s + 7) * 1103515245 + f * 69069 + (x // 8) * (2654435761 + (s + 7) * 101) + (y // 8) * 977) % 250)
       |      WHEN v = 2 AND f = 5 AND x // 8 = 2 AND y // 8 = 3
       |        THEN (((s * 1103515245 + f * 69069 + (x // 8) * (2654435761 + s * 101) + (y // 8) * 977) % 250 + 125) % 250)
       |      ELSE ((s * 1103515245 + f * 69069 + (x // 8) * (2654435761 + s * 101) + (y // 8) * 977) % 250
       |        + (CASE WHEN v = 1 THEN 1 ELSE 0 END))
       |    END) AS gray
       |  FROM vpar, (VALUES (0), (5), (10)) tf(f),
       |    generate_series(0, 71) tx(x), generate_series(0, 63) ty(y)),
       |vcell AS (SELECT doc_id, f, x // 8 AS gx, y // 8 AS gy, SUM(gray) // COUNT(*) AS c
       |  FROM vpx GROUP BY 1, 2, 3, 4),
       |vbit AS (SELECT l.doc_id, l.f, l.gy * 8 + l.gx AS b,
       |    CASE WHEN l.c > r.c THEN 1 ELSE 0 END AS bit
       |  FROM vcell l JOIN vcell r ON r.doc_id = l.doc_id AND r.f = l.f
       |    AND r.gy = l.gy AND r.gx = l.gx + 1
       |  WHERE l.gx < 8),
       |vl AS (SELECT doc_id, f, ${laneSql("d")} FROM vbit GROUP BY doc_id, f)""".stripMargin

  /** Spark twin of [[videoLanesSql]]'s pixel formula: gray value of
    * frame f's pixel (x,y) for doc `id` — 8×8 blocks with a per-frame
    * term, 6 groups of 4 variants (base / +1 brightness on every frame
    * / frame 5's block (2,3) perturbed / different content).
    */
  private val videoGv: (Long, Int, Int, Int) => Int = (id, f, x, y) => {
    val s0 = (id - 1) / 4; val v = (id - 1) % 4
    val bx = x / 8L; val by = y / 8L
    // the seed multiplies the block coordinate too — a pure additive
    // seed would shift every block by the same constant mod 250 (and
    // 500·1103515245 ≡ 0 mod 250 exactly), leaving the gradient hash
    // unchanged: "different content" must actually differ per block
    def base(s: Long): Long =
      (s * 1103515245L + f.toLong * 69069L + bx * (2654435761L + s * 101L) +
        by * 977L) % 250L
    val g =
      if (v == 3) base(s0 + 7)
      else if (v == 2 && f == 5 && bx == 2 && by == 3) (base(s0) + 125) % 250
      else base(s0) + (if (v == 1) 1 else 0)
    g.toInt
  }

  private lazy val mediaPngs: Seq[(Long, String)] = Seq(
    1L -> ("89504E470D0A1A0A0000000D4948445200000002000000020802000000FDD49A73" +
      "0000001249444154789C63F8CFC0C000C20CFF8100001FEE05FB0BD9688B0000000049454E44AE426082"),
    2L -> ("89504E470D0A1A0A0000000D4948445200000004000000020802000000F0CAEA34" +
      "0000002249444154789C63606060B061D0A86008D8C250C1C050A1615311505151B1A562010041E207310B8B22D60000000049454E44AE426082"),
    3L -> ("89504E470D0A1A0A0000000D494844520000000400000004080200000026930929" +
      "0000003D49444154789C6360606030626448616298C6CCC0C0E8C660EC2E97EA6133DD338A81A987C1A4D726ADAF6246FF1606E64B0CA697A3D2AF6C9979950F000A930EA9F931FEAB0000000049454E44AE426082"))

}
